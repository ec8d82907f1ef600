"""Deduplication operators over the ``documents`` table.

Four tiers, cheapest-first — the standard large-corpus dedup ladder:

1. exact        hash-groupBy on content (or md5 fingerprint)
2. minhash_lsh  near-dup candidates via MinHash signatures + LSH banding
3. simhash      near-dup via 64-bit SimHash (Hamming-ball grouping)
4. ngram_jaccard  exact Jaccard verification on candidate pairs

Scale design: the only things that ever shuffle are *fixed-width
signatures* (k×8 bytes per doc) and (band, bucket) keys — never the raw
text.  MinHash banding makes candidate generation O(near-dup pairs), not
O(n²); exact Jaccard runs only on the candidates.  All hashing uses
``xxhash64`` with per-permutation salts, JVM-side, deterministic across
runs/partitions — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


from maple_spark.pipelines.util import spread as _spread


def shingle_expr(text_col: str, k: int = 8):
    """Array of k-character shingles of ``text_col`` (the ONE definition —
    every shingling op builds on it): a substring per start position,
    short texts yield their whole text as the single shingle."""
    return F.expr(
        f"transform(sequence(1, greatest(length({text_col})-{k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k}))"
    )


def shingle(df: DataFrame, id_col: str, text_col: str, k: int = 8) -> DataFrame:
    """(id, shingle) pairs: distinct k-character shingles per document.
    Character shingles (vs word) are robust to whitespace edits and need no
    tokenizer; ``explode`` keeps this a narrow map-side op."""
    return _spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_expr(text_col, k))).alias("shingle"),
    )


def hashed_shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, alias: str = "h"
) -> DataFrame:
    """(id, h) pairs: each distinct k-shingle as its portable 60-bit md5
    fingerprint (``functions/phash.py``) — THE single definition of
    shingle fingerprinting, shared by the prefix candidate generator and
    the exact verifier so the candidates-match-verifier invariant can't
    drift between call sites.  Fixed-width longs are what every
    post-shingle shuffle/join should carry: they're ~6x smaller than
    shingle strings in-heap and nearly incompressible, so AQE's
    compressed-size stats match the bytes a broadcast would hold."""
    from maple_spark.functions import phash

    return shingle(df, id_col, text_col, k).select(
        F.col(id_col), phash.fp60(F.col("shingle")).alias(alias)
    )


def exact_dedup(df: DataFrame, id_col: str, cols: list[str]) -> DataFrame:
    """Tier 1: exact duplicate groups by content columns.  Returns one row
    per distinct content with the minimum id as the keeper and the group
    size — the hash-groupBy formulation (partial agg map-side, then one
    shuffle of (content-hash, partials))."""
    return (
        df.groupBy(*cols)
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies", *cols)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 64, k: int = 8
) -> DataFrame:
    """MinHash signature per document (didactic formulation over distinct
    shingles): base hash per shingle, then sig[i] = min of the
    permutation-salted rehash xxhash64(i, base_hash).  Rehashing the
    fixed-width base hash instead of the shingle string is the standard
    one-string-hash construction (the datasketch trick) — 64 cheap
    fixed-width hashes replace 64 string hashes per shingle."""
    sh = shingle(df, id_col, text_col, k).select(
        F.col(id_col), F.xxhash64("shingle").alias("__h")
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature")
    )


def _minhash_signatures_fast(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 64, k: int = 8
) -> DataFrame:
    """Production signature path: explode (non-distinct — min over dups ==
    min over distinct), one codegen'd string hash per shingle, then
    ``num_perm`` fixed-width permutation rehashes inside a partial-agg
    groupBy.  Everything stays in whole-stage codegen (higher-order array
    lambdas are interpreted in Spark and measure ~7× slower); the shuffle
    carries one num_perm-wide row per doc per partition."""
    shingles = shingle_expr(text_col, k)
    sh = (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(shingles).alias("__s"))
        .select(F.col(id_col), F.xxhash64("__s").alias("__h"))
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[f"h{i}" for i in range(num_perm)]).alias("signature")
    )


def _minhash_signatures_oph(
    df: DataFrame, id_col: str, text_col: str, num_perm: int = 64, k: int = 8
) -> DataFrame:
    """One-permutation-hashing signatures (Li/Owen/Zhang OPH with rotation
    densification) — the cheap MinHash *estimator*: slot-agreement
    fraction ≈ Jaccard at ~1 hash per shingle (vs ``num_perm`` rehashes,
    measured 31% faster end-to-end on the signature stage at sf0.1).

    One hash per shingle; the hash's low bits assign it to one of
    ``num_perm`` bins; the signature is the per-bin min.  The first
    groupBy (id, bin) combines map-side to ≤ num_perm rows per doc per
    partition; the second assembles the map and is trivially small.
    Empty bins (P ≈ e^(-n/num_perm)) borrow the next non-empty bin's
    value (rotation), falling back to the doc's global min —
    deterministic, no RNG anywhere.

    NOT used for LSH banding: densification correlates adjacent slots and
    per-bin min-competition favors shared shingles (~bins/n vs ~1/n), so
    bands over raw OPH bins collide 7× more on low-similarity pairs
    (measured; see ``minhash_lsh_pairs``).  Use for similarity
    estimation / dedup scoring, not candidate generation."""
    shingles = shingle_expr(text_col, k)
    sh = (
        _spread(df.select(id_col, text_col))
        .select(F.col(id_col), F.explode(shingles).alias("__s"))
        .select(F.col(id_col), F.xxhash64("__s").alias("__h"))
    )
    per_bin = sh.groupBy(
        id_col, F.pmod("__h", F.lit(num_perm)).cast("int").alias("__bin")
    ).agg(F.min("__h").alias("__mh"))
    assembled = per_bin.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("__bin", "__mh"))).alias("__m"),
        F.min("__mh").alias("__fb"),
    )
    # Column-built array (not a transform() lambda): every slot is a plain
    # codegen'd coalesce-of-element_at chain, and Catalyst's extract-value
    # simplification lets downstream signature[i] references pull just
    # their slot — a lambda-built array would re-evaluate the whole
    # 64-slot loop per reference after projection collapse.
    slots = [
        F.coalesce(
            *[
                F.element_at(F.col("__m"), F.lit((i + j) % num_perm))
                for j in range(8)
            ],
            F.col("__fb"),
        )
        for i in range(num_perm)
    ]
    return assembled.select(F.col(id_col), F.array(*slots).alias("signature"))


#: corpus-size ceiling (parquet bytes, metadata-measured) below which
#: :func:`minhash_lsh_pairs` carries per-doc fingerprint SETS through the
#: signature shuffle ("fused" strategy) instead of re-scanning candidate
#: docs in the verifier ("split" strategy).  The trade, measured
#: (scripts/d3_fused_experiment.py): fused removes the verify path's
#: semi-join + second md5 pass + candidate collect_set shuffle (~0.7 s of
#: fixed stage overhead at sf0.1), but inflates the signature shuffle by
#: ~8 bytes per distinct shingle ≈ the UNCOMPRESSED text size for the
#: WHOLE corpus, where split ships sets only for candidate docs.  Extra
#: payload ≈ saved overhead near ~25 MiB of parquet (~100 MB text →
#: ~0.8 GB/s local shuffle), and grows linearly past it while the saved
#: overhead stays constant — so fused is strictly a small-corpus
#: optimization.  32 MiB keeps every committed fixture on the fused path
#: and any at-scale corpus (or unstatable input, stats=None) on the
#: scale-safe split path.
CARRY_SETS_MAX_BYTES = 32 * 1024 * 1024


def _per_doc_sig(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    k: int = 8,
    with_set: bool = False,
) -> DataFrame:
    """Per-document MinHash aggregate in ONE groupBy: signature min
    columns h0..h{num_perm-1}, plus (``with_set``) the document's full
    distinct fp60 set — the shared scan behind banding and the fused
    verify strategy.

    Two map-side prunes before anything shuffles:

    - the DISTINCT shingle set is hashed, not the multiset
      (``array_distinct`` before explode) — output-identical since
      min-over-multiset == min-over-set, and on repetitive text (the
      regime near-dup targets) it cuts md5 calls and explode rows by
      the repetition factor;
    - NULL-text rows are dropped up front: they can never verify (NULL
      jaccard), but without the filter they'd all share NULL buckets
      and pair QUADRATICALLY per band in the candidate groupBy —
      wasted O(n²) work on a NULL-heavy corpus.

    Without ``with_set`` the shuffle carries fixed-width partial mins
    only, never text — the 100 TB-safe shape; ``__h`` is then pruned by
    Catalyst so the extra column is free."""
    from maple_spark.functions import phash

    consts = phash.perm_consts(num_perm)
    shingles = F.array_distinct(shingle_expr(text_col, k))
    sh = (
        _spread(df.select(id_col, text_col))
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(shingles).alias("__s"))
        .select(F.col(id_col), phash.fp60(F.col("__s")).alias("__h"))
        .select(
            F.col(id_col),
            F.col("__h"),
            (F.col("__h") % F.lit(phash.P31)).alias("__r"),
        )
    )
    # F.expr STRINGS, not operator-composed Columns: each Python-side
    # Column operator is a py4j round trip, and 64 min expressions × ~8
    # ops each cost ~0.85 s of pure DRIVER construction time per call
    # site (measured; the parsed string form is ~25× cheaper at 0.03 s).
    # The resulting expression trees are identical — this is plan
    # CONSTRUCTION cost, invisible at execution but dominant in the cold
    # first-build of deep compositions like cp3.
    aggs = [
        F.expr(f"min(({a} * __r + {b}) % {phash.P31})").alias(f"h{i}")
        for i, (a, b) in enumerate(consts)
    ]
    if with_set:
        aggs = [F.collect_set("__h").alias("__set"), *aggs]
    return sh.groupBy(id_col).agg(*aggs)


def _band_explode(
    sig: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, bucket) from a :func:`_per_doc_sig` aggregate: per-band
    polynomial bucket, map-side.  Banding is fused over the raw
    permutation-min columns (h0..h63) rather than an assembled signature
    array: same band hashes (signature[i] IS h{i}), two fewer 64-wide
    projections for Catalyst to analyze — the signature→array→extract
    round-trip was pure plan bloat here.

    Built as ONE parsed ``F.expr`` string (``phash.sql_poly_bucket`` is
    portable Spark/DuckDB SQL, so the bucket arithmetic has a single
    definition across engine and oracle): the operator-composed form
    cost ~0.9 s of py4j round trips per call site at construction time
    (see the note in :func:`_per_doc_sig`)."""
    from maple_spark.functions import phash

    rows_per_band = num_perm // bands
    structs = ", ".join(
        "struct({b} AS band, {bucket} AS bucket)".format(
            b=b,
            bucket=phash.sql_poly_bucket(
                [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col),
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
) -> DataFrame:
    """(id, band, bucket) — the MinHash-LSH banding core shared by
    within-corpus near-dup (:func:`minhash_lsh_pairs`) and cross-corpus
    dedup (:func:`cross_dedup_pairs`).

    One corpus scan: shingle explode → portable md5 fingerprint reduced
    mod P31 (``functions/phash.py``) → per-doc min under ``num_perm``
    universal multiply-shift permutations (ONE groupBy; the shuffle
    carries fixed-width partial mins, never text) → per-band polynomial
    bucket, map-side (see :func:`_per_doc_sig` / :func:`_band_explode`
    for the shared pieces and their prunes)."""
    return _band_explode(
        _per_doc_sig(df, id_col, text_col, num_perm, k), id_col, num_perm, bands
    )


def _bucket_candidates(stacked: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from (id, band, bucket) rows.

    Candidates via groupBy-bucket + in-bucket pair expansion rather than a
    self-join: the signature pipeline runs ONCE (a self-join would execute
    its whole lineage twice), and the only shuffle carries (band, bucket,
    id).  Near-dup buckets are small by construction, so the local pair
    expansion is cheap; a pathological mega-bucket (all-identical corpus)
    would be handled upstream by exact dedup first."""
    return (
        stacked.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids)),"
                    " y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
    jaccard_threshold: float = 0.7,
    carry_sets: bool | None = None,
) -> DataFrame:
    """Tier 2: near-duplicate pairs via LSH banding + exact verification.

    bands=16 over 64 perms (rows/band r=4) → S-curve threshold ≈
    (1/16)^(1/4) ≈ 0.5 candidate recall knee; candidates are then *verified*
    with exact Jaccard on 60-bit fingerprint sets (== shingle sets up to
    md5 collisions) so the output has no false positives.
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    Signatures use the classic independent-permutation construction, NOT
    OPH (``_minhash_signatures_oph``): measured at sf0.1, banding over OPH
    bins produced 7.3× the candidate pairs (12,137 vs 1,658) for identical
    verified output — rotation densification makes adjacent slots within a
    band equal for shingle-poor docs (effective r < rows_per_band), and a
    shared shingle wins an OPH bin with probability ~bins/n vs ~1/n per
    independent permutation, so low-Jaccard pairs band-collide far more
    often.  OPH remains correct (and cheaper) for signature *estimation*;
    for *banding*, permutation independence is what keeps the S-curve
    sharp and the verifier bill low.

    Hashing is the engine-portable md5 fingerprint + universal
    multiply-shift permutations (``functions/phash.py``): one md5 per
    shingle, then ``num_perm`` two-multiplication arithmetic expressions
    — cheaper than ``num_perm`` independent xxhash64 calls AND
    reproducible in vanilla DuckDB SQL, so the driver's oracle gate
    checks this operator value-exactly (no UDF tier needed).

    ``carry_sets`` picks how the verifier obtains per-doc fingerprint
    sets — a cost-based physical choice (value-identical either way,
    equality-tested in scripts/d3_fused_experiment.py):

    - ``True`` ("fused"): ONE per-doc groupBy (in the LOGICAL plan)
      computes signature mins AND ``collect_set(fp60)``, eliminating the
      verify path's semi-join + second md5 pass + candidate collect_set
      shuffle — ~0.7 s of fixed stage overhead at sf0.1 (2.13 s → 1.43 s
      min-of-5).  PHYSICALLY the agg still executes per consumer (the
      band branch prunes ``__set``, so its partial-agg exchange differs
      from the set consumers' — the multi-consumer trap; verified:
      0 ReusedExchange, 3 scans), which is exactly why the
      ``CARRY_SETS_MAX_BYTES`` routing cap exists: below 32 MiB the
      re-executed map-side agg costs less than the split path's extra
      stages (an eager ``persist`` of per_doc was A/B'd at sf0.1 and
      does NOT win: 1.95 s vs 1.99 s min-of-3, plus a 5.8 s first-run
      cache-population penalty).
    - ``False`` ("split"): banding shuffles 64 fixed-width mins per doc,
      and only CANDIDATE docs are re-scanned and set-aggregated
      (:func:`verify_jaccard`) — at 100 TB with a few % candidates this
      shuffles ~1/10th the bytes of fused, whose set payload ≈ the whole
      corpus's uncompressed text.
    - ``None`` (default): fused iff the input's parquet footprint is
      metadata-measurable and ≤ ``CARRY_SETS_MAX_BYTES`` — below that the
      extra payload costs less than the stages it saves; unstatable
      inputs take the scale-safe split path.
    """
    if carry_sets is None:
        from maple_spark.pipelines.util import parquet_files_stats

        stats = parquet_files_stats(df)
        carry_sets = stats is not None and stats[0] <= CARRY_SETS_MAX_BYTES
    if carry_sets:
        per_doc = _per_doc_sig(df, id_col, text_col, num_perm, k, with_set=True)
        candidates = _bucket_candidates(
            _band_explode(per_doc, id_col, num_perm, bands), id_col
        )
        sets = per_doc.select(id_col, "__set")
        sa = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"))
        sb = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"))
        n_inter = F.size(F.array_intersect("__sa", "__sb"))
        return (
            sa.join(candidates, on="id_a")
            .join(sb, on="id_b")
            .withColumn(
                "jaccard",
                F.round(
                    n_inter / (F.size("__sa") + F.size("__sb") - n_inter), 6
                ),
            )
            .where(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", "jaccard")
        )
    stacked = lsh_band_buckets(df, id_col, text_col, num_perm, bands, k)
    candidates = _bucket_candidates(stacked, id_col)
    # The verifier consumes the candidate list multiple times (pair join +
    # both sides of the id union).  No RDD checkpoint: the repeated subtrees
    # are structurally identical, so AQE's exchange/stage reuse executes the
    # signature/banding DAG once and re-reads its shuffle output for each
    # consumer (timed: removing the old lazy localCheckpoint left execution
    # cost unchanged).  A *lazy* localCheckpoint here is actively unsafe:
    # its RDD captures SQL-metric accumulators from a throwaway
    # QueryExecution that JVM GC can collect before the RDD first runs,
    # producing "ERROR DAGScheduler: Failed to update accumulator" noise.
    return verify_jaccard(
        candidates, df, id_col, text_col, k, jaccard_threshold
    )


def fp_set_expr(text_col: str, k: int = 8):
    """The document's distinct k-shingle set as a 60-bit fingerprint
    array (``functions/phash.py``), computed ROW-LOCALLY — the
    fixed-width stand-in for the shingle set wherever carrying text
    would be wrong (streaming rows, join payloads).  Set operations on
    fingerprints equal set operations on shingles up to md5 collisions
    (p ≈ |set|²/2^60 per pair — negligible)."""
    from maple_spark.functions import phash

    return F.array_distinct(
        F.transform(
            F.array_distinct(shingle_expr(text_col, k)),
            lambda s: phash.fp60(s),
        )
    )


def _arrow_available() -> bool:
    try:
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        return True
    except ImportError:
        return False


def _fp_set_arrow_udf(k: int):
    """Arrow-batched twin of :func:`fp_set_expr`: distinct k-shingle
    fp60 set per text row, shingled and md5-hashed in PYTHON.

    Why: :func:`fp_set_expr` is a ``transform`` lambda, which Catalyst
    evaluates INTERPRETED — measured ~0.16 M shingle+md5/s per core,
    while Python's ``hashlib.md5`` + dict-distinct runs ~0.8 M/s
    (microbenchmarked; the interpreted per-element dispatch around the
    JVM md5 costs more than the hash itself).  The row-local/
    zero-exchange property is unchanged — this is the same map, in a
    faster runtime.

    Exactness: Spark strings index by CODE POINT (UTF8String), as does
    Python slicing, so ``text[i:i+k]`` == ``substring(text, i+1, k)``
    for every Unicode input incl. astral chars (equality-tested); md5
    is md5 of the UTF-8 bytes in both; distinctness keeps
    first-occurrence order (``dict.fromkeys``) to mirror
    ``array_distinct``; NULL text yields ``[NULL]`` (shingle_expr's
    ``substring(NULL, 1, k)`` row), sub-k text its whole text as the
    single shingle."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def fp_set(texts):
        md5 = hashlib.md5

        def one(t):
            if t is None or t != t:  # None or NaN → shingle row [NULL]
                return [None]
            shingles = dict.fromkeys(
                t[i : i + k] for i in range(max(len(t) - k + 1, 1))
            )
            return list(
                dict.fromkeys(
                    int(md5(s.encode("utf-8")).hexdigest()[:15], 16)
                    for s in shingles
                )
            )

        return pd.Series([one(t) for t in texts])

    return fp_set


def fp_set_best(text_col: str, k: int = 8):
    """The fingerprint-set column, fastest available tier: the Arrow
    kernel when numpy+pyarrow import (the default everywhere Spark can
    run Pandas UDFs), else the pure-Catalyst :func:`fp_set_expr` —
    value-identical (equality-tested incl. NULL/empty/sub-k/astral-char
    rows)."""
    if _arrow_available():
        return _fp_set_arrow_udf(k)(F.col(text_col))
    return fp_set_expr(text_col, k)


def _band_buckets_arrow_udf(num_perm: int, bands: int):
    """Arrow-vectorized row-local banding: fp60-reduced fingerprint array
    → the ``bands`` polynomial bucket ids, as ONE numpy kernel.

    Why a Python kernel in a hot path: Catalyst higher-order functions
    (``transform``/``array_min`` lambdas) run INTERPRETED, outside
    whole-stage codegen, and the row-local signature needs num_perm of
    them per row — measured 4.17 s of a 5.57 s st7 wall at sf0.1 (59 s
    of 155 s at 100×), ~7× the cost of the agg formulation's codegen'd
    arithmetic on the same data (scripts/st7_profile.py).  The same
    Arrow escape hatch as t12's repetition kernel: per Arrow batch the
    ragged fingerprint arrays concatenate into one flat vector, each
    permutation is two vectorized uint64 ops + a segment-min
    (``np.minimum.reduceat``), and the band polynomials fold over the
    (num_perm, n_rows) min matrix — all C-speed, no per-row Python.

    Integer semantics are EXACTLY the SQL formulation's: inputs are the
    RAW 60-bit fingerprints (the kernel absorbs the mod-P31 reduction —
    one more per-element lambda the SQL tier pays and this one doesn't);
    after the mod x < 2^31 and a_i < 2^31, so a_i·x + b_i < 2^62 fits
    uint64 without wraparound, and the band polynomial keeps every
    intermediate < 2^62 the same way.  NULL or empty fingerprint arrays
    yield all-NULL buckets (``array_min(empty) IS NULL`` in the SQL
    path) — the rows band-explode but never equi-join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from maple_spark.functions import phash

    consts = phash.perm_consts(num_perm)
    A = np.array([a for a, _ in consts], dtype=np.uint64)
    B = np.array([b for _, b in consts], dtype=np.uint64)
    P = np.uint64(phash.P31)
    # captured as PLAIN VALUES at factory time: the UDF body must hold no
    # maple_spark module references — cloudpickle serializes those by
    # module+name, and a worker whose sys.path lacks the repo (vanilla
    # driver session started outside /root/repo) then dies with
    # ModuleNotFoundError (caught by scripts/vanilla_gate.py)
    C1, C2 = np.uint64(phash.BAND_C), np.uint64(phash.BAND_C2)
    rows_per_band = num_perm // bands

    def _to_u64(a):
        """NULL-element-safe uint64 view of one fingerprint array: a NULL
        text's shingle array is [NULL] (one null ELEMENT, surfaced by
        Arrow as NaN/None), and the SQL tier's ``array_min`` SKIPS null
        elements — so drop them here too before the min.  Nulls are
        dropped WITHOUT a float64 round-trip: fp60 values reach 2^60 but
        float64 carries a 53-bit mantissa, so casting a mixed
        (null + value) object array through float would silently corrupt
        fingerprints into wrong buckets."""
        v = np.asarray(a)
        if v.dtype.kind in "iu":
            return v.astype(np.uint64)
        if v.dtype.kind == "O":
            return np.fromiter(
                (x for x in a if x is not None and x == x), dtype=np.uint64
            )
        # genuinely-float input (Arrow surfaced an all-null or
        # null-padded numeric array as float64): every non-NaN value in
        # a float array was already mantissa-limited upstream, but
        # enforce the exactness invariant rather than assume it — a
        # raise, not a bare assert, because workers may run under
        # python -O and a stripped assert here is exactly the
        # silent-bucket-corruption mode this path must fail loudly on
        v = v[~np.isnan(v)]
        if not (v < 2**53).all():
            raise ValueError(
                "float-typed fingerprint array holds values >= 2^53; "
                "uint64 cast would lose bits and corrupt LSH buckets"
            )
        return v.astype(np.uint64)

    @pandas_udf("array<bigint>")
    def band_buckets(fps):
        null_out = [None] * bands
        cleaned = [None if a is None else _to_u64(a) for a in fps]
        lens = np.fromiter(
            (0 if c is None else c.size for c in cleaned),
            dtype=np.int64,
            count=len(cleaned),
        )
        valid = lens > 0
        if not valid.any():
            return pd.Series([null_out] * len(cleaned))
        flat = np.concatenate([c for c, n in zip(cleaned, lens) if n]) % P
        starts = np.zeros(int(valid.sum()), dtype=np.int64)
        np.cumsum(lens[valid][:-1], out=starts[1:])
        mins = np.empty((num_perm, starts.size), dtype=np.uint64)
        for p in range(num_perm):
            mins[p] = np.minimum.reduceat((A[p] * flat + B[p]) % P, starts)
        c1, c2 = C1, C2
        buckets = np.empty((bands, starts.size), dtype=np.int64)
        for b in range(bands):
            h = mins[b * rows_per_band : (b + 1) * rows_per_band]
            acc1, acc2 = h[0].copy(), h[0].copy()
            for j in range(1, rows_per_band):
                acc1 = (acc1 * c1 + h[j]) % P
                acc2 = (acc2 * c2 + h[j]) % P
            buckets[b] = (acc1 * P + acc2).astype(np.int64)
        cols = buckets.T.tolist()
        it = iter(cols)
        return pd.Series([next(it) if v else null_out for v in valid])

    return band_buckets


def lsh_band_buckets_rowlocal(
    df: DataFrame,
    id_col: str,
    text_col: str | None,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
    carry_cols: tuple[str, ...] = (),
    fp_set_col: str | None = None,
    kernel: str = "auto",
) -> DataFrame:
    """Row-local formulation of :func:`lsh_band_buckets`: the signature
    mins are ``array_min`` over per-row fingerprint arrays instead of a
    groupBy aggregate — ZERO exchanges and no per-key state, which is
    what makes MinHash banding legal on an unbounded STREAM (stateless
    map; no watermark needed).  Value-identical to the agg formulation
    (equality-tested: min over the reduced fingerprint multiset == min
    over the distinct 60-bit set reduced mod P31, since colliding
    values are equal).  Two output-identical kernels (equality-tested,
    ``kernel=``): ``"arrow"`` (default when numpy+pyarrow import) runs
    the permutation mins + band polynomials as one vectorized numpy
    batch kernel — the per-row Catalyst formulation runs num_perm
    INTERPRETED ``array_min(transform(...))`` lambdas, measured 4.17 s
    of st7's 5.57 s sf0.1 wall (2.5× the whole operator,
    scripts/st7_profile.py); ``"sql"`` keeps the pure-Catalyst tier for
    numpy-free deployments.  Batch callers still keep
    :func:`lsh_band_buckets` — its groupBy partial-agg arithmetic is
    codegen'd and ~3× cheaper than even the Arrow row-local path (no
    per-row set materialization, no Arrow transfer).
    NULL-text rows yield NULL buckets and fall out of any equi-join —
    same net output as the agg path, which filters them before explode.

    ``carry_cols`` ride through the pipeline unchanged and appear in the
    output (before band/bucket) — how the streaming guard keeps each
    row's fingerprint set next to its buckets without a self-join.
    ``fp_set_col`` names an existing 60-bit fingerprint-array column
    (:func:`fp_set_expr`) to band from instead of re-hashing
    ``text_col`` — same buckets (the reduced multiset of a distinct
    60-bit set mod P31 has the same mins), one md5 pass instead of
    two."""
    from maple_spark.functions import phash

    rows_per_band = num_perm // bands
    consts = phash.perm_consts(num_perm)
    if kernel == "auto":
        try:  # numpy + pyarrow present → the vectorized kernel
            import numpy  # noqa: F401
            import pyarrow  # noqa: F401

            kernel = "arrow"
        except ImportError:
            kernel = "sql"
    if kernel == "arrow":
        # value-identical to the SQL tier below (equality-tested in
        # test_pipelines); the kernel also absorbs the mod-P31
        # reduction, so the RAW 60-bit fingerprints ship into Arrow and
        # no per-element Catalyst lambda remains anywhere on this path
        if fp_set_col is not None:
            raw = F.col(fp_set_col)
        else:
            raw = F.transform(
                F.array_distinct(shingle_expr(text_col, k)),
                lambda s: phash.fp60(s),
            )
        base = df.select(F.col(id_col), *carry_cols, raw.alias("__fps"))
        buckets = _band_buckets_arrow_udf(num_perm, bands)(F.col("__fps"))
        return base.select(
            F.col(id_col),
            *carry_cols,
            F.posexplode(buckets).alias("band", "bucket"),
        ).select(id_col, *carry_cols, "band", "bucket")
    if fp_set_col is not None:
        rfps = F.transform(fp_set_col, lambda x: x % F.lit(phash.P31))
    else:
        rfps = F.transform(
            F.array_distinct(shingle_expr(text_col, k)),
            lambda s: phash.fp60(s) % F.lit(phash.P31),
        )
    base = df.select(F.col(id_col), *carry_cols, rfps.alias("__fps"))
    # parsed F.expr strings for the same py4j-construction-cost reason
    # as _per_doc_sig/_band_explode (~1.8 s per call site saved)
    sig_cols = [
        F.expr(
            f"array_min(transform(__fps, r -> ({a} * r + {b}) % {phash.P31}))"
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(consts)
    ]
    sig = base.select(id_col, *carry_cols, *sig_cols)
    structs = ", ".join(
        "struct({b} AS band, {bucket} AS bucket)".format(
            b=b,
            bucket=phash.sql_poly_bucket(
                [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
            ),
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col),
        *carry_cols,
        F.expr(f"explode(array({structs}))").alias("bb"),
    ).select(id_col, *carry_cols, "bb.band", "bb.bucket")


def build_reference_snapshot(
    ref_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
) -> None:
    """Persist the reference corpus's derived tables — LSH band buckets
    and per-doc fingerprint sets — as parquet under ``path``, so that
    :func:`cross_dedup_stream` (and batch :func:`cross_dedup_pairs`
    consumers) can guard MANY ingest increments against ONE snapshot
    without re-scanning the reference corpus each time.  This is the
    API that makes the 100 TB amortization claim executable: reference
    prep (the dominant fixed cost — ~55 s of the 100× st7 wall) runs
    once per snapshot; each increment pays only its own map work + two
    equi-joins against these tables.

    Layout: ``{path}/buckets.parquet`` (ref_id, band, bucket),
    ``{path}/fp_sets.parquet`` (ref_id, __rset), and a one-row
    ``{path}/meta.parquet`` pinning (num_perm, bands, k) — loading with
    mismatched parameters is a silent-wrong-answer factory, so
    :func:`load_reference_snapshot` fails loudly on mismatch.

    Both builds use the fastest tier unconditionally (Arrow kernel when
    available): a parquet WRITE is map-only — no join planning reads
    the UDF-erased in-flight statistics, and every downstream consumer
    plans against the written files' honest parquet metadata.

    ONE corpus text scan (optimization round 12, guide §2.3/§8): the
    fingerprint-set table is written first from the single
    shingle+md5 pass, and the bucket table is then derived FROM the
    persisted sets (explode → mod-P31 → per-doc permutation mins →
    band polynomials — the identical arithmetic :func:`lsh_band_buckets`
    runs on text, since min-over-distinct-set == min-over-shingle-
    multiset).  The previous formulation shingled and hashed the full
    reference corpus TWICE (once per table); at 100 TB the second pass
    is a second full read+hash of the corpus, where the set read-back
    is fixed-width (≈8 B/distinct shingle) with honest parquet stats.
    NULL-text docs band nowhere on either path: their persisted set is
    ``[NULL]`` (the shingle row of a NULL text) and the explode's
    null-element filter drops them, exactly like the text path's
    ``text IS NOT NULL`` prune (equality pinned in
    tests/test_pipelines.py::test_reference_snapshot_buckets_match_text_path)."""
    from maple_spark.functions import phash

    spark = ref_df.sparkSession
    # _spread so the one shingle+md5 pass parallelizes on the single-
    # row-group local fixture (no-op at scale — many input files skip
    # it); the written file count then also parallelizes the read-back
    _spread(ref_df.select(id_col, text_col)).select(
        F.col(id_col).alias("ref_id"),
        fp_set_best(text_col, k).alias("__rset"),
    ).write.mode("overwrite").parquet(f"{path}/fp_sets.parquet")
    sets = spark.read.parquet(f"{path}/fp_sets.parquet")
    sh = (
        sets.select("ref_id", F.explode("__rset").alias("__h"))
        .where(F.col("__h").isNotNull())
        .select("ref_id", (F.col("__h") % F.lit(phash.P31)).alias("__r"))
    )
    aggs = [
        F.expr(f"min(({a} * __r + {b}) % {phash.P31})").alias(f"h{i}")
        for i, (a, b) in enumerate(phash.perm_consts(num_perm))
    ]
    sig = sh.groupBy("ref_id").agg(*aggs)
    _band_explode(sig, "ref_id", num_perm, bands).write.mode(
        "overwrite"
    ).parquet(f"{path}/buckets.parquet")
    spark.createDataFrame(
        [(int(num_perm), int(bands), int(k))], "num_perm int, bands int, k int"
    ).write.mode("overwrite").parquet(f"{path}/meta.parquet")


def load_reference_snapshot(
    spark,
    path: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """(buckets, fp_sets) from :func:`build_reference_snapshot` output,
    after verifying the snapshot was built with the SAME (num_perm,
    bands, k) the caller is about to band the stream side with — a
    mismatch can only produce silently-empty or wrong candidate sets."""
    meta = spark.read.parquet(f"{path}/meta.parquet").collect()[0]
    got = (meta["num_perm"], meta["bands"], meta["k"])
    want = (num_perm, bands, k)
    if got != want:
        raise ValueError(
            f"reference snapshot {path} was built with "
            f"(num_perm, bands, k)={got}, caller wants {want}"
        )
    return (
        spark.read.parquet(f"{path}/buckets.parquet"),
        spark.read.parquet(f"{path}/fp_sets.parquet"),
    )


def cross_dedup_stream(
    new_docs: DataFrame,
    ref_df: DataFrame | None,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
    jaccard_threshold: float = 0.7,
    reference_snapshot: str | None = None,
    carry_sets: bool | None = None,
) -> DataFrame:
    """The STREAMING ingest-guard form of :func:`cross_dedup_pairs`:
    ``new_docs`` may be an unbounded stream; each arriving document is
    flagged against a STATIC reference corpus.  Output
    (new_id, ref_id, jaccard), identical to the batch operator on the
    same finite input (equality-tested at sf0.001).

    Why this streams with (almost) no state: the stream side's banding
    is the row-local formulation (:func:`lsh_band_buckets_rowlocal` —
    a stateless map, each row's buckets derive from that row alone);
    candidates come from a stream-static equi-join on (band, bucket)
    against the reference bucket table; verification joins the static
    per-reference fingerprint-set table and intersects with the stream
    row's OWN fingerprint set carried in-row (:func:`fp_set_expr` —
    fixed 8 B/shingle, never text).  The only stateful operator is one
    ``dropDuplicates([new_id, ref_id])`` that collapses multi-band
    collisions; it sits right AFTER the bucket join (before the
    fingerprint-set join), so its state is bounded by the CANDIDATE
    pair count — band collisions, larger than the match count but
    still collision-bounded, never stream-bounded.  An ingest pipeline
    that tolerates re-flagging can drop it or swap in
    ``dropDuplicatesWithinWatermark`` keyed on ingest time (same
    position).

    Why the dedup sits BEFORE verification rather than after the
    jaccard filter (where state would be match-bounded): a true
    near-dup pair collides in most of its 16 bands, so deduping
    candidates first makes the (set join + exact intersect) run once
    per candidate pair instead of once per band collision — the verify
    stage stops paying the ×bands explode tax (measured 10× wall ratio
    3.61 → 1.27).  Output is identical either way: every band row of a
    pair carries the same sets, hence the same jaccard.

    100 TB shape: the reference tables (buckets + fingerprint sets) are
    computed once per reference snapshot and persisted —
    ``reference_snapshot`` makes that executable: pass a path written by
    :func:`build_reference_snapshot` (``ref_df`` may then be ``None``)
    and the guard reads the two parquet tables instead of re-deriving
    them, so per micro-batch cost is the new rows' map work + two
    equi-joins (measured at 100×: prep excluded cuts the per-increment
    wall by the ~55 s reference-prep share; see SCALE.md round 9).
    Snapshot tables also carry honest parquet statistics, so no
    UDF-stats tier routing is needed on the ref side at all.  Jaccard
    here intersects 60-bit fingerprint sets rather than string shingle
    sets — equal up to md5 collisions (p ≈ |set|²/2^60 per pair).

    ``carry_sets`` picks the stream-side formulation (round 12 — the
    r11 verdict's 250k-increment cliff fix).  The CARRY formulation
    ships each row's fingerprint set in-row through the ×bands explode
    — the only formulation that stays a stateless map (joining the set
    back would be a stream-stream self-join needing watermarks), but
    its bucket-join shuffle carries ~16× the increment's set payload
    and went superlinear at half-corpus increments (INCREMENT_CURVE_r11:
    125k docs 14.7 s → 250k docs 102 s on one box).  The ID-ONLY
    formulation (:func:`_cross_dedup_batch_joins`) shuffles fixed
    ~24 B band rows and attaches sets only for verified CANDIDATE docs
    (the verify_jaccard prune) — sublinear at big increments
    (INCREMENT_CURVE_r12, interleaved arms: 33 s vs 53 s at a 60 MB
    increment, 52 s vs 71 s at 121 MB) but ~7 s of fixed extra
    scan/join stages that dominate SMALL ones (11.7 s vs 4.2 s at
    2.4 MB).  Default (None) routes by that crossover: streams always
    carry; a statable batch increment ≤ ``CARRY_SETS_MAX_BYTES`` (32
    MiB, inside the measured 12-60 MB crossover) carries; bigger or
    unstatable inputs go id-only.  ``carry_sets=True``/``False`` pins a
    formulation (``False`` on a stream raises — the agg banding needs a
    groupBy a stateless stream cannot run).  Output is identical either
    way — equality-tested in tests/test_pipelines.py and the
    stream/batch tests, which cross the two formulations."""
    # ref_sets stays the ROW-LOCAL (zero-exchange) set build, and that
    # is a measured 100× decision, not an accident
    # (scripts/st7_refprep_ab.py, interleaved min-of-N): at sf0.1 the
    # interpreted transform-lambda md5 makes this the SLOWEST of three
    # formulations (1.81 s vs 0.67 fused _per_doc_sig(with_set) vs 0.63
    # exploded collect_set agg), but at 100× it WINS (55.6 s vs 62.3 vs
    # 66.5) — both agg formulations shuffle the corpus's entire set
    # payload through their groupBy exchange while this one never
    # exchanges at all, and the fused variant doesn't even reuse its
    # scan (the bucket consumer prunes __set, so the two consumers'
    # exchanges are non-identical — 2 scans, 4 exchanges, no
    # ReusedExchange; the r6 multi-consumer trap).  Interpreted-lambda
    # cost is a constant factor; a corpus-sized shuffle is not.
    from maple_spark.pipelines.util import parquet_files_stats

    _new_stats = parquet_files_stats(new_docs)
    big_stream = _new_stats is None or _new_stats[0] > CARRY_SETS_MAX_BYTES
    if carry_sets is None:
        # auto-route by the measured crossover (INCREMENT_CURVE_r12,
        # interleaved arms): a small STATABLE batch increment keeps the
        # one-pass carry formulation (4.2 s vs 11.7 s at a 2.4 MB
        # increment — the id-only path's extra scan + join stages are
        # fixed overhead that dominates small inputs); a big or
        # unstatable one takes the id-only path (33 s vs 53 s at 60 MB,
        # 52 s vs 71 s at 121 MB, and the carry arm is the superlinear
        # one).  CARRY_SETS_MAX_BYTES (32 MiB) sits inside the measured
        # 12-60 MB crossover — the same constant minhash_lsh_pairs
        # routes on.  Streams always carry (stateless-map requirement).
        carry_sets = bool(new_docs.isStreaming) or not big_stream
    if new_docs.isStreaming and not carry_sets:
        raise ValueError(
            "carry_sets=False needs a batch input: the id-only banding "
            "formulation aggregates per-doc signature mins (a groupBy a "
            "stateless stream cannot run)"
        )

    if reference_snapshot is not None:
        # Amortized path: both ref tables come from parquet written by
        # build_reference_snapshot — honest file statistics, no tier
        # routing needed, no reference re-scan per increment.
        ref_buckets, ref_sets = load_reference_snapshot(
            new_docs.sparkSession, reference_snapshot, num_perm, bands, k
        )
        if not carry_sets:
            return _cross_dedup_batch_joins(
                new_docs, ref_buckets, ref_sets, id_col, text_col,
                num_perm, bands, k, jaccard_threshold,
            )
        if big_stream:
            ref_buckets = ref_buckets.hint("merge")
        return _cross_dedup_stream_joins(
            new_docs, ref_buckets, ref_sets, id_col, text_col,
            num_perm, bands, k, jaccard_threshold,
        )

    if ref_df is None:
        raise ValueError(
            "cross_dedup_stream needs a reference: pass ref_df, or "
            "reference_snapshot= from build_reference_snapshot"
        )
    _ref_stats = parquet_files_stats(ref_df)
    big_ref = _ref_stats is None or _ref_stats[0] > CARRY_SETS_MAX_BYTES

    ref_buckets = lsh_band_buckets(
        ref_df, id_col, text_col, num_perm, bands, k
    ).select(F.col(id_col).alias("ref_id"), "band", "bucket")
    # Set-build tier routed by SOURCE metadata (the carry_sets pattern),
    # and EACH SIDE routes off ITS OWN source: a small statable side
    # takes the Arrow fp_set kernel (fastest map, and broadcasts at
    # that size are right anyway); a big or UNSTATABLE side keeps the
    # EXPRESSION tier — not for speed (the interpreted md5 is ~2× the
    # kernel) but for HONEST STATISTICS: a Python-UDF output column
    # erases Catalyst's size lineage (measured: ~62 MB estimated where
    # reality — and the expr formulation's estimate — was ~2.5 GB),
    # slips under autoBroadcastJoinThreshold, and the planner STATICALLY
    # broadcasts the whole reference set table into the verify join —
    # the broadcast build blew spark.driver.maxResultSize at 100×.
    # Routing the ref tier off new_docs stats would re-open exactly that
    # hole in the ADVERTISED production shape (small statable ingest
    # batch × huge reference corpus): big_stream=False would put the
    # kernel on corpus-sized ref_sets and static-broadcast it.  With
    # expr stats the planner shuffles ref_sets, the candidate side
    # arrives from shuffle stages, and AQE still broadcast-converts the
    # candidates when they are genuinely small (runtime sizes, the cp3
    # un-hinting rule).  The ref side is also the amortized side: at
    # 100 TB its tables persist per snapshot, where parquet gives
    # honest stats and the kernel tier is right again.
    _ref_set_col = (
        fp_set_expr(text_col, k) if big_ref else fp_set_best(text_col, k)
    )
    ref_sets = ref_df.select(
        F.col(id_col).alias("ref_id"), _ref_set_col.alias("__rset")
    )

    # The BUCKET join gets the same protection on the STREAM side
    # (routed off the STREAM source's stats): nb's statistics are
    # UDF-tainted too (~62 MB estimated vs ~1.6 GB real after the
    # ×bands explode of the carried payload), so on a big/unstatable
    # stream input the planner would statically broadcast the
    # payload-carrying stream side — same maxResultSize blow-up, and
    # AQE cannot correct it because the stream side is map-only (no
    # shuffle stage to re-measure).  A merge hint pins it to the
    # sort-merge plan the honest-stats formulation picks on its own.
    # NOT hinted on small stream inputs: there the broadcast is right,
    # and the gate-scale plan stays the fast one.  (Hinting the VERIFY
    # join to merge as well was measured and REVERTED: it forces a
    # corpus-sized sort of ref_sets where AQE's candidate
    # broadcast-convert is the right plan — 316 s vs ~120 s at 100×.)
    if not carry_sets:
        return _cross_dedup_batch_joins(
            new_docs, ref_buckets, ref_sets, id_col, text_col,
            num_perm, bands, k, jaccard_threshold,
        )
    if big_stream:
        ref_buckets = ref_buckets.hint("merge")

    return _cross_dedup_stream_joins(
        new_docs, ref_buckets, ref_sets, id_col, text_col,
        num_perm, bands, k, jaccard_threshold,
    )


def _cross_dedup_batch_joins(
    new_docs: DataFrame,
    ref_buckets: DataFrame,
    ref_sets: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    k: int,
    jaccard_threshold: float,
) -> DataFrame:
    """The BATCH dataflow of :func:`cross_dedup_stream` (round 12):
    id-only band rows + candidate-pruned set attach, value-identical to
    the carry formulation (:func:`_cross_dedup_stream_joins`) but
    without shipping each row's fingerprint set through the ×bands
    explode.

    Why: the carry formulation's bucket-join shuffle carries the
    increment's entire set payload ×bands (~16 GB at a 250k-doc
    increment of the 100× corpus), which crossed the one-box spill
    threshold and went superlinear (INCREMENT_CURVE_r11); here the band
    rows are fixed ~24 B (new_id, band, bucket), candidates dedup on
    id-only keys, and the sets are computed ONLY for docs that appear
    in a candidate pair (the verify_jaccard left-semi prune — the
    second shingle pass over candidates is collision-bounded, not
    increment-bounded).  The new side bands through the AGG formulation
    (:func:`lsh_band_buckets`: codegen'd arithmetic, honest statistics,
    measured ~3× cheaper than even the Arrow row-local path for batch);
    the candidate-id semi-join and the set joins stay UN-hinted —
    dup-heavy corpora can have O(n) candidates, so AQE
    broadcasts-while-small instead of a forced broadcast (the r5
    trap)."""
    from maple_spark.pipelines.util import checkpoint_df

    nb = lsh_band_buckets(new_docs, id_col, text_col, num_perm, bands, k).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    # materialize the candidate PAIRS once (round-13 optimization, guide
    # §5): cand has TWO consumers (the cand-doc semi-join and the final
    # verify join), and the planner does NOT reuse the dropDuplicates
    # exchange across them — the whole banding subtree (shingle + md5 +
    # 64 permutation mins over the increment) executed twice (plan-
    # audited: cp6's guard held 2 copies, 0 ReusedExchange).  The
    # checkpoint is id-only fixed-width pairs bounded by band COLLISIONS
    # (never the increment), lazy so it materializes inside the timed
    # execution, recomputed from the inputs on every run.  The LogicalRDD
    # boundary also drops Spark's injected runtime Bloom on doc_id, a
    # no-op here: it is built from the same filter-over-scan its
    # application side already carries (OPTIMIZATION_r12.md §4).
    cand = checkpoint_df(
        nb.join(ref_buckets, ["band", "bucket"])
        .select("new_id", "ref_id")
        .dropDuplicates(["new_id", "ref_id"]),
        eager=False,
    )
    cand_docs = new_docs.join(
        cand.select(F.col("new_id").alias(id_col)), on=id_col, how="left_semi"
    )
    new_sets = (
        hashed_shingles(cand_docs, id_col, text_col, k, alias="__h")
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__nset"))
        .select(F.col(id_col).alias("new_id"), "__nset")
    )
    n_inter = F.size(F.array_intersect("__nset", "__rset"))
    return (
        cand.join(new_sets, "new_id")
        .join(ref_sets, "ref_id")
        .withColumn(
            "jaccard",
            F.round(
                n_inter / (F.size("__nset") + F.size("__rset") - n_inter), 6
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def _cross_dedup_stream_joins(
    new_docs: DataFrame,
    ref_buckets: DataFrame,
    ref_sets: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    bands: int,
    k: int,
    jaccard_threshold: float,
) -> DataFrame:
    """The stream-side dataflow of :func:`cross_dedup_stream`, shared by
    the inline and snapshot-loading reference paths: row-local banding
    with the fingerprint set carried in-row, bucket equi-join,
    candidate-pair dedup, set join + exact jaccard."""
    # ONE row-local pipeline carries the fingerprint set alongside the
    # bucket rows (the set rides the explode ×bands — fixed-width, never
    # text): joining buckets back to the source for the set would be a
    # stream-stream self-join, which needs watermarks this operator
    # deliberately avoids.  Banding derives from the carried set
    # (fp_set_col) so the stream row is md5-hashed exactly once.
    base = new_docs.select(
        F.col(id_col).alias("new_id"), fp_set_best(text_col, k).alias("__nset")
    )
    nb = lsh_band_buckets_rowlocal(
        base,
        "new_id",
        None,
        num_perm,
        bands,
        k,
        carry_cols=("__nset",),
        fp_set_col="__nset",
    )
    n_inter = F.size(F.array_intersect("__nset", "__rset"))
    return (
        nb.join(ref_buckets, ["band", "bucket"])
        .select("new_id", "ref_id", "__nset")
        # candidate dedup FIRST (see docstring): multi-band collisions
        # collapse before the set join, so verification runs once per
        # pair.  Streaming state = candidate-pair keys only.
        .dropDuplicates(["new_id", "ref_id"])
        .join(ref_sets, "ref_id")
        .withColumn(
            "jaccard",
            F.round(
                n_inter / (F.size("__nset") + F.size("__rset") - n_inter), 6
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def cross_dedup_pairs(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    k: int = 8,
    jaccard_threshold: float = 0.7,
) -> DataFrame:
    """Cross-corpus near-dedup: (new_id, ref_id, jaccard) pairs where a
    NEW document near-duplicates a REFERENCE document — the standard
    training-pipeline decontamination-by-dedup shape ("drop new-crawl
    docs already represented in the existing corpus") that a
    within-corpus pair join (:func:`minhash_lsh_pairs`) does not
    express: candidates must cross corpora, never pair within one.

    Both sides run the shared banding core (:func:`lsh_band_buckets` —
    one scan each, shuffle carries fixed-width signatures only); the
    candidate join is an equi-join on (band, bucket) ACROSS the two
    bucket tables, so cost follows cross-corpus collisions, not
    |new|×|ref|.  Candidates are verified with exact Jaccard on shingle
    sets (per-side semi-join prefilters touch only candidate docs), so
    precision is 1.0.  At 100 TB the reference side's tables are
    computed once per snapshot and reused across crawl increments — use
    :func:`build_reference_snapshot` +
    ``cross_dedup_stream(new_batch, None, ..., reference_snapshot=path)``
    for that shape (it accepts plain batch frames, same output
    orientation; measured ~11× per-increment at 100×,
    SNAPSHOT_AMORT_r09.json).  This in-line form re-derives both sides
    and verifies on exact shingle STRING sets, which is what the
    value-exact oracle gate checks.

    Output orientation is (new_id, ref_id): asymmetric by definition,
    no id ordering between sides is assumed (ids may even collide
    across corpora — sides are tracked by column, not value)."""
    nb = lsh_band_buckets(new_df, id_col, text_col, num_perm, bands, k).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    rb = lsh_band_buckets(ref_df, id_col, text_col, num_perm, bands, k).select(
        F.col(id_col).alias("ref_id"), "band", "bucket"
    )
    cand = nb.join(rb, ["band", "bucket"]).select("new_id", "ref_id").distinct()

    def side_sets(docs: DataFrame, ids: DataFrame, out_id: str) -> DataFrame:
        # exploded shingle + collect_list groupBy, not a row-local
        # fp_set_expr projection: higher-order lambdas run interpreted
        # (outside whole-stage codegen), so the exploded md5 form is
        # measurably faster — see verify_jaccard's note
        cd = docs.join(F.broadcast(ids), on=id_col, how="left_semi")
        return (
            shingle(cd, id_col, text_col, k)
            .groupBy(id_col)
            .agg(F.collect_list("shingle").alias(f"__{out_id}_set"))
            .select(F.col(id_col).alias(out_id), f"__{out_id}_set")
        )

    sa = side_sets(new_df, cand.select(F.col("new_id").alias(id_col)), "new_id")
    sb = side_sets(ref_df, cand.select(F.col("ref_id").alias(id_col)), "ref_id")
    n_inter = F.size(F.array_intersect("__new_id_set", "__ref_id_set"))
    # cand broadcast (id-only); sb unhinted — it carries shingle arrays
    # (see verify_jaccard: a forced broadcast of text-derived sets is a
    # scale trap; AQE converts it when genuinely small)
    return (
        sa.join(F.broadcast(cand), on="new_id")
        .join(sb, on="ref_id")
        .withColumn(
            "jaccard",
            F.round(
                n_inter
                / (F.size("__new_id_set") + F.size("__ref_id_set") - n_inter),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def verify_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact Jaccard over k-shingle sets for given (id_a, id_b) pairs,
    intersected as 60-bit md5 fingerprint sets (== shingle-set Jaccard
    up to md5 collisions, p ~ |set|²/2^60 per pair — the same
    equivalence d6/st7 already rely on).  Only documents that appear in
    a candidate pair are shingled (left-semi prefilter) — at corpus
    scale the verifier touches O(candidate docs), not the whole corpus,
    and cost follows the candidate count, not n²."""
    # one explode pass over the pair list (not a union of two
    # projections, which would execute the candidate subtree twice);
    # no .distinct(): left-semi keeps one match regardless of key dups
    cand_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    )
    cand_docs = docs.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
    # One fingerprint-set row per candidate doc (collect_set: two
    # distinct shingles may collide to one fp60), then the per-pair
    # intersection is a single map-side array_intersect — versus the
    # previous exploded (id_b, shingle) equi-join + count groupBy + two
    # count-broadcast joins, which cost 4 extra exchanges; at sf0.1 the
    # verifier's wall time was ~90% stage overhead on candidate-bounded
    # (tiny) data.  (A row-local fp_set_expr formulation was tried and
    # REVERTED: Catalyst evaluates transform/array_distinct lambdas
    # interpreted, outside whole-stage codegen — the exploded md5 +
    # groupBy form measured 25% faster end-to-end, and its map stage is
    # shared below the exchange.)
    #
    # Fingerprints, NOT shingle strings, in the set payload — a real
    # 100x-measured OOM, not a theoretical one: shingle STRINGS over a
    # small vocabulary compress so well in shuffle files that AQE's
    # compressed-size stats under-measured the sets exchange,
    # broadcast-converted the sb join, and the DESERIALIZED string
    # arrays (~5 KB/doc in-heap) blew the 8 GB driver at 100x sf0.1
    # (scripts/scale100_experiment.py).  Fixed-width longs are ~6x
    # smaller per shingle AND nearly incompressible, so the stats AQE
    # plans on match the bytes it must hold: small candidate sets still
    # convert to broadcast, large ones correctly stay sort-merge.
    sets = (
        hashed_shingles(cand_docs, id_col, text_col, k, alias="__h")
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__set"))
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"))
    n_inter = F.size(F.array_intersect("__sa", "__sb"))
    # pairs joins un-hinted: id-only long rows give AQE honest sizes —
    # it broadcasts them while they are small and falls back to
    # shuffle joins when the pair list itself is huge (a dup-heavy
    # corpus can have O(n) near-dup pairs: forcing a broadcast here is
    # the same 8 GB trap that was removed for text-derived sets in
    # round 5).
    return (
        sa.join(pairs, on="id_a")
        .join(sb, on="id_b")
        .withColumn(
            "jaccard",
            F.round(
                n_inter / (F.size("__sa") + F.size("__sb") - n_inter),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Tier 4 as a standalone operator: all-pairs n-gram Jaccard ≥ threshold
    via an inverted-index join on shingles (pairs sharing ≥1 shingle), then
    exact Jaccard.  SQL-expressible (DuckDB oracle twin exists).  At 100 TB
    use minhash_lsh_pairs — this is the verifier, not the candidate
    generator."""
    sh = shingle(df, id_col, text_col, k)
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sh_a.join(sh_b, on="shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold via **prefix filtering** (the
    AllPairs/PPJoin principle — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): identical output to :func:`ngram_jaccard_pairs`, without
    joining on every shared shingle.

    Order each doc's shingles rare-first (global document frequency).  If
    J(x, y) ≥ t, the two docs must share a shingle within each one's
    first ``|d| − ⌈t·|d|⌉ + 1`` shingles (else every common shingle lies
    past one prefix, so the overlap < t·|d| ≤ t·|x∪y|).  The candidate
    join therefore touches only prefix shingles — and rare-first ordering
    makes those the least-shared shingles in the corpus, so the join
    fans out near-linearly instead of exploding on common shingles.  A
    length filter (t·|x| ≤ |y|) prunes further; exact Jaccard then
    verifies every candidate, so precision AND recall are both 1.0
    relative to the naive quadratic formulation (equality-tested).

    Every post-shingle stage works on the portable 60-bit md5
    fingerprint, not the shingle string — the df table, the ranked
    window, and the candidate equi-join all shuffle fixed-width longs
    (same rationale as :func:`verify_jaccard`: text-derived strings
    compress deceptively well, so AQE's compressed-size stats
    misjudge broadcast decisions, and the bytes are ~6x bigger
    in-heap).  Correctness holds up to fp60 collisions (p ~ 2^-60 per
    shingle pair), the SAME caveat the verifier itself carries — the
    operator is exact over fingerprint sets, and fingerprint-set
    Jaccard equals shingle-set Jaccard unless a collision occurs.
    (Collisions are not one-sided: a cross-doc collision adds a
    spurious candidate, which verification removes; a within-doc
    collision shrinks that doc's distinct-fingerprint count below its
    row count, so the positional prefix can under-cover fingerprint
    space — output identical to the string formulation whenever no
    collision exists among the corpus's shingles, which is the
    2^-60-per-pair event.)
    """
    from pyspark.sql.window import Window

    sh = hashed_shingles(df, id_col, text_col, k)
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    by_doc = Window.partitionBy(id_col)
    ranked = (
        sh.join(dfreq, "h")
        .withColumn("sz", F.count(F.lit(1)).over(by_doc))
        .withColumn(
            "pos",
            F.row_number().over(
                by_doc.orderBy(F.col("df").asc(), F.col("h").asc())
            ),
        )
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    # shared by both join sides — AQE exchange reuse runs it once (lazy
    # localCheckpoint avoided: see minhash_lsh_pairs)
    prefix = ranked.where(F.col("pos") <= prefix_len).select(
        id_col, "h", "sz"
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "h", F.col("sz").alias("sz_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), F.col("h"), F.col("sz").alias("sz_b")
    )
    candidates = (
        a.join(b, "h")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # |y| ≥ t·|x| (sizes too far apart can't reach t)
            & (F.col("sz_b") >= F.lit(threshold) * F.col("sz_a"))
            & (F.col("sz_a") >= F.lit(threshold) * F.col("sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return verify_jaccard(candidates, df, id_col, text_col, k, threshold)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 15,
    cadence: int = 3,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs → (node, cluster_id) with
    cluster_id = min doc id in the component.  This is the step that turns
    pairwise similarity into dedup *groups* (keep one doc per cluster).

    Min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels; fixpoint =
    components.  Deterministic (min over ids — no tie-breaking).

    Scale design: the edge set is the *candidate pair* list (O(near-dups),
    not O(corpus)), so each round is one shuffle of the edge list joined
    to a (node, label) table.  Rounds needed = graph diameter; dup
    clusters are short chains (diameter ≪ 10 in practice).

    Checkpoint cadence: the label table is ``localCheckpoint``ed (and
    convergence checked) every ``cadence`` rounds, not every round —
    without ANY checkpoint the plan doubles per iteration and the job
    dies on lineage, but a checkpoint + action per round means the
    fixed per-round job overhead dominates on all but huge graphs
    (measured: the checkpoints were ~2/3 of d5's wall time at sf0.1).
    Between checkpoints the rounds stack lazily into ONE job of
    ``cadence`` joins; the only cost is up to ``cadence``−1 no-op
    rounds after the fixpoint, which are semantically free (the min
    operator is idempotent at the fixpoint — equality-tested against
    the per-round formulation).  (localCheckpoint blocks store on
    executors: an executor loss mid-run fails the job and restarts the
    loop.  On a long-running 1000-executor cluster, set
    ``spark.sparkContext.setCheckpointDir`` and swap in reliable
    ``checkpoint()`` — same call shape, survives executor loss at the
    cost of a DFS write per checkpoint.)  For adversarial long-chain
    graphs swap in the large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce"), same join primitive.
    """
    # materialize the pair list BEFORE the symmetric union: both union
    # branches reference `pairs`, and its producer (e.g. the gram-tier
    # Arrow kernel in d5) sits ABOVE any exchange, so without this the
    # expensive pair computation executes twice — AQE exchange reuse
    # only deduplicates below shuffle boundaries.  O(near-dup pairs)
    # storage, same bound as the edge checkpoint two lines down.
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("id_a").cast("bigint").alias("src"),
        F.col("id_b").cast("bigint").alias("dst"),
    )
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    def one_round(cur: DataFrame) -> DataFrame:
        nbr = (
            edges.join(cur, edges["dst"] == cur["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry a changed flag instead of re-joining old vs new labels:
        # the checkpoint materializes the rounds anyway, so the
        # convergence check is a free count over already-computed rows
        return (
            cur.join(nbr, cur["node"] == nbr["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .select(
                "node",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("changed"),
            )
        )

    converged = False
    done = 0
    while done < max_iter:
        steps = min(cadence, max_iter - done)
        flagged = one_round(labels.select("node", "label"))
        for _ in range(steps - 1):
            flagged = one_round(flagged.select("node", "label"))
        flagged = flagged.localCheckpoint(eager=True)
        labels = flagged.select("node", "label")
        done += steps
        # the flag reflects the LAST stacked round: once the fixpoint is
        # reached every later round is a no-op, so "last round changed
        # nothing" ⇔ converged, regardless of where in the window the
        # fixpoint landed
        if flagged.where("changed").limit(1).count() == 0:
            converged = True
            break
    if not converged:
        # min-label propagation needs one round per hop: exhausting
        # max_iter on a long chain would silently return FRAGMENTED
        # clusters that diverge from the transitive-closure oracle
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            "connected_components_star (O(log n) rounds) for long-chain "
            "graphs"
        )
    if stats is not None:
        # observability hook (scale-sweep instrumentation): how many
        # label-propagation rounds actually ran — `done` counts stacked
        # rounds including the up-to-cadence-1 post-fixpoint no-ops
        stats["rounds"] = done
        stats["cadence"] = cadence
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame, max_iter: int = 20, cadence: int = 2
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as :func:`connected_components`
    ((node, cluster_id), cluster_id = component min), but convergence in
    O(log n) rounds instead of O(diameter): the cure for adversarial
    long-chain duplicate graphs where min-label propagation needs one
    round per hop.

    large-star: every node u links each LARGER neighbor to
    m(u) = min(N(u) ∪ {u}).  small-star: u links its smaller-or-equal
    neighbors (and itself) to the min among them.  Both are one
    groupBy-join round over the edge list; fixpoint is a star forest
    whose centers are the component minima.  Checkpoints the edge list
    every ``cadence`` rounds (lineage stays O(cadence); per-round
    checkpoint+action overhead halves — same cadence rationale as
    :func:`connected_components`), and the edge list only shrinks toward
    one edge per non-min node — at 100 TB the per-round shuffle is
    bounded by the candidate-pair count, same as d5's label rounds."""
    # see connected_components: materialize before the double reference
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    edges = pairs.select(
        F.col("id_a").cast("bigint").alias("u"),
        F.col("id_b").cast("bigint").alias("v"),
    )
    edges = (
        edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def one_round(cur: DataFrame) -> DataFrame:
        # large-star round
        m = cur.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            cur.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        sym = large.unionByName(
            large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        # small-star round over the large-star result
        small_side = sym.where(F.col("v") <= F.col("u"))
        ms = small_side.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        relinked = (
            small_side.join(ms, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(ms.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        return relinked.unionByName(
            relinked.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

    converged = False
    done = 0
    while done < max_iter:
        steps = min(cadence, max_iter - done)
        new_edges = one_round(edges)
        for _ in range(steps - 1):
            new_edges = one_round(new_edges)
        new_edges = new_edges.localCheckpoint(eager=True)
        done += steps
        # one action per window: the symmetric difference unions both
        # exceptAll directions into a single job (both inputs are
        # checkpointed, so neither subtree recomputes).  Star rounds
        # decrease a potential function monotonically (Kiveris et al.
        # Thm 1-2), so "window changed nothing" ⇔ fixpoint — the rounds
        # cannot cycle back to an earlier non-fixpoint state.
        sym_diff = new_edges.exceptAll(edges).unionByName(
            edges.exceptAll(new_edges)
        )
        edges = new_edges
        if sym_diff.limit(1).count() == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter (rounds needed ~ log2(component size))"
        )
    return edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("cluster_id")
    ).select(F.col("u").alias("node"), "cluster_id")


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    cc_stats: dict | None = None,
) -> DataFrame:
    """Cluster canonicalization — the step every dedup pipeline ends
    with: given the corpus (with a per-doc quality signal) and the
    near-dup pair list, keep ONE representative per duplicate cluster —
    the highest-``quality_col`` member, ties broken by smallest id —
    and pass singletons through untouched.  Output = all input columns
    plus ``cluster_id`` (component min id; the doc's own id for
    singletons) and boolean ``kept``.

    Choosing the BEST copy (not an arbitrary one, as d1's min-id keeper
    does for byte-identical rows) matters for near-dups: members differ,
    and training pipelines keep the longest / cleanest variant.

    Scale design: the component labels come from
    :func:`connected_components` over the PAIR list (O(near-dups) rows,
    not O(corpus)), so the label table is small relative to the corpus
    and the join back is broadcast-able — left to AQE, which sees real
    sizes at runtime.  The keeper choice is one ``row_number`` window
    partitioned by ``cluster_id``: keys are fine-grained (clusters are
    small; singletons are 1-row groups), so no skew concentration —
    this is the same shape as d1's keeper at corpus scale."""
    from pyspark.sql.window import Window

    cc = connected_components(pairs, stats=cc_stats)
    labeled = docs.join(
        cc, docs[id_col] == cc["node"], "left"
    ).select(
        docs["*"],
        F.coalesce(cc["cluster_id"], docs[id_col]).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return labeled.withColumn("kept", F.row_number().over(w) == F.lit(1))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tier 3: 64-bit SimHash per document over word tokens.

    Classic construction: each token hashes to 64 bits; each bit position
    accumulates +1/-1; the sign vector is the fingerprint.  Implemented as
    explode(tokens) → 64 conditional-sum aggregates (map-side partials — the
    shuffle carries 64 longs per doc, not tokens) → bit-pack.
    Near-dups = small Hamming distance between fingerprints.

    Token bits come from the engine-portable md5 fingerprint
    (``functions/phash.py``): bits 0..59 from the 60-bit fp, bits 60..63
    from the 16th hex digit — 64 independent bits per token, and the
    whole fingerprint is reproducible in vanilla DuckDB so the driver's
    oracle gate checks d4 value-exactly.
    """
    from maple_spark.functions import phash

    tok = (
        _spread(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "\\s+")).alias("token"),
        )
        .where(F.length("token") > 0)
        .select(
            F.col(id_col),
            phash.fp60(F.col("token")).alias("__h1"),
            phash.fp_nib(F.col("token")).alias("__h2"),
        )
    )

    def bit(b: int):
        if b < 60:
            return F.shiftright(F.col("__h1"), b).bitwiseAND(F.lit(1))
        return F.shiftright(F.col("__h2"), b - 60).bitwiseAND(F.lit(1))

    aggs = [
        F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(64)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    packed = sums.select(
        F.col(id_col),
        F.aggregate(
            F.array(*[
                F.when(
                    F.col(f"b{b}") > 0,
                    F.shiftleft(F.lit(1).cast("bigint"), b),
                ).otherwise(F.lit(0).cast("bigint"))
                for b in range(64)
            ]),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc.bitwiseOR(x),
        ).alias("simhash"),
    )
    return packed


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs via the block-permutation trick: split the
    64-bit fingerprint into (max_hamming+1) blocks — any pair within the
    Hamming ball agrees on ≥1 whole block (pigeonhole), so candidates come
    from equi-joins on block values, never an O(n²) scan."""
    nblocks = max_hamming + 1
    width = -(-64 // nblocks)  # ceil: blocks must cover all 64 bits or the
    # pigeonhole guarantee fails for diffs in the uncovered high bits
    # width=64 (max_hamming=0, exact match): the mask is all 64 bits —
    # (1<<64)-1 overflows a JVM long, but -1 IS that bit pattern signed
    mask = -1 if width >= 64 else (1 << width) - 1
    sh = simhash(df, id_col, text_col)
    blocks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(mask))
            .alias(f"blk{i}")
            for i in range(nblocks)
        ],
    )
    pairs = None
    for i in range(nblocks):
        a = blocks.select(
            F.col(id_col).alias("id_a"),
            F.col("simhash").alias("sh_a"),
            F.col(f"blk{i}").alias("blk"),
        )
        b = blocks.select(
            F.col(id_col).alias("id_b"),
            F.col("simhash").alias("sh_b"),
            F.col(f"blk{i}").alias("blk"),
        )
        p = a.join(b, on="blk").where(F.col("id_a") < F.col("id_b")).drop("blk")
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.distinct()
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _pack_size_blocks(
    hist: list[tuple[int, int]], block_rows_eff: int
) -> tuple[list[int], list[int], list[tuple[int, int, int]]]:
    """Greedy ascending bin-packing of a per-size (size, count) histogram
    into size-ordered blocks of at most ``block_rows_eff`` rows.

    Returns ``(lo, hi, sz_assign)``: per-block smallest/largest set
    size, and one ``(sz, base_block, k_sub)`` row per histogram entry —
    a size group maps to block ``base_block + hash(id) % k_sub``.  A
    tie group larger than the budget is hash-split across ``k_sub``
    sub-blocks (expected fill 80% of budget — headroom for hash
    variance; the gram KERNEL additionally row-chunks at the budget,
    so an overshooting sub-block degrades to extra chunks, never to an
    over-budget matrix), so block membership never needs a global
    rank; every other group lands in exactly one block (``k_sub ==
    1``).

    Invariants (property-tested in tests/test_pipelines.py): every
    histogram entry is assigned; blocks ascend in size (lo/hi
    non-decreasing, lo[b] ≤ hi[b]); un-split blocks hold ≤ budget rows;
    and for any sizes x ≤ y with J-compatibility x ≥ t·y, the pair of
    blocks containing them passes the ``hi[bi] ≥ t·lo[bj]`` prune."""
    import math

    lo: list[int] = []
    hi: list[int] = []
    sz_assign: list[tuple[int, int, int]] = []
    cur_rows = block_rows_eff  # "no open block" sentinel
    for sz, n in hist:
        if n > block_rows_eff:
            k_sub = math.ceil(n / max(1, int(0.8 * block_rows_eff)))
            sz_assign.append((sz, len(lo), k_sub))
            lo.extend([sz] * k_sub)
            hi.extend([sz] * k_sub)
            cur_rows = block_rows_eff  # close: next size opens fresh
            continue
        if cur_rows + n > block_rows_eff:
            lo.append(sz)
            hi.append(sz)
            cur_rows = 0
        hi[-1] = sz
        sz_assign.append((sz, len(lo) - 1, 1))
        cur_rows += n
    return lo, hi, sz_assign


def ngram_jaccard_pairs_gram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
    block_rows: int = 1024,
    vocab_cap: int = 65536,
    _n_vocab: int | None = None,
    _stats_out: dict | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold via a **blocked incidence
    gram-matrix** — the exact tier for HOT-VOCABULARY corpora, where
    both the naive inverted index and prefix filtering
    (:func:`ngram_jaccard_pairs_prefix`) explode: when every shingle
    appears in hundreds of documents, even the rare-first prefix join
    generates ~all candidate pairs one Spark row at a time (measured
    115-186 s at sf0.1 for 256 output pairs).

    Construction: distinct shingles get dense vocabulary ids (|V| must
    be ≤ ``vocab_cap`` — that smallness is exactly the hot-vocab
    regime); each document becomes the sorted id-array of its shingle
    set; documents are ranked by SET SIZE into contiguous blocks sized
    so a block-side incidence matrix fits ``task_bytes`` (rows × |V| ×
    4B float32 — e.g. 256 rows × 65536 vocab = 64 MB; the row count
    ADAPTS to |V|, it is not fixed), and the tiny block-pair relation
    is broadcast-joined against both sides (the sim2 blocked-GEMM
    pattern, ``similarity.embedding_near_dup``).

    Size-ordered blocking earns two prunes the old hash blocking could
    not (J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)): block pairs
    whose size ranges are further than 1/t apart are skipped entirely
    (driver-side, from a bounded (size, count) histogram — the
    quadratic pair count collapses toward the size-diagonal band), and
    inside each surviving pair, rows incompatible with the other
    side's size range drop before the matrices are built.  Both are
    necessary conditions only — output unchanged.

    Per block pair, an Arrow-batched kernel scatters the id-arrays
    into two dense binary incidence matrices and one BLAS matmul A·Bᵀ
    yields EVERY pairwise intersection size at once; |A∪B| =
    |A|+|B|−|A∩B| completes exact Jaccard.  Output identical to the
    inverted-index/prefix formulations (equality-tested), orientation
    id_a < id_b, each pair exactly once.

    Scale shape: Θ(n²·|V|) FLOPs spread over nb²/2 independent
    BLAS-speed tasks, shuffle volume n·nb id-arrays — the same honest
    quadratic-tier budget as sim2, with |V| (bounded by vocab_cap)
    taking the role of the embedding dimension.  The block count is a
    hard error past ``max_blocks`` (nb² block pairs must stay
    broadcastable and the quadratic FLOP bill affordable): a corpus
    that large is beyond any exact all-pairs tier — use d3's LSH.  For
    normal corpora (|V| large, shingles rare) use the prefix join; the
    two tiers' degenerate regimes are complementary, and
    :func:`ngram_jaccard_pairs_best` picks by measured vocabulary
    density.
    """
    import math

    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    task_bytes = 64 << 20
    max_blocks = 4096
    spark = df.sparkSession
    sh = shingle(df, id_col, text_col, k)
    vocab = sh.select("shingle").distinct()
    n_vocab = _n_vocab if _n_vocab is not None else vocab.count()
    if n_vocab > vocab_cap:
        raise ValueError(
            f"ngram_jaccard_pairs_gram: vocabulary {n_vocab} exceeds cap"
            f" {vocab_cap} — this corpus is in the prefix-join regime"
            " (rare shingles); use ngram_jaccard_pairs_prefix"
        )
    # dense vocab ids: metadata-sized single-partition window (n_vocab
    # rows, bounded by vocab_cap — same audited pattern as o1's offsets)
    vids = vocab.withColumn(
        "vid", F.row_number().over(Window.orderBy("shingle")) - 1
    )
    docs = (
        sh.join(vids, "shingle")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("vid")).alias("vids"),
            # shingle() is distinct per doc, so the row count IS |set|
            F.count(F.lit(1)).cast("bigint").alias("sz"),
        )
    )
    # SIZE-ORDERED blocks, not hash blocks: J(A,B) ≥ t forces
    # min(|A|,|B|) ≥ t·max(|A|,|B|), so with documents grouped by set
    # size into size-ascending blocks, a block PAIR whose size ranges
    # are further than 1/t apart cannot contain a qualifying doc pair
    # and is skipped before any shuffle or BLAS — the same length
    # filter the prefix tier exploits, lifted to the block level.  The
    # driver sees only the (sz, count) histogram (bounded by distinct
    # set sizes ≤ max doc length — metadata, the audited sim4-centroids
    # pattern); block assignment is then a pure MAP-SIDE broadcast-join
    # expression (size → block base, hash sub-split for oversized tie
    # groups), so `docs` is consumed exactly once at execution and
    # nothing needs a rank window or a checkpoint.
    hist = sorted(
        (r["sz"], r["n"])
        for r in docs.groupBy("sz").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    id_type = df.schema[id_col].dataType.simpleString()
    if not hist:  # empty corpus (or all-NULL text): no pairs, no blocks
        return spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, jaccard double"
        )
    n_docs = sum(n for _, n in hist)
    # rows per block from the per-task byte budget, not a constant: a
    # hot 64k vocabulary caps blocks at ~256 rows (64 MB per side), a
    # 1k vocabulary allows the full block_rows.  Block count follows
    # n_docs with NO arbitrary cap — an oversized corpus fails loudly
    # below instead of silently growing per-task matrices.
    rows_budget = max(16, task_bytes // (4 * max(n_vocab, 1)))
    block_rows_eff = min(block_rows, rows_budget)
    lo, hi, sz_assign = _pack_size_blocks(hist, block_rows_eff)
    n_blocks = max(1, len(lo))
    if n_blocks > max_blocks:
        raise ValueError(
            f"ngram_jaccard_pairs_gram: {n_docs} docs need {n_blocks}"
            f" blocks of {block_rows_eff} rows (vocab {n_vocab}) —"
            f" beyond the {max_blocks}-block exact-quadratic budget."
            " Use minhash_lsh_pairs (d3) at this scale."
        )
    if _stats_out is not None:
        # test/diagnostic introspection — driver-side arithmetic over the
        # (≤ max_blocks) lo/hi arrays, no Spark job
        kept = sum(
            1
            for i in range(n_blocks)
            for j in range(i, n_blocks)
            if threshold <= 0 or hi[i] >= threshold * lo[j]
        )
        _stats_out.update(
            n_vocab=n_vocab,
            n_blocks=n_blocks,
            block_rows_eff=block_rows_eff,
            block_pairs_total=n_blocks * (n_blocks + 1) // 2,
            block_pairs_kept=kept,
        )
    szmap = spark.createDataFrame(sz_assign, "sz bigint, base int, k int")
    corpus = docs.join(F.broadcast(szmap), "sz").select(
        F.col(id_col).alias("id"),
        F.col("vids"),
        (
            F.col("base")
            + F.pmod(F.xxhash64(F.col(id_col)), F.col("k")).cast("int")
        ).alias("b"),
    )
    # block-pair relation: built DISTRIBUTIVELY (spark.range over the
    # nb² index space — at max_blocks that is ~8.4M rows, trivial for
    # executors, pathological as Python tuples on the driver), then
    # filtered to SIZE-COMPATIBLE pairs via two broadcast joins against
    # the per-block [lo, hi] table (only n_blocks ≤ max_blocks rows
    # cross the driver).  With blocks ascending in size, pair (i ≤ j)
    # can qualify only if the largest set in block i reaches t × the
    # smallest set in block j.
    bstats = spark.createDataFrame(
        [(b, int(lo[b]), int(hi[b])) for b in range(n_blocks)],
        "b int, lo bigint, hi bigint",
    )
    pairs = (
        spark.range(n_blocks * n_blocks)
        .select(
            (F.col("id") / n_blocks).cast("int").alias("bi"),
            F.pmod(F.col("id"), F.lit(n_blocks)).cast("int").alias("bj"),
        )
        .where(F.col("bj") >= F.col("bi"))
        .join(
            F.broadcast(
                bstats.select(F.col("b").alias("bi"), F.col("hi").alias("hi_i"))
            ),
            "bi",
        )
        .join(
            F.broadcast(
                bstats.select(F.col("b").alias("bj"), F.col("lo").alias("lo_j"))
            ),
            "bj",
        )
        .where(
            (F.lit(threshold) <= 0)
            | (F.col("hi_i") >= F.lit(threshold) * F.col("lo_j"))
        )
        .select("bi", "bj")
    )
    left = (
        F.broadcast(pairs.alias("p1"))
        .join(corpus.alias("c1"), F.col("p1.bi") == F.col("c1.b"))
        .select(
            F.col("p1.bi").alias("bi"),
            F.col("p1.bj").alias("bj"),
            F.col("c1.id").alias("id"),
            F.col("c1.vids").alias("vids"),
        )
    )
    right = (
        F.broadcast(pairs.alias("p2"))
        .join(corpus.alias("c2"), F.col("p2.bj") == F.col("c2.b"))
        .select(
            F.col("p2.bi").alias("bi"),
            F.col("p2.bj").alias("bj"),
            F.col("c2.id").alias("id"),
            F.col("c2.vids").alias("vids"),
        )
    )

    def gram(key, lpdf, rpdf):
        empty = pd.DataFrame({"id_a": [], "id_b": [], "jaccard": []})
        if lpdf.empty or rpdf.empty:
            return empty
        # row-level size-compatibility masks (the block-level prune at
        # doc granularity): a row can only pair with the OTHER side's
        # size range scaled by t, so incompatible rows drop before the
        # incidence matrices are even built — necessary condition only,
        # so output is unchanged
        if threshold > 0:
            na0 = lpdf["vids"].map(len).to_numpy()
            nb0 = rpdf["vids"].map(len).to_numpy()
            keep_l = (na0 >= threshold * nb0.min()) & (
                na0 <= nb0.max() / threshold
            )
            keep_r = (nb0 >= threshold * na0.min()) & (
                nb0 <= na0.max() / threshold
            )
            if not keep_l.all():
                lpdf = lpdf[keep_l]
            if not keep_r.all():
                rpdf = rpdf[keep_r]
            if lpdf.empty or rpdf.empty:
                return empty

        def incidence(pdf):
            m = np.zeros((len(pdf), n_vocab), dtype=np.float32)
            sizes = np.empty(len(pdf), dtype=np.int64)
            for i, v in enumerate(pdf["vids"].to_numpy()):
                a = np.asarray(v, dtype=np.int64)
                m[i, a] = 1.0
                sizes[i] = a.size
            return m, sizes

        # HARD memory ceiling regardless of delivered row count: a
        # hash-SPLIT tie group is sized to ~80% expected fill, but hash
        # variance can overshoot block_rows_eff — so the matrices are
        # row-chunked at block_rows_eff here instead of trusting the
        # split.  Normal (un-split, ≤ budget) blocks take exactly one
        # chunk pair: zero overhead on the common path.
        step = block_rows_eff
        same = key[0] == key[1]
        out = []
        for i0 in range(0, len(lpdf), step):
            lc = lpdf.iloc[i0:i0 + step]
            A, na = incidence(lc)
            idl_all = lc["id"].to_numpy()
            for j0 in range(0, len(rpdf), step):
                rc = rpdf.iloc[j0:j0 + step]
                B, nb_ = incidence(rc)
                inter = np.rint(A @ B.T).astype(np.int64)
                union = na[:, None] + nb_[None, :] - inter
                J = inter / np.maximum(union, 1)
                ia, ib = np.nonzero(J >= threshold)
                if ia.size == 0:
                    continue
                idl = idl_all[ia]
                idr = rc["id"].to_numpy()[ib]
                if same:
                    keep = idl < idr
                    idl, idr, ia, ib = idl[keep], idr[keep], ia[keep], ib[keep]
                out.append(pd.DataFrame(
                    {
                        "id_a": np.minimum(idl, idr),
                        "id_b": np.maximum(idl, idr),
                        # HALF_UP like Spark's round() — np.round is
                        # half-even, and p/q ratios CAN land on exact
                        # halves at 6dp
                        "jaccard": np.floor(J[ia, ib] * 1e6 + 0.5) / 1e6,
                    }
                ))
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(gram, schema=f"id_a {id_type}, id_b {id_type}, jaccard double")
    )


def ngram_jaccard_pairs_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    threshold: float = 0.5,
    vocab_cap: int = 65536,
) -> DataFrame:
    """Exact Jaccard-join tier selection by measured vocabulary density:
    a small distinct-shingle vocabulary means shingles are hot and the
    prefix join's candidate stage explodes — route to the gram tier;
    a large vocabulary means shingles are rare and prefix filtering is
    near-linear — route there.  The two formulations are
    output-identical, so the choice is pure physics, not semantics.

    Routing is SAMPLED, not a full pass: density is estimated from
    ``approx_count_distinct`` over ~4096 hash-sampled documents'
    shingles (one thin map pass; only the 2-value agg shuffles),
    because a full ``distinct().count()`` over all shingles would be
    an extra full-corpus scan + shuffle before any real work — at
    100 TB that is a whole stage spent deciding which stage to run.
    Hot vocabularies saturate within a small sample (that is what hot
    MEANS — every shingle recurs across documents), so the sample
    routes reliably; the gram tier still verifies the EXACT vocabulary
    against its cap internally (it materializes the vocab for dense ids
    anyway) and a sample that under-estimated a too-large vocabulary
    falls back to the prefix join.

    The sample is an id-hash filter, NOT ``limit(1024)``: limit takes
    the first partitions' rows, so a corpus clustered by source could
    route on an unrepresentative head (one low-vocabulary domain first
    → prefix join for a genuinely hot corpus — the exact regime the
    prefix tier dies on).  The hash test spreads the sample across the
    corpus regardless of physical layout, deterministically; its
    modulus derives from the EXACT row count in the parquet footers
    (``util.parquet_files_stats`` — metadata only, no job) to keep the
    expected sample ~4096 docs.  A source whose footers cannot be read
    (in-memory frame, remote path) falls back to the bounded
    ``limit(4096)`` head sample — head bias beats an unbounded
    full-corpus routing scan."""
    from maple_spark.pipelines.util import parquet_files_stats

    stats_meta = parquet_files_stats(df)
    sample = df.select(id_col, text_col)
    if stats_meta is None or stats_meta[1] is None:
        # unstatable OR footers unreadable (rows unknown): bounded head
        sample = sample.limit(4096)
    else:
        mod = max(1, stats_meta[1] // 4096)
        if mod > 1:
            sample = sample.where(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0
            )
    stats = (
        sample.select(F.explode(shingle_expr(text_col, k)).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("t"),
            F.approx_count_distinct("__s").alias("d"),
        )
        .collect()[0]
    )
    # hot = vocabulary within cap AND ≥10× shingle reuse in the sample
    hot = stats["d"] <= vocab_cap and stats["d"] * 10 <= stats["t"]
    if hot:
        try:
            return ngram_jaccard_pairs_gram(
                df, id_col, text_col, k, threshold, vocab_cap=vocab_cap
            )
        except ValueError as e:
            # ONLY the vocab-cap error means "prefix regime after all"
            # (the sample under-estimated a large vocabulary → shingles
            # are rare → prefix filtering works).  The max_blocks error
            # means the corpus is too big for ANY exact all-pairs tier —
            # falling through to the prefix join there would hand the
            # hot-vocabulary scale-killer exactly the input it dies on,
            # so re-raise with the use-LSH guidance intact.
            if "prefix-join regime" not in str(e):
                raise
    return ngram_jaccard_pairs_prefix(df, id_col, text_col, k, threshold)


def wordset_fp(text_col: str = "text"):
    """Canonical bag-of-words-SET fingerprint: md5 of the space-joined,
    binary-sorted distinct whitespace tokens.  The canonicalization
    tier between exact content equality (tier 1) and MinHash
    similarity (tier 2): word order, repetition, and duplicate tokens
    are normalized away, so permuted/repeated rewrites of the same
    vocabulary collide.  Engine-portable: DuckDB's
    list_sort/list_distinct/string_agg/md5 reproduce it byte-for-byte
    (binary collation both sides); a zero-token text fingerprints as
    md5('') in both engines."""
    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def bloom_membership_guard(
    batch: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 0.01,
    expected_items: int | None = None,
    max_bits: int = 1 << 27,
) -> DataFrame:
    """Exact membership admission with a DISTRIBUTED-BUILT Bloom
    pre-filter: admit the batch docs whose :func:`wordset_fp`
    fingerprint does NOT appear in the reference corpus.  The output
    is EXACT — the Bloom filter only routes: rows failing any bit are
    *definitely* absent and skip the join entirely (map-only); rows
    passing all k bits (true members + ~fpp false positives) are
    verified by a left-anti join on the fingerprint.  That makes this
    the admission-guard analog of Spark's own runtime-filter idea,
    surfaced as an operator: at 100 TB the overwhelming majority of an
    incremental crawl is new, so the expensive anti-join's left side
    shrinks from |batch| to |members| + fpp·|batch| while the
    negatives never shuffle at all.

    Build shape: one pass over the reference emits k = m/n·ln2 bit
    positions per fingerprint (xxhash64 salted by seed index),
    collapses MAP-SIDE via bit_or into ≤ m/64 (word, bits) rows — the
    shuffle carries at most partitions × m/64 fixed-width rows, never
    the fingerprints — then folds into ONE map row broadcast to the
    probe (the 1-row-total pattern; the driver-side map is bounded by
    the CHOSEN m = -n·ln(fpp)/ln²2 bits, m ≤ ``max_bits``).  When the
    sizing rule needs more than ``max_bits`` (a reference too big for
    a broadcast bitset — the 8 GB wall argument), the guard ROUTES to
    the plain anti-join instead of building a useless saturated
    filter: same exact output, size-gated strategy (the ingest-guard
    router discipline).

    Returns (id_col, wordset_md5) for admitted batch docs; NULL-text
    rows are excluded by contract on both sides."""
    import math

    fp = wordset_fp(text_col)
    bfp = (
        batch.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), fp.alias("wordset_md5"))
    )
    rfp = (
        ref.where(F.col(text_col).isNotNull())
        .select(fp.alias("wordset_md5"))
    )
    if expected_items is not None:
        n = int(expected_items)
    else:
        # size from parquet FOOTER row counts when the reference is
        # file-backed (metadata only, no job) instead of a full count()
        # scan: the footer total is an UPPER bound on any filtered
        # reference (more rows → bigger m → lower fpp), and Bloom
        # sizing only routes — the verify anti-join keeps the output
        # EXACT at any (m, k).  Unstatable sources fall back to the
        # exact count (round-12 optimization: the count was a whole
        # construction-time reference scan per build).
        from maple_spark.pipelines.util import parquet_files_stats

        _stats = parquet_files_stats(ref)
        n = _stats[1] if _stats is not None and _stats[1] else ref.count()
    n = max(n, 1)
    m_req = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    if m_req > max_bits:
        # saturated-filter regime: the bitset the sizing rule wants
        # exceeds the broadcast budget -> plain anti-join (AQE picks
        # broadcast-vs-shuffle from measured sizes)
        return bfp.join(rfp, "wordset_md5", "left_anti").select(
            id_col, "wordset_md5"
        )
    m = max(64, m_req)
    k = max(1, round(m / n * math.log(2)))
    pos = [
        F.pmod(F.xxhash64(F.col("wordset_md5"), F.lit(s)), F.lit(m))
        for s in range(k)
    ]
    words = (
        rfp.select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "bits"
            ),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bm")
        )
        # the 1-row bits map feeds BOTH union branches (negatives and
        # candidates); without this eager materialization each branch
        # re-runs the whole reference build (no ReusedExchange across
        # the union in this Spark), so pin build-ONCE here — the row
        # is m/8 bytes by construction, bounded by max_bits
        .localCheckpoint(eager=True)
    )
    probed = bfp.crossJoin(F.broadcast(words))
    # k bit probes as ONE codegen'd conjunction (shift amounts are
    # columns, so SQL-expr shiftleft — the pyspark wrapper only takes
    # literal shifts); a missing map word means bits 0 -> absent
    checks = [
        f"(coalesce(element_at(bm, shiftright(pmod(xxhash64(wordset_md5, {s}),"
        f" {m}), 6)), CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT),"
        f" CAST(pmod(xxhash64(wordset_md5, {s}), {m}) % 64 AS INT))) != 0"
        for s in range(k)
    ]
    might = F.expr(" AND ".join(checks))
    negatives = probed.where(~might).select(id_col, "wordset_md5")
    candidates = probed.where(might).select(id_col, "wordset_md5")
    verified_new = candidates.join(rfp, "wordset_md5", "left_anti").select(
        id_col, "wordset_md5"
    )
    return negatives.unionByName(verified_new)
