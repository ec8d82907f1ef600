"""Plan-shape tests — the 100 TB questions asked at sf0.001.

Correctness says the answer is right; these say the *plan* is the one that
survives 1000 executors: filters pushed to Parquet, columns pruned,
dimensions broadcast, top-k without a global sort, codegen in the hot path.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from maple_spark.catalog import load_table
from maple_spark.plans import (
    explain_str,
    has_pushed_filters,
    scan_read_schema,
    uses_broadcast_join,
)


#: The exact exchange/scan censuses in this file (hashpartitioning == 7,
#: Scan parquet == 12, SinglePartition == 1, ...) are deliberate
#: tripwires — a NEW shuffle class in a hot plan must fail a test — but
#: the exact integers are properties of THIS Spark's formatted plans and
#: an AQE/planner upgrade legitimately moves them (ADVICE round 11).
#: Pin the version once so an upgrade fails HERE with instructions,
#: instead of scattering census failures across the file.
PINNED_SPARK_MINOR = "4.1"


def test_plan_census_spark_version_pin():
    import pyspark

    assert pyspark.__version__.startswith(PINNED_SPARK_MINOR), (
        f"the exact plan censuses in tests/test_plan_shape.py were audited "
        f"against Spark {PINNED_SPARK_MINOR}.x; this is "
        f"{pyspark.__version__} — re-audit the exchange/scan counts "
        "(run scripts/dump_plans.py), fix any that moved, then bump "
        "PINNED_SPARK_MINOR"
    )


def test_filter_pushdown_reaches_parquet(spark):
    li = load_table(spark, SF_DIR, "lineitem").where(F.col("l_quantity") > 45)
    assert has_pushed_filters(li)


def test_column_pruning(spark):
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    read = scan_read_schema(li)
    assert set(read) == {"l_orderkey", "l_quantity"}


def test_dim_join_broadcasts(spark):
    import __spark_entry__ as e

    df = e.j2_join_inner(spark, SF_DIR)
    assert uses_broadcast_join(df)


def test_flagship_no_global_sort(spark):
    """row_number-limit over a window plans as WindowGroupLimit partial
    ranking, not a full global sort of the join output."""
    import __spark_entry__ as e

    plan = explain_str(e.flagship_join_topk(spark, SF_DIR))
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan


def test_q1_whole_stage_codegen(spark):
    import __spark_entry__ as e

    plan = explain_str(e.a2_groupby_q1(spark, SF_DIR), mode="codegen")
    assert "WholeStageCodegen" in plan


def test_semi_join_plans_as_semi(spark):
    import __spark_entry__ as e

    plan = explain_str(e.j7_semi_in_subquery(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_aggregate_is_partial_final(spark):
    """Hash aggregation must run map-side partials before the exchange
    (the two-phase plan the reference never implemented, A2/A3)."""
    li = load_table(spark, SF_DIR, "lineitem")
    plan = explain_str(
        li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    )
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_q5_fact_table_never_shuffles_before_agg(spark):
    """Q5's 6-table join should stream lineitem through broadcast joins —
    at this scale ratio the only Exchange is the final group-by (at 100 TB
    AQE would flip orders to SMJ; dims stay broadcast either way)."""
    import __spark_entry__ as e

    plan = explain_str(e.q5_local_supplier(spark, SF_DIR), mode="simple")
    assert plan.count("BroadcastHashJoin") >= 4
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1  # only the final aggregation exchange


def test_scalar_subquery_broadcasts(spark):
    import __spark_entry__ as e

    plan = explain_str(e.e10_scalar_subquery(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q8_single_agg_exchange(spark):
    """Q8's 8-table star join: every dimension broadcast, lineitem streams
    through — the only hash exchange is the per-year aggregate."""
    import __spark_entry__ as e

    plan = explain_str(e.q8_market_share(spark, SF_DIR), mode="simple")
    assert plan.count("BroadcastHashJoin") >= 6
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1


def test_q21_semi_and_anti_joins(spark):
    """Q21's EXISTS/NOT EXISTS pair plans as LeftSemi + LeftAnti with the
    non-equi suppkey residual attached to the join, not a filter above a
    cross product."""
    import __spark_entry__ as e

    plan = explain_str(e.q21_waiting_supplier(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_quota_sample_uses_window_group_limit(spark):
    """The per-group cap plans as WindowGroupLimit: each partition stops
    ranking after `cap` rows instead of fully sorting every group."""
    import __spark_entry__ as e

    plan = explain_str(e.t6_quota_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_hash_split_is_map_only(spark):
    """t5 must be a pure map pass: no exchange anywhere in the plan."""
    import __spark_entry__ as e

    plan = explain_str(e.t5_hash_split(spark, SF_DIR), mode="simple")
    assert "Exchange" not in plan


def test_gopher_rules_is_map_only(spark):
    """t24 (the Gopher gate) must be a pure map pass — it is the
    filter production runs FIRST over the whole crawl, so any exchange
    here would be a full-corpus shuffle for row-local arithmetic."""
    import __spark_entry__ as e

    plan = explain_str(e.t24_gopher_rules(spark, SF_DIR), mode="simple")
    assert "Exchange" not in plan


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """The 100 TB safety net made visible: a join whose build side is
    statically over the broadcast estimate but *runtime*-small gets
    flipped to a broadcast join by AQE after the shuffle stage reports
    its true size.  This is why the engine can plan for the worst case
    and still get dimension-join speed when filters bite."""
    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders").where(F.col("o_totalprice") > 450000)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # static planner sees the un-executed file-size estimate (> 1 KB) and
    # must pick SMJ; AQE's own threshold stays generous so the *measured*
    # post-filter shuffle size qualifies for conversion
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
    try:
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "o_totalprice"
        )
        static_plan = explain_str(joined, mode="simple")
        assert "SortMergeJoin" in static_plan  # static planner picks SMJ
        joined.collect()  # execute so AQE finalizes with runtime stats
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final_plan  # AQE flipped it
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Runtime bloom-filter pruning (InjectRuntimeFilter): a selective dim
    filter turns into a bloom_filter_agg on the build side whose might_contain
    probe drops fact rows BEFORE the join shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling only the
    ~matching fraction.  Thresholds are lowered so the toy scan qualifies;
    at cluster scale the defaults (10 MB creation side) trigger on real dims."""
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    # broadcast off: bloom pruning targets shuffle joins (broadcast joins
    # already avoid shuffling the fact side)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders").where(F.col("o_totalprice") > 400000)
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")


def test_lateral_topn_decorrelates_to_window(spark):
    """Correlated LATERAL top-2 must NOT execute per-customer: Catalyst
    decorrelates to a partial/final WindowGroupLimit over orders plus one
    join — the only plan that survives a 100 TB orders table."""
    import __spark_entry__ as e

    plan = e.lat1_lateral_topn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_tfidf_single_corpus_scan_plus_broadcasts(spark):
    """t8: the corpus is scanned+exploded ONCE into a checkpointed
    (doc, term, tf) table (ExistingRDD in the plan); document frequency
    derives from it and joins back by broadcast.  The only remaining
    FileScan is the trivial count(*) for N."""
    import __spark_entry__ as e

    plan = explain_str(e.t8_tfidf_topterms(spark, SF_DIR), mode="simple")
    assert plan.count("FileScan") == 1          # N only; tf is checkpointed
    assert "ExistingRDD" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan    # 1-row N cross join
    assert plan.count("Exchange hashpartitioning") <= 2


def test_bm25_single_scan_and_partial_topk(spark):
    """t9: doc length, query-term tf, df, and avgdl all derive from one
    checkpointed count table (one corpus FileScan), and the global top-10
    plans as TakeOrderedAndProject — per-partition partial top-k, never a
    global sort of all scored documents."""
    import __spark_entry__ as e

    plan = explain_str(e.t9_bm25_search(spark, SF_DIR), mode="simple")
    assert plan.count("FileScan") == 1          # N only; counts checkpointed
    assert "ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_o1_rank_is_distributed(spark):
    """o1's global row_number must NOT serialize the relation through a
    single-partition window: the rank window is partitioned by the
    quantile bucket, and the only SinglePartition exchange in the plan is
    over the metadata-sized per-bucket counts table (≤ n_buckets rows),
    never the customer data."""
    import __spark_entry__ as e

    plan = (
        e.o1_sort_rownum(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the rank window runs partition-local over the range bucket
    assert "row_number() windowspecdefinition(__bkt" in plan
    # exactly one single-partition stage: the bucket-count offsets window;
    # its input is the (partial+final) count aggregate, not the relation
    assert plan.count("Exchange SinglePartition") == 1
    single = plan.split("Exchange SinglePartition")[1]
    assert "HashAggregate" in single.split("Exchange")[0]


def test_no_cartesian_product_anywhere(spark):
    """Blanket scale guarantee over the ENTIRE registry: no queries()
    entry may plan a CartesianProduct — the all-pairs scale-killer —
    except j6_cross_join, whose semantics ARE the Cartesian product.
    (BroadcastNestedLoopJoin is tolerated only for one-row broadcast
    sides: scalar-aggregate crossJoins like TF-IDF's corpus-size attach;
    a BNLJ whose build side isn't a single-row aggregate fails too.)"""
    import __spark_entry__ as entrymod

    from conftest import SF_DIR

    allowed_cartesian = {"j6_cross_join"}
    offenders = []
    for name, fn in entrymod.queries().items():
        if name in allowed_cartesian:
            continue
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # building must never fail either
            offenders.append((name, f"plan build failed: {exc}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_tpch_shuffle_budgets(spark):
    """Shuffle-count regression net: each TPC-H-shape query must not plan
    MORE shuffle exchanges (hash/range/single-partition — broadcasts
    excluded) than its audited budget at sf0.001.  A failing budget means
    a change introduced a shuffle the star-schema plan didn't need —
    exactly the regression that stays invisible at toy scale and bites at
    100 TB.  Budgets are the audited plan shapes, not aspirations; if a
    deliberate plan change lowers one, tighten it."""
    import re

    import __spark_entry__ as entrymod

    from conftest import SF_DIR

    budgets = {
        "a2_groupby_q1": 1,
        "cp1_corpus_pipeline": 2,
        "flagship_join_topk": 0,
        "q10_returned_items": 1,
        "q11_important_stock": 3,
        "q12_shipmode_priority": 1,
        "q13_customer_distribution": 2,
        "q14_promo_effect": 1,
        "q15_top_supplier": 3,
        "q16_supplier_cnt": 3,
        "q17_small_quantity_revenue": 2,
        "q18_large_volume_customer": 1,
        "q19_disjunctive_pushdown": 1,
        "q20_excess_shipments": 3,
        "q21_waiting_supplier": 1,
        "q22_global_sales_opportunity": 2,
        "q2_groupwise_max": 1,
        "q3_shipping_priority": 1,
        "q4_order_priority": 1,
        "q5_local_supplier": 1,
        "q6_forecast_revenue": 1,
        "q7_volume_shipping": 1,
        "q8_market_share": 1,
        "q9_product_profit": 1,
    }
    pat = re.compile(r"Exchange (hashpartitioning|rangepartitioning|SinglePartition)")
    qs = entrymod.queries()
    over = []
    for name, budget in budgets.items():
        plan = qs[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        n = len(pat.findall(plan))
        if n > budget:
            over.append((name, n, budget))
    assert not over, f"shuffle budget exceeded (got, budget): {over}"


def test_single_partition_exchanges_are_audited(spark):
    """Blanket scale guarantee #2: an `Exchange SinglePartition` is the
    accidental-serialization trap (VERDICT r3 found two).  Every query
    that plans one is audited here with its count; all are metadata-sized
    global-aggregate finals — a scalar subquery value, a corpus-level
    constant (doc count, avgdl, total), per-bucket offset counts (o1,
    enc1's boundary stitch), or series bounds (ts1) — never a
    relation-sized stage.  Any NEW single-partition exchange (or a count
    increase) fails this test and must be justified by editing the
    audit."""
    import __spark_entry__ as entrymod

    from conftest import SF_DIR

    audited = {
        "a11_hll_sketch": 1,            # global HLL union — one sketch row
        "a15_hll_dataflow": 1,          # merged-ALL estimate over ≤2^p register rows
        "d2_ngram_jaccard": 2,          # gram-tier vocab ids: ≤ vocab_cap rows
        "e10_scalar_subquery": 1,       # the scalar aggregate itself
        "enc1_encoding_report": 2,      # per-partition boundary stitch rows
        "o1_sort_rownum": 1,            # per-bucket count offsets (≤ n_buckets)
        "q11_important_stock": 1,       # global threshold scalar
        "q14_promo_effect": 1,          # global promo/total ratio scalar
        "q15_top_supplier": 1,          # global max revenue scalar
        "q17_small_quantity_revenue": 1,  # global avg-qty scalar per part join
        "q19_disjunctive_pushdown": 1,  # final one-row sum
        "q22_global_sales_opportunity": 1,  # global avg balance scalar
        "q6_forecast_revenue": 1,       # final one-row sum
        "t8_tfidf_topterms": 1,         # corpus doc-count attach
        "t9_bm25_search": 2,            # doc count + avgdl attaches
        "t18_temperature_sample": 1,    # Σ n^α total — one row over n_groups inputs
        "t19_perplexity_score": 1,      # corpus word-total attach — one row
        "t20_bigram_perplexity": 1,     # train word-total attach — one row
        "t21_trigram_perplexity": 1,    # train word-total attach — one row
        "t22_fourgram_perplexity": 1,   # train word-total attach — one row
        "t23_fivegram_perplexity": 1,   # train word-total attach — one row
                                        # (t19s/t20s have NONE: their total
                                        # is READ from the snapshot)
        "cp5_perplexity_mix": 1,        # t18's quota-total row over the gated set
        "t26_dsir_select": 1,           # λ-model totals row over ≤ n_buckets rows
        "ts1_gapfill": 1,               # series min/max bounds row
    }
    got = {}
    for name, fn in entrymod.queries().items():
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        n = plan.count("Exchange SinglePartition")
        if n:
            got[name] = n
    assert got == audited, {
        k: (got.get(k), audited.get(k))
        for k in set(got) | set(audited)
        if got.get(k) != audited.get(k)
    }


def test_weighted_sample_plans_partial_topk(spark):
    """t15's rank filter must plan as WindowGroupLimit partial top-k —
    the A-Res sample is a top-k, never a global sort of the corpus."""
    import __spark_entry__ as e

    plan = explain_str(e.t15_weighted_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan


def test_interval_overlap_is_equi_join(spark):
    """rj2's overlap join must be the binned EQUI-join — a
    BroadcastNestedLoopJoin over the session relation would be the
    quadratic theta join the operator exists to avoid.  (AQE may choose
    broadcast-HASH for the small fixture side; that is still keyed on
    __bin.)"""
    import __spark_entry__ as e

    plan = explain_str(e.rj2_interval_overlap(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_bpe_token_counts_single_count_exchange(spark):
    """bpe2's corpus pass must stay codegen + map-side partial: no
    Python eval stages (the merge chain is column expressions, not an
    interpreted higher-order lambda), partial_sum before the single
    (doc_id) hash exchange."""
    import __spark_entry__ as e

    plan = explain_str(e.bpe2_bpe_token_counts(spark, SF_DIR))
    for py_stage in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_stage not in plan
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 1


def test_canonical_docs_window_is_cluster_partitioned(spark):
    """d7's keeper pick must partition by cluster_id — an unpartitioned
    window would serialize the corpus through one task (the
    accidental-single-partition trap)."""
    import __spark_entry__ as e

    plan = explain_str(e.d7_canonical_docs(spark, SF_DIR))
    assert "windowspecdefinition(cluster_id" in plan


def test_stream_dedup_batch_single_exchange(spark):
    """st8's batch dual: one key exchange over the union — dedup must
    not add a second shuffle or a sort of the full payload beyond the
    keyed aggregate."""
    import __spark_entry__ as e

    plan = explain_str(e.st8_stream_dedup(spark, SF_DIR))
    assert plan.count("hashpartitioning") == 1


def test_t19_perplexity_single_corpus_explode(spark):
    """t19's corpus explodes ONCE (the checkpointed (doc, word, k)
    table feeds all three consumers as ExistingRDD scans — no Generate
    in the scored plan), the vocab join is broadcast, the per-doc score
    partial-sums map-side before its one doc_id exchange, and nothing
    drops to a CartesianProduct (the corpus-total cross join must be a
    1-row broadcast)."""
    import __spark_entry__ as e

    plan = explain_str(e.t19_perplexity_score(spark, SF_DIR))
    assert "Generate explode" not in plan          # corpus exploded pre-checkpoint
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan             # vocab + final doc join
    assert "partial_sum" in plan
    # exactly 3 hash exchanges: vocab groupBy, the 1-row total's
    # SinglePartition agg, and the per-doc score agg
    assert plan.count("hashpartitioning") == 2 and plan.count("SinglePartition") == 1


def test_t21_trigram_perplexity_plan(spark):
    """t21's exchange census: one corpus explode pre-checkpoint (no
    Generate in the scored plan), no CartesianProduct, map-side partial
    sums, exactly one SinglePartition (the train total).  Seven hash
    exchanges = the three derived models (uv/bm/tm) + the doc_id score
    agg + AQE reuse; the three context joins (probability bigram,
    context-denominator bigram, trigram) are NOT strategy-pinned — at
    100 TB none is broadcastable by contract and AQE must stay free to
    shuffle them."""
    import __spark_entry__ as e

    plan = explain_str(e.t21_trigram_perplexity(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 7
    assert plan.count("SinglePartition") == 1


def test_t19s_lm_snapshot_score_plan(spark):
    """t19s's scoring plan must be the snapshot-READ one: the corpus
    explodes once (exactly one Generate), the vocab + total come from
    parquet scans of the persisted snapshot joined broadcast (never
    recomputed from the corpus — that would be a second explode), the
    per-doc sum partial-aggregates map-side, and nothing drops to a
    CartesianProduct."""
    import __spark_entry__ as e

    plan = explain_str(e.t19s_lm_snapshot_score(spark, SF_DIR))
    # formatted mode prints each node twice (tree + details): one
    # explode keyword, one Generate node (2 mentions), 4 scans (8)
    assert plan.count("explode") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan            # the snapshot vocab join
                                                  # (the doc_id spine join may
                                                  # legitimately shuffle)
    assert "partial_sum" in plan
    # the snapshot tables enter as parquet scans: vocab + meta + the
    # two documents scans (tokenize + the NULL-keeping left-join spine)
    assert plan.count("Scan parquet") == 8
    assert "SinglePartition" not in plan          # total is read, not computed


def test_t20_bigram_perplexity_plan(spark):
    """t20's corpus explodes ONCE pre-checkpoint (no Generate in the
    scored plan — the bigram pairing is element_at on the same array,
    not a self-join or per-doc window sort), the unigram/total joins
    broadcast, the per-doc sum partial-aggregates map-side, and the
    1-row total cross join never drops to a CartesianProduct.  The
    bigram-model join is deliberately NOT strategy-pinned (at 100 TB
    the bigram vocab may not broadcast; AQE must stay free to shuffle
    it), but the exchange census below fails if anyone adds a NEW
    shuffle class: uv groupBy, bm groupBy, the doc_id score agg +
    their AQE reuse, and exactly one SinglePartition (the total)."""
    import __spark_entry__ as e

    plan = explain_str(e.t20_bigram_perplexity(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3   # cnt_cur, cnt_prev, doc join
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 5
    assert plan.count("SinglePartition") == 1


def test_t20s_snapshot_backoff_plan(spark):
    """t20s's scoring plan must be the snapshot-READ one: the corpus
    posexplodes once, the vocab/bigram/meta tables come from parquet
    scans of the persisted snapshot (never refit from the corpus), the
    vocab joins broadcast at gate scale via the vocab_hint size gate,
    the per-doc sum partial-aggregates map-side, nothing drops to a
    CartesianProduct, and the total is READ, never computed (no
    SinglePartition).  Scans: vocab x2 (cnt_cur + cnt_prev) + bigram +
    meta + documents x2 (tokenize + NULL-keeping spine) = 6 (formatted
    mode prints each twice)."""
    import __spark_entry__ as e

    plan = explain_str(e.t20s_lm_snapshot_backoff(spark, SF_DIR))
    assert plan.count("posexplode") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert plan.count("Scan parquet") == 12
    assert "SinglePartition" not in plan


def test_t22_fourgram_perplexity_plan(spark):
    """t22's exchange census (t21's discipline one order up): one
    corpus explode pre-checkpoint (no Generate in the scored plan), no
    CartesianProduct, map-side partial sums, exactly one
    SinglePartition (the train total).  Nine hash exchanges = the four
    derived models (uv/bm/tm/qm) + the doc_id score agg + AQE reuse;
    the five context joins (bigram probability + denominator, trigram
    probability + denominator, fourgram) are NOT strategy-pinned — at
    100 TB none is broadcastable by contract and AQE must stay free to
    shuffle them."""
    import __spark_entry__ as e

    plan = explain_str(e.t22_fourgram_perplexity(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 9
    assert plan.count("SinglePartition") == 1


def test_cp6_incremental_ingest_plan(spark):
    """cp6's plan must be the INCREMENTAL one (round-12 optimization
    shape): the gopher gate + LM scoring materialize ONCE into the
    eager scored checkpoint (so the final plan no longer re-derives the
    lm_ref model joins — they run in the construction-time checkpoint
    job, which cp6's CONSTRUCT_TIMED bench clock covers), the guard
    reads the persisted dedup_ref snapshot scans, and the exchange
    census shrank 18 → 5 hash exchanges, all increment-sided.  No
    SinglePartition exchange and no runtime Bloom filter: a Bloom
    injected on doc_id is built from the same ``doc_id % 2 = 1``
    filter-over-scan that its application scan already carries, so it
    prunes no row (OPTIMIZATION_r12.md §4); the candidate checkpoint's
    LogicalRDD boundary keeps Spark from injecting it.  Any
    SinglePartition in cp6, Bloom build or otherwise, fails here and in
    the blanket audit.  No CartesianProduct."""
    import __spark_entry__ as e

    plan = explain_str(e.cp6_incremental_ingest(spark, SF_DIR))
    assert plan.count("SinglePartition") == 0
    assert "bloom_filter_agg" not in plan
    assert "CartesianProduct" not in plan
    assert "cp6_dedup_ref" in plan
    assert plan.count("hashpartitioning") == 5


def test_t23_fivegram_perplexity_plan(spark):
    """t23 (the production 5-gram order): same discipline as t22 with
    one more derived model — eleven hash exchanges = the five derived
    models (uv/bm/tm/qm/pm) + the doc_id score agg + AQE reuse; the
    seven context joins are NOT strategy-pinned (at order 5 the model
    tables approach token-count cardinality — the clearest case in the
    LM family for leaving AQE free to shuffle them)."""
    import __spark_entry__ as e

    plan = explain_str(e.t23_fivegram_perplexity(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 11
    assert plan.count("SinglePartition") == 1


def test_t26_dsir_plan(spark):
    """t26 (DSIR selection): the corpus tokenizes/explodes ONCE into
    the checkpointed (doc, bucket, c) table (no Generate in the scored
    plan — both the position posexplode and the unigram+bigram explode
    happen pre-checkpoint), the ≤512-row λ model joins BROADCAST (the
    force-hint is provably safe here: hashing bounds the feature space
    at n_buckets regardless of corpus size — the inverse of t19's
    un-hintable Heaps-law vocab), the two distribution totals are
    1-row broadcasts (the scalar-subquery pattern → exactly two
    SinglePartition aggs), per-doc scores partial-sum map-side, and
    the Gumbel top-100 plans as TakeOrderedAndProject — no global
    sort.  Both distributions fit in ONE bucket shuffle (conditional
    sums — not one aggregation per side) and their totals in ONE 1-row
    agg, so the census is three hash exchanges (the b fit, the per-doc
    score agg + AQE reuse) and a single SinglePartition."""
    import __spark_entry__ as e

    plan = explain_str(e.t26_dsir_select(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]
    assert "partial_sum" in plan
    assert plan.count("hashpartitioning") == 3
    assert plan.count("SinglePartition") == 1


def test_d8_bloom_guard_probe_plan(spark):
    """d8's PROBE plan must be join-free for negatives and shuffle-free
    overall at gate scale: the reference build (seed-explode, bit_or
    groupBy) happens once behind the eager checkpoint (no Generate, no
    hashpartitioning in the scored plan), the 1-row bits map arrives
    by broadcast (BroadcastNestedLoopJoin), and the only join is the
    LeftAnti exact verify on the candidate side — broadcast at this
    size, AQE's call at 100 TB."""
    import __spark_entry__ as e

    plan = explain_str(e.d8_bloom_guard(spark, SF_DIR))
    assert "Generate" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert plan.count("hashpartitioning") == 0
    assert plan.count("SinglePartition") == 0
