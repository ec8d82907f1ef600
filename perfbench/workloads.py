"""Workload definitions: which ops run and in which seeded order, plus a
reference model of the store that server_rw writes.

Nothing here imports Spark.  The op sequences are pure functions of the
seed and the run length, so a parent commit and a change run the same
ops in the same order.
"""

from __future__ import annotations

import csv
import random

#: batch_mix op types, from the engine's headline set: at least one per
#: module the workload exercises, the cheapest where a module has several.
#: An odd count keeps the median of two passes on the two runs of one op
#: type instead of straddling the gap between two types.
#: Left out: d3_minhash_lsh and sim2_embedding_near_dup (their exact
#: oracles are quadratic), cp6_incremental_ingest and
#: t20s_lm_snapshot_backoff (they write snapshots under /tmp, outside the
#: run directory), and the costlier ops (cp3, the order-3 to 5 LM tiers,
#: the capstones), which would not fit the run budget.
BATCH_OPS = [
    "a2_groupby_q1",
    "st3_sliding_window",
    "t1_text_stats",
    "t20_bigram_perplexity",
    "d1_dedup_exact",
    "sim4_ivf_topk",
    "t11_decontaminate",
]

#: the module that implements each batch op (the layer its latency is
#: summed under in the traced run); "operators" are plain Spark operators
MODULE_OF = {
    "a2_groupby_q1": "operators",
    "st3_sliding_window": "streaming",
    "t1_text_stats": "pipelines.textstats",
    "t20_bigram_perplexity": "pipelines.textstats",
    "d1_dedup_exact": "pipelines.dedup",
    "sim4_ivf_topk": "pipelines.similarity",
    "t11_decontaminate": "pipelines.curation",
}
MODULES = sorted(set(MODULE_OF.values()))


def batch_sequence(ops: list[str], seed: int, rounds: int) -> list[str]:
    """``rounds`` passes over ``ops``, each pass in its own seeded order:
    every op type runs equally often whatever the seed."""
    rng = random.Random(f"batch:{seed}")
    seq: list[str] = []
    for _ in range(rounds):
        order = list(ops)
        rng.shuffle(order)
        seq.extend(order)
    return seq


# ---------------------------------------------------------------- server_rw
#: Store rows are (k, grp, v).  Client c owns keys [c*KEY_SPAN, (c+1)*KEY_SPAN);
#: every write names keys of its own client only, so writes of different
#: clients touch disjoint rows and commute.  v stays a multiple of 0.25
#: below 2**20, so sums are exact in binary floating point on every engine.
KEY_SPAN = 1_000_000
INITIAL_KEYS = 400
N_CLIENTS = 2
STORE = "kv"
READ_KINDS = [
    "point", "range_agg", "join3", "store_point", "store_range", "store_join",
]
WRITE_KINDS = ["insert", "update", "delete", "optimize"]
KINDS = READ_KINDS + WRITE_KINDS
#: the ops of one group before its closing OPTIMIZE: 12 reads and 3
#: writes, so about 80% of all ops read
BLOCK = READ_KINDS * 2 + ["insert", "update", "delete"]


def is_read(kind: str) -> bool:
    return kind in READ_KINDS


def store_access(kind: str) -> str | None:
    """How an op kind touches the store: "write" (every write kind),
    "read" (the store_* reads) or None (reads of the source views only)."""
    if not is_read(kind):
        return "write"
    return "read" if kind.startswith("store_") else None


def initial_rows(seed: int) -> list[tuple[int, int, float]]:
    rng = random.Random(f"store:{seed}")
    return [
        (c * KEY_SPAN + i, i % 10, rng.randrange(4000) / 4)
        for c in range(N_CLIENTS)
        for i in range(INITIAL_KEYS)
    ]


def write_store_csv(path: str, rows) -> None:
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)


def _day(offset: int) -> str:
    import datetime

    return (datetime.date(1995, 1, 1) + datetime.timedelta(days=offset)).isoformat()


class _ClientOps:
    """Seeded op generator for one client."""

    def __init__(self, client: int, seed: int, n_orders: int):
        self.c = client
        self.base = client * KEY_SPAN
        self.rng = random.Random(f"client:{seed}:{client}")
        self.next_key = self.base + INITIAL_KEYS
        self.n_orders = n_orders

    def _own_key(self) -> int:
        return self.base + self.rng.randrange(self.next_key - self.base)

    def make(self, kind: str) -> dict:
        r, base = self.rng, self.base
        if kind == "point":
            sql = (
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                f"FROM orders WHERE o_orderkey = {r.randrange(self.n_orders)}"
            )
        elif kind == "range_agg":
            d0 = r.randrange(2400)
            sql = (
                "SELECT count(*) AS n, CAST(sum(CAST(l_extendedprice AS "
                "DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue FROM lineitem "
                f"WHERE l_shipdate >= TIMESTAMP '{_day(d0)} 00:00:00' "
                f"AND l_shipdate < TIMESTAMP '{_day(d0 + 30)} 00:00:00'"
            )
        elif kind == "join3":
            d0 = r.randrange(2300)
            sql = (
                "SELECT n.n_name, count(*) AS n_orders FROM orders o "
                "JOIN customer c ON o.o_custkey = c.c_custkey "
                "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                f"WHERE o.o_orderdate >= TIMESTAMP '{_day(d0)} 00:00:00' "
                f"AND o.o_orderdate < TIMESTAMP '{_day(d0 + 90)} 00:00:00' "
                "GROUP BY n.n_name"
            )
        elif kind == "store_point":
            sql = f"SELECT k, grp, v FROM {STORE} WHERE k = {self._own_key()}"
        elif kind == "store_range":
            lo = self._own_key()
            sql = (
                f"SELECT count(*) AS n, sum(v) AS s FROM {STORE} "
                f"WHERE k BETWEEN {lo} AND {lo + 50}"
            )
        elif kind == "store_join":
            lo = self._own_key()
            sql = (
                "SELECT s.grp, count(*) AS n, sum(s.v) AS s, "
                "CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS "
                f"DECIMAL(18,2)) AS total FROM {STORE} s JOIN orders o "
                f"ON o.o_orderkey = s.k - {base} "
                f"WHERE s.k BETWEEN {lo} AND {lo + 100} GROUP BY s.grp"
            )
        elif kind == "insert":
            vals = []
            for _ in range(3):
                k = self.next_key
                self.next_key += 1
                vals.append(f"({k}, {k % 10}, {r.randrange(4000) / 4})")
            sql = f"INSERT INTO {STORE} VALUES " + ", ".join(vals)
        elif kind == "update":
            lo = self._own_key()
            sql = f"UPDATE {STORE} SET v = v + 0.25 WHERE k BETWEEN {lo} AND {lo + 20}"
        elif kind == "delete":
            lo = self._own_key()
            sql = f"DELETE FROM {STORE} WHERE k BETWEEN {lo} AND {lo + 2}"
        elif kind == "optimize":
            sql = f"OPTIMIZE {STORE}"
        else:
            raise ValueError(kind)
        return {"client": self.c, "kind": kind, "sql": sql}

    def group(self) -> list[dict]:
        """One group of ops: a seeded shuffle of BLOCK, then OPTIMIZE.
        Every group has the same mix of kinds whatever the seed."""
        kinds = list(BLOCK)
        self.rng.shuffle(kinds)
        return [self.make(k) for k in kinds + ["optimize"]]


def server_plan(seed: int, groups: int, n_orders: int) -> dict:
    """The whole server_rw op list: a warm-up pass (client 0 runs each op
    kind once) and ``groups`` op groups per client."""
    gens = [_ClientOps(c, seed, n_orders) for c in range(N_CLIENTS)]
    warmup = [gens[0].make(k) for k in KINDS]
    clients = [[op for _ in range(groups) for op in g.group()] for g in gens]
    return {"warmup": warmup, "clients": clients}


def store_final(rows, ops) -> dict[int, tuple[int, float]]:
    """Reference model of the store: apply the write ops in order to a
    key -> (grp, v) map.  Used by the tests to show that any interleaving
    of the clients' sequences ends in one state."""
    import re

    state = {k: (g, v) for k, g, v in rows}
    for op in ops:
        sql, kind = op["sql"], op["kind"]
        if kind == "insert":
            for k, g, v in re.findall(r"\((\d+), (\d+), ([\d.]+)\)", sql):
                state[int(k)] = (int(g), float(v))
        elif kind in ("update", "delete"):
            lo, hi = map(int, re.search(r"BETWEEN (\d+) AND (\d+)", sql).groups())
            for k in [k for k in state if lo <= k <= hi]:
                if kind == "delete":
                    del state[k]
                else:
                    state[k] = (state[k][0], state[k][1] + 0.25)
    return state
