"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import socketserver
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402


# ------------------------------------------------------------ tail rule
def test_tail_is_highest_percentile_with_ten_samples_beyond():
    value, pct, n = stats.tail(range(1, 101))
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_tail_needs_eleven_samples():
    assert stats.tail(range(10)) is None
    assert stats.tail(range(11)) == (0, 100 / 11, 11)


def test_tail_ignores_input_order():
    xs = [random.Random(3).random() for _ in range(57)]
    assert stats.tail(xs) == stats.tail(sorted(xs, reverse=True))


# ------------------------------------------------------------ seeded ops
def test_same_seed_gives_same_batch_sequence():
    a = wl.batch_sequence(wl.BATCH_OPS, 7, 3)
    assert a == wl.batch_sequence(wl.BATCH_OPS, 7, 3)
    assert a != wl.batch_sequence(wl.BATCH_OPS, 8, 3)
    # every pass runs each op type exactly once
    for i in range(3):
        assert sorted(a[i * len(wl.BATCH_OPS):(i + 1) * len(wl.BATCH_OPS)]) == sorted(wl.BATCH_OPS)


def test_same_seed_gives_same_server_plan():
    a = wl.server_plan(5, 3, 15000)
    assert a == wl.server_plan(5, 3, 15000)
    assert a != wl.server_plan(6, 3, 15000)
    assert [op["kind"] for op in a["warmup"]] == wl.KINDS
    # every group has the same mix of kinds, ending in OPTIMIZE
    n = len(wl.BLOCK) + 1
    for seq in a["clients"]:
        for i in range(0, len(seq), n):
            kinds = [op["kind"] for op in seq[i:i + n]]
            assert sorted(kinds[:-1]) == sorted(wl.BLOCK) and kinds[-1] == "optimize"


def test_longer_server_plan_extends_the_shorter_one():
    # the traced run's second phase follows exactly the untraced ops
    short, long = wl.server_plan(5, 2, 15000), wl.server_plan(5, 4, 15000)
    for c in range(wl.N_CLIENTS):
        assert long["clients"][c][:32] == short["clients"][c]


def test_same_seed_gives_same_tables(tmp_path):
    def digest(d):
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            h.update(open(os.path.join(d, f), "rb").read())
        return h.hexdigest()

    datagen.write_tables(str(tmp_path / "a"), 4)
    datagen.write_tables(str(tmp_path / "b"), 4)
    datagen.write_tables(str(tmp_path / "c"), 5)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    assert digest(tmp_path / "a") != digest(tmp_path / "c")


# ------------------------------------------------------------ commuting writes
def _interleave(seqs, rng):
    """A random merge of the sequences that keeps each one's order."""
    idx = [0] * len(seqs)
    out = []
    while any(i < len(s) for i, s in zip(idx, seqs)):
        c = rng.choice([c for c, s in enumerate(seqs) if idx[c] < len(s)])
        out.append(seqs[c][idx[c]])
        idx[c] += 1
    return out


def test_client_writes_touch_only_their_own_keys():
    plan = wl.server_plan(9, 12, 15000)
    for c, seq in enumerate(plan["clients"]):
        for op in seq:
            for k in map(int, re.findall(r"\b(\d{4,})\b", op["sql"])):
                if op["kind"] in ("insert", "update", "delete", "store_point",
                                  "store_range", "store_join"):
                    assert c * wl.KEY_SPAN <= k < (c + 1) * wl.KEY_SPAN + 200


def test_any_interleaving_gives_one_final_store():
    seed = 11
    rows = wl.initial_rows(seed)
    plan = wl.server_plan(seed, 20, 15000)
    rng = random.Random(0)
    states = {
        json.dumps(sorted(wl.store_final(rows, plan["warmup"] + _interleave(plan["clients"], rng)).items()))
        for _ in range(20)
    }
    assert len(states) == 1
    assert any(op["kind"] == "delete" for op in plan["clients"][0])


def test_duckdb_replay_matches_the_store_model(tmp_path):
    pytest.importorskip("duckdb")
    seed = 2
    data = str(tmp_path / "data")
    datagen.write_tables(data, seed)
    csv_path = str(tmp_path / "kv.csv")
    rows = wl.initial_rows(seed)
    wl.write_store_csv(csv_path, rows)
    plan = wl.server_plan(seed, 5, datagen.ROWS["orders"])
    ops = plan["warmup"] + [op for s in plan["clients"] for op in s]
    for i, op in enumerate(ops):
        op["id"] = i
    expected, final = run.server_expected(data, csv_path, plan)
    model = wl.store_final(rows, ops)
    assert final == run._canon_rows([(k, g, v) for k, (g, v) in model.items()])
    assert len(expected) == sum(1 for op in ops if wl.is_read(op["kind"]))


# ------------------------------------------------------------ error counting
class _ScriptedHandler(socketserver.StreamRequestHandler):
    """Answers every request ok with no rows, except SQL containing
    'FAIL', which gets ok:false."""

    def handle(self):
        for raw in self.rfile:
            sql = json.loads(raw)["sql"]
            if "DEEP" in sql:
                resp = {"ok": False, "error": "Outer: awaitResult\n" + "at x\n" * 99
                        + "Caused by: [FAILED_READ_FILE.FILE_NOT_EXIST] gone"}
            elif "FAIL" in sql:
                resp = {"ok": False, "error": "forced"}
            else:
                resp = {"ok": True, "columns": [], "rows": [], "truncated": False}
            self.wfile.write((json.dumps(resp) + "\n").encode())
            self.wfile.flush()


@pytest.fixture
def scripted_server():
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _ScriptedHandler)
    srv.daemon_threads = True
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()
    srv.server_close()
    t.join(5)
    assert not t.is_alive()


def test_forced_failing_op_counts_in_error_rate(scripted_server):
    seqs = [
        [{"id": 0, "kind": "insert", "sql": "INSERT 1"},
         {"id": 1, "kind": "update", "sql": "UPDATE FAIL"}],
        [{"id": 2, "kind": "point", "sql": "SELECT 1"},
         {"id": 3, "kind": "point", "sql": "SELECT 2"}],
    ]
    # op 3's expected answer has a row the server does not return
    expected = {2: [], 3: [(1,)]}
    records, _ = run.run_clients(scripted_server, seqs, expected)
    r = {"timed": records, "timed_s": 1.0, "warmup_s": 1.0, "setups": [1.0],
         "store_ok": True, "warmup": []}
    m, attempted, failed, info = run.server_metrics(r)
    assert (attempted, failed) == (5, 2)
    assert sorted(info["errors"]) == ["forced", "wrong result"]
    # failed ops are not throughput
    assert m["ops_per_s"] == (2.0, "1/s")


def test_failing_warmup_op_counts_in_error_rate(scripted_server):
    warm, _ = run.run_clients(
        scripted_server, [[{"id": 0, "kind": "delete", "sql": "DELETE FAIL"}]], {}
    )
    timed = [{"id": 1, "kind": "point", "rtt": 0.1},
             {"id": 2, "kind": "insert", "rtt": 0.2}]
    r = {"warmup": warm, "timed": timed, "timed_s": 1.0, "warmup_s": 1.0, "setups": [1.0], "store_ok": True}
    _, attempted, failed, info = run.server_metrics(r)
    assert (attempted, failed) == (4, 1)
    assert info["errors"] == ["forced"]


class _OverlapHandler(socketserver.StreamRequestHandler):
    """Answers every request ok after a short sleep and notes any store
    write that runs while a store read of another connection runs, or the
    other way round."""

    cv = threading.Condition()
    active = {"read": 0, "write": 0}
    clashes: list[str] = []

    def handle(self):
        cls = type(self)
        for raw in self.rfile:
            kind = json.loads(raw)["sql"]
            access = wl.store_access(kind)
            with cls.cv:
                if access == "read" and cls.active["write"]:
                    cls.clashes.append(kind)
                if access == "write" and (cls.active["read"] or cls.active["write"]):
                    cls.clashes.append(kind)
                if access:
                    cls.active[access] += 1
            threading.Event().wait(0.005)
            with cls.cv:
                if access:
                    cls.active[access] -= 1
            resp = {"ok": True, "columns": [], "rows": [], "truncated": False}
            self.wfile.write((json.dumps(resp) + "\n").encode())
            self.wfile.flush()


def test_store_writes_never_overlap_store_reads():
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _OverlapHandler)
    srv.daemon_threads = True
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        kinds = ["store_point", "update", "point", "store_join", "delete",
                 "store_range", "insert", "optimize"]
        seqs = [[{"id": 100 * c + i, "kind": k, "sql": k}
                 for i, k in enumerate(kinds * 5)] for c in range(2)]
        expected = {op["id"]: [] for s in seqs for op in s}
        records, _ = run.run_clients(srv.server_address[1], seqs, expected)
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(5)
    assert len(records) == 80 and not any("error" in o for o in records)
    assert _OverlapHandler.clashes == []
    # the two clients did wait for each other at the gate
    assert any(o["gate_s"] > 0.001 for o in records)


def test_store_access_of_each_kind():
    assert {k: wl.store_access(k) for k in wl.KINDS} == {
        "point": None, "range_agg": None, "join3": None,
        "store_point": "read", "store_range": "read", "store_join": "read",
        "insert": "write", "update": "write", "delete": "write", "optimize": "write",
    }


def test_error_keeps_the_spark_error_class_of_its_cause(scripted_server):
    recs, _ = run.run_clients(
        scripted_server, [[{"id": 0, "kind": "point", "sql": "SELECT DEEP"}]], {}
    )
    assert recs[0]["error"].startswith("[FAILED_READ_FILE.FILE_NOT_EXIST] Outer")


def test_failed_store_check_counts_once():
    timed = [{"id": 0, "kind": "point", "rtt": 0.1},
             {"id": 1, "kind": "insert", "rtt": 0.2}]
    r = {"timed": timed, "timed_s": 1.0, "warmup_s": 1.0, "setups": [1.0],
         "store_ok": False, "warmup": []}
    _, attempted, failed, _ = run.server_metrics(r)
    assert (attempted, failed) == (3, 1)


def test_batch_failures_and_wrong_results_are_counted():
    timed = [
        {"name": "a", "construct_s": 0.1, "execute_s": 0.2, "error": None},
        {"name": "b", "construct_s": 0.1, "execute_s": 0.0, "error": "Boom"},
        {"name": "c", "construct_s": 0.1, "execute_s": 0.2, "error": None},
        {"name": "c", "construct_s": 0.1, "execute_s": 0.2, "error": None},
    ]
    warmup = [
        {"name": "a", "construct_s": 0.1, "execute_s": 0.0, "error": "Warm"},
        {"name": "b", "construct_s": 0.1, "execute_s": 0.2, "error": None},
    ]
    r = {"setups": [1.0, 2.0, 3.0],
         "child": {"warmup": warmup, "timed": timed, "timed_s": 2.0, "warmup_s": 1.0,
                   "checks": {"a": None, "b": None, "c": "3 rows != 4"}}}
    m, attempted, failed, info = run.batch_metrics(r)
    # the failed warm-up op, b, and both c ops (their check failed)
    assert (attempted, failed) == (6, 4)
    assert info["errors"] == ["Warm", "Boom"]
    assert m["setup_s"] == (2.0, "s")
    # b failed, so three of the four timed ops completed in 2 s
    assert m["ops_per_s"] == (1.5, "1/s")


def test_missing_program_exits_nonzero_without_result(tmp_path, capsys, monkeypatch):
    monkeypatch.chdir(tmp_path)
    rc = run.main(["--workload", "batch_mix", "--seed", "1", "--seconds", "1", "--trace", "0"])
    assert rc != 0
    assert capsys.readouterr().out == ""


def test_untraced_rate_pools_completed_ops_of_both_phases():
    ok, bad = {"error": None}, {"error": "Boom"}
    # three completed ops in 2 s; the failed op is not throughput
    assert run.completed_per_s([([ok, bad], 1.0), ([ok, ok], 1.0)]) == 1.5
