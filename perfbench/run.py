"""maple_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  The engine runs in fresh child processes
(``engine_proc.py``); this process generates the inputs, computes the
expected answers with DuckDB, drives the clients, checks every output and
prints the metrics named in ``BENCHMARK.json`` as the last stdout line.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import pickle
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("batch_mix", "server_rw")
#: engine launches per run whose set-up time is measured; setup_s is
#: their median.  One is the engine that runs the workload; the set-up-only
#: launches are split before and after it, so the samples span the run
SETUP_SAMPLES = 3
#: the batch_mix timed phase runs round(seconds / this) passes over the
#: op types (one pass takes 4-6 s on a 4-core host); four passes give 28
#: samples, enough for a tail above the median (p64)
BATCH_PASS_S = 3.0
#: server_rw runs round(seconds / this) op groups (16 ops each) per
#: client (one group takes about 5 s on a 4-core host)
SERVER_GROUP_S = 6.0
#: a run that has not finished by then stops its engines and exits non-zero
DEADLINE_S = 170
#: the engine's own defaults (session.py), pinned so that a change of
#: default shows as a change of this benchmark, not of the program
DRIVER_MEM = "8g"
SHUFFLE_PARTITIONS = "32"


class BenchError(RuntimeError):
    pass


# ------------------------------------------------------------ host context
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_context(root: str) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    from importlib.metadata import version

    return {
        "nproc": nproc(),
        "mem_gib": round(mem_kb / 2**20, 1),
        "load_1m": os.getloadavg()[0],
        "program": source_digest(
            os.path.join(root, "__spark_entry__.py"), os.path.join(root, "maple_spark")
        ),
        "bench": source_digest(HERE),
        "spark_version": version("pyspark"),
    }


def source_digest(*tops: str) -> str:
    """Content hash of the .py files at or under each of ``tops`` (the
    checkout the benchmark runs in need not be a git repository)."""
    h = hashlib.sha256()
    for top in tops:
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f)
            for d, _, files in sorted(os.walk(top))
            for f in sorted(files) if f.endswith(".py")
        ]
        for p in paths:
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, os.path.dirname(top)).encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def child_env(root: str, run_dir: str) -> dict:
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_RELIABLE_CHECKPOINT", "PYSPARK_GATEWAY_PORT",
              "PYSPARK_SUBMIT_ARGS", "SPARK_MASTER"):
        env.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        PYTHONPATH=os.pathsep.join([HERE, root]),
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_SHUFFLE=SHUFFLE_PARTITIONS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # the JVM's perf-counter file goes to /tmp whatever java.io.tmpdir
        # says; keep the counters in memory so nothing is written outside
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        PYTHONUNBUFFERED="1",
    )
    return env


# ------------------------------------------------------------ engine child
class Child:
    """One engine process (and its JVM) in its own process group."""

    def __init__(self, cfg: dict, run_dir: str, env: dict, tag: str):
        self.cfg_path = os.path.join(run_dir, f"{tag}.json")
        cfg = dict(cfg, result_path=os.path.join(run_dir, f"{tag}.result.json"))
        self.cfg = cfg
        with open(self.cfg_path, "w") as f:
            json.dump(cfg, f)
        self.log_path = os.path.join(run_dir, f"{tag}.log")
        self.log = open(self.log_path, "w")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine_proc.py"), self.cfg_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=os.path.join(run_dir, "cwd"), env=env, start_new_session=True,
            text=True,
        )

    def expect(self, key: str, timeout: float) -> dict:
        """Wait for the protocol message carrying ``key``."""
        box: dict = {}

        def read():
            for line in self.proc.stdout:
                if line.startswith("PERFBENCH "):
                    msg = json.loads(line[len("PERFBENCH "):])
                    if key in msg:
                        box["msg"] = msg
                        return

        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(timeout)
        if "msg" not in box:
            raise BenchError(f"engine did not report {key!r}: {self.tail()}")
        return box["msg"]

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def result(self) -> dict:
        with open(self.cfg["result_path"]) as f:
            return json.load(f)

    def tail(self) -> str:
        self.log.flush()
        with open(self.log_path, errors="replace") as f:
            lines = [ln for ln in f if "WARN" not in ln]
        return "".join(lines[-15:])

    def finish(self) -> None:
        """Kill every process of the engine's session (the Python process,
        its JVM and Python workers) and wait until each has ended.  Called
        once the engine has reported what it measured; its files live in
        the run directory, which is removed afterwards."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        deadline = time.monotonic() + 15
        while pids := session_pids(self.proc.pid):
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            self.proc.poll()  # reap the leader
            if time.monotonic() > deadline:
                raise BenchError(f"engine session {self.proc.pid} did not exit")
            time.sleep(0.02)
        self.proc.wait()
        self.log.close()


def proc_stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            fields = proc_stat(pid)
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(pid))
    return out


def measure_setup(cfg, run_dir, env, tag) -> tuple[Child, float, dict]:
    child = Child(cfg, run_dir, env, tag)
    try:
        msg = child.expect("ready", 120)
    except BaseException:
        child.finish()
        raise
    return child, time.perf_counter() - child.t_launch, msg


# ------------------------------------------------------------ batch_mix
def batch_expected(root: str, data_dir: str, names, cache_key: str) -> str:
    """Normalized DuckDB oracle results per op type, cached per workload,
    seed and oracle text."""
    import duckdb

    import __spark_entry__ as entry
    from engine_proc import normalize

    oracles = entry.oracle_sql()
    h = hashlib.sha256(cache_key.encode())
    for n in sorted(names):
        h.update(n.encode() + oracles[n].encode())
    path = os.path.join(root, ".perfbench", "cache", h.hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        return path
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    expected = {n: normalize(con.execute(oracles[n]).fetchdf()) for n in names}
    con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(expected, f)
    os.replace(path + ".tmp", path)
    return path


def run_batch(args, root, run_dir, env, data_dir, setup_cfg) -> dict:
    rounds = max(1, round(args.seconds / BATCH_PASS_S))
    seq = wl.batch_sequence(wl.BATCH_OPS, args.seed, rounds)
    warmup = wl.batch_sequence(wl.BATCH_OPS, args.seed + 10**6, 1)
    t = time.perf_counter()
    expected = batch_expected(
        root, data_dir, wl.BATCH_OPS,
        f"batch_mix:{args.seed}:{datagen.VERSION}",
    )
    phase = {"expected": time.perf_counter() - t}
    cfg = dict(setup_cfg, mode="batch", warmup=warmup, timed=seq, expected=expected)
    setups = run_setup_samples(setup_cfg, run_dir, env, args.trace, before=True)
    child, setup_s, _ = measure_setup(cfg, run_dir, env, "engine")
    setups.append(setup_s)
    t = time.perf_counter()
    try:
        child.send("go")
        child.expect("done", DEADLINE_S)
    finally:
        child.finish()
    phase["workload"] = time.perf_counter() - t
    setups += run_setup_samples(setup_cfg, run_dir, env, args.trace, before=False)
    res = child.result()
    return {"setups": setups, "child": res, "phase_s": phase}


def run_setup_samples(setup_cfg, run_dir, env, trace: int, before: bool) -> list[float]:
    """Set-up-only launches before (half, rounded down) or after (the
    rest) the workload's own engine, each after the previous engine's JVM
    has exited.  A traced run makes none."""
    extra = 0 if trace else SETUP_SAMPLES - 1
    n = extra // 2 if before else extra - extra // 2
    out = []
    for i in range(n):
        child, s, _ = measure_setup(setup_cfg, run_dir, env, f"setup{int(before)}{i}")
        child.finish()
        out.append(s)
    return out


def batch_metrics(r: dict) -> tuple[dict, int, int, dict]:
    res = r["child"]
    timed = res["timed"]
    lat = [o["construct_s"] + o["execute_s"] for o in timed]
    checks = res["checks"]
    # warm-up ops count too, and a traced run's further phases
    every = res["warmup"] + timed + res.get("traced", []) + res.get("after", [])
    failed = sum(1 for o in every if o["error"] or checks.get(o["name"]))
    tail = stats.tail(lat)
    done = sum(1 for o in timed if not o["error"])
    m = {
        "setup_s": (stats.median(r["setups"]), "s"),
        "warmup_s": (res["warmup_s"], "s"),
        "ops_per_s": (done / res["timed_s"], "1/s"),
        "op_s_p50": (stats.median(lat), "s"),
        "op_s_tail": (tail[0] if tail else max(lat), "s"),
        "read_s_p50": (stats.median(lat), "s"),
        "write_s_p50": (stats.median([o["execute_s"] for o in timed]), "s"),
    }
    info = {
        "tail_percentile": tail[1] if tail else 100.0,
        "samples": len(lat),
        "checks": checks,
        "errors": [o["error"] for o in every if o["error"]][:10],
        "ops": [(o["name"], round(o["construct_s"], 4), round(o["execute_s"], 4)) for o in timed],
    }
    return m, len(every), failed, info


# ------------------------------------------------------------ server_rw
class Client:
    """Newline-JSON client on one persistent connection."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.port = self.sock.getsockname()[1]
        self.f = self.sock.makefile("rwb")

    def request(self, sql: str, limit: int = 1000) -> tuple[dict, float]:
        t0 = time.perf_counter()
        self.f.write((json.dumps({"sql": sql, "limit": limit}) + "\n").encode())
        self.f.flush()
        line = self.f.readline()
        rtt = time.perf_counter() - t0
        if not line:
            raise BenchError("server closed the connection")
        return json.loads(line), rtt

    def close(self) -> None:
        self.f.close()
        self.sock.close()


def _canon_rows(rows) -> list:
    """Rows as the server's JSON encoding renders them, canonically sorted."""
    import decimal

    out = []
    for row in rows:
        r = []
        for v in row:
            if isinstance(v, decimal.Decimal):
                v = str(v)
            elif isinstance(v, float):
                v = round(v, 9)
            r.append(v)
        out.append(tuple(r))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def server_expected(data_dir: str, csv_path: str, plan: dict) -> tuple[dict, list]:
    """Replay the op list on DuckDB over the same files: the expected rows
    of every read (keyed by op id) and the store's final content."""
    import duckdb

    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute(
        f"CREATE TABLE {wl.STORE} AS SELECT * FROM read_csv('{csv_path}', header=false, "
        "columns={'k': 'BIGINT', 'grp': 'INTEGER', 'v': 'DOUBLE'})"
    )
    expected = {}
    for op in plan["warmup"] + [op for seq in plan["clients"] for op in seq]:
        if op["kind"] == "optimize":
            continue
        cur = con.execute(op["sql"])
        if wl.is_read(op["kind"]):
            expected[op["id"]] = _canon_rows(cur.fetchall())
    final = _canon_rows(con.execute(f"SELECT k, grp, v FROM {wl.STORE}").fetchall())
    con.close()
    return expected, final


class StoreGate:
    """Keeps the clients' store writes apart from their store reads.

    ``QueryServer`` streams a SELECT's rows after it has released its
    route lock, and a dialect UPDATE or DELETE rewrites the store's
    files, so a store read that streams while another connection writes
    the store can fail with FILE_NOT_EXIST (README.md, "Known failures").
    A client of this server has to hold such reads and writes apart
    itself; this gate does it as a readers-writer lock.  Store reads
    overlap each other, reads of the source views pass freely, and every
    write kind is exclusive, so a later OPTIMIZE that really rewrites
    files stays safe too.
    """

    def __init__(self):
        self._cv = threading.Condition()
        self._readers = 0
        self._writing = False

    @contextlib.contextmanager
    def hold(self, kind: str):
        access = wl.store_access(kind)
        with self._cv:
            if access == "read":
                self._cv.wait_for(lambda: not self._writing)
                self._readers += 1
            elif access == "write":
                self._cv.wait_for(lambda: not self._writing and not self._readers)
                self._writing = True
        try:
            yield
        finally:
            with self._cv:
                if access == "read":
                    self._readers -= 1
                elif access == "write":
                    self._writing = False
                self._cv.notify_all()


def run_clients(port: int, seqs: list[list[dict]], expected: dict) -> tuple[list, float]:
    """Closed loop: one thread per client, each on its own connection.
    An op's ``rtt`` is its round trip once the store gate has let it
    through; ``gate_s`` is the time it waited there."""
    records: list[list[dict]] = [[] for _ in seqs]
    errors: list[BaseException] = []
    gate = StoreGate()

    def loop(i: int, c: Client):
        try:
            for op in seqs[i]:
                t0 = time.perf_counter()
                with gate.hold(op["kind"]):
                    gate_s = time.perf_counter() - t0
                    resp, rtt = c.request(op["sql"])
                rec = {"id": op["id"], "kind": op["kind"], "rtt": rtt, "gate_s": gate_s,
                       "port": c.port, "ok": bool(resp.get("ok"))}
                if not rec["ok"]:
                    err = resp.get("error", "")
                    # the cause's error class can sit deep in a Java trace
                    cls = re.search(r"\[([A-Z][A-Z0-9_]*(?:\.[A-Z0-9_]+)*)\]", err)
                    rec["error"] = (f"[{cls.group(1)}] " if cls else "") + err[:300]
                elif wl.is_read(op["kind"]) and _canon_rows(resp["rows"]) != expected[op["id"]]:
                    rec["error"] = "wrong result"
                records[i].append(rec)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    clients = [Client(port) for _ in seqs]
    threads = [threading.Thread(target=loop, args=(i, c), daemon=True)
               for i, c in enumerate(clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join(DEADLINE_S)
    wall = time.perf_counter() - t0
    for c in clients:
        c.close()
    if errors or any(t.is_alive() for t in threads):
        raise BenchError(f"client failed: {errors[:1]!r}")
    return [r for rs in records for r in rs], wall


def run_server(args, root, run_dir, env, data_dir, setup_cfg) -> dict:
    n_orders = datagen.ROWS["orders"]
    groups = max(1, round(args.seconds / SERVER_GROUP_S))
    per_client = groups * (len(wl.BLOCK) + 1)
    # traced: untraced, traced, untraced again (see per_layer)
    phases = 3 if args.trace else 1
    plan = wl.server_plan(args.seed, groups * phases, n_orders)
    for i, op in enumerate(plan["warmup"] + [op for s in plan["clients"] for op in s]):
        op["id"] = i
    csv_path = os.path.join(run_dir, "data", "kv.csv")
    wl.write_store_csv(csv_path, wl.initial_rows(args.seed))
    expected, final = server_expected(data_dir, csv_path, plan)

    cfg = dict(setup_cfg, mode="server")
    setups = run_setup_samples(cfg, run_dir, env, args.trace, before=True)
    child, setup_s, msg = measure_setup(cfg, run_dir, env, "engine")
    setups.append(setup_s)
    out: dict = {"setups": setups}
    try:
        port = msg["port"]
        admin = Client(port)
        resp, _ = admin.request(
            f"CREATE STORE {wl.STORE} FROM '{csv_path}' (k BIGINT, grp INT, v DOUBLE)"
        )
        if not resp.get("ok"):
            raise BenchError(f"CREATE STORE failed: {resp.get('error')}")
        out["warmup"], out["warmup_s"] = run_clients(port, [plan["warmup"]], expected)
        first = [s[:per_client] for s in plan["clients"]]
        out["timed"], out["timed_s"] = run_clients(port, first, expected)
        if args.trace:
            child.send("trace_on")
            child.expect("traced", 30)
            second = [s[per_client:2 * per_client] for s in plan["clients"]]
            out["traced"], out["traced_s"] = run_clients(port, second, expected)
            child.send("trace_off")
            child.expect("untraced", 30)
            third = [s[2 * per_client:] for s in plan["clients"]]
            out["after"], out["after_s"] = run_clients(port, third, expected)
        resp, _ = admin.request(f"SELECT k, grp, v FROM {wl.STORE}", limit=10**6)
        got = _canon_rows(resp["rows"]) if resp.get("ok") else None
        out["store_ok"] = got == final
        if not out["store_ok"]:
            out["store_error"] = resp.get("error") or (
                f"{len(got)} rows vs {len(final)}; first differing: "
                f"{sorted(set(got) ^ set(final))[:4]}"
            )
        admin.close()
        child.send("stop")
        child.expect("done", 60)
    finally:
        child.finish()
    setups += run_setup_samples(cfg, run_dir, env, args.trace, before=False)
    out["child"] = child.result()
    return out


def server_metrics(r: dict) -> tuple[dict, int, int, dict]:
    timed = r["timed"]
    lat = [o["rtt"] for o in timed]
    reads = [o["rtt"] for o in timed if wl.is_read(o["kind"])]
    writes = [o["rtt"] for o in timed if not wl.is_read(o["kind"])]
    # warm-up ops count too, and a traced run's further phases; the store
    # check is one more op
    every = r["warmup"] + timed + r.get("traced", []) + r.get("after", [])
    failed = sum(1 for o in every if "error" in o) + (0 if r["store_ok"] else 1)
    tail = stats.tail(lat)
    done = sum(1 for o in timed if "error" not in o)
    m = {
        "setup_s": (stats.median(r["setups"]), "s"),
        "warmup_s": (r["warmup_s"], "s"),
        "ops_per_s": (done / r["timed_s"], "1/s"),
        "op_s_p50": (stats.median(lat), "s"),
        "op_s_tail": (tail[0] if tail else max(lat), "s"),
        "read_s_p50": (stats.median(reads), "s"),
        "write_s_p50": (stats.median(writes), "s"),
    }
    info = {
        "tail_percentile": tail[1] if tail else 100.0,
        "samples": len(lat),
        "store_ok": r["store_ok"],
        "store_error": r.get("store_error"),
        "errors": [o.get("error") for o in every if "error" in o][:10],
        "ops": [(o["kind"], o["client"] if "client" in o else None, round(o["rtt"], 4)) for o in timed],
    }
    return m, len(every) + 1, failed, info


# ------------------------------------------------------------ traced run
def completed_per_s(phases) -> float:
    """Ops that completed without an error per second, over (ops, wall
    seconds) phases taken together."""
    done = sum(1 for ops, _ in phases for o in ops if not o.get("error"))
    return done / sum(wall for _, wall in phases)


def per_layer(workload: str, r: dict, host: dict) -> dict:
    """Per-layer metrics of a traced run (see README.md for the map from
    each to the end-to-end metric it should move).  The tracing overhead
    compares the traced phase with the two untraced phases around it, on
    the same engine and the same op mix."""
    res = r["child"]
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    out.update(res["setup"])
    if workload == "server_rw":
        traced = r["traced"]
        reqs = res.get("requests", [])
        by_port: dict[int, list] = {}
        for q in reqs:
            by_port.setdefault(q["port"], []).append(q)
        route: dict[str, list] = {}
        lock, stream, overhead, ckpt = [], [], [], []
        gate = [o["gate_s"] for o in traced]
        # the traced phase is the tail of each connection's request list
        by_client: dict[int, list] = {}
        for o in traced:
            by_client.setdefault(o["port"], []).append(o)
        for port, ops in by_client.items():
            srv = by_port.get(port, [])[-len(ops):]
            for o, q in zip(ops, srv):
                if "written" not in q or "route_end" not in q:
                    continue
                route.setdefault(q["kind"], []).append(q["route_end"] - q["route_start"])
                lock.append(q.get("lock_wait_s", 0.0))
                stream.append(q["written"] - q["route_end"])
                overhead.append(o["rtt"] - (q["written"] - q["read"]))
                ckpt.append(q.get("checkpoints", 0))
        for kind in ("select", "insert", "update", "delete", "optimize"):
            if route.get(kind):
                out[f"dialect.route_s.{kind}"] = stats.median(route[kind])
        out["server.lock_wait_s"] = statistics.fmean(lock) if lock else 0.0
        out["client.store_gate_s"] = statistics.fmean(gate) if gate else 0.0
        out["server.stream_s"] = stats.median(stream) if stream else 0.0
        out["client.overhead_s"] = stats.median(overhead) if overhead else 0.0
        out["pipelines.util.checkpoints"] = statistics.fmean(ckpt) if ckpt else 0.0
        samples = res.get("store_samples", [])
        if samples:
            out["store.files"] = statistics.fmean(s[0] for s in samples)
            out["store.rows"] = statistics.fmean(s[1] for s in samples)
        n = len(traced)
        out["error_rate"] = sum(1 for o in traced if "error" in o) / n
    else:
        traced = res["traced"]
        lat = [o["construct_s"] + o["execute_s"] for o in traced]
        n = len(traced)
        for o in traced:
            out[f"{wl.MODULE_OF[o['name']]}.op_s"] += o["construct_s"] + o["execute_s"]
            for k, v in o["spark"].items():
                out[k] += v / n
        out["driver.construct_s"] = statistics.fmean(o["construct_s"] for o in traced)
        out["driver.execute_s"] = statistics.fmean(o["execute_s"] for o in traced)
        out["pipelines.util.checkpoints"] = statistics.fmean(o["checkpoints"] for o in traced)
        run_s = sum(o["spark"]["spark.executor_run_s"] for o in traced)
        out["spark.busy_frac"] = run_s / (sum(lat) * host["nproc"])
        lloyd = res["lloyd"]
        arms = lloyd["lloyd_kernel"] + lloyd["lloyd_expr"]
        out["similarity.lloyd_kernel_frac"] = lloyd["lloyd_kernel"] / arms if arms else 0.0
        out["error_rate"] = sum(1 for o in traced if o["error"]) / n
    ph = r if workload == "server_rw" else res
    untraced = completed_per_s([(ph["timed"], ph["timed_s"]), (ph["after"], ph["after_s"])])
    traced_rate = completed_per_s([(ph["traced"], ph["traced_s"])])
    out["trace.overhead_frac"] = untraced / traced_rate - 1.0
    return out


#: per-layer metric -> unit, reported by every traced run (0 where a
#: layer does no work on that workload)
LAYER_METRICS = {
    "session.start_s": "s", "catalog.register_s": "s", "server.bind_s": "s",
    "driver.construct_s": "s", "driver.execute_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.busy_frac": "fraction", "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "sql.scan_s": "s", "sql.agg_build_s": "s", "sql.sort_s": "s",
    "sql.codegen_s": "s", "sql.python_s": "s",
    **{f"{m}.op_s": "s" for m in wl.MODULES},
    "pipelines.util.checkpoints": "count",
    "similarity.lloyd_kernel_frac": "fraction",
    **{f"dialect.route_s.{k}": "s" for k in ("select", "insert", "update", "delete", "optimize")},
    "server.lock_wait_s": "s", "server.stream_s": "s", "client.overhead_s": "s",
    "client.store_gate_s": "s",
    "store.files": "count", "store.rows": "count",
    "error_rate": "fraction", "trace.overhead_frac": "fraction",
    "host.load_1m_start": "load", "host.load_1m_end": "load", "host.peak_rss_mb": "MiB",
}


class RssSampler:
    """Peak resident memory of every process in a session led by a direct
    child of this process (the engine, its JVM and Python workers)."""

    def __init__(self):
        self.peak_kb = 0
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self):
        me = os.getpid()
        while not self._stop.wait(0.5):
            total, leaders = 0, {}
            for pid in filter(str.isdigit, os.listdir("/proc")):
                try:
                    fields = proc_stat(pid)
                    sid = int(fields[3])
                    if sid not in leaders:
                        leaders[sid] = sid > 0 and int(proc_stat(sid)[1]) == me
                    if leaders[sid]:
                        total += int(fields[21]) * self._page_kb
                except (OSError, IndexError, ValueError):
                    continue
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(5)
        return self.peak_kb / 1024


# ------------------------------------------------------------ main
def check_program(root: str) -> None:
    missing = [p for p in ("__spark_entry__.py", "maple_spark/server.py")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise BenchError(f"not a maple_spark checkout (missing {missing}) in {root}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    t_start = time.monotonic()
    try:
        check_program(root)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    def overdue(signum, frame):
        raise BenchError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, overdue)
    signal.alarm(DEADLINE_S)
    run_dir = os.path.join(root, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "cwd", "local", "tmp", "store"):
        os.makedirs(os.path.join(run_dir, d))
    host = host_context(root)
    rss = RssSampler() if args.trace else None
    try:
        data_dir = os.path.join(run_dir, "data")
        datagen.write_tables(data_dir, args.seed)
        env = child_env(root, run_dir)
        setup_cfg = {"mode": "setup", "trace": bool(args.trace), "data_dir": data_dir,
                     "store_dir": os.path.join(run_dir, "store")}
        if args.workload == "batch_mix":
            r = run_batch(args, root, run_dir, env, data_dir, setup_cfg)
            m, attempted, failed, info = batch_metrics(r)
        else:
            r = run_server(args, root, run_dir, env, data_dir, setup_cfg)
            m, attempted, failed, info = server_metrics(r)
    except Exception:  # noqa: BLE001 — no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        peak_mb = rss.stop() if rss else 0.0
        shutil.rmtree(run_dir, ignore_errors=True)
    host["load_1m_end"] = os.getloadavg()[0]
    if args.trace:
        layers = per_layer(args.workload, r, host)
        layers.update({
            "host.load_1m_start": host["load_1m"],
            "host.load_1m_end": host["load_1m_end"],
            "host.peak_rss_mb": peak_mb,
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
        self_t = r["child"].get("self_times", {})
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        self_t = {}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "info": info, "metrics": metrics,
        "self_times": self_t, "setups_s": r["setups"], "phase_s": r.get("phase_s"),
        "wall_s": time.monotonic() - t_start,
    }
    out_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out_dir, name[:-5] + ".spans.json"), "w") as f:
            json.dump(r["child"].get("spans", []), f, default=str)
    print(
        f"perfbench: {args.workload} seed={args.seed} host={json.dumps(host)} "
        f"tail=p{info['tail_percentile']:.0f} of {info['samples']} samples; "
        f"wall {record['wall_s']:.1f}s",
        file=sys.stderr,
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
