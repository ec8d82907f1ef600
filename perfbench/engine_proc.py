"""The engine process: one fresh Python + JVM per launch.

Started by ``run.py`` with a JSON config path.  It sets the engine up
through the public entry points (``session.get_spark``,
``engine.MapleEngine`` and, for the server workload,
``server.QueryServer``), reports ``ready`` on stdout and then follows
commands read from stdin:

- ``go``        batch workloads: warm-up pass, check pass, timed phase
                (traced: then a traced and another untraced phase)
- ``trace_on``  server workload: install the tracing wrappers
- ``trace_off`` server workload: leave the wrappers idle again
- ``stop``      shut down and write the result file

Protocol lines on stdout start with ``PERFBENCH``; Spark may print other
lines, which the parent ignores.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import sys
import time

from tracing import SparkStats, Tracer, self_times
from workloads import STORE


def say(**msg) -> None:
    print("PERFBENCH " + json.dumps(msg), flush=True)


def normalize(df, float_ndigits=9):
    """pandas DataFrame -> (sorted column names, canonically sorted rows),
    the value-exact comparison form of ``scripts/selfcheck.py``."""
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None:
                row.append(None)
            elif isinstance(v, float):
                row.append(None if math.isnan(v) else round(v, float_ndigits))
            else:
                row.append(v)
        rows.append(tuple(row))
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def compare(got, want) -> str | None:
    """None when equal, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    if bad:
        return f"{len(bad)}/{len(gr)} rows differ, first {gr[bad[0]]} != {wr[bad[0]]}"
    return None


class Engine:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.tracer = Tracer(cfg["trace"])
        self.setup: dict[str, float] = {}
        self.server = None

    # ------------------------------------------------------------ set-up
    def start(self) -> None:
        from maple_spark.engine import MapleEngine
        from maple_spark.session import get_spark

        if self.cfg["trace"]:
            import maple_spark.engine as engine_mod

            self.tracer.wrap(engine_mod, "register_views", "catalog.register_views")
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        with self.tracer.span("engine.MapleEngine"):
            self.engine = MapleEngine(
                self.spark, self.cfg["data_dir"], warehouse=self.cfg["store_dir"]
            )
        t2 = time.perf_counter()
        self.setup = {"session.start_s": t1 - t0, "catalog.register_s": t2 - t1}
        if self.cfg["mode"] == "server":
            from maple_spark.server import QueryServer

            with self.tracer.span("server.QueryServer"):
                self.server = QueryServer(self.engine)
                self.server.start_background()
            self.setup["server.bind_s"] = time.perf_counter() - t2

    def stop(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        self.spark.stop()

    # ------------------------------------------------------ batch ops
    def run_op(self, qs, name: str) -> tuple[float, float, str | None]:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("driver.construct"):
                df = qs[name](self.spark, self.cfg["data_dir"])
            t1 = time.perf_counter()
            with self.tracer.span("driver.execute"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            return time.perf_counter() - t0, 0.0, f"{type(exc).__name__}: {exc}"[:500]
        return t1 - t0, t2 - t1, None

    def run_phase(self, qs, seq: list[str], stats: SparkStats | None, tag: str):
        ops = []
        t0 = time.perf_counter()
        for i, name in enumerate(seq):
            group = f"{tag}-{i}"
            self.tracer.set_op(group)
            if stats is not None:
                stats.start_op(group)
            with self.tracer.span("op", query=name):
                c, e, err = self.run_op(qs, name)
            rec = {"name": name, "construct_s": c, "execute_s": e, "error": err}
            if stats is not None:
                # read back outside the op's own timing
                rec["spark"] = stats.collect(group)
                rec["checkpoints"] = self.tracer.counts.pop("checkpoints", 0)
            ops.append(rec)
        return ops, time.perf_counter() - t0

    def install_batch_wrappers(self) -> None:
        import maple_spark.pipelines.similarity as sim

        tr = self.tracer
        self._install_checkpoint_counter()
        in_lloyd = {"on": False}
        orig_lloyd = sim._lloyd_cells

        def lloyd(*a, **k):
            in_lloyd["on"] = True
            try:
                with tr.span("similarity.lloyd_cells"):
                    return orig_lloyd(*a, **k)
            finally:
                in_lloyd["on"] = False

        sim._lloyd_cells = lloyd

        def arm(key):
            return lambda: tr.count(key) if in_lloyd["on"] else None

        tr.wrap(sim, "_assign_cells_arrow_udf", "similarity.lloyd_kernel", arm("lloyd_kernel"))
        tr.wrap(sim, "_dist_structs", "similarity.dist_structs", arm("lloyd_expr"))

    def _install_checkpoint_counter(self) -> None:
        cls = type(self.spark.range(1))
        tr = self.tracer
        for meth in ("localCheckpoint", "checkpoint"):
            tr.wrap(cls, meth, f"checkpoint.{meth}", lambda: tr.count("checkpoints"))

    def batch(self) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        cfg = self.cfg
        warmup, warmup_s = self.run_phase(qs, cfg["warmup"], None, "warmup")
        # the check pass runs before the timed phase: one JIT-warming pass
        # does not absorb the first-call transient, a second one mostly does
        out = {"warmup": warmup, "warmup_s": warmup_s, "checks": self.check(qs)}
        out["timed"], out["timed_s"] = self.run_phase(qs, cfg["timed"], None, "timed")
        if cfg["trace"]:
            self.install_batch_wrappers()
            traced, traced_s = self.run_phase(
                qs, cfg["timed"], SparkStats(self.spark), "traced"
            )
            out.update(traced=traced, traced_s=traced_s)
            out["lloyd"] = {
                k: self.tracer.counts.get(k, 0) for k in ("lloyd_kernel", "lloyd_expr")
            }
            # the same ops untraced again, so that the two untraced phases
            # bracket the traced one and warm-up gained between phases
            # does not read as negative tracing overhead
            self.tracer.enabled = False
            out["after"], out["after_s"] = self.run_phase(qs, cfg["timed"], None, "after")
        return out

    def check(self, qs) -> dict[str, str | None]:
        """Untimed pass: each op type's output against its oracle answer."""
        with open(self.cfg["expected"], "rb") as f:
            expected = pickle.load(f)
        checks = {}
        for name in sorted(set(self.cfg["timed"])):
            try:
                got = normalize(qs[name](self.spark, self.cfg["data_dir"]).toPandas())
                checks[name] = compare(got, expected[name])
            except Exception as exc:  # noqa: BLE001 — counted as a wrong result
                checks[name] = f"{type(exc).__name__}: {exc}"[:500]
        return checks

    # ------------------------------------------------------ server wrappers
    def install_server_wrappers(self) -> None:
        import threading

        import maple_spark.dialect as dialect
        import maple_spark.server as server_mod

        tr, srv = self.tracer, self.server
        self._install_checkpoint_counter()
        local = threading.local()
        requests: list[dict] = []
        self.requests = requests
        store_dir = os.path.join(self.cfg["store_dir"], STORE)
        self.store_samples: list[tuple[int, int]] = []
        orig_route = dialect.route_statement

        def current() -> dict:
            # connections opened before the wrappers went in have no record
            if not hasattr(local, "rec"):
                local.rec = {}
            return local.rec

        def route(engine, stmt):
            if not tr.enabled:
                return orig_route(engine, stmt)
            kind = stmt.split(None, 1)[0].lower() if stmt.strip() else ""
            rec = current()
            rec["kind"] = kind
            rec["route_start"] = time.perf_counter()
            try:
                with tr.span(f"dialect.route.{kind}"):
                    return orig_route(engine, stmt)
            finally:
                rec["route_end"] = time.perf_counter()
                rec["checkpoints"] = tr.counts.pop("checkpoints", 0)
                if kind in ("insert", "update", "delete", "optimize"):
                    self.store_samples.append(_store_size(store_dir))

        dialect.route_statement = route

        class TimedLock:
            def __init__(self, lock):
                self.lock = lock

            def __enter__(self):
                t = time.perf_counter()
                self.lock.acquire()
                current()["lock_wait_s"] = time.perf_counter() - t

            def __exit__(self, *exc):
                self.lock.release()

        srv.route_lock = TimedLock(srv.route_lock)

        class Lines:
            """rfile wrapper: stamps the arrival of each request line."""

            def __init__(self, f, port):
                self.f, self.port = f, port

            def __iter__(self):
                for raw in self.f:
                    local.rec = {"port": self.port, "read": time.perf_counter()}
                    if tr.enabled:
                        requests.append(local.rec)
                    yield raw

        class Out:
            """wfile wrapper: stamps the response line being written."""

            def __init__(self, f):
                self.f = f

            def write(self, data):
                n = self.f.write(data)
                rec = getattr(local, "rec", None)
                if rec is not None and data.endswith(b"\n"):
                    rec["written"] = time.perf_counter()
                return n

            def flush(self):
                self.f.flush()

        class Handler(server_mod._Handler):
            def setup(self):
                super().setup()
                self.rfile = Lines(self.rfile, self.client_address[1])
                self.wfile = Out(self.wfile)

        srv.RequestHandlerClass = Handler


def _store_size(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    return len(files), sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    eng = Engine(cfg)
    eng.start()
    say(ready=True, port=eng.server.port if eng.server else None)
    result: dict = {"setup": eng.setup}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "go":
            result.update(eng.batch())
            break
        if cmd == "trace_on":
            eng.install_server_wrappers()
            say(traced=True)
        elif cmd == "trace_off":
            eng.tracer.enabled = False
            say(untraced=True)
        elif cmd == "stop":
            break
    if cfg["trace"]:
        result["spans"] = eng.tracer.spans
        result["self_times"] = self_times(eng.tracer.spans)
        if cfg["mode"] == "server":
            result["requests"] = getattr(eng, "requests", [])
            result["store_samples"] = getattr(eng, "store_samples", [])
    with open(cfg["result_path"], "w") as f:
        json.dump(result, f, default=str)
    say(done=True)
    eng.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
