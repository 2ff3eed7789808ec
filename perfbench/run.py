"""The repository's benchmark: the engine's two jobs, offline training sets
and online request serving, driven through the public surface only
(``Engine.execute``, ``Engine.register``, ``SqlDeployment.run_request_rows``
on a ``get_spark`` session at ``local[nproc]``).

Usage, from the repository root::

    python3 perfbench/run.py --workload serve_request --seed 1 --seconds 10 --trace 0

Workloads (one process, one closed-loop client each; see README.md):

- ``offline_train``: the feature SELECT over a generated 150k-row event log,
  written to the ``noop`` sink, back to back;
- ``serve_request``: the same SQL ``DEPLOY``ed over a 100k-row history,
  serving one new request row per call;
- ``serve_ingest``: the same deployment; each of a fixed number of cycles
  ``INSERT``s the row served last and then serves the next request, the
  first read to see it.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every served
response is checked against the batch (offline) result for the same row
over the same history, and the training set against a checksum computed
from the generated files without the engine.
"""

from __future__ import annotations

import argparse
import datetime
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

#: ``setup_s`` counts from here, the start of the benchmark process
T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import features  # noqa: E402
import gen  # noqa: E402

SIZES = {
    "offline_train": {"rows": 150_000, "users": 1_500},
    "serve_request": {"rows": 100_000, "users": 2_000},
    "serve_ingest": {"rows": 100_000, "users": 2_000},
}
#: serve_ingest times this many cycles, so every run times the same table
#: states (each INSERT adds a union child and makes later cycles slower)
INGEST_CYCLES = 3
#: ... and stops early only past this many times ``--seconds``
INGEST_STOP_FACTOR = 3
#: ``retained_heap_mb`` reads once this many readings in a row agree,
#: after at most ``HEAP_SETTLE_ROUNDS`` full GCs
HEAP_SETTLE_AGREE = 3
HEAP_SETTLE_ROUNDS = 12
REQUEST_ID_BASE = 1_000_000_000
DEPLOYMENT = "perfbench_features"
TABLES = ("events", "views", "customer")


def host_heap() -> str:
    """A driver heap that fits the host: a quarter of RAM, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{min(8, max(2, kb // (4 << 20)))}g"


def prepare_env(work: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers; must run
    before the session starts. Every file Spark, the JVM and Python write
    lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_heap()
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):  # launcher JVM, driver JVM
        os.environ[var] = " ".join(p for p in (os.environ.get(var), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def ts_ms(ts: datetime.datetime) -> int:
    return (ts - datetime.datetime(1970, 1, 1)) // datetime.timedelta(milliseconds=1)


class Bench:
    """State of one run: session, inputs, timings and check results."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[workload]
        self.work = work
        self.staging = os.path.join(work, "staging")
        self.spark = None
        self.tracer = None
        self.paths: dict = {}
        self.want: dict = {}
        self.requests: list = []
        self.prep_s = 0.0
        self.first_op_at: float | None = None
        self.deploy_ms = 0.0
        self.lat_ms: list[float] = []
        self.rows_per_s: list[float] = []
        self.timed_ops: list[int] = []
        self.rows_out: dict[int, int] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._next_op = 0
        self._t0 = time.perf_counter()

    def log(self, phase: str) -> None:
        """Phase progress on stderr, in seconds since the run began."""
        print(f"[{time.perf_counter() - self._t0:7.2f}s] {phase}", file=sys.stderr, flush=True)

    def prepare(self) -> None:
        """Inputs and expected results, made without Spark before the
        session starts; their time is left out of ``setup_s``."""
        t0 = time.perf_counter()
        self.paths = gen.generate(os.path.join(self.work, "data"), self.seed, **self.size)
        if self.workload == "offline_train":
            self.want = features.reference_checksum(self.paths)
        else:
            self.requests = gen.request_rows(self.seed, 4000, self.size["users"], self.history_end_ms(), REQUEST_ID_BASE)
        self.prep_s = time.perf_counter() - t0

    def setup_s(self) -> float:
        """Process start to the first timed operation, less :meth:`prepare`."""
        return self.first_op_at - T_START - self.prep_s

    # -- helpers -----------------------------------------------------------
    def new_engine(self, events_df=None):
        from openmldb_spark.engine import Engine

        eng = Engine(self.spark, staging_dir=self.staging)
        for name in TABLES:
            df = events_df if name == "events" and events_df is not None else self.spark.read.parquet(self.paths[name])
            eng.register(name, df)
        return eng

    def timed(self, fn):
        """Run one timed operation; returns ``(result, ms, op)``, with
        ``(None, None, op)`` when it raised (counted as failed)."""
        if self.first_op_at is None:
            self.first_op_at = time.perf_counter()
        op = self._next_op
        self._next_op += 1
        self.attempted += 1
        if self.tracer:
            self.tracer.begin(op)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is a result, not a crash
            self.failed += 1
            self.errors.append(f"op {op}: {type(e).__name__}: {e}")
            out = None
        ms = (time.perf_counter() - t0) * 1000.0
        if self.tracer:
            self.tracer.end()
        self.log(f"op {op}: {ms:.1f} ms")
        self.timed_ops.append(op)
        return (out, ms, op) if out is not None else (None, None, op)

    def retained_heap_mb(self) -> float:
        """Driver heap in use after full GCs, as the heap pools' post-GC
        usage reads once it settles. A GC lets Spark's ContextCleaner find
        unreachable broadcasts and shuffles and drop them in the background,
        so only a later GC frees them: ``System.gc()`` is repeated, half a
        second apart, until ``HEAP_SETTLE_AGREE`` readings in a row agree
        within 1 MB."""
        gc.collect()  # drop Python proxies that pin JVM objects
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        readings = []
        for rounds in range(1, HEAP_SETTLE_ROUNDS + 1):
            jvm.java.lang.System.gc()
            used = sum(
                p.getCollectionUsage().getUsed()
                for p in mf.getMemoryPoolMXBeans()
                if str(p.getType()) == "Heap memory" and p.getCollectionUsage() is not None
            )
            readings = readings[-(HEAP_SETTLE_AGREE - 1):] + [used]
            if len(readings) == HEAP_SETTLE_AGREE and max(readings) - min(readings) < (1 << 20):
                break
            time.sleep(0.5)
        self.log(f"retained heap {used / float(1 << 20):.1f} MB after {rounds} GCs")
        return used / float(1 << 20)

    def run_state(self, eng) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        cached = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
        leaves = eng.tables["events"]._jdf.queryExecution().analyzed().collectLeaves().size()
        return {"cached_bytes": cached, "store_leaves": leaves}

    # -- offline_train -----------------------------------------------------
    def offline_train(self) -> dict:
        """Set-up registers the tables and runs the SELECT once in full as
        the warm-up, aggregated into the training-set checksum."""
        eng = self.new_engine()
        self.attempted += 1
        try:
            bad = features.checksum_mismatches(features.spark_checksum(eng.execute(features.SQL)), self.want)
        except Exception as e:
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            self.failed += 1
            self.errors.append(f"training-set checksum mismatch: {bad}")
        self.log("set-up and training-set check done")
        rows = self.size["rows"]

        def query():
            eng.execute(features.SQL).write.format("noop").mode("overwrite").save()
            return rows

        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline:
            out, ms, op = self.timed(query)
            if out is not None:
                self.lat_ms.append(ms)
                self.rows_per_s.append(rows / (ms / 1000.0))
                self.rows_out[op] = rows
        return {"heap": self.retained_heap_mb(), "state": self.run_state(eng)}

    # -- serving -----------------------------------------------------------
    def history_end_ms(self) -> int:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        col = pq.read_table(self.paths["events"], columns=["ts"]).column("ts")
        return int(pc.max(col).cast("int64").as_py())

    def deploy(self) -> tuple:
        """Set-up: registration, ``DEPLOY`` and the first request, which
        builds the compiled plan. Returns the engine, the deployment and
        the response served."""
        eng = self.new_engine()
        t0 = time.perf_counter()
        dep = eng.execute(f"DEPLOY {DEPLOYMENT} {features.SQL}")
        self.deploy_ms = (time.perf_counter() - t0) * 1000.0
        row = self.requests[0]
        served = [(row, dep.run_request_rows([row]))]
        self.attempted += 1
        self.log("set-up done")
        return eng, dep, served

    def serve_request(self) -> dict:
        return self.serve(ingest=False)

    def serve_ingest(self) -> dict:
        return self.serve(ingest=True)

    def serve(self, ingest: bool) -> dict:
        """Closed loop of requests for ``--seconds``. With ``ingest``, each
        operation first ``INSERT``s the row served last, so its request is
        the first read of the new table state; the loop then runs
        ``INGEST_CYCLES`` operations, with the time only as a safety stop."""
        eng, dep, served = self.deploy()
        inserted = []
        pending = served[-1][0] if ingest else None
        todo = self.requests[1:1 + INGEST_CYCLES] if ingest else self.requests[1:]
        deadline = time.perf_counter() + self.seconds * (INGEST_STOP_FACTOR if ingest else 1)
        for row in todo:
            if time.perf_counter() >= deadline:
                break

            def operation():
                nonlocal pending
                if pending is not None:
                    eid, uid, etype, amount, ts = pending
                    eng.execute(f"INSERT INTO events VALUES ({eid}, {uid}, '{etype}', {amount!r}, {ts_ms(ts)})")
                    inserted.append(pending)
                    pending = None
                return dep.run_request_rows([row])

            out, ms, op = self.timed(operation)
            if out is not None:
                self.lat_ms.append(ms)
                self.rows_per_s.append(len(out) / (ms / 1000.0))
                self.rows_out[op] = len(out)
                served.append((row, out))
                if ingest:
                    pending = row
        result = {"heap": self.retained_heap_mb(), "state": self.run_state(eng)}
        self.log("timed phase done")
        self.check_served(served, inserted)
        return result

    def check_served(self, served: list, inserted: list) -> None:
        """Every served response must equal the batch row for the same
        request over the same history.

        Request timestamps only grow, and each inserted row is the request
        served just before the next one, so the final history holds, below
        any request's timestamp, exactly the rows that request was served
        over. Inserted requests are checked over the final history alone;
        the others are added to it in batches of distinct users, so no
        request can enter another's frames."""
        from pyspark.sql import functions as F

        history = self.spark.read.parquet(self.paths["events"])
        schema = history.schema
        stored = {r[0] for r in inserted}
        if inserted:
            history = history.unionByName(self.spark.createDataFrame(inserted, schema))
        batches = [[(row, out) for row, out in served if row[0] in stored]]
        groups: list[dict] = []
        for row, out in served:
            if row[0] in stored:
                continue
            g = next((g for g in groups if row[1] not in g), None)
            if g is None:
                g = {}
                groups.append(g)
            g[row[1]] = (row, out)
        batches += [list(g.values()) for g in groups]
        for reqs in batches:
            if not reqs:
                continue
            events = history.where(F.col("user_id").isin(sorted({row[1] for row, _ in reqs})))
            extra = [row for row, _ in reqs if row[0] not in stored]
            if extra:
                events = events.unionByName(self.spark.createDataFrame(extra, schema))
            ids = [row[0] for row, _ in reqs]
            batch = {
                r["event_id"]: r
                for r in self.new_engine(events).execute(features.SQL).where(F.col("event_id").isin(ids)).collect()
            }
            for row, out in reqs:
                if len(out) != 1 or not rows_equal(out[0], batch.get(row[0])):
                    self.failed += 1
                    self.errors.append(f"request {row[0]}: served {out} != batch {batch.get(row[0])}")
        self.log(f"{len(served)} responses checked in {len(batches)} batches")


def rows_equal(a, b) -> bool:
    if b is None or a.asDict().keys() != b.asDict().keys():
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                return False
        elif x != y:
            return False
    return True


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, waiting for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description="openmldb_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isdir(os.path.join(ROOT, "openmldb_spark")):
        print(f"openmldb_spark not found next to {HERE}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    try:
        from openmldb_spark.session import get_spark
    except ImportError as e:
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work, bool(a.trace))
    try:
        bench, values, units = run(a, work, out_dir, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for err in bench.errors[:20]:
        print(err, file=sys.stderr)
    print(f"{a.workload} seed={a.seed}: {len(bench.lat_ms)} timed ops", file=sys.stderr)
    if not bench.lat_ms:
        print("no timed operation completed", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def run(a, work: str, out_dir: str, get_spark) -> tuple:
    """Generate the inputs, run the workload and compute its metrics."""
    bench = Bench(a.workload, a.seed, a.seconds, work)
    bench.prepare()
    spark = bench.spark = get_spark("perfbench")
    try:
        tracer = None
        if a.trace:
            from tracing import Tracer

            tracer = bench.tracer = Tracer(spark)
            tracer.install()
        result = getattr(bench, a.workload)()
        if tracer:
            tracer.uninstall()
    finally:
        stop_spark(spark)
    if not bench.lat_ms:
        return bench, {}, {}
    if a.trace:
        from tracing import layer_metrics, read_event_log

        tracer.dump(os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.jsonl"))
        values = layer_metrics(tracer, read_event_log(os.path.join(work, "events")), bench.timed_ops,
                               bench.rows_out, bench.deploy_ms, result["state"])
        values["trace.p50_ms"] = statistics.median(bench.lat_ms)
        return bench, values, {k: unit_of(k) for k in values}
    values = {
        "setup_s": bench.setup_s(),
        "p50_ms": statistics.median(bench.lat_ms),
        "rows_per_s": statistics.median(bench.rows_per_s),
        "retained_heap_mb": result["heap"],
    }
    return bench, values, {"setup_s": "s", "p50_ms": "ms", "rows_per_s": "rows/s", "retained_heap_mb": "MB"}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("per_result"):
        return "rows/row"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
