"""Traced-run collector: spans around the engine's public entry points,
per-operation JVM counters and a Spark event-log reader, which also counts
the shape of each operation's executed plan.

Nothing here edits ``openmldb_spark``: :meth:`Tracer.install` wraps the
entry points at runtime and :meth:`Tracer.uninstall` restores them. Spans
(name, start, end, parent, op id) stay in memory until :meth:`Tracer.dump`.
Every Spark job a timed operation starts carries the operation id as the
``perfbench.op`` local property, which is how :func:`read_event_log` joins
the event log back to operations.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import time

OP_PROPERTY = "perfbench.op"

_PYTHON_NODES = re.compile(r"^(ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas|WindowInPandas|ArrowWindowPython|PythonMapInArrow)")
_PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Span recorder plus the per-operation counters of one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self.op: int | None = None
        self.ops: dict[int, dict] = {}
        self.self_s = 0.0
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory

    # -- spans -------------------------------------------------------------
    def _call(self, name: str, fn, args, kwargs):
        sid = len(self.spans)
        self.spans.append([name, time.time(), None, self._stack[-1] if self._stack else None, self.op])
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[sid][2] = time.time()

    def _wrap(self, owner, attr: str, name) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args) if callable(name) else name
            return self._call(label, orig, args, kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of ``sql`` and ``engine``."""
        from openmldb_spark.engine import Engine, SqlDeployment
        from openmldb_spark.engine import compiled
        from openmldb_spark.sql import parser
        from openmldb_spark.sql.lowering import Lowerer

        self._wrap(parser, "parse", "sql.parse")
        self._wrap(Lowerer, "query", "sql.lower")
        self._wrap(Engine, "execute", lambda a: "engine." + a[1].split(None, 1)[0].lower())
        self._wrap(SqlDeployment, "run_request_rows", "engine.serve")
        self._wrap(compiled.CompiledRequestPlan, "__init__", "engine.compile")
        orig = compiled.CompiledRequestPlan._fresh_serve_df
        tracer = self

        @functools.wraps(orig)
        def fresh_serve_df(plan_self):
            df = orig(plan_self)
            tracer.plan(df)
            return df

        compiled.CompiledRequestPlan._fresh_serve_df = fresh_serve_df
        self._patched.append((compiled.CompiledRequestPlan, "_fresh_serve_df", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def plan(self, df) -> None:
        """Run physical planning of a serve's Dataset inside a ``spark.plan``
        span. The serve then collects this same Dataset, which keeps the
        planned tree, so its action does not plan again. (A ``noop`` write
        plans inside a new QueryExecution of its own, which is why
        ``offline_train`` has no ``spark.plan`` spans.)"""
        self._call("spark.plan", df._jdf.queryExecution().executedPlan, (), {})

    # -- operations ----------------------------------------------------------
    def _jvm_ms(self) -> tuple[float, float]:
        jit = self._mf.getCompilationMXBean().getTotalCompilationTime()
        gc = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        return float(jit), float(gc)

    def begin(self, op: int) -> None:
        t0 = time.perf_counter()
        self.op = op
        self.spark.sparkContext.setLocalProperty(OP_PROPERTY, str(op))
        jit, gc = self._jvm_ms()
        self.ops[op] = {"jit0": jit, "gc0": gc, "cpu0": time.process_time()}
        self.self_s += time.perf_counter() - t0

    def end(self) -> None:
        t0 = time.perf_counter()
        rec = self.ops[self.op]
        jit, gc = self._jvm_ms()
        rec["jit_ms"] = jit - rec.pop("jit0")
        rec["gc_ms"] = gc - rec.pop("gc0")
        rec["cpu_ms"] = (time.process_time() - rec.pop("cpu0")) * 1000.0
        self.spark.sparkContext.setLocalProperty(OP_PROPERTY, None)
        self.op = None
        self.self_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines."""
        with open(path, "w") as f:
            for name, start, end, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": start, "end": end, "parent": parent, "op": op}) + "\n")

    # -- aggregation -----------------------------------------------------------
    def outer_ms(self, name: str, ops) -> tuple[float, int]:
        """Total ms and count of ``name`` spans inside ``ops`` that have no
        ``name`` ancestor (recursive calls count once)."""
        total, calls = 0.0, 0
        for sid, (n, start, end, parent, op) in enumerate(self.spans):
            if n != name or op not in ops:
                continue
            p = parent
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                total += (end - start) * 1000.0
                calls += 1
        return total, calls


def plan_shape(info: dict) -> dict:
    """Exact node and expression counts of one executed plan, from the
    ``sparkPlanInfo`` tree the event log records for a SQL execution. A
    reused exchange counts once, where it was first planned."""
    shape = dict.fromkeys(("window_nodes", "exchange_nodes", "python_eval_nodes", "collect_list_exprs"), 0)
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        shape["window_nodes"] += name == "Window"
        shape["exchange_nodes"] += name in ("Exchange", "BroadcastExchange")
        shape["python_eval_nodes"] += bool(_PYTHON_NODES.match(name))
        shape["collect_list_exprs"] += node.get("simpleString", "").count("collect_list(")
        if name != "ReusedExchange":
            stack.extend(node.get("children", []))
    return shape


def _plan_metric_ids(info: dict, sort_ids: set, py_ids: set) -> None:
    name = info.get("nodeName", "")
    for m in info.get("metrics", []):
        if name == "Sort" and m.get("name") == "sort time":
            sort_ids.add(m["accumulatorId"])
        elif _PYTHON_NODES.match(name) and m.get("name") in _PYTHON_BYTE_METRICS:
            py_ids.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, sort_ids, py_ids)


def read_event_log(ev_dir: str) -> dict:
    """op id -> Spark runtime totals, from the event log of one run
    (the job/stage/task join follows ``tools/scale_probe.py::_collect``).
    ``shape`` is the :func:`plan_shape` of the last SQL execution the
    operation ran, in the final form adaptive execution gave it."""
    logs = [p for p in glob.glob(os.path.join(ev_dir, "*")) if not p.endswith(".json")]
    if len(logs) == 1 and os.path.isdir(logs[0]):
        logs = sorted(glob.glob(os.path.join(logs[0], "events_*")))
    stage_op: dict[int, int] = {}
    job_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    exec_op: dict[int, int] = {}
    exec_plan: dict[int, dict] = {}
    sort_ids: set = set()
    py_ids: set = set()
    ops: dict[int, dict] = {}
    jobs: dict[int, list] = {}

    def rec(op: int) -> dict:
        return ops.setdefault(op, {
            "jobs": 0, "stages": 0, "tasks": 0, "job_ms": 0.0, "scheduler_delay_ms": 0.0,
            "executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "executor_gc_ms": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
            "input_rows": 0, "sort_ms": 0.0, "python_bytes": 0,
        })

    for path in logs:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    op = props.get(OP_PROPERTY)
                    if op is None:
                        continue
                    op = int(op)
                    if props.get("spark.sql.execution.id") is not None:
                        exec_op[int(props["spark.sql.execution.id"])] = op
                    job_op[ev["Job ID"]] = op
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    rec(op)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_op:
                    op = job_op[ev["Job ID"]]
                    start, end = job_start[ev["Job ID"]], ev["Completion Time"]
                    rec(op)["job_ms"] += end - start
                    jobs.setdefault(op, []).append((start / 1000.0, end / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_op:
                        rec(stage_op[sid])["stages"] += 1
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    info = ev.get("sparkPlanInfo") or {}
                    _plan_metric_ids(info, sort_ids, py_ids)
                    exec_plan[ev["executionId"]] = info
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_op:
                    r = rec(stage_op[ev["Stage ID"]])
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    run = m.get("Executor Run Time", 0)
                    overhead = run + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                    getting = info.get("Getting Result Time", 0)
                    if getting:
                        overhead += info["Finish Time"] - getting
                    r["tasks"] += 1
                    r["scheduler_delay_ms"] += max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0) - overhead)
                    r["executor_run_ms"] += run
                    r["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    r["executor_gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    r["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    for acc in info.get("Accumulables", []):
                        aid, upd = acc.get("ID"), acc.get("Update")
                        if aid in sort_ids:
                            r["sort_ms"] += float(upd)
                        elif aid in py_ids:
                            r["python_bytes"] += int(upd)
    for op, intervals in jobs.items():
        ops[op]["job_intervals"] = intervals
    for eid in sorted(exec_op):
        ops[exec_op[eid]]["shape"] = plan_shape(exec_plan.get(eid, {}))
    return ops


def covered_s(intervals, start: float, end: float) -> float:
    """Seconds of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(tracer: Tracer, spark_ops: dict, timed_ops: list, rows_out: dict, deploy_ms: float, run_state: dict) -> dict:
    """The per-layer metrics of one traced run: totals over the timed
    operations divided by their number, except ``engine.deploy_ms`` (the
    set-up's one DEPLOY), the plan shapes (median over operations) and the
    end-of-run state counts."""
    n = max(1, len(timed_ops))
    ops = set(timed_ops)

    def per_op(name):
        total, calls = tracer.outer_ms(name, ops)
        return total / n, calls / n

    out = {}
    out["sql.parse_ms"], _ = per_op("sql.parse")
    out["sql.lower_ms"], out["sql.lower_calls"] = per_op("sql.lower")
    out["engine.compile_ms"], out["engine.compile_calls"] = per_op("engine.compile")
    out["engine.serve_ms"], _ = per_op("engine.serve")
    out["engine.insert_ms"], _ = per_op("engine.insert")
    out["spark.plan_ms"], _ = per_op("spark.plan")
    driver = 0.0
    for name, start, end, parent, op in tracer.spans:
        if name == "engine.serve" and op in ops:
            busy = covered_s(spark_ops.get(op, {}).get("job_intervals", []), start, end)
            driver += (end - start - busy) * 1000.0
    out["engine.serve_driver_ms"] = driver / n
    out["engine.deploy_ms"] = deploy_ms
    out["engine.store_union_children"] = run_state["store_leaves"]
    out["engine.cached_bytes"] = run_state["cached_bytes"]

    def spark_sum(key):
        return sum(spark_ops.get(op, {}).get(key, 0) for op in timed_ops)

    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = spark_sum(key) / n
    for key in ("job_ms", "scheduler_delay_ms", "executor_run_ms", "executor_cpu_ms", "executor_gc_ms",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        out[f"spark.{key}"] = spark_sum(key) / n
    out["spark.input_rows_per_result"] = spark_sum("input_rows") / max(1, sum(rows_out.get(op, 0) for op in timed_ops))
    shapes = [spark_ops[op]["shape"] for op in timed_ops if "shape" in spark_ops.get(op, {})]
    for key in ("window_nodes", "collect_list_exprs", "exchange_nodes", "python_eval_nodes"):
        out[f"operators.{key}"] = statistics.median(s[key] for s in shapes) if shapes else 0
    out["operators.sort_ms"] = spark_sum("sort_ms") / n
    out["operators.python_bytes"] = spark_sum("python_bytes") / n
    out["jvm.jit_ms"] = sum(tracer.ops[op]["jit_ms"] for op in timed_ops) / n
    out["jvm.gc_ms"] = sum(tracer.ops[op]["gc_ms"] for op in timed_ops) / n
    out["py.cpu_ms"] = sum(tracer.ops[op]["cpu_ms"] for op in timed_ops) / n
    out["trace.self_ms"] = tracer.self_s * 1000.0 / n
    return out
