"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Queries chosen to cover the engine's hot paths: scan+group-agg (Catalyst
hash agg), sliding windows (native WindowExec), array-eval windows (MAXSIZE),
LAST JOIN (dedupe-right plan), window-union, minhash dedup (HOF pipeline),
embedding top-k (broadcast NL join), text quality (pure projection).

Protocol: one JVM, and every query runs ``MIN_REPS`` count() reps and
``MIN_REPS`` noop-sink reps with ``clearCache()`` between queries. The
JSON publishes each query's minimum next to every rep, so a run hit by a
host or JIT stall shows it in its own numbers. Performance claims are
made with ``perfbench/`` (``BENCHMARK.json``), not with this harness.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry
from openmldb_spark.session import get_spark

BENCH_QUERIES = [
    "group_agg",
    "join_agg",
    "window_rows",
    "window_rows_range",
    "window_maxsize",
    "udaf_window_cate",
    "last_join",
    "window_union",
    "window_frame_bounds",
    "udaf_ratio_cate",
    "sql_window",
    "sql_last_join",
    "long_window_preagg",
    "feature_signature",
    "dedup_exact",
    "dedup_minhash",
    "text_features",
    "text_repetition",
    "contamination_ngram",
    "curation_sample_pack",
    "embedding_topk",
    "embedding_lsh_topk_join",
]

#: reps per query and per series (count, noop); the published time is
#: the minimum
MIN_REPS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="openmldb_spark_bench")
    qs = entry.queries()
    # fail fast (before any timing work) if the query registry drifted —
    # a rename in queries() must never crash the harness mid-run
    missing = [n for n in BENCH_QUERIES if n not in qs]
    if missing:
        raise SystemExit(f"bench.py: BENCH_QUERIES missing from queries(): {missing}")

    # warm the JVM + file cache with a cheap action (expressions reads the
    # small part table)
    qs["expressions"](spark, sf_dir).count()
    # pre-spawn the Arrow/Python workers (numpy+pandas import per worker is
    # a one-time environment cost, not a per-query cost)
    spark.range(256).repartition(64).mapInPandas(lambda it: it, "id long").count()

    timings: dict[str, float] = {}
    reps_out: dict[str, list[float]] = {}
    noop_timings: dict[str, float] = {}
    noop_reps_out: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        # count() forces full evaluation without collecting payloads to
        # the driver; per-rep arrays are published in the JSON
        best, n = None, 0
        reps: list[float] = []
        for _ in range(MIN_REPS):
            t0 = time.perf_counter()
            n = qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t0
            reps.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        reps_out[name] = reps
        print(f"# {name}: {timings[name]:.3f}s {reps} ({n} rows)", file=sys.stderr)
        # drop blocks persist()ed inside the query so one query's cache
        # pressure can't tax the next timing
        spark.catalog.clearCache()

        # r13 measurement-bug fix (declared in OPTIMIZATION_r13.md, guide
        # §1.4): DataFrame.count() lets the optimizer PRUNE unused columns
        # — a pure-projection query (text_features, scalar_*, ...) times as
        # an empty-schema scan (ReadSchema: struct<>), not its computation.
        # The noop sink evaluates EVERY column of every row. The legacy
        # count-timed series above stays the headline ("value"/"queries",
        # comparable to r1-r12 and the r2 reference point); the noop series
        # is published alongside as queries_noop/value_noop.
        nbest = None
        nreps: list[float] = []
        for _ in range(MIN_REPS):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            nreps.append(round(dt, 3))
            nbest = dt if nbest is None else min(nbest, dt)
        noop_timings[name] = round(nbest, 3)
        noop_reps_out[name] = nreps
        print(f"# {name} [noop]: {noop_timings[name]:.3f}s {nreps}", file=sys.stderr)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps_out,
        "queries_noop": noop_timings,
        "value_noop": round(sum(noop_timings.values()), 3),
        "reps_noop": noop_reps_out,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # r14 opt-in compute-bound scaling probe (VERDICT r13 item 6): at sf0.1
    # every bench query is overhead-bound, so the 8-vs-32-core ratios say
    # nothing about parallelism. SPARK_GRAFT_SCALE_PROBE=1 additionally runs
    # the heaviest pipelines against the seed-pinned 10x synthetic corpus
    # (tools/scale_probe.py gen — generated on first use, deterministic) and
    # publishes them under SEPARATE keys (queries_scale10x/value_scale10x) so
    # the headline value/queries series stays exactly comparable. The default
    # (env unset) output is byte-compatible with r13's.
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE"):
        probe_dir = os.environ.get(
            "SPARK_GRAFT_SCALE_PROBE_DIR", "/root/scale_probe/sf10x"
        )
        _ensure_probe_dir(probe_dir, sf_dir)
        probe_qs = ["dedup_minhash", "dedup_ngram_jaccard", "contamination_ngram",
                    "dedup_exact"]
        p_timings: dict[str, float] = {}
        p_reps: dict[str, list[float]] = {}
        for name in probe_qs:
            best, reps = None, []
            for _ in range(MIN_REPS):
                t0 = time.perf_counter()
                qs[name](spark, probe_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                reps.append(round(dt, 3))
                best = dt if best is None else min(best, dt)
            p_timings[name] = round(best, 3)
            p_reps[name] = reps
            print(f"# scale10x {name}: {p_timings[name]:.3f}s {reps}", file=sys.stderr)
            spark.catalog.clearCache()
        out["queries_scale10x"] = p_timings
        out["value_scale10x"] = round(sum(p_timings.values()), 3)
        out["reps_scale10x"] = p_reps

    print(json.dumps(out))
    spark.stop()


def _ensure_probe_dir(probe_dir: str, sf_dir: str) -> None:
    """Generate the 10x synthetic corpus on first use (seed-pinned —
    RandomState(42) in tools/scale_probe.gen) and fill in any table the
    probe queries need that the generator does not synthesize (e.g. the
    fixed-size benchmark corpus for contamination) by copying it from the
    bench's own data dir — the realistic shape: the corpus grows, the
    eval suite does not."""
    import shutil

    if not os.path.exists(os.path.join(probe_dir, "documents.parquet")):
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "scale_probe",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "tools", "scale_probe.py"),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.gen(probe_dir, 10)
    for fn in os.listdir(sf_dir):
        if fn.endswith(".parquet") and not os.path.exists(
            os.path.join(probe_dir, fn)
        ):
            src = os.path.join(sf_dir, fn)
            dst = os.path.join(probe_dir, fn)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy2(src, dst)


if __name__ == "__main__":
    main()
