"""Scale probe (r8 verdict item #3): committed evidence that the five
expensive pipelines keep their plan shape when the input grows 10x —
shuffle records/bytes and wall time per query at sf0.1 vs a seed-pinned
10x synthetic dataset, extracted from Spark event logs (the house
protocol).

Usage (one JVM at a time, per the repo's shared-host rule):

    python tools/scale_probe.py gen /root/scale_probe/sf10x 10
    python tools/scale_probe.py run /root/testdata/sf0.1   /root/scale_probe/ev1x
    python tools/scale_probe.py run /root/scale_probe/sf10x /root/scale_probe/ev10x
    python tools/scale_probe.py report /root/scale_probe/ev1x /root/scale_probe/ev10x

``gen`` synthesizes documents (a 10,000-word Zipfian vocabulary — the
driver corpus's own 31-word vocabulary makes every word-3-gram
boilerplate-dense at 10x, which is a DATA artifact, not a scale
property — doc lengths matching sf0.1, ~10% planted exact + near
duplicates in bounded PAIRS so the candidate workload scales linearly,
never quadratically) and embeddings (unit vectors, dim matching sf0.1)
with RandomState(42) determinism. Generate BOTH scales with this
generator (mult=1 and mult=10) so the comparison isolates SCALE from
distribution. ``run`` executes the probes under one SparkSession with
event logging on, one job group per probe. ``report`` sums each group's
task shuffle metrics and prints the 10x/1x scaling table (JSON).

Probes: dedup_minhash + embedding_lsh_topk_join are the gate-registry
callables verbatim; dedup_ngram_jaccard + embedding_ivf_topk_join are
PINNED re-statements of the r9-r11 arm computations (their gate
callables grew extra arms in r12 — cluster labels, the persisted-index
probe union — and the trendline must keep measuring the same thing);
plus budget_chunks(by=None) over the documents token counts, the r9
OR-of-bands arm lsh_topk_join(planes=4, bands=8), and the later rounds'
claim-check arms.
"""

import json
import os
import sys
import time


def gen(out_dir: str, mult: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(src, "documents.parquet")).to_pydict()
    n0 = len(docs["doc_id"])
    # realistic vocabulary: 10k words, Zipf-sampled (most word n-grams
    # rare, a boilerplate head) — production text shape, where fixed
    # document-frequency caps keep meaning as the corpus grows
    vocab = [f"tok{i:05d}" for i in range(10_000)]
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()
    langs = sorted(set(docs["lang"]))
    sources = sorted(set(docs["source"]))
    lens = [len(t.split()) for t in docs["text"]]
    rng = np.random.RandomState(42)
    n = n0 * mult
    wc = rng.choice(lens, size=n)
    widx = rng.choice(len(vocab), size=int(wc.sum()) + n, p=p)
    texts, pos = [], 0
    for i in range(n):
        k = int(wc[i])
        texts.append(" ".join(vocab[j] for j in widx[pos:pos + k]))
        pos += k
    # planted duplicates in PAIRS (bounded group size -> candidate pairs
    # scale linearly with rows): every 20th doc = exact copy of i-1,
    # every 20th+10 = near copy (first word swapped)
    for i in range(1, n, 20):
        texts[i] = texts[i - 1]
    for i in range(10, n, 20):
        w = texts[i - 1].split()
        if len(w) > 2:
            w[0] = vocab[i % len(vocab)]
            texts[i] = " ".join(w)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array([langs[i % len(langs)] for i in range(n)]),
            "source": pa.array([sources[i % len(sources)] for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )

    emb = pq.read_table(os.path.join(src, "embeddings.parquet"))
    dim = len(emb.column("embedding")[0])
    m = emb.num_rows * mult
    V = rng.randn(m, dim)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(m), pa.int64()),
            "embedding": pa.array(V.astype(np.float32).tolist(),
                                  pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(m)], pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    print(f"generated {n} docs / {m} vectors in {out_dir}")


def probes():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    from openmldb_spark.pipeline import sampling as SA
    from openmldb_spark.session import load_table

    qs = e.queries()

    # the ngram and ivf GATE callables grew extra arms in r12 (cluster
    # labels; the persisted-index probe union) for the driver's 50-row
    # correctness cap — the SCALE arms pin the ORIGINAL computations so
    # the r9-r12 trendlines keep measuring the same thing
    def ngram_pairs_arm(spark, sf):
        from openmldb_spark.pipeline import dedup as D
        from openmldb_spark.pipeline import similarity as S

        d = S._spread(load_table(spark, sf, "documents"), 32)
        return D.overlap_jaccard_pairs(
            d, "doc_id", "text",
            shingle_n=3, min_overlap=5, threshold=0.2, max_token_df=50,
        ).select("a", "b", F.round("jaccard", 4).alias("jaccard"))

    def ivf_join_arm(spark, sf):
        from openmldb_spark.pipeline import similarity as S

        emb = load_table(spark, sf, "embeddings")
        return S.ivf_topk_join(
            emb, emb.where(F.col("vec_id") < 30),
            corpus_id="vec_id", corpus_vec="embedding",
            query_id="vec_id", query_vec="embedding",
            k=5, n_centroids=16, nprobe=4, seed=42,
        )

    def budget_global(spark, sf):
        toks = load_table(spark, sf, "documents").select(
            "doc_id",
            F.size(F.filter(F.split(F.col("text"), r"\s+"),
                            lambda x: x != "")).cast("long").alias("n_tokens"),
        )
        return SA.budget_chunks(
            toks, token_col="n_tokens", order_col="doc_id", budget=20000
        )

    def lsh_banded(spark, sf):
        from openmldb_spark.pipeline import similarity as S

        emb = load_table(spark, sf, "embeddings")
        q = emb.where(F.col("vec_id") < 50)
        # dim= skips the one-row dimension probe so the timed section
        # holds zero extra driver actions (both generated datasets mirror
        # sf0.1's dim-64 embeddings)
        return S.lsh_topk_join(
            emb, q, corpus_id="vec_id", corpus_vec="embedding",
            query_id="vec_id", query_vec="embedding", k=5,
            planes=4, bands=8, seed=42, dim=64,
        )

    def minhash_capped(spark, sf):
        # the SCALE.md §3 claim-check arm (r9 verdict #4): the same SSJoin
        # dedup with max_token_df LOW enough that the hot cap BINDS at both
        # scales — candidate growth must return to linear once it does
        from openmldb_spark.pipeline import dedup as D
        from openmldb_spark.pipeline import similarity as S

        d = S._spread(load_table(spark, sf, "documents"), 32)
        return D.jaccard_dedup(
            d, "doc_id", "text", shingle_n=3, threshold=0.7, max_token_df=50
        )

    def contamination_fixed_bench(spark, sf):
        # r10 arm: the realistic decontamination shape — the CORPUS grows
        # 10x, the benchmark stays FIXED (doc_id < 250 at both scales).
        # Expected: corpus-side shuffle ~10x, broadcast side ~constant.
        from openmldb_spark.pipeline import contamination as C
        from openmldb_spark.pipeline import similarity as S

        d = S._spread(load_table(spark, sf, "documents"), 32)
        bench = d.where(F.col("doc_id") < 250)
        return C.ngram_contamination(d, bench, n=5)

    def repetition_explode(spark, sf):
        # r10 arm: the explode strategy is the documented long-document
        # path for repetition_features (per-row arrays pressure executor
        # memory on book-length docs) — its two explode->partial-agg
        # shuffles must scale linearly with the corpus. The harness's
        # count() action over the raw output (or a global aggregate of
        # it) lets Catalyst eliminate the whole subtree — unique-key
        # left-join elimination / count-of-global-agg folding — and
        # measure only the spread exchange; a FILTER referencing every
        # metric column keeps the full plan inside the counted job.
        from openmldb_spark.pipeline import similarity as S
        from openmldb_spark.pipeline import text as T

        d = S._spread(load_table(spark, sf, "documents"), 32)
        out = T.repetition_features(d, method="explode", id_col="doc_id")
        return out.where(
            (
                F.col("dup_token_ratio") + F.col("top_token_ratio")
                + F.col("dup_ngram_ratio") + F.col("top_ngram_ratio")
            )
            > -1
        )

    def ivf_drift_stats(spark, sf):
        # r13 arm (annindex drift-observability claim-check): the
        # build-time baseline pass — zero-shuffle assignment + per-bucket
        # stats over the FULL corpus. Claim: one linear corpus scan; the
        # stats exchange collapses map-side to <= n_centroids rows per
        # task, so shuffle records stay ~constant while the scan grows 10x.
        from openmldb_spark.pipeline.annindex import (
            ivf_assignment_stats,
            ivf_centroids,
            ivf_corpus_index,
        )

        emb = load_table(spark, sf, "embeddings")
        cent = ivf_centroids(
            emb, corpus_id="vec_id", corpus_vec="embedding",
            n_centroids=16, seed=42,
        )
        idx = ivf_corpus_index(
            emb, cent, corpus_id="vec_id", corpus_vec="embedding"
        )
        return ivf_assignment_stats(idx, cent)

    def pq_adc_topk(spark, sf):
        # r13 arm (pipeline/pq.py claim-check): portable codebook +
        # encode + ADC top-k over the full corpus. Claim: the code table
        # streams once (linear scan), queries broadcast as LUTs, and the
        # only shuffle is the O(k x queries) local-top-k union — constant
        # as the corpus grows.
        from openmldb_spark.pipeline.pq import (
            pq_encode,
            pq_sampled_codebooks,
            pq_topk,
        )

        emb = load_table(spark, sf, "embeddings")
        CB = pq_sampled_codebooks(
            emb, corpus_id="vec_id", corpus_vec="embedding",
            m=8, k=16, seed=42,
        )
        enc = pq_encode(emb, vec_col="embedding", codebooks=CB)
        return pq_topk(
            enc, emb.where(F.col("vec_id") < 15),
            corpus_id="vec_id", code_col="pq_code",
            query_id="vec_id", query_vec="embedding", codebooks=CB, k=5,
        )

    return {
        "dedup_minhash": qs["dedup_minhash"],
        "contamination_fixed_bench": contamination_fixed_bench,
        "repetition_explode": repetition_explode,
        "dedup_minhash_capped": minhash_capped,
        "dedup_ngram_jaccard": ngram_pairs_arm,
        "embedding_lsh_topk_join": qs["embedding_lsh_topk_join"],
        "embedding_lsh_banded": lsh_banded,
        "embedding_ivf_topk_join": ivf_join_arm,
        "budget_chunks_global": budget_global,
        "ivf_drift_stats": ivf_drift_stats,
        "pq_adc_topk": pq_adc_topk,
    }


def run(sf_dir: str, ev_dir: str) -> None:
    """Env knobs: SPARK_SCALE_MEM (driver/executor heap, default 12g —
    executor-shaped memory so the probe measures DATA shape, not the
    default-heap ceiling), SPARK_SCALE_ONLY (comma-separated probe names
    to run, default all — e.g. the 1g ngram-OOM repro arm)."""
    os.makedirs(ev_dir, exist_ok=True)
    from pyspark.sql import SparkSession

    mem = os.environ.get("SPARK_SCALE_MEM", "12g")
    only = {
        s for s in os.environ.get("SPARK_SCALE_ONLY", "").split(",") if s
    }
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{ev_dir}")
        .config("spark.driver.memory", mem)
        .appName("scale-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    walls = {}
    for name, fn in probes().items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        cnt = fn(spark, sf_dir).count()
        walls[name] = round(time.perf_counter() - t0, 2)
        print(f"{name}: {cnt} rows, {walls[name]}s", file=sys.stderr)
    with open(os.path.join(ev_dir, "walls.json"), "w") as f:
        json.dump(walls, f)
    spark.stop()


def _collect(ev_dir: str) -> dict:
    """group -> {records_read, bytes_read, records_written, bytes_written,
    peak_stage_records, n_stages, wall_s} from the event log."""
    import glob

    logs = [p for p in glob.glob(os.path.join(ev_dir, "*"))
            if not p.endswith((".json", ".inprogress"))]
    assert len(logs) == 1, logs
    if os.path.isdir(logs[0]):
        # Spark 4 rolling layout: eventlog_v2_<app>/events_1_... files
        logs = sorted(glob.glob(os.path.join(logs[0], "events_*")))
        assert logs, "no event files in rolling log dir"
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = {}
    stage_rec: dict[int, int] = {}
    def lines():
        for p in logs:
            with open(p, encoding="utf-8", errors="replace") as f:
                yield from f

    for line in lines():
        ev = json.loads(line)
        k = ev.get("Event")
        if k == "SparkListenerJobStart":
            grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if grp:
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
        elif k == "SparkListenerTaskEnd":
            grp = stage_group.get(ev.get("Stage ID"))
            if not grp:
                continue
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a = agg.setdefault(grp, {
                "shuffle_records_read": 0, "shuffle_bytes_read": 0,
                "shuffle_records_written": 0, "shuffle_bytes_written": 0,
            })
            a["shuffle_records_read"] += sr.get("Total Records Read", 0)
            a["shuffle_bytes_read"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            a["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
            a["shuffle_bytes_written"] += sw.get("Shuffle Bytes Written", 0)
            sid = ev.get("Stage ID")
            stage_rec[sid] = stage_rec.get(sid, 0) + sw.get(
                "Shuffle Records Written", 0
            )
    for sid, grp in stage_group.items():
        if grp in agg:
            a = agg[grp]
            a["peak_stage_shuffle_records"] = max(
                a.get("peak_stage_shuffle_records", 0), stage_rec.get(sid, 0)
            )
            a["n_stages"] = a.get("n_stages", 0) + 1
    walls = json.load(open(os.path.join(ev_dir, "walls.json")))
    for grp, w in walls.items():
        agg.setdefault(grp, {})["wall_s"] = w
    return agg


def report(ev1: str, ev10: str) -> None:
    a1, a10 = _collect(ev1), _collect(ev10)
    out = {}
    for grp in sorted(a1):
        r = {}
        for key in sorted(set(a1[grp]) | set(a10.get(grp, {}))):
            v1, v10 = a1[grp].get(key, 0), a10.get(grp, {}).get(key, 0)
            r[key] = {
                "x1": v1, "x10": v10,
                "ratio": round(v10 / v1, 2) if v1 else None,
            }
        out[grp] = r
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        gen(sys.argv[2], int(sys.argv[3]))
    elif cmd == "run":
        run(sys.argv[2], sys.argv[3])
    elif cmd == "report":
        report(sys.argv[2], sys.argv[3])
    else:
        raise SystemExit("gen|run|report")
