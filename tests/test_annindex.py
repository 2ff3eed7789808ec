"""Persisted IVF index (pipeline/annindex.py). The decisive contract:
ivf_probe over ivf_corpus_index(corpus, C) == ivf_topk_join(corpus, ...,
same C/seed) exactly, so the persisted-index path inherits the join
sibling's DuckDB oracle transitively; plus the scale property the layout
exists for — probes PARTITION-PRUNE a cidx-partitioned parquet index."""

from pyspark.sql import functions as F

from openmldb_spark.pipeline import similarity as S
from openmldb_spark.pipeline.annindex import (
    ivf_assignment_stats,
    ivf_centroids,
    ivf_corpus_index,
    ivf_probe,
)
from openmldb_spark.session import load_table

SF = "/root/testdata/sf0.001"
IDK = dict(corpus_id="vec_id", corpus_vec="embedding")
QK = dict(query_id="vec_id", query_vec="embedding")


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos"], 9), r["rank"])
        for r in df.collect()
    )


def test_probe_equals_ivf_topk_join(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 30)
    cent = ivf_centroids(emb, n_centroids=16, seed=42, **IDK)
    idx = ivf_corpus_index(emb, cent, **IDK)
    got = _rows(ivf_probe(queries, idx, cent, k=5, nprobe=4, **QK))
    want = _rows(
        S.ivf_topk_join(
            emb, queries, corpus_id="vec_id", corpus_vec="embedding",
            query_id="vec_id", query_vec="embedding",
            k=5, n_centroids=16, nprobe=4, seed=42,
        )
    )
    assert got == want and len(got) > 0


def test_probe_equals_join_with_trained_centroids(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    M = S.kmeans_centroids(
        emb, vec_col="embedding", id_col="vec_id", k=8, iters=2, seed=7
    )
    cent = ivf_centroids(emb, centroids=M, **IDK)
    idx = ivf_corpus_index(emb, cent, **IDK)
    got = _rows(ivf_probe(queries, idx, cent, k=3, nprobe=2, **QK))
    want = _rows(
        S.ivf_topk_join(
            emb, queries, corpus_id="vec_id", corpus_vec="embedding",
            query_id="vec_id", query_vec="embedding",
            k=3, nprobe=2, centroids=M,
        )
    )
    assert got == want and len(got) > 0


def test_partitioned_parquet_probe_prunes_buckets(spark, tmp_path):
    """The point of the layout: a probe over a cidx-partitioned parquet
    index reads ONLY the probed buckets — the scan's PartitionFilters
    carry the literal cidx IN-list, and results equal the in-memory
    probe."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cent = ivf_centroids(emb, n_centroids=16, seed=42, **IDK)
    idx = ivf_corpus_index(emb, cent, **IDK)
    p = str(tmp_path / "ivf_index")
    idx.write.partitionBy("cidx").parquet(p)
    stored = spark.read.parquet(p)
    out = ivf_probe(queries, stored, cent, k=5, nprobe=2, **QK)
    assert _rows(out) == _rows(ivf_probe(queries, idx, cent, k=5, nprobe=2, **QK))
    plan = out._jdf.queryExecution().executedPlan()
    scans = [l for l in plan.toString().splitlines() if "PartitionFilters" in l]
    assert scans and any("cidx" in l and " IN (" in l for l in scans), scans
    # decisive post-execution pin: the scan READ only the probed buckets
    # (<= 5 queries x nprobe=2 partitions), not all n_centroids=16
    n_buckets = idx.select("cidx").distinct().count()
    stack, read = [plan], None
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if "FileSourceScan" in cls:
            it = n.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numPartitions":
                    read = kv._2().value()
        if "AdaptiveSparkPlan" in cls:  # AQE wrapper: descend explicitly
            stack.append(n.executedPlan())
        elif "QueryStage" in cls:
            stack.append(n.plan())
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
    assert read is not None and 0 < read <= 10 < n_buckets, (read, n_buckets)


def test_assignment_stats_bounds_and_batch_split(spark):
    """ivf_assignment_stats: every indexed row lands in its bucket's ``n``,
    cosines to the own centroid are bounded, and stats of two disjoint
    batches add up to the stats of their union."""
    emb = load_table(spark, SF, "embeddings")
    cent = ivf_centroids(emb, n_centroids=8, seed=42, **IDK)
    idx = ivf_corpus_index(emb, cent, **IDK)
    full = {r["cidx"]: r for r in ivf_assignment_stats(idx, cent).collect()}
    assert sum(r["n"] for r in full.values()) == emb.count()
    assert all(-1.0 <= r["min_cos"] <= r["mean_cos"] <= 1.0 for r in full.values())

    parts = [
        {r["cidx"]: r for r in ivf_assignment_stats(
            idx.where(F.col("id") % 2 == m), cent).collect()}
        for m in (0, 1)
    ]
    for cidx, r in full.items():
        halves = [p[cidx] for p in parts if cidx in p]
        assert sum(h["n"] for h in halves) == r["n"]
        assert min(h["min_cos"] for h in halves) == r["min_cos"]
        mean = sum(h["n"] * h["mean_cos"] for h in halves) / r["n"]
        assert abs(mean - r["mean_cos"]) < 1e-9


def test_incremental_append_equals_rebuilt_join(spark):
    """Ingesting a new batch = ivf_corpus_index(batch, SAME centroids)
    unioned onto the stored index; the probe must equal ivf_topk_join
    over the rebuilt (old ∪ new) corpus with those centroids."""
    emb = load_table(spark, SF, "embeddings")
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    queries = emb.where(F.col("vec_id") < 12)
    M = S.kmeans_centroids(
        old, vec_col="embedding", id_col="vec_id", k=8, iters=2, seed=7
    )
    cent = ivf_centroids(old, centroids=M, **IDK)
    idx = ivf_corpus_index(old, cent, **IDK).unionByName(
        ivf_corpus_index(new, cent, **IDK)
    )
    got = _rows(ivf_probe(queries, idx, cent, k=4, nprobe=3, **QK))
    want = _rows(
        S.ivf_topk_join(
            emb, queries, corpus_id="vec_id", corpus_vec="embedding",
            query_id="vec_id", query_vec="embedding",
            k=4, nprobe=3, centroids=M,
        )
    )
    assert got == want and len(got) > 0


def test_max_bucket_and_self_exclusion_parity(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    cent = ivf_centroids(emb, n_centroids=8, seed=42, **IDK)
    idx = ivf_corpus_index(emb, cent, **IDK)
    for kw in (dict(max_bucket=20), dict(exclude_self=False)):
        got = _rows(ivf_probe(queries, idx, cent, k=3, nprobe=2, **QK, **kw))
        want = _rows(
            S.ivf_topk_join(
                emb, queries, corpus_id="vec_id", corpus_vec="embedding",
                query_id="vec_id", query_vec="embedding",
                k=3, n_centroids=8, nprobe=2, seed=42, **kw,
            )
        )
        assert got == want, kw
    # self-pairs present when not excluded (cos 1.0, rank 1)
    assert any(q == n and c == 1.0 for q, n, c, _ in got)


def test_probe_empty_queries_and_empty_index(spark):
    """Degenerate inputs stay well-formed: no queries -> empty result
    (the probed-bucket IN-list is empty); empty index -> empty result."""
    emb = load_table(spark, SF, "embeddings")
    cent = ivf_centroids(emb, n_centroids=8, seed=42, **IDK)
    idx = ivf_corpus_index(emb, cent, **IDK)
    none = emb.where(F.lit(False))
    assert ivf_probe(none, idx, cent, k=3, nprobe=2, **QK).count() == 0
    empty_idx = idx.where(F.lit(False))
    some = emb.where(F.col("vec_id") < 3)
    assert ivf_probe(some, empty_idx, cent, k=3, nprobe=2, **QK).count() == 0


def _py_ivf_pq_oracle(spark, emb, queries, CB, n_centroids, nprobe, k):
    """Independent python oracle: md5-sampled centroid assignment (via
    the pinned ivf primitives) + ADC scoring of the probed buckets."""
    import numpy as np

    cent = ivf_centroids(emb, n_centroids=n_centroids, seed=42, **IDK)
    assigned = {
        r["id"]: r["cidx"]
        for r in ivf_corpus_index(emb, cent, **IDK).collect()
    }
    # query -> nprobe buckets via the probe's own assignment path
    from openmldb_spark.pipeline.similarity import _assign_by_centroids
    from openmldb_spark.pipeline.annindex import _cent_arr

    qa = _assign_by_centroids(
        queries, "vec_id", "embedding", "query_id", nprobe, _cent_arr(cent)
    ).collect()
    qbuckets = {}
    for r in qa:
        qbuckets.setdefault(r["query_id"], set()).add(r["__cidx"])
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def norm(v):
        v = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(v)
        return v / (n or 1.0)

    m, k_, ds = CB.shape
    codes = {}
    for vid, v in vecs.items():
        u = norm(v)
        codes[vid] = [
            int(
                np.argmin(
                    ((CB[j] - u[j * ds:(j + 1) * ds]) ** 2).sum(axis=1)
                )
            )
            for j in range(m)
        ]
    want = []
    for qid, buckets in qbuckets.items():
        u = norm(vecs[qid]).reshape(m, ds)
        LUT = np.einsum("jd,jkd->jk", u, CB)
        cand = [
            (nid, float(sum(LUT[j, codes[nid][j]] for j in range(m))))
            for nid, cx in assigned.items()
            if cx in buckets and nid != qid
        ]
        cand.sort(key=lambda t: (-t[1], t[0]))
        want.extend(
            (qid, nid, round(s, 9), r + 1)
            for r, (nid, s) in enumerate(cand[:k])
        )
    return sorted(want)


