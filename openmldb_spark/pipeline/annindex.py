"""Persisted IVF index for embedding similarity: embed a 100 TB corpus once, persist its inverted-file layout, and serve
top-k probes and new-batch ingestion without ever re-scanning (or
re-clustering) the corpus.

Three persistable pieces, all plain parquet:

- :func:`ivf_centroids` — the centroid table ``(cidx, centroid)``,
  ≤ n_centroids rows. Either the portable md5-hash sample (bit-exact in
  any SQL engine — the oracle path) or a trained matrix from
  :func:`~openmldb_spark.pipeline.similarity.kmeans_centroids`.
- :func:`ivf_corpus_index` — one row per corpus vector ``(id, vec,
  cidx)``, its nearest centroid by (cos desc, cidx asc). Write it
  ``.write.partitionBy("cidx").parquet(...)``: probes then prune to the
  probed buckets AT THE FILE LEVEL (Spark partition pruning — a probe
  with nprobe=4 of 64 centroids reads ~1/16th of a 100 TB index, which
  is the entire point of the layout).
- new batches: ``ivf_corpus_index(batch, same_centroids)`` appended to
  the same partitioned path — ingestion without re-clustering (centroid
  drift is an offline re-train + rebuild decision, as in any IVF
  system).

Consistency contract (pinned in ``tests/test_annindex.py``):
:func:`ivf_probe` over ``ivf_corpus_index(corpus, C)`` equals
:func:`~openmldb_spark.pipeline.similarity.ivf_topk_join` over the raw
corpus with ``centroids/seed`` matched — same assignment, same scoring
(sequential JVM ``F.aggregate`` cosine), same (cos desc, id asc) tie
rule — so the persisted-index path inherits the join sibling's DuckDB
oracle transitively.

Reference note: the reference has no ANN surface; this is Spark-native
pipeline tooling (SURVEY §6 pipeline additions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _assign_by_centroids, _centroid_array, dot, l2_norm


def ivf_centroids(
    corpus: DataFrame,
    *,
    corpus_id: str,
    corpus_vec: str,
    n_centroids: int = 16,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """The persistable centroid table ``(cidx int, centroid
    array<double>)``. With ``centroids=`` a trained (k, dim) matrix
    (:func:`~openmldb_spark.pipeline.similarity.kmeans_centroids`) is
    embedded as literals; otherwise the ``n_centroids`` corpus rows with
    smallest portable md5 hash — the exact sampling (and cidx numbering)
    of ``ivf_topk_join``, kept in lockstep so the two paths assign
    identically."""
    spark = corpus.sparkSession
    if centroids is not None:
        return spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cidx int, centroid array<double>",
        )
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(seed), F.col("__cent_src"))), 1, 15),
        16,
        10,
    ).cast("long")
    cent = (
        corpus.select(
            F.col(corpus_id).alias("__cent_src"),
            F.col(corpus_vec).alias("centroid"),
        )
        .withColumn("__h", h)
        .orderBy("__h", "__cent_src")
        .limit(int(n_centroids))
    )
    return cent.withColumn(
        "cidx", F.row_number().over(Window.orderBy("__h", "__cent_src")) - 1
    ).select("cidx", "centroid")


def _cent_arr(centroids: DataFrame) -> DataFrame:
    return _centroid_array(
        centroids.select(
            F.col("cidx").alias("__cidx"), F.col("centroid").alias("__cent_v")
        )
    )


def ivf_corpus_index(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    corpus_id: str,
    corpus_vec: str,
) -> DataFrame:
    """One row per corpus vector: ``(id, vec, cidx)`` — nearest centroid
    by (cos desc, cidx asc). Assignment is zero-shuffle (the centroid
    table collapses to one broadcast row; each vector picks its centroid
    with a per-row array sort). ``cidx`` is LAST so
    ``.write.partitionBy("cidx")`` lays the index out for probe-time
    partition pruning; append new batches to the same path to ingest
    without re-clustering."""
    return _assign_by_centroids(
        corpus, corpus_id, corpus_vec, "id", 1, _cent_arr(centroids)
    ).select(F.col("id"), F.col("__v").alias("vec"), F.col("__cidx").alias("cidx"))


def ivf_probe(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    *,
    query_id: str,
    query_vec: str,
    k: int = 10,
    nprobe: int = 4,
    exclude_self: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k against a persisted IVF index:
    ``(query_id, neighbor_id, cos, rank)`` — exactly ``ivf_topk_join``'s
    output contract (pinned equal given the same centroids).

    Plan shape: queries assign to their ``nprobe`` nearest centroids
    zero-shuffle (broadcast centroid array); the DISTINCT probed bucket
    ids — ≤ nprobe × n_queries ints, a bounded serving-side collect —
    become a LITERAL ``cidx IN (...)`` filter on the index, so a
    cidx-partitioned parquet index prunes unprobed buckets at the file
    level (at 100 TB the probe reads nprobe/n_centroids of the index,
    never all of it; plan-pinned in ``tests/test_annindex.py``); the
    bucket equi-join broadcasts the query side, scores exact cosine, and
    ranks per query. ``max_bucket`` drops degenerate buckets via a tiny
    count-agg, same stance as ``ivf_topk_join``."""
    cent_arr = _cent_arr(centroids)
    # the assignment is evaluated ONCE (checkpoint): the probed-bucket
    # literal and the join side must come from the SAME evaluation, or a
    # nondeterministic/growing query source could assign a query to a
    # bucket missing from the frozen IN-list and silently under-return.
    # F.slice caps at the array length, so nprobe > n_centroids needs no
    # count() probe.
    qa = (
        _assign_by_centroids(
            queries, query_id, query_vec, "query_id", int(nprobe), cent_arr
        )
        .withColumnRenamed("__v", "__qv")
        .withColumnRenamed("__vn", "__qvn")
        .localCheckpoint()
    )
    # serving shape: queries are the bounded side; their probed buckets
    # become plan literals so the index scan partition-prunes
    probed = sorted(r["__cidx"] for r in qa.select("__cidx").distinct().collect())
    ca = (
        index.where(F.col("cidx").isin(probed))
        .select(
            F.col("id").alias("neighbor_id"),
            F.col("vec").alias("__cv"),
            # r13: fold each candidate's norm ONCE per index row (it was
            # re-folded per (query, candidate) pair inside cosine)
            l2_norm(F.col("vec")).alias("__cvn"),
            F.col("cidx").alias("__cidx"),
        )
    )
    if max_bucket is not None:
        bsize = ca.groupBy("__cidx").agg(F.count(F.lit(1)).alias("__bsize"))
        ca = (
            ca.join(F.broadcast(bsize), "__cidx")
            .filter(F.col("__bsize") <= max_bucket)
            .drop("__bsize")
        )
    # operand order of `cosine` preserved: dot / (q_norm * c_norm)
    scored = ca.join(F.broadcast(qa), "__cidx").select(
        "query_id",
        "neighbor_id",
        (dot(F.col("__qv"), F.col("__cv")) / (F.col("__qvn") * F.col("__cvn"))).alias("cos"),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_assignment_stats(indexed: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-bucket assignment-quality stats over an already-assigned index
    slice: ``(cidx, n, mean_cos, min_cos)`` — cosine of each vector to
    its OWN centroid. Cost shape: one broadcast join on ``cidx`` (the
    centroid table is ≤ n_centroids rows) + one map-side-combinable
    ``groupBy(cidx)`` collapsing to ≤ n_centroids output rows — no
    re-assignment, no extra pass over the vectors beyond the one scan.
    This is the measured input the "re-train centroids?" decision needs:
    compare a new batch's distribution against the build-time one — a
    batch whose mean cosine to its assigned centroids falls well below
    the build-time mean is drifting out of the trained partitioning."""
    # r13: the cosine is projected ONCE per row (it sat inside both the
    # avg and the min aggregate expressions — two full folds per row), and
    # each centroid's norm is precomputed on the ≤n_centroids broadcast
    # side; operand order of `cosine` preserved, values bit-identical
    c = centroids.select(
        "cidx", "centroid", l2_norm(F.col("centroid")).alias("__cn")
    )
    cosv = dot(F.col("vec"), F.col("centroid")) / (
        l2_norm(F.col("vec")) * F.col("__cn")
    )
    return (
        indexed.join(F.broadcast(c), "cidx")
        .select("cidx", cosv.alias("__cos"))
        .groupBy("cidx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("__cos").alias("mean_cos"),
            F.min("__cos").alias("min_cos"),
        )
    )


