"""Product quantization (PQ) for embedding similarity — the
memory-bounded ANN scale path.

At 100 TB, the similarity problem is usually storage-bound before it is
compute-bound: a corpus of 1e11 float32[768] vectors is ~300 TB of raw
payload. PQ splits each (L2-normalized) vector into ``m`` subvectors and
replaces each subvector with the index of its nearest codebook centroid:
the stored row shrinks to ``m`` small ints (+id), a ~100-400× reduction,
and search runs entirely against the codes via asymmetric distance
computation (ADC) — each query builds an ``m × k`` lookup table of
subspace dot products ONCE, and every corpus code scores with ``m``
table lookups instead of a ``dim``-length float dot product.

Spark-first decomposition (mirroring :mod:`.similarity`'s house rules —
corpus streams once, queries broadcast, no cross-join materialization,
no unbounded driver collect):

- :func:`pq_sampled_codebooks` — the PORTABLE codebook: the ``k``
  corpus rows with smallest md5 hash donate their subvectors (the exact
  sampling rule of ``ivf_centroids``). No training state — bit-exactly
  reproducible in any SQL engine with md5 + IEEE doubles, which is what
  the DuckDB correctness oracle runs.
- :func:`pq_encode` — Arrow-batched argmin over the broadcast codebook
  (exact L2 in each subspace); adds an ``array<int>`` code column, zero
  shuffles.
- :func:`pq_topk` — ADC top-k: queries collect+broadcast as LUTs, the
  code table streams once, each batch reduces to its local top-k under
  the total (score desc, id asc) order — the global top-k is exact over
  the union (same argument as ``brute_force_topk``).

Scoring semantics: vectors are L2-normalized before encoding, so the
ADC inner product approximates COSINE similarity — the house metric of
:mod:`.similarity` — and ``pq_topk`` output matches the
``(query_id, neighbor_id, cos, rank)`` contract of its exact siblings
(``cos`` here is the PQ approximation).

Reference note: the reference has no ANN surface; this is Spark-native
pipeline tooling (SURVEY §6 pipeline additions).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from .similarity import _id_sql_type, _spread


def _check_split(dim: int, m: int) -> None:
    if dim % m:
        raise ValueError(
            f"pq: m={m} must divide the embedding dim={dim} "
            "(equal-width subspaces)"
        )


def _normalize(V):
    import numpy as np

    V = np.asarray(V, dtype=np.float64)
    n = np.linalg.norm(V, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return V / n


def pq_sampled_codebooks(
    corpus: DataFrame,
    *,
    corpus_id: str,
    corpus_vec: str,
    m: int = 8,
    k: int = 16,
    seed: int = 42,
):
    """The portable (training-free) codebook: the ``k`` corpus rows with
    smallest ``md5(seed|id)`` hash — the exact deterministic sampling of
    ``ivf_centroids``, numbered in (hash, id) order — donate their
    L2-normalized subvectors. Returns a numpy ``(m, k, dim/m)`` float64
    array. Bit-reproducible in SQL (the DuckDB oracle path)."""
    import numpy as np

    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(seed), F.col("__i").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    rows = (
        corpus.select(F.col(corpus_id).alias("__i"), F.col(corpus_vec).alias("__v"))
        .withColumn("__h", h)
        .orderBy("__h", "__i")
        .limit(int(k))
        .collect()
    )
    V = _normalize([r["__v"] for r in rows])
    dim = V.shape[1]
    _check_split(dim, m)
    if V.shape[0] < k:
        # tiny corpus: pad by cycling the sampled rows (deterministic)
        reps = -(-k // V.shape[0])
        V = np.tile(V, (reps, 1))[:k]
    return V.reshape(k, m, dim // m).transpose(1, 0, 2).copy()


def pq_encode(
    df: DataFrame,
    *,
    vec_col: str,
    codebooks,
    out_col: str = "pq_code",
) -> DataFrame:
    """Append the PQ code column: ``array<int>`` of length ``m``, the
    nearest codebook centroid per subspace by exact L2 over the
    L2-NORMALIZED vector (ties break to the lowest code — numpy argmin —
    so encoding is deterministic given a codebook). Zero shuffles: one
    Arrow-batched map over the rows; every other column passes through.
    Persist the encoded table WITHOUT the vector column to realize the
    compression (the code is ~m ints vs dim floats)."""
    import numpy as np

    spark = df.sparkSession
    CB = np.asarray(codebooks, dtype=np.float64)
    mm, kk, ds = CB.shape
    bc = spark.sparkContext.broadcast(CB)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(IntegerType()))]
    )

    def encode(batches: Iterator["object"]) -> Iterator["object"]:
        CBl = bc.value
        mml, kkl, dsl = CBl.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _normalize(list(pdf[vec_col]))
            _check_split(V.shape[1], mml)
            codes = np.empty((V.shape[0], mml), dtype=np.int64)
            for j in range(mml):
                X = V[:, j * dsl:(j + 1) * dsl]
                d2 = (CBl[j] ** 2).sum(axis=1)[None, :] - 2.0 * (X @ CBl[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            pdf = pdf.copy()
            pdf[out_col] = [row.tolist() for row in codes]
            yield pdf

    return df.mapInPandas(encode, schema)


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    code_col: str,
    query_id: str,
    query_vec: str,
    codebooks,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k against a PQ-coded corpus (ADC):
    ``(query_id, neighbor_id, cos, rank)`` — ``cos`` is the PQ
    approximation Σ_j LUT[j, code_j] with LUT[j, c] = q̂_j · codebook[j,c]
    (q̂ the L2-normalized query).

    Plan shape: queries are the bounded side — collected once and
    broadcast as per-query LUTs (``n_queries × m × k`` doubles); the code
    table streams through exactly once, each Arrow batch scoring with
    ``m`` numpy table-gathers (no float vectors read at all) and reducing
    to its local top-k; the global top-k is the exact top-k of the union
    under the total (score desc, id asc) order — the ``brute_force_topk``
    argument, with codes in place of vectors."""
    import numpy as np

    spark = corpus_codes.sparkSession
    CB = np.asarray(codebooks, dtype=np.float64)
    mm, kk, ds = CB.shape
    qrows = queries.select(query_id, query_vec).collect()
    qids = [r[0] for r in qrows]
    if qids:
        Qn = _normalize([r[1] for r in qrows])
        _check_split(Qn.shape[1], mm)
        # LUTs: (n_queries, m, k) — query subvector · every codebook entry
        LUT = np.einsum("qjd,jkd->qjk", Qn.reshape(len(qids), mm, ds), CB)
    else:
        LUT = np.zeros((0, mm, kk))
    bc = spark.sparkContext.broadcast((qids, LUT))

    id_t = _id_sql_type(corpus_codes, corpus_id)
    out_schema = (
        f"query_id {_id_sql_type(queries, query_id)}, neighbor_id {id_t},"
        " cos double"
    )

    def score(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        qids_l, LUT_l = bc.value
        if not qids_l:
            return
        qarr = np.asarray(qids_l)
        nq, mml, _ = LUT_l.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.asarray(list(pdf[code_col]), dtype=np.int64)
            cids = pdf[corpus_id].to_numpy()
            S = np.zeros((codes.shape[0], nq))
            for j in range(mml):
                # (nq, batch) gather of LUT[q, j, code_j] — transposed add
                S += LUT_l[:, j, codes[:, j]].T
            kk_local = min(k + (1 if exclude_self else 0), S.shape[0])
            order = np.lexsort((np.broadcast_to(cids[:, None], S.shape).T, -S.T))
            top = order[:, :kk_local]
            qi = np.repeat(np.arange(nq), kk_local)
            ci = top.ravel()
            yield pd.DataFrame(
                {
                    "query_id": qarr[qi],
                    "neighbor_id": cids[ci],
                    "cos": S[ci, qi],
                }
            )

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    scored = _spread(
        corpus_codes.select(corpus_id, code_col), n_part
    ).mapInPandas(score, out_schema)
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


