"""Benchmark-contamination check: flag training documents whose word
n-grams overlap an evaluation/benchmark corpus (the standard
train-test-leak audit run before pretraining — cf. GPT-3 appendix C /
PaLM §8 style n-gram decontamination).

Scale shape (the reason this is not a per-row array intersection):

- The benchmark side is small (eval sets are MBs even when the training
  corpus is 100 TB): its distinct shingle set is computed once and
  **broadcast** — no shuffle of the big side against it.
- The corpus side explodes each document's *distinct* shingles, LEFT
  JOINs the broadcast benchmark set, and re-aggregates per document —
  exactly ONE shuffle, on the document id, with map-side partial counts.
- Nothing quadratic: hot shingles cost what they cost on the corpus side
  only; the join is hash-probe per shingle.

Reuses the dedup ops' hashed shingle pipeline (lowercased, distinct word
n-grams; short docs fall back to the whole text as one shingle) so
contamination and dedup agree on what a shingle is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from .dedup import _hash_shingles_array


def _hashed_doc_shingles(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, exploded distinct 64-bit shingle hash) — the zero-string shingle
    pipeline shared with the dedup ops (multiply-shift combine of word
    xxhash64s; short docs fall back to one whole-text shingle)."""
    return _hash_shingles_array(docs, id_col, text_col, n).select(
        F.col("__dd_id").alias(id_col),
        F.explode(F.array_distinct("__dd_sh")).alias("__s"),
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Per-document contamination stats vs a benchmark corpus:

    ``n_shingles``       distinct word-``n``-grams in the document
    ``n_contaminated``   how many of those appear anywhere in the benchmark
    ``contamination_ratio``  n_contaminated / n_shingles (4 dp)
    ``is_contaminated``  ratio >= ``flag_threshold``

    One shuffle (on ``id_col``); the benchmark shingle set is broadcast.

    r13 (guide §4.2/§2.3 applied to the JVM side): both sides shingle in
    64-bit HASH space — the dedup ops' multiply-shift pipeline — instead
    of materializing, exploding, broadcasting and hash-probing shingle
    STRINGS (~n words of text per shingle per occurrence). Membership
    counts are identical up to the house set-over-hash convention
    (~2^-64/pair collisions, the same contract ``jaccard_dedup``
    already carries).

    Empty-document contract (adjudicated r14, ADVICE r13 #1): documents
    whose text is NULL/empty/whitespace-only produce an empty shingle
    array, explode to zero rows, and do NOT appear in the output — unlike
    the pre-r13 string path, whose short-doc fallback emitted one
    whole-text shingle (n_shingles=1) for every doc. The r13 change moved
    query + DuckDB oracle together (both sides derive stats from the
    exploded hash form), the gate has been green on it for two rounds,
    and "a document with no shingles has no contamination row" is the
    defensible audit semantics; restoring per-empty-doc rows now would
    change declared-query output. Callers needing every doc represented
    left-join the stats back onto the corpus ids.
    """
    bench = benchmark.select(F.lit(0).alias("__bm_id"), F.col(bench_text_col))
    bm = broadcast(
        _hashed_doc_shingles(bench, "__bm_id", bench_text_col, n)
        .select(F.col("__s").alias("__bm_s"))
        .distinct()
    )
    ex = _hashed_doc_shingles(docs, id_col, text_col, n)
    marked = ex.join(bm, ex["__s"] == bm["__bm_s"], "left")
    stats = marked.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.count("__bm_s").alias("n_contaminated"),
    )
    ratio = F.round(
        F.col("n_contaminated")
        / F.when(F.col("n_shingles") > 0, F.col("n_shingles").cast("double")).otherwise(1.0),
        4,
    )
    return stats.withColumn("contamination_ratio", ratio).withColumn(
        "is_contaminated", (F.col("contamination_ratio") >= flag_threshold)
    )
