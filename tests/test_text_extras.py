"""Repetition signals, PII scrubbing, and benchmark-contamination audit
(pipeline/text.py + pipeline/contamination.py) — the r10 additions to the
training-data-curation surface.

Covers: hand-computed goldens, the array≡explode strategy equivalence on
real data, empty/degenerate docs, PII ordering semantics (email before
phone/IP), and the zero/one-shuffle plan shapes the 100 TB story rests on.
"""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.pipeline.contamination import ngram_contamination
from openmldb_spark.pipeline.text import pii_scrub, repetition_features


def _rows(df, key="doc_id"):
    return {r[key]: r.asDict() for r in df.collect()}


# -- repetition_features -----------------------------------------------------


def test_repetition_hand_computed(spark):
    # "a a a b": toks=4, distinct=2 -> dup_token=0.5; top token 'a' x3 -> 0.75
    # bigrams: "a a","a a","a b" -> 3 total, 2 distinct -> dup=1-2/3=0.3333
    # top bigram "a a" x2 -> 0.6667
    df = spark.createDataFrame([(1, "a a a b")], "doc_id int, text string")
    out = repetition_features(df).collect()[0]
    assert out.n_tokens == 4
    assert out.dup_token_ratio == 0.5
    assert out.top_token_ratio == 0.75
    assert out.dup_ngram_ratio == pytest.approx(0.3333)
    assert out.top_ngram_ratio == pytest.approx(0.6667)


def test_repetition_all_unique_and_casefold(spark):
    # lowercasing folds "The"/"the"; all-unique text scores 0 everywhere
    df = spark.createDataFrame(
        [(1, "x y z w"), (2, "The the THE")], "doc_id int, text string"
    )
    got = _rows(repetition_features(df))
    assert got[1]["dup_token_ratio"] == 0.0
    assert got[1]["top_token_ratio"] == 0.25
    assert got[2]["dup_token_ratio"] == pytest.approx(0.6667)
    assert got[2]["top_token_ratio"] == 1.0


def test_repetition_empty_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "solo")], "doc_id int, text string"
    )
    got = _rows(repetition_features(df))
    for d in (1, 2):
        assert got[d]["n_tokens"] == 0
        for c in ("dup_token_ratio", "top_token_ratio", "dup_ngram_ratio", "top_ngram_ratio"):
            assert got[d][c] == 0.0, (d, c)
    # one token: no bigrams at all
    assert got[3]["n_tokens"] == 1
    assert got[3]["top_token_ratio"] == 1.0
    assert got[3]["dup_ngram_ratio"] == 0.0
    assert got[3]["top_ngram_ratio"] == 0.0


def test_repetition_explode_matches_array_on_real_docs(spark):
    """The two physical strategies are the same function: run both over the
    sf0.001 documents and diff."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = ["doc_id", "n_tokens", "dup_token_ratio", "top_token_ratio",
            "dup_ngram_ratio", "top_ngram_ratio"]
    a = repetition_features(docs).select(cols)
    b = repetition_features(docs, method="explode", id_col="doc_id").select(cols)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_repetition_explode_requires_id(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id int, text string")
    with pytest.raises(ValueError, match="id_col"):
        repetition_features(df, method="explode")
    with pytest.raises(ValueError, match="method"):
        repetition_features(df, method="nope")


def test_repetition_array_plan_is_shuffle_free(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = repetition_features(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# -- pii_scrub ---------------------------------------------------------------


def test_pii_scrub_golden(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@sub.example.org then call 555-010-1234 from 10.0.0.1"),
            (2, "no pii here"),
            (3, "two ips 192.168.0.1 8.8.8.8 and 555.010.1234"),
        ],
        "doc_id int, text string",
    )
    got = _rows(pii_scrub(df))
    assert got[1]["text_scrubbed"] == "mail <EMAIL> then call <PHONE> from <IP>"
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ip"]) == (1, 1, 1)
    assert got[2]["text_scrubbed"] == "no pii here"
    assert (got[2]["n_email"], got[2]["n_phone"], got[2]["n_ip"]) == (0, 0, 0)
    assert got[3]["n_ip"] == 2 and got[3]["n_phone"] == 1


def test_pii_scrub_ordering_semantics(spark):
    """The ordering contract: emails are scrubbed FIRST, so a phone-shaped
    local part is one <EMAIL> (not an email torn apart by <PHONE>). And a
    numeric-host address is NOT an email (the pattern requires an
    alphabetic TLD) — its embedded IPv4 is scrubbed instead."""
    df = spark.createDataFrame(
        [(1, "m a.b-555-010-1234@x.com n"), (2, "x a.b@10.0.0.1 y")],
        "doc_id int, text string",
    )
    got = _rows(pii_scrub(df))
    assert got[1]["text_scrubbed"] == "m <EMAIL> n"
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ip"]) == (1, 0, 0)
    assert got[2]["text_scrubbed"] == "x a.b@<IP> y"
    assert (got[2]["n_email"], got[2]["n_phone"], got[2]["n_ip"]) == (0, 0, 1)


def test_pii_scrub_plan_is_shuffle_free(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# -- ngram_contamination -----------------------------------------------------


def test_contamination_golden(spark):
    # doc 1 == benchmark doc -> fully contaminated; doc 2 shares a suffix
    # window; doc 3 disjoint
    corpus = spark.createDataFrame(
        [
            (1, "q w e r t y u"),
            (2, "zz xx e r t y u"),
            (3, "a b c d e f g"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame([(100, "q w e r t y u")], "bid int, text string")
    got = _rows(ngram_contamination(corpus, bench, n=5))
    assert got[1]["n_shingles"] == 3 and got[1]["contamination_ratio"] == 1.0
    assert got[1]["is_contaminated"] is True
    # doc2 shingles: "zz xx e r t","xx e r t y","e r t y u" -> 1 of 3 hits
    assert got[2]["n_contaminated"] == 1
    assert got[2]["contamination_ratio"] == pytest.approx(0.3333)
    assert got[2]["is_contaminated"] is False
    assert got[3]["n_contaminated"] == 0 and got[3]["is_contaminated"] is False


def test_contamination_threshold_and_dedup_shingle_parity(spark):
    corpus = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    bench = spark.createDataFrame([(9, "b c d e f g")], "bid int, text string")
    # doc shingles: "a b c d e","b c d e f"; bench holds the second -> 0.5
    got = _rows(ngram_contamination(corpus, bench, n=5, flag_threshold=0.5))
    assert got[1]["contamination_ratio"] == 0.5 and got[1]["is_contaminated"] is True


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark side must be a BroadcastExchange and the corpus side
    must shuffle exactly once (the per-doc aggregate)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    plan = (
        ngram_contamination(docs, bench, n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan, plan
    # shuffles: the per-doc aggregate on doc_id (corpus side) plus the
    # distinct on the TINY benchmark side feeding the broadcast — and
    # nothing else. No corpus-sized shuffle keyed on shingles.
    non_broadcast = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert len(non_broadcast) == 2, plan
    assert sum("doc_id" in ln for ln in non_broadcast) == 1, plan
    assert sum("__bm_s" in ln for ln in non_broadcast) == 1, plan


def test_contamination_self_benchmark_flags_eval_docs(spark):
    """Eval docs embedded in the corpus (the realistic leak) flag at 1.0."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    out = ngram_contamination(docs, bench, n=5)
    eval_rows = out.filter(F.col("doc_id") % 20 == 0)
    assert eval_rows.filter(~F.col("is_contaminated")).isEmpty()
    assert eval_rows.filter(F.col("contamination_ratio") < 1.0).isEmpty()
