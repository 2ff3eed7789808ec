"""Regression pins for the round-10 ADVICE findings (ADVICE.md r10)."""

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from openmldb_spark.pipeline.contamination import ngram_contamination


def test_contamination_oracle_matches_on_short_docs(spark):
    """ADVICE r10 #1: the DuckDB oracle dropped docs with <n tokens while
    the shingle pipeline falls back to the whole text as one shingle — a latent gate
    mismatch masked by the sf0.001 corpus's 10-token minimum. The oracle
    now mirrors the fallback; pin equality on a corpus that HAS short docs."""
    rows = [
        (0, "one two"),               # 2 tokens, benchmark member
        (20, "one two"),              # exact short-doc leak -> 1.0
        (40, "a b c d e f g h"),      # benchmark member
        (1, "a b c d e f g h x y z"), # partially contaminated
        (2, "zz"),                    # 1-token doc, uncontaminated
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    got = sorted(
        tuple(r) for r in ngram_contamination(docs, bench, n=5).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join("(%d, %r)" % r for r in rows)
        + ") t(doc_id, text)"
    )
    want = sorted(con.execute(entry.oracle_sql()["contamination_ngram"]).fetchall())
    assert got == want


# -- multimodal production-codec contract (VERDICT r10 #5) -------------------


def _gray_jpeg():
    import numpy as np

    from tests.test_pipeline import _jpeg_encode_gray

    img = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
    return _jpeg_encode_gray(img, np.ones(64, dtype=np.int32))


def _media_df(spark, payloads, mime="image/jpeg"):
    return spark.createDataFrame(
        [(f"m{i}", mime, p) for i, p in enumerate(payloads)],
        "media_id string, mime string, payload binary",
    ).coalesce(1)


def test_require_codec_true_raises_without_pil(spark):
    import openmldb_spark.pipeline.multimodal as M

    if M._PILImage is not None:
        pytest.skip("PIL importable: the production path exists")
    df = _media_df(spark, [_gray_jpeg()])
    with pytest.raises(ImportError, match="Pillow"):
        M.extract_image_features(df, require_codec=True)


def test_require_codec_rejects_bad_value(spark):
    import openmldb_spark.pipeline.multimodal as M

    df = _media_df(spark, [_gray_jpeg()])
    with pytest.raises(ValueError, match="require_codec"):
        M.extract_image_features(df, require_codec="yes")


def test_auto_budget_raises_on_large_jpeg_input(spark):
    """auto mode: more JPEGs per task than the budget -> loud failure
    instead of silently decoding at oracle speed."""
    import openmldb_spark.pipeline.multimodal as M

    if M._PILImage is not None:
        pytest.skip("PIL importable: the budget guard never arms")
    df = _media_df(spark, [_gray_jpeg()] * 5)
    with pytest.raises(Exception, match="pure-Python oracle decoder"):
        M.extract_image_features(df, jpeg_budget_per_task=3).collect()


def test_auto_budget_passes_under_and_codec_false_always(spark):
    import openmldb_spark.pipeline.multimodal as M

    jp = _gray_jpeg()
    df = _media_df(spark, [jp] * 3)
    assert M.extract_image_features(df, jpeg_budget_per_task=3).count() == 3
    # explicit opt-out: over budget but permitted
    df5 = _media_df(spark, [jp] * 5)
    assert (
        M.extract_image_features(
            df5, require_codec=False, jpeg_budget_per_task=3
        ).count()
        == 5
    )


def test_auto_budget_ignores_non_jpeg(spark):
    """BMP/PNG native decoders ARE production-grade (19-55 Mpix/s); only
    JPEGs count against the oracle budget."""
    import openmldb_spark.pipeline.multimodal as M
    from tests.test_pipeline import _tiny_bmp

    bmp = _tiny_bmp([[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (9, 9, 9)]])
    df = _media_df(spark, [bmp] * 10, mime="image/bmp")
    assert M.extract_image_features(df, jpeg_budget_per_task=2).count() == 10
