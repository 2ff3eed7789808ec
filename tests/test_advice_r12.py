"""Regression pins for the round-11 ADVICE findings (ADVICE.md r11)."""

import pytest

from tests.test_advice_r11 import _gray_jpeg, _media_df


def test_codec_guard_evaluates_on_the_executor(spark, monkeypatch):
    """ADVICE r11: require_codec/the JPEG budget were decided from the
    DRIVER's PIL import, but decoding runs on executors. Simulate the
    split-brain cluster (driver has Pillow, executors do not) by
    monkeypatching the driver module's _PILImage: plan-build must pass,
    and the guard must still fire from the TASK side, where the real
    import probe finds nothing."""
    import openmldb_spark.pipeline.multimodal as M

    if M._pil_available() is not None:
        pytest.skip("PIL importable on workers: the split cannot be faked")

    class _FakePIL:  # the driver "has" a production codec
        pass

    monkeypatch.setattr(M, "_PILImage", _FakePIL)
    df = _media_df(spark, [_gray_jpeg()] * 5)

    # require_codec=True: plan-build passes on the driver's state...
    plan = M.extract_image_features(df, require_codec=True)
    # ...but the serve fails loudly from the executor-side probe
    with pytest.raises(Exception, match="Pillow"):
        plan.collect()

    # auto mode: the budget arms task-side even though the driver
    # believes a codec exists
    with pytest.raises(Exception, match="pure-Python oracle decoder"):
        M.extract_image_features(df, jpeg_budget_per_task=3).collect()
    # and stays within budget otherwise
    assert M.extract_image_features(df, jpeg_budget_per_task=9).count() == 5


def test_imagecodec_split_keeps_public_surface():
    """The decoder split (pipeline/_imagecodec.py, house <=900-line bar)
    must not move the public surface: every decoder name still resolves
    on the multimodal module and is the same object."""
    import openmldb_spark.pipeline._imagecodec as C
    import openmldb_spark.pipeline.multimodal as M

    for name in (
        "_bmp_rgb", "_decode_bmp", "_decode_png", "_png_rgb",
        "_decode_jpeg", "_jpeg_gray", "_gray_features", "_native",
        "_decode_image_stub",
    ):
        assert getattr(M, name) is getattr(C, name), name
