"""A WAV cut inside its fmt chunk is a poison row: the parser must reject it
with ValueError (the decode guards' failure type), so the row is flagged
undecodable instead of failing the whole job."""

from __future__ import annotations

import os
import struct
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import validate  # noqa: E402
from gx_spark.audio import (_WAV_FMT_IMA_ADPCM, encode_payload,  # noqa: E402
                            wav_decode_multi, wav_encode)
from gx_spark.suites import audio_suite  # noqa: E402

SR = 16000
SCHEMA = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
          "codec string, transcript string")


def _wav() -> bytes:
    return wav_encode(np.zeros(1600, dtype=np.int16), SR)


@pytest.mark.parametrize("cut", [13, 20, 24, 30, 35, 36])
def test_short_prefix_raises_value_error(cut):
    with pytest.raises(ValueError):
        wav_decode_multi(_wav()[:cut])


def test_truncated_adpcm_extension_raises_value_error():
    b = wav_encode(np.zeros(1600, dtype=np.int16), SR, _WAV_FMT_IMA_ADPCM)
    (clen,) = struct.unpack("<I", b[16:20])
    assert clen == 20
    with pytest.raises(ValueError):   # ends inside the 4-byte extension
        wav_decode_multi(b[:20 + 18])


def _frame(spark):
    tone = np.rint(3000 * np.sin(np.arange(SR // 2) * 0.05)).astype(np.int16)
    good = encode_payload(tone, SR, "pcm_s16le")
    rows = [("good", bytearray(good), SR, 500, "pcm_s16le", "hello")]
    for cut in (30, 36):
        rows.append((f"cut{cut}", bytearray(_wav()[:cut]), SR, 100,
                     "pcm_s16le", "hello"))
    return spark.createDataFrame(rows, SCHEMA)


def test_truncated_fmt_rows_complete_in_validate(spark):
    from gx_spark.audio import make_audio_flags_udf

    df = _frame(spark)
    bundle = validate(spark, df, audio_suite())
    try:
        for r in bundle.suite_result.results:
            assert not r.exception_info["raised_exception"], (
                r.expectation_config.expectation_type, r.exception_info)
    finally:
        bundle.unpersist()
    flags = {r["clip_id"]: r["f"].asDict() for r in df.select(
        "clip_id", make_audio_flags_udf()(
            "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"
        ).alias("f")).collect()}
    assert flags["good"]["decodable"]
    assert not flags["cut30"]["decodable"]
    assert flags["cut30"] == flags["cut36"]


def test_truncated_fmt_rows_complete_in_extract(spark):
    from gx_spark.audio_ops import validate_and_extract_audio

    out = {r["clip_id"]: r.asDict() for r in
           validate_and_extract_audio(_frame(spark)).collect()}
    assert out["good"]["decodable"]
    a, b = out["cut30"], out["cut36"]
    assert not a["decodable"]
    a.pop("clip_id"), b.pop("clip_id")
    assert a == b
