"""The two audio decode kernels (gx_spark/audio_ops.py pcm_map and
pcm_features): the poison-row rule every pcm op shares, workers that
import the package from outside the repo, and a structural pin that keeps
hand-written workers from coming back."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import audio_ops as ao  # noqa: E402
from gx_spark.audio import encode_payload, wav_encode  # noqa: E402

SR = 16000
SCHEMA = "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"

PCM_OPS = {
    "trim_silence": lambda d: ao.trim_silence(d),
    "normalize_gain": lambda d: ao.normalize_gain(d),
    "speed_perturb": lambda d: ao.speed_perturb(d, 1.1),
    "pad_or_trim": lambda d: ao.pad_or_trim(d, 300),
    "augment_noise": lambda d: ao.augment_noise(d, 20.0),
    "transcode_audio": lambda d: ao.transcode_audio(d, "flac"),
    "resample_audio": lambda d: ao.resample_audio(d, 8000),
    "declip_audio": lambda d: ao.declip_audio(d),
    "remove_dc_offset": lambda d: ao.remove_dc_offset(d),
    "remove_hum": lambda d: ao.remove_hum(d),
    "augment_reverb": lambda d: ao.augment_reverb(d),
    "tempo_stretch": lambda d: ao.tempo_stretch(d, 1.25),
    "declick_audio": lambda d: ao.declick_audio(d),
    "denoise_audio": lambda d: ao.denoise_audio(d),
    "augment_pipeline": lambda d: ao.augment_pipeline(
        d, reverb_gain=0.3, snr_db=20.0, tempo=1.1, speed=1.1,
        target_ms=300),
    "repair_pipeline": lambda d: ao.repair_pipeline(d, denoise=True),
}

FEATURE_OPS = (
    "extract_audio_features", "fingerprint_audio", "silence_bounds",
    "segment_stats", "mel_features", "mfcc_features", "spectral_features",
    "pitch_features", "loudness_features", "electrical_features",
    "qa_features", "validate_and_extract_audio",
)


def _tone(n: int) -> np.ndarray:
    t = np.arange(n) / SR
    x = 0.3 * np.sin(2 * np.pi * 440.0 * t) + 0.05  # tone + a DC offset
    return np.rint(x * 32767).astype(np.int16)


def _rows(with_poison: bool):
    rows = [("good", bytearray(encode_payload(_tone(SR // 2), SR, "flac")),
             SR, 500, "flac")]
    if with_poison:
        # a WAV whose header says 0 Hz: it decodes, with sr == 0
        rows.append(("sr0", bytearray(wav_encode(_tone(SR // 4), 0)), 0,
                     250, "pcm_s16le"))
    return rows


@pytest.mark.parametrize("op", sorted(PCM_OPS))
def test_sample_rate_zero_row_is_nulled(spark, op):
    run = PCM_OPS[op]
    out = {r["clip_id"]: r.asDict() for r in run(
        spark.createDataFrame(_rows(True), SCHEMA)).collect()}
    alone = run(spark.createDataFrame(_rows(False), SCHEMA)).collect()[0]
    bad = out["sr0"]
    assert bad["bytes"] is None and bad["codec"] == "pcm_s16le"
    stats = set(bad) - {"clip_id", "bytes", "sr_hz", "codec"}
    assert all(bad[k] is None for k in stats - {"dur_ms"}), bad
    assert out["good"] == alone.asDict()


def test_one_path_shim_and_no_hand_written_workers():
    path = os.path.join(REPO, "gx_spark", "audio_ops.py")
    tree = ast.parse(open(path).read())
    inserts = [n for n in ast.walk(tree)
               if isinstance(n, ast.Call) and ast.unparse(n.func)
               == "sys.path.insert"]
    assert len(inserts) == 1
    defs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    for name in sorted(PCM_OPS) + sorted(FEATURE_OPS):
        fn = defs[name]
        nested = [n for n in ast.walk(fn) if n is not fn and isinstance(
            n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))]
        assert not nested, f"{name} defines its own worker"
        used = {ast.unparse(n) for n in ast.walk(fn)
                if isinstance(n, (ast.Name, ast.Attribute))}
        assert not {u for u in used if u.endswith(
            ("mapInPandas", "pandas_udf"))}, name
        kernel = "pcm_map" if name in PCM_OPS else "pcm_features"
        assert kernel in used, f"{name} does not call {kernel}"


_OUTSIDE_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from gx_spark.audio import encode_payload, ref_transcript, synth_pcm
from gx_spark.audio_ops import repair_pipeline, validate_and_extract_audio

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = []
for i in range(3):
    cid = f"clip_{{i:010d}}"
    pcm = synth_pcm(cid, 16000, 300)
    rows.append((cid, bytearray(encode_payload(pcm, 16000, "flac")), 16000,
                 300, "flac", ref_transcript(cid)))
df = spark.createDataFrame(rows, "clip_id string, bytes binary, sr_hz int, "
                           "dur_ms int, codec string, transcript string")
fixed = repair_pipeline(df).collect()
flags = validate_and_extract_audio(df).collect()
print(json.dumps({{"repaired": sum(r["bytes"] is not None for r in fixed),
                  "decodable": sum(bool(r["decodable"]) for r in flags)}}))
spark.stop()
"""


def test_workers_import_the_package_from_outside_the_repo(tmp_path):
    """Python workers do not see the caller's sys.path; from a cwd outside
    the repo they can import gx_spark only through the kernels' path shim,
    so a stage or extractor captured by reference would fail here."""
    script = tmp_path / "outside.py"
    script.write_text(_OUTSIDE_SCRIPT.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert json.loads(last) == {"repaired": 3, "decodable": 3}
