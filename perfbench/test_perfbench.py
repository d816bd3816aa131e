"""The benchmark's own tests, on tiny inputs and one shared Spark session.

    python3 -m pytest perfbench -q

They check that BENCHMARK.json and the metric catalogue agree, that every
workload emits every end-to-end and per-layer metric with its unit and a
correct verdict, that a planted wrong answer is counted as failed, and that
the benchmark refuses to run without the program.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

TINY = {
    "tabular": {"scale": 0.002, "files": 2},
    "audio": {"clips": 48, "warm_clips": 16},
    "ingest": {"batch_rows": 200, "merge_rows": 20, "base_batches": 1, "aging_rounds": 1},
}


def bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_catalogue_matches_benchmark_json():
    from perfbench.workloads import WORKLOADS

    b = bench_json()
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: v[:2] for k, v in metrics.PER_LAYER.items()}
    listed = {w["name"] for w in b["workloads"]}
    for name, (_, _, moves) in metrics.PER_LAYER.items():
        for e2e, workload in moves:
            assert e2e in metrics.END_TO_END and workload in WORKLOADS, name
        if name not in metrics.DIAGNOSTIC:
            assert any(workload in listed for _, workload in moves), name


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail([1.0] * 10) is None
    pct, value, n = metrics.tail([float(x) for x in range(1, 31)])
    assert n == 30 and value == 20.0 and sum(x > value for x in range(1, 31)) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_oracle_checks_are_left_out_of_the_timed_spans():
    spans = [{"id": 0, "name": "bench.validate", "parent": None},
             {"id": 1, "name": "executor.validate", "parent": 0},
             {"id": 2, "name": "bench.check", "parent": None},
             {"id": 3, "name": "iceberg.read", "parent": 2}]
    assert [s["id"] for s in metrics.timed_spans(spans)] == [0, 1]


def test_self_time_subtracts_children():
    from perfbench.trace import self_times

    spans = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
             {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
             {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
             {"id": 3, "parent": 0, "start": 5.0, "end": 6.0}]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_session, stop_session

    work = str(tmp_path_factory.mktemp("session"))
    os.makedirs(os.path.join(work, "tmp"))
    s = start_session(work, binary=False)
    yield s
    stop_session(s)


def run_tiny(spark, tmp_path, workload: str, trace: int) -> dict:
    from perfbench.run import run

    args = argparse.Namespace(workload=workload, seed=7, seconds=0.1, trace=trace)
    work = tmp_path / f"{workload}-{trace}"
    work.mkdir()
    return run(args, str(work), spark=spark, size=TINY[workload])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(TINY))
def test_every_metric_emitted_with_unit(spark, tmp_path, workload, trace):
    out = run_tiny(spark, tmp_path, workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    catalogue = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(out["metrics"]) == set(catalogue)
    for name, m in out["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == catalogue[name][0]
        assert isinstance(m["value"], float)
    if trace:
        assert out["metrics"]["trace.coverage"]["value"] > 0.5
    else:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_planted_wrong_answer_is_counted_as_failed(spark, tmp_path, monkeypatch):
    from perfbench.workloads import Tabular

    honest = Tabular.setup

    def setup_with_wrong_oracle(self):
        honest(self)
        key, value = self.oracle[5]
        self.oracle[5] = (key, value + 1)  # one null l_comment too many

    monkeypatch.setattr(Tabular, "setup", setup_with_wrong_oracle)
    out = run_tiny(spark, tmp_path, "tabular", 0)
    assert not out["correct"]
    assert out["failed"] == out["attempted"] >= 1


def test_planted_wrong_gate_verdict_is_counted_as_failed(spark, tmp_path, monkeypatch):
    from perfbench import gen

    def lying(self, i):
        # step 0 is a clean batch that the schedule claims is bad
        return gen.Step("gate", self.batch(False), bad=True) if i == 0 else honest(self, i)

    honest = gen.IngestStream.step
    monkeypatch.setattr(gen.IngestStream, "step", lying)
    out = run_tiny(spark, tmp_path, "ingest", 0)
    assert not out["correct"] and out["failed"] >= 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tabular", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
