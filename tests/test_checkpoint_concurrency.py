"""CheckpointRunner validates its pending partitions concurrently on a
driver thread pool: partitions are in flight together, a failure leaves
exactly the failed partition to resume, and jobs launched from the pool's
threads keep the caller's job group."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import warnings

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import EngineOptions  # noqa: E402
from gx_spark.checkpoint import CheckpointRunner  # noqa: E402
from gx_spark.model import ExpectationSuite  # noqa: E402
from gx_spark.table_provider import ParquetDirTableProvider  # noqa: E402


def _table(spark, tmp_path, n_parts: int) -> str:
    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(f"c{i}", i % n_parts, float(i)) for i in range(10 * n_parts)],
        "clip_id string, part_id int, v double",
    ).write.partitionBy("part_id").parquet(src)
    return src


def _suite() -> ExpectationSuite:
    return (ExpectationSuite("s")
            .add("expect_column_values_to_not_be_null", column="v")
            .add("expect_column_values_to_be_between", column="v",
                 min_value=0))


def _runner(spark, src, out, suite=None, transform=None):
    return CheckpointRunner(
        spark, suite or _suite(), ParquetDirTableProvider(src, "part_id"),
        out, EngineOptions(unexpected_index_column_names=("clip_id",)),
        transform=transform)


def _part_id(d) -> int:
    return d.select("part_id").first()[0]


def test_two_partitions_are_in_flight_at_once(spark, tmp_path):
    """Each partition's transform waits for the other's: a one-at-a-time
    loop would break the barrier after its timeout."""
    barrier = threading.Barrier(2, timeout=30)

    def transform(d):
        barrier.wait()
        return d

    src = _table(spark, tmp_path, 2)
    res = _runner(spark, src, str(tmp_path / "out"), transform=transform).run()
    assert res.validated_partitions == [0, 1]
    assert res.all_success


def test_failed_partition_stays_pending_and_resumes_alone(spark, tmp_path):
    class Boom(RuntimeError):
        pass

    # every partition reaches the barrier before partition 1 raises, so
    # none of the others is cancelled before it starts
    barrier = threading.Barrier(4, timeout=30)

    def failing(d):
        pid = _part_id(d)
        barrier.wait()
        if pid == 1:
            raise Boom("partition 1")
        return d

    src = _table(spark, tmp_path, 4)
    out = str(tmp_path / "out")
    runner = _runner(spark, src, out, transform=failing)
    with pytest.raises(Boom):
        runner.run()
    snap = runner.provider.snapshot_id()
    assert not runner.manifest.is_done(snap, 1)
    assert all(runner.manifest.is_done(snap, p) for p in (0, 2, 3))

    healthy = _runner(spark, src, out, transform=lambda d: d)
    res = healthy.run()
    assert res.validated_partitions == [1]
    assert res.skipped_partitions == [0, 2, 3]
    rows = healthy.results()
    assert rows.count() == 4 * len(_suite().expectations)
    per_key = rows.groupBy("partition_id", "expectation_index").count()
    assert per_key.agg(F.max("count")).first()[0] == 1


def _probe_job(spark, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    spark.range(1).collect()
    tracker = sc.statusTracker()
    # the status store is fed asynchronously; once this job shows up,
    # every job submitted before it has too
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
        time.sleep(0.05)
    (job,) = tracker.getJobIdsForGroup(group)
    return job


def test_worker_jobs_keep_the_callers_job_group(spark, tmp_path):
    src = _table(spark, tmp_path, 4)
    runner = _runner(spark, src, str(tmp_path / "out"))
    sc = spark.sparkContext
    group = "gx-checkpoint-tag-test"
    before = _probe_job(spark, "gx-checkpoint-tag-before")
    sc.setJobGroup(group, "checkpoint run")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            res = runner.run()
        after = _probe_job(spark, "gx-checkpoint-tag-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.validated_partitions == [0, 1, 2, 3]
    launched = set(range(before + 1, after))
    tagged = set(sc.statusTracker().getJobIdsForGroup(group))
    assert len(launched) >= 4
    assert launched == tagged
    assert not [w for w in caught if "will not be inherited" in str(w.message)]


def test_query_expectation_sees_its_own_partition(spark, tmp_path, monkeypatch):
    """`expect_query_to_return_no_rows` names its batch `batch` session-wide.
    Registrations are held apart here until both workers have registered
    (or 3 s pass): each partition must still query its own rows."""
    from pyspark.sql import DataFrame

    real = DataFrame.createOrReplaceTempView
    barrier = threading.Barrier(2, timeout=3)

    def register_then_wait(self, name):
        real(self, name)
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView",
                        register_then_wait)
    src = _table(spark, tmp_path, 2)
    suite = ExpectationSuite("q").add(
        "expect_query_to_return_no_rows",
        query="SELECT * FROM batch WHERE part_id = 1")
    runner = _runner(spark, src, str(tmp_path / "out"), suite=suite)
    res = runner.run()
    assert res.validated_partitions == [0, 1]
    got = {r["partition_id"]: r["success"]
           for r in runner.results().select("partition_id", "success").collect()}
    assert got == {0: True, 1: False}


_UNPINNED_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from gx_spark.checkpoint import CheckpointRunner
from gx_spark.model import ExpectationSuite
from gx_spark.table_provider import ParquetDirTableProvider

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.createDataFrame([(f"c{{i}}", i, i % 2) for i in range(20)],
                      "clip_id string, v int, part_id int"
                      ).write.partitionBy("part_id").parquet({src!r})
suite = ExpectationSuite("s").add("expect_column_values_to_not_be_null",
                                  column="v")
res = CheckpointRunner(spark, suite, ParquetDirTableProvider({src!r}),
                       {out!r}).run()
print(json.dumps({{"validated": res.validated_partitions}}))
spark.stop()
"""


def test_runs_without_pinned_threads(tmp_path):
    """With PYSPARK_PIN_THREAD=false, PySpark's inheritable_thread_target
    returns the session instead of a decorator; the run must still work."""
    script = tmp_path / "unpinned.py"
    script.write_text(_UNPINNED_SCRIPT.format(
        repo=REPO, src=str(tmp_path / "t"), out=str(tmp_path / "out")))
    env = dict(os.environ, PYSPARK_PIN_THREAD="false",
               PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert json.loads(last) == {"validated": [0, 1]}
