"""Resumable per-partition validation runs (north rule BASELINE.json:6).

The reference's Checkpoint (ref: checkpoint/checkpoint.py#Checkpoint.run)
orchestrates validate→store-result→actions per batch; ours is the scaled
equivalent: per-partition validation with a durable manifest so a killed
spark-submit job restarts only unvalidated partitions.

Concurrency: the pending partitions run at once on a driver thread pool of
min(pending, sc.defaultParallelism) workers, because one partition's scan
may not fill the cores (a parquet row group is one task; a binary-heavy
audio file is often a single row group).  Workers inherit the caller's job
group, local properties and tags.  With a transform and extra outputs, up
to defaultParallelism transformed partitions are cached at once.  The
manifest and the actions stay on the calling thread:
`validated_partitions` comes back in provider order, `partition_validated`
events fire in completion order.  On a failure, partitions not yet started
are cancelled, running ones finish (and are marked done if they succeed),
and the first exception is re-raised; the failed partition stays pending.

Manifest: append-only JSONL log at <results_dir>/_checkpoint_manifest.json,
one line per (snapshot_id, partition_id) status change (last line wins;
fsync per mark; torn tail lines ignored on load) — O(1) I/O per partition
instead of a full-document rewrite, so a 10k-partition run writes O(P)
manifest bytes.  Legacy whole-dict JSON manifests are migrated in place.
Validation outputs append to <results_dir>/_validation_results and
<results_dir>/_violations parquet tables (partition lineage columns
included in every row).
"""

from __future__ import annotations

import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .executor import ValidationRun
from .model import EngineOptions, ExpectationSuite
from .table_provider import PartitionRef, TableProvider


class CheckpointManifest:
    """Durable (snapshot, partition) status ledger.

    Persistence is an append-only JSONL LOG (one line per status change,
    last line per key wins), not a full-document rewrite: marking a
    partition is O(1) I/O, so a P-partition run writes O(P) total manifest
    bytes instead of the O(P^2) a rewrite-the-JSON-each-mark scheme costs.
    A torn final line (killed mid-append) is ignored on load — the
    partition simply re-runs, which the per-partition overwrite writes
    make idempotent.  Legacy whole-dict JSON manifests load transparently
    and are migrated to the log on the next mark."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.entries: dict[str, dict[str, Any]] = {}
        self._migrated = True
        if os.path.exists(path):
            with open(path) as f:
                content = f.read()
            lines = [ln for ln in content.splitlines() if ln.strip()]
            if len(lines) == 1 or content.lstrip().startswith("{\n"):
                # legacy whole-dict format (pretty-printed multi-line JSON,
                # or a single line that parses to a dict-of-dicts)
                try:
                    obj = json.loads(content)
                    if obj and all(isinstance(v, dict) and "status" in v
                                   for v in obj.values()):
                        self.entries = obj
                        self._migrated = False
                except json.JSONDecodeError:
                    pass
            if self._migrated:  # JSONL log: one entry per line, last wins
                self.entries = {}
                for line in lines:
                    try:
                        e = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn tail line from a kill
                    if (not isinstance(e, dict) or "snapshot_id" not in e
                            or "partition_id" not in e):
                        # valid JSON that isn't a manifest entry (legacy
                        # '{}' manifest, stray scalar): skip like a torn
                        # line instead of crashing the whole resume
                        continue
                    self.entries[self.key(e["snapshot_id"],
                                          e["partition_id"])] = e

    @staticmethod
    def key(snapshot_id: str, partition_id: int) -> str:
        return f"{snapshot_id}:{partition_id}"

    def is_done(self, snapshot_id: str, partition_id: int) -> bool:
        e = self.entries.get(self.key(snapshot_id, partition_id))
        return bool(e and e.get("status") == "done")

    def mark(self, snapshot_id: str, partition_id: int, status: str,
             run_id: str, metrics_rows: int = 0) -> None:
        import time

        entry = {
            "run_id": run_id,
            "snapshot_id": snapshot_id,
            "partition_id": partition_id,
            "status": status,
            "metrics_rows": metrics_rows,
            "updated_ts": int(time.time()),
        }
        self.entries[self.key(snapshot_id, partition_id)] = entry
        if not self._migrated:
            # rewrite the legacy dict file as a log once, then append
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                for e in self.entries.values():
                    f.write(json.dumps(e) + "\n")
            os.replace(tmp, self.path)
            self._migrated = True
            return
        with open(self.path, "a") as f:
            f.write(json.dumps(entry) + "\n")
            f.flush()
            os.fsync(f.fileno())


@dataclass
class CheckpointResult:
    run_id: str
    snapshot_id: str
    validated_partitions: list[int]
    skipped_partitions: list[int]
    all_success: bool


class CheckpointRunner:
    def __init__(
        self,
        spark: SparkSession,
        suite: ExpectationSuite,
        provider: TableProvider,
        results_dir: str,
        options: EngineOptions | None = None,
        tables: dict[str, DataFrame] | None = None,
        transform=None,
        extra_outputs: dict | None = None,
        actions: list | None = None,
    ) -> None:
        """`transform` (DataFrame -> DataFrame, optional) is applied to each
        partition BEFORE validation — pass validate_and_extract_audio to
        validate flag columns with plain expectations; `extra_outputs`
        ({table_name: DataFrame -> DataFrame}) writes additional per-
        partition tables (e.g. curation features) from the SAME transformed
        DataFrame under the same exactly-once overwrite + manifest
        discipline.  With both set, the partition is persisted across the
        suite and every extra write, so an expensive transform (audio
        decode) runs once per partition per run — the resumable form of
        the one-decode validate+curate pass.  `actions` (optional list of
        gx_spark.actions callables) fire after each validated partition
        and at run end — notification is best-effort and never fails or
        re-runs a partition."""
        self.spark = spark
        self.suite = suite
        self.provider = provider
        self.results_dir = results_dir
        self.options = options or EngineOptions(
            unexpected_index_column_names=("clip_id",)
        )
        self.tables = tables or {}
        self.transform = transform
        self.extra_outputs = extra_outputs or {}
        self.actions = list(actions or [])
        os.makedirs(results_dir, exist_ok=True)
        self.manifest = CheckpointManifest(
            os.path.join(results_dir, "_checkpoint_manifest.json")
        )

    def run(self, run_id: str | None = None, max_partitions: int | None = None) -> CheckpointResult:
        """Validate every not-yet-done partition of the current snapshot.

        The pending partitions (provider order, done ones skipped, at most
        `max_partitions` — tests use it to simulate a killed job; a later
        run() resumes where this one stopped) run concurrently on
        min(pending, sc.defaultParallelism) pool workers, each inheriting
        the caller's job group, local properties and tags.  With
        `transform` and `extra_outputs` set, that many transformed
        partitions may be cached at once.  The calling thread marks a
        partition pending as it submits it, and marks it done and fires
        `partition_validated` as it completes (completion order);
        `validated_partitions` is in provider order.  On the first failure
        the partitions not yet started are cancelled, the running ones
        finish (marked done if they succeed), and the exception is
        re-raised: a resume re-runs exactly the failed partition."""
        run_id = run_id or uuid.uuid4().hex[:12]
        snapshot = self.provider.snapshot_id()
        df = self.provider.load(self.spark)
        todo, skipped = [], []
        for p in self.provider.partitions(self.spark):
            if self.manifest.is_done(snapshot, p.partition_id):
                skipped.append(p.partition_id)
            elif max_partitions is not None and len(todo) >= max_partitions:
                break
            else:
                todo.append(p)
        n_rows = len(self.suite.expectations)
        successes: dict[int, bool] = {}
        first_exc: BaseException | None = None
        pool = ThreadPoolExecutor(
            max(1, min(len(todo), self.spark.sparkContext.defaultParallelism)),
            thread_name_prefix="gx-checkpoint")
        try:
            futures = {}
            for p in todo:
                self.manifest.mark(snapshot, p.partition_id, "pending", run_id)
                futures[pool.submit(self._inheriting(self._validate_partition),
                                    df, p, snapshot, run_id)] = p.partition_id
            for fut in as_completed(futures):
                if fut.cancelled():
                    continue
                if fut.exception() is not None:
                    if first_exc is None:
                        first_exc = fut.exception()
                        for f in futures:
                            f.cancel()
                    continue
                pid = futures[fut]
                successes[pid] = fut.result()
                self.manifest.mark(snapshot, pid, "done", run_id, n_rows)
                self._fire({
                    "event": "partition_validated",
                    "run_id": run_id, "snapshot_id": snapshot,
                    "partition_id": pid,
                    "suite_name": self.suite.name,
                    "success": successes[pid],
                    "n_expectations": n_rows,
                })
        finally:
            pool.shutdown(wait=True, cancel_futures=True)
        if first_exc is not None:
            raise first_exc
        validated = [p.partition_id for p in todo]
        all_success = all(successes.values())
        self._fire({
            "event": "run_end", "run_id": run_id,
            "snapshot_id": snapshot, "suite_name": self.suite.name,
            "success": all_success,
            "validated_partitions": list(validated),
            "skipped_partitions": list(skipped),
        })
        return CheckpointResult(run_id, snapshot, validated, skipped, all_success)

    def _validate_partition(self, df: DataFrame, p: PartitionRef,
                            snapshot: str, run_id: str) -> bool:
        """One partition: filter, transform, validate, write; returns the
        suite verdict.  Runs on a pool worker."""
        # partition predicate pushes down into the parquet/Iceberg scan
        pdf = df.filter(p.predicate)
        persisted_tdf = None
        if self.transform is not None:
            pdf = self.transform(pdf)
            if self.extra_outputs:
                # one materialization of the transformed partition
                # serves the suite AND every extra write — the
                # expensive transform (audio decode) runs once
                persisted_tdf = pdf.persist()
                pdf = persisted_tdf
        bundle = ValidationRun(
            self.spark, self.suite, self.options, self.tables
        ).validate(pdf, run_id=run_id, partition_id=p.partition_id,
                   snapshot_id=snapshot)
        # Exactly-once on resume: each (snapshot, partition) writes to a
        # deterministic hive-style subpath with OVERWRITE, so a job killed
        # after the write but before manifest.mark('done') re-runs the
        # partition idempotently — no double-counted appends.  The
        # key=value dirs are recovered as partition columns on read.
        sub = f"snapshot_id={snapshot}/partition_id={p.partition_id}"
        rdf = bundle.results_df(self.spark).drop("snapshot_id", "partition_id")
        rdf.write.mode("overwrite").parquet(
            os.path.join(self.results_dir, "_validation_results", sub)
        )
        vt = bundle.violations_table()
        if vt is not None:
            vt.write.mode("overwrite").parquet(
                os.path.join(self.results_dir, "_violations", sub)
            )
        for name, fn in self.extra_outputs.items():
            fn(pdf).write.mode("overwrite").parquet(
                os.path.join(self.results_dir, name, sub)
            )
        bundle.unpersist()
        if persisted_tdf is not None:
            persisted_tdf.unpersist()
        return bundle.success

    def _inheriting(self, fn):
        """`fn` carrying the caller's local properties and tags to the
        thread that runs it.  Wrap once per submit: each worker then gets
        its own copy of the properties (Spark SQL sets the execution id in
        them, so two workers must not share one)."""
        wrap = inheritable_thread_target(self.spark)
        # without pinned threads PySpark returns the session itself: there
        # are no per-thread properties to carry
        return wrap(fn) if callable(wrap) else fn

    def _fire(self, payload: dict) -> None:
        if self.actions:
            from .actions import fire_actions

            fire_actions(self.actions, payload)

    def results(self) -> DataFrame:
        return self.spark.read.option("basePath",
                                      os.path.join(self.results_dir, "_validation_results")
                                      ).parquet(
            os.path.join(self.results_dir, "_validation_results")
        )

    def publish(self, iceberg_location: str, now_ms: int | None = None) -> int:
        """Append the accumulated validation-results rows to an Iceberg-lite
        `_validation_results` table (gx_spark/iceberg.py), one snapshot per
        publish — the results store itself gets snapshot lineage, per the
        north rule ("metrics rows appended to a _validation_results table").
        Call once at run end (idempotency across publishes is the caller's:
        re-publishing the same run appends a new snapshot).  Returns the
        results table's new snapshot id."""
        from .iceberg import IcebergLiteTable

        df = self.results().withColumn(
            "snapshot_id", F.col("snapshot_id").cast("string"))
        if IcebergLiteTable.exists(iceberg_location):
            t = IcebergLiteTable(iceberg_location)
        else:
            t = IcebergLiteTable.create(iceberg_location, df.schema,
                                        partition_by=["snapshot_id"])
        return t.append(df, now_ms=now_ms)

    def extra(self, name: str) -> DataFrame:
        """Read back an extra_outputs table across all partitions (lineage
        dirs recovered as snapshot_id/partition_id columns)."""
        root = os.path.join(self.results_dir, name)
        return self.spark.read.option("basePath", root).parquet(root)

    def violations(self) -> DataFrame:
        return self.spark.read.option("basePath",
                                      os.path.join(self.results_dir, "_violations")
                                      ).parquet(os.path.join(self.results_dir, "_violations"))
