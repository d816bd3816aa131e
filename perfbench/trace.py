"""Spans around the public calls into each `gx_spark` layer, recorded from
the benchmark's side without editing the package.

`Tracer.install()` replaces each wrapped callable (a class method, or a
module-level function in every `gx_spark` module that imported it) with a
wrapper that opens a span; `uninstall()` puts the originals back.  Each span
sets its own Spark job group, so after the run the jobs, stages and stage
counters of every span are read back from Spark's status store.  Jobs are
charged to the innermost open span, which makes the Spark counters of a span
its self counters.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

#: (module, class or None, attribute, span name).  The layer of a span is
#: the part of its name before the first dot.
WRAPPED = [
    ("gx_spark.executor", "ValidationRun", "validate", "executor.validate"),
    ("gx_spark.planner", "MetricContext", "resolve", "planner.resolve"),
    ("gx_spark.violations", None, "build_violations_df", "violations.build"),
    ("gx_spark.violations", None, "derive_unexpected_lists", "violations.lists"),
    ("gx_spark.audio_ops", None, "validate_and_extract_audio", "audio_ops.extract_plan"),
    ("gx_spark.checkpoint", "CheckpointRunner", "run", "checkpoint.run"),
    ("gx_spark.checkpoint", "CheckpointManifest", "mark", "checkpoint.mark"),
    ("gx_spark.wap", None, "validate_and_publish", "wap.gate"),
    ("gx_spark.iceberg", "IcebergLiteTable", "plan_files", "iceberg.plan_files"),
    ("gx_spark.iceberg", "IcebergLiteTable", "read", "iceberg.read"),
    ("gx_spark.iceberg", "IcebergLiteTable", "append", "iceberg.append"),
    ("gx_spark.iceberg", "IcebergLiteTable", "merge_into", "iceberg.merge"),
    ("gx_spark.iceberg", "IcebergLiteTable", "fast_forward", "iceberg.ref_ops"),
    ("gx_spark.iceberg", "IcebergLiteTable", "drop_ref", "iceberg.ref_ops"),
    ("gx_spark.iceberg", "IcebergLiteTable", "create_tag", "iceberg.ref_ops"),
    ("gx_spark.iceberg", "IcebergLiteTable", "expire_snapshots", "iceberg.maintenance"),
    ("gx_spark.iceberg", "IcebergLiteTable", "rewrite_manifests", "iceberg.maintenance"),
]

#: public Iceberg calls that commit a new metadata version
COMMIT_CALLS = {"append", "merge_into", "fast_forward", "drop_ref", "create_tag",
                "expire_snapshots", "rewrite_manifests"}

#: Spark stage counters read per span (StageData accessor -> key)
STAGE_FIELDS = {
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "memoryBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
}


class Tracer:
    """In-memory span recorder.  Spans are dicts with name, start, end,
    parent (span id or None) and the run id every span of a run shares."""

    def __init__(self, sc, run_id: str) -> None:
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self.commits = Counter()
        self.files_planned = 0
        self.marks: list[tuple[str, int, str, float]] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def group(self, span: dict) -> str:
        return f"pb-{self.run_id}-{span['id']}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self.group(rec), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def inside(self, name: str) -> bool:
        return any(s["name"] == name for s in self._stack)

    # -- patching ----------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _wrap(self, fn, name: str, attr: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if attr in COMMIT_CALLS:
                tracer.commits[attr] += 1
            elif attr == "plan_files":
                tracer.files_planned += len(out)
            elif attr == "mark":
                snap, pid, status = args[1], args[2], args[3]
                tracer.marks.append((snap, pid, status, time.perf_counter()))
            return out
        return wrapper

    def install(self) -> None:
        """Wrap every entry of WRAPPED, the violation-counts action and the
        checkpoint's parquet writes, and start recording."""
        for mod_name, cls_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            if cls_name is not None:
                cls = getattr(mod, cls_name)
                self._patch(cls, attr, self._wrap(cls.__dict__[attr], name, attr))
            else:
                self._patch_function(getattr(mod, attr), self._wrap(getattr(mod, attr), name, attr))
        self._patch_counts_action()
        self._patch_checkpoint_writes()
        self.enabled = True

    def _patch_function(self, orig, new) -> None:
        """Replace a module-level function in every loaded gx_spark module
        that holds it (``from .x import f`` copies the reference)."""
        for mod_name, mod in list(sys.modules.items()):
            if (mod is not None and mod_name.split(".")[0] == "gx_spark"
                    and mod.__dict__.get(orig.__name__) is orig):
                self._patch(mod, orig.__name__, new)

    def _patch_counts_action(self) -> None:
        """`violation_counts_df` only builds a plan; the fused violations
        pass runs in the caller's `collect()` on the returned frame, so that
        collect is the span."""
        from gx_spark import violations

        orig = violations.violation_counts_df
        tracer = self

        @functools.wraps(orig)
        def counts_df(viol_df):
            df = orig(viol_df)
            collect = df.collect

            def traced_collect():
                with tracer.span("violations.pass"):
                    return collect()
            df.collect = traced_collect
            return df
        self._patch_function(orig, counts_df)

    def _patch_checkpoint_writes(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.__dict__["parquet"]
        tracer = self

        @functools.wraps(orig)
        def parquet(writer, *args, **kwargs):
            if not tracer.inside("checkpoint.run") or tracer.inside("iceberg.append"):
                return orig(writer, *args, **kwargs)
            with tracer.span("checkpoint.write"):
                return orig(writer, *args, **kwargs)
        self._patch(DataFrameWriter, "parquet", parquet)

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- read-back ---------------------------------------------------------

    def spark_counters(self) -> dict[int, Counter]:
        """Per-span self counters from Spark's status store: jobs, stages and
        the STAGE_FIELDS sums.  A stage shared by several jobs (a reused
        shuffle) is charged once, to the first span that ran it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        out: dict[int, Counter] = {}
        for rec in self.spans:
            c = Counter()
            jobs = tracker.getJobIdsForGroup(self.group(rec))
            c["jobs"] = len(jobs)
            for job in sorted(jobs):
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else []):
                    if stage in seen:
                        continue
                    seen.add(stage)
                    try:
                        sd = store.lastStageAttempt(stage)
                    except Exception:  # noqa: BLE001 — skipped stage: never ran
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    for acc, key in STAGE_FIELDS.items():
                        c[key] += int(getattr(sd, acc)())
            out[rec["id"]] = c
        return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its (sequential) children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]
