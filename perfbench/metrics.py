"""The benchmark's metric catalogue and the per-layer arithmetic.

END_TO_END and PER_LAYER are the single source of the names, units and
directions that BENCHMARK.json lists (test_perfbench checks they agree).
Each PER_LAYER entry also records which end-to-end metric, on which
workload, a change in that layer should move.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from .trace import layer_of, self_times

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "op_p50_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

_TAB, _AUD, _ING = "tabular", "audio", "ingest"

#: name -> (unit, better, [(end-to-end metric, workload) it should move]).
#: Every entry but the DIAGNOSTIC ones names at least one pair on audio or
#: ingest, the workloads BENCHMARK.json lists.
PER_LAYER = {
    "executor.validate_s": ("s", "lower", [("op_p50_s", _AUD), ("op_p50_s", _ING),
                                           ("op_p50_s", _TAB)]),
    "executor.jobs": ("count", "lower", [("op_p50_s", _ING), ("op_p50_s", _TAB)]),
    "executor.stages": ("count", "lower", [("op_p50_s", _ING), ("op_p50_s", _TAB)]),
    "executor.tasks": ("count", "lower", [("op_p50_s", _ING), ("op_p50_s", _TAB)]),
    "planner.resolve_s": ("s", "lower", [("rows_per_s", _AUD), ("rows_per_s", _TAB)]),
    "planner.jobs": ("count", "lower", [("op_p50_s", _ING), ("rows_per_s", _TAB)]),
    "planner.input_bytes": ("bytes", "lower", [("rows_per_s", _AUD), ("rows_per_s", _TAB)]),
    "planner.shuffle_bytes": ("bytes", "lower", [("op_p50_s", _AUD), ("rows_per_s", _TAB)]),
    "violations.pass_s": ("s", "lower", [("op_p50_s", _AUD), ("rows_per_s", _TAB)]),
    "violations.lists_s": ("s", "lower", [("op_p50_s", _ING), ("op_p50_s", _AUD)]),
    "violations.jobs": ("count", "lower", [("op_p50_s", _ING), ("op_p50_s", _AUD)]),
    "violations.shuffle_bytes": ("bytes", "lower", [("op_p50_s", _AUD), ("rows_per_s", _TAB)]),
    "violations.spill_bytes": ("bytes", "lower", [("op_p50_s", _AUD)]),
    "violations.cpu_to_run": ("ratio", "higher", [("op_p50_s", _AUD)]),
    "audio.flags_us_per_clip": ("us", "lower", [("op_p50_s", _AUD)]),
    "audio.decode_us_per_clip": ("us", "lower", [("op_p50_s", _AUD), ("rows_per_s", _AUD)]),
    "audio.decode_us_per_clip.pcm_s16le": ("us", "lower", [("op_p50_s", _AUD)]),
    "audio.decode_us_per_clip.flac": ("us", "lower", [("op_p50_s", _AUD)]),
    "audio.decode_us_per_clip.pcm_mulaw": ("us", "lower", [("op_p50_s", _AUD)]),
    "audio.decode_us_per_clip.pcm_alaw": ("us", "lower", [("op_p50_s", _AUD)]),
    "audio_ops.extract_s": ("s", "lower", [("rows_per_s", _AUD)]),
    "audio_ops.extract_clips_per_s": ("clips/s", "higher", [("rows_per_s", _AUD)]),
    "checkpoint.partitions": ("count", "lower", [("rows_per_s", _AUD)]),
    "checkpoint.partition_p50_s": ("s", "lower", [("rows_per_s", _AUD)]),
    "checkpoint.write_s": ("s", "lower", [("rows_per_s", _AUD)]),
    "checkpoint.bytes_written": ("bytes", "lower", [("rows_per_s", _AUD)]),
    "iceberg.plan_files_s": ("s", "lower", [("op_p50_s", _ING), ("rows_per_s", _ING)]),
    "iceberg.files_planned": ("count", "lower", [("op_p50_s", _ING)]),
    "iceberg.read_s": ("s", "lower", [("op_p50_s", _ING)]),
    "iceberg.append_s": ("s", "lower", [("op_p50_s", _ING), ("rows_per_s", _ING)]),
    "iceberg.merge_s": ("s", "lower", [("rows_per_s", _ING)]),
    "iceberg.ref_ops_s": ("s", "lower", [("op_p50_s", _ING)]),
    "iceberg.maintenance_s": ("s", "lower", [("rows_per_s", _ING)]),
    "iceberg.commits": ("count", "lower", [("rows_per_s", _ING)]),
    "iceberg.data_bytes_written": ("bytes", "lower", [("rows_per_s", _ING)]),
    "iceberg.meta_bytes_written": ("bytes", "lower", [("op_p50_s", _ING)]),
    "iceberg.write_amp": ("ratio", "lower", [("rows_per_s", _ING)]),
    "wap.gate_s": ("s", "lower", [("op_p50_s", _ING), ("rows_per_s", _ING)]),
    "wap.audit_share": ("ratio", "higher", [("op_p50_s", _ING)]),
    "spark.executor_run_ms": ("ms", "lower", [("rows_per_s", _AUD)]),
    "spark.executor_cpu_ms": ("ms", "lower", [("rows_per_s", _AUD)]),
    "spark.gc_ms": ("ms", "lower", [("rows_per_s", _AUD)]),
    "spark.old_gen_peak_mb": ("MB", "lower", [("op_p50_s", _AUD), ("op_p50_s", _ING)]),
    "self.bench_s": ("s", "lower", []),
    "self.executor_s": ("s", "lower", [("op_p50_s", _ING)]),
    "self.planner_s": ("s", "lower", [("rows_per_s", _AUD), ("rows_per_s", _TAB)]),
    "self.violations_s": ("s", "lower", [("op_p50_s", _AUD)]),
    "self.audio_ops_s": ("s", "lower", [("rows_per_s", _AUD)]),
    "self.checkpoint_s": ("s", "lower", [("rows_per_s", _AUD)]),
    "self.iceberg_s": ("s", "lower", [("op_p50_s", _ING), ("rows_per_s", _ING)]),
    "self.wap_s": ("s", "lower", [("op_p50_s", _ING)]),
    "trace.coverage": ("ratio", "higher", []),
    "trace.wall_s": ("s", "lower", []),
    "trace.overhead_s": ("s", "lower", []),
}

#: per-layer metrics that describe the trace itself, not a layer
DIAGNOSTIC = {"self.bench_s", "trace.coverage", "trace.wall_s", "trace.overhead_s"}

SELF_LAYERS = ["bench", "executor", "planner", "violations", "audio_ops",
               "checkpoint", "iceberg", "wap"]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n) for the highest percentile with at least ten
    samples above it, or None with fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10
    return 100.0 * k / n, sorted(xs)[k - 1], n


def timed_spans(spans: list[dict]) -> list[dict]:
    """The spans of the timed operations: without the oracle checks
    (`bench.check`) and whatever ran inside them."""
    skip: set[int] = set()
    for s in spans:
        if s["name"] == "bench.check" or s["parent"] in skip:
            skip.add(s["id"])
    return [s for s in spans if s["id"] not in skip]


class SpanIndex:
    """Totals over one pass's spans: durations, self times and Spark
    counters, by span name and by layer."""

    def __init__(self, spans: list[dict], counters: dict[int, Counter]):
        self.spans = spans
        self.counters = counters
        self.self_s = self_times(spans)
        self.by_id = {s["id"]: s for s in spans}
        self.kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.kids[s["parent"]].append(s["id"])

    def _outermost(self, names: set[str]) -> list[dict]:
        out = []
        for s in self.spans:
            if s["name"] not in names:
                continue
            p = s["parent"]
            while p is not None and self.by_id[p]["name"] not in names:
                p = self.by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def total_s(self, *names: str) -> float:
        return sum(s["end"] - s["start"] for s in self._outermost(set(names)))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def inclusive(self, *names: str) -> Counter:
        """Spark counters of the named spans and all their descendants."""
        c = Counter()
        todo = [s["id"] for s in self._outermost(set(names))]
        while todo:
            sid = todo.pop()
            c.update(self.counters.get(sid, Counter()))
            todo.extend(self.kids[sid])
        return c

    def all_counters(self) -> Counter:
        c = Counter()
        for s in self.spans:
            c.update(self.counters.get(s["id"], Counter()))
        return c

    def self_by_layer(self) -> dict[str, float]:
        out = defaultdict(float)
        for s in self.spans:
            out[layer_of(s["name"])] += self.self_s[s["id"]]
        return out

    def within(self, outer: str, inner: str) -> float:
        """Time of `inner` spans that sit under an `outer` span."""
        total = 0.0
        for o in self._outermost({outer}):
            todo = list(self.kids[o["id"]])
            while todo:
                s = self.by_id[todo.pop()]
                if s["name"] == inner:
                    total += s["end"] - s["start"]
                else:
                    todo.extend(self.kids[s["id"]])
        return total


def per_layer(ix: SpanIndex, tracer, wall: float, untraced_wall: float,
              probes: dict, extras: dict) -> dict[str, float]:
    """Every PER_LAYER value for one traced pass."""
    ex = ix.inclusive("executor.validate")
    pl = ix.inclusive("planner.resolve")
    vi = ix.inclusive("violations.pass", "violations.lists", "violations.build")
    sp = ix.all_counters()
    runs = ix.count("checkpoint.run")
    pending = {}
    part_s = []
    for snap, pid, status, t in tracer.marks:
        if status == "pending":
            pending[(snap, pid)] = t
        elif status == "done" and (snap, pid) in pending:
            part_s.append(t - pending.pop((snap, pid)))
    gate_s = ix.total_s("wap.gate")
    layers = ix.self_by_layer()
    v = {
        "executor.validate_s": ix.total_s("executor.validate"),
        "executor.jobs": ex["jobs"],
        "executor.stages": ex["stages"],
        "executor.tasks": ex["tasks"],
        "planner.resolve_s": ix.total_s("planner.resolve"),
        "planner.jobs": pl["jobs"],
        "planner.input_bytes": pl["input_bytes"],
        "planner.shuffle_bytes": pl["shuffle_read_bytes"] + pl["shuffle_write_bytes"],
        "violations.pass_s": ix.total_s("violations.pass"),
        "violations.lists_s": ix.total_s("violations.lists"),
        "violations.jobs": vi["jobs"],
        "violations.shuffle_bytes": vi["shuffle_read_bytes"] + vi["shuffle_write_bytes"],
        "violations.spill_bytes": vi["spill_bytes"],
        "violations.cpu_to_run": (vi["cpu_ns"] / 1e6 / vi["run_ms"]) if vi["run_ms"] else 0.0,
        "checkpoint.partitions": len(part_s) / runs if runs else 0.0,
        "checkpoint.partition_p50_s": median(part_s),
        "checkpoint.write_s": ix.total_s("checkpoint.write"),
        "checkpoint.bytes_written": extras.get("checkpoint_bytes", 0) / runs if runs else 0.0,
        "iceberg.plan_files_s": ix.total_s("iceberg.plan_files"),
        "iceberg.files_planned": tracer.files_planned,
        "iceberg.read_s": ix.total_s("iceberg.read", "iceberg.scan"),
        "iceberg.append_s": ix.total_s("iceberg.append"),
        "iceberg.merge_s": ix.total_s("iceberg.merge"),
        "iceberg.ref_ops_s": ix.total_s("iceberg.ref_ops"),
        "iceberg.maintenance_s": ix.total_s("iceberg.maintenance"),
        "iceberg.commits": sum(tracer.commits.values()),
        "iceberg.data_bytes_written": extras.get("data_bytes_written", 0),
        "iceberg.meta_bytes_written": extras.get("meta_bytes_written", 0),
        "iceberg.write_amp": extras.get("write_amp", 0.0),
        "wap.gate_s": gate_s,
        "wap.audit_share": ix.within("wap.gate", "executor.validate") / gate_s if gate_s else 0.0,
        "spark.executor_run_ms": sp["run_ms"],
        "spark.executor_cpu_ms": sp["cpu_ns"] / 1e6,
        "spark.gc_ms": sp["gc_ms"],
        "spark.old_gen_peak_mb": extras["old_gen_peak_mb"],
        "trace.coverage": sum(t for k, t in layers.items() if k != "bench") / wall,
        "trace.wall_s": wall,
        "trace.overhead_s": wall - untraced_wall,
    }
    for layer in SELF_LAYERS:
        v[f"self.{layer}_s"] = layers.get(layer, 0.0)
    v.update(probes)
    return {k: float(v[k]) for k in PER_LAYER}
