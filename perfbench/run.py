"""gx-spark benchmark: one workload, one seed, one process on local[4].

    python3 perfbench/run.py --workload tabular|audio|ingest --seed N \\
        --seconds S --trace 0|1

Run from anywhere inside a checkout; everything the run writes stays under
the checkout (`.bench_work/` while running, `.bench_out/` for the result
record).  Set-up (session start, seeded input generation, table import and
warm-up) is timed as `setup_s`; then the workload's operations run in a
closed loop, one at a time, for `--seconds` (ending on a cycle boundary),
and every operation's output is checked against an oracle.

--trace 0 prints the end-to-end metrics.  --trace 1 runs the same
operations three times, untraced, traced and untraced again, and prints the
per-layer metrics: span totals, Spark stage counters per span, layer self
times, and the tracing overhead (traced wall minus the mean untraced wall).

The last line of standard output is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_HEAP = "2g"


# -- run context -------------------------------------------------------------

def hw_control() -> float:
    """Single-threaded numpy FFT rate (Melem/s): a fixed pure-CPU workload
    measured beside each run, so box drift can be told from a code change."""
    import numpy as np

    x = np.random.default_rng(42).standard_normal(1 << 20)
    np.fft.rfft(x)  # the first call plans the transform
    rates = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(4):
            np.fft.rfft(x)
        rates.append(4 * (1 << 20) / (time.perf_counter() - t0) / 1e6)
    return statistics.median(rates)


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    cpu_times() readings: host contention that no code change causes."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def code_sha256() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gx_spark")
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_context(spark) -> dict:
    import pyarrow

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": CORES,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "gx_spark_sha256": code_sha256(),
    }


# -- processes ---------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    """Every live descendant of `pid` (default: this process)."""
    kids = _children()
    out, todo = [], list(kids[os.getpid() if pid is None else pid])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids[p])
    return out


def _peak_rss(pid: int) -> tuple[str, int]:
    """(name, RSS high-water mark in bytes) of one process, from the
    kernel's VmHWM."""
    name, hwm = "?", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return name, hwm


class RssSampler(threading.Thread):
    """Peak RSS of this process's descendants (the driver JVM and its
    Python workers), read from outside every `interval` seconds as the sum
    of their kernel-kept high-water marks, so a short peak between two
    samples is not missed.  Other descendants are not counted: a child the
    JVM forks to run a command (Hadoop's chmod) reports a copy of the JVM's
    resident set until it execs, which once added 1-3 GB to a sample."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.at_peak: list[tuple[str, int]] = []   # (name, bytes) per process
        self._halt = threading.Event()

    def sample(self) -> None:
        procs = [(name, b) for name, b in map(_peak_rss, descendants())
                 if name == "java" or name.startswith("python")]
        total = sum(b for _, b in procs)
        if total > self.peak:
            self.peak, self.at_peak = total, procs

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_session(work: str, binary: bool):
    from pyspark.sql import SparkSession

    from gx_spark.skew import binary_scan_session_defaults, session_defaults

    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master(f"local[{CORES}]").appName("gx-spark-perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.ui.retainedJobs", "100000")
         .config("spark.ui.retainedStages", "100000")
         .config("spark.driver.memory", DRIVER_HEAP)
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.hadoop.hadoop.tmp.dir", tmp)
         # a fixed, pre-touched heap: with a growing heap the JVM's resident
         # set follows GC sizing decisions and peak_rss_mb spread 0.25 from
         # run to run.  Heap growth is reported as old_gen_peak_mb instead.
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"))
    b = session_defaults(b)
    if binary:
        b = binary_scan_session_defaults(b)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def old_gen(spark):
    """The driver JVM's old-generation memory pool (G1 or Parallel GC)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return next(p for p in mf.getMemoryPoolMXBeans() if p.getName().endswith("Old Gen"))


def old_gen_peak_mb(spark) -> float:
    """Peak use of the old generation since its last resetPeakUsage(): the
    heap the program keeps across collections.  (Eden fills to its capacity
    between collections whatever the program does, so a whole-heap peak
    hardly moves.)"""
    return old_gen(spark).getPeakUsage().getUsed() / 2**20


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    left = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in left:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """True while `pid` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# -- the loop ----------------------------------------------------------------

def timed_pass(w, tracer, seconds: float | None, n_ops: int | None = None) -> dict:
    """Run operations until `seconds` have passed (finishing the cycle) or
    exactly `n_ops` operations, then the workload's closing step.  Only
    the workload's run() and finish() are timed; the input's preparation
    before and the oracle's check after each are not."""
    from perfbench.workloads import Op

    def timed(name: str, call) -> tuple[Op, float]:
        with tracer.span(name) as rec:
            t0 = time.perf_counter()
            try:
                op = call()
            except Exception as exc:  # noqa: BLE001 — a raising op is a failed op
                op = Op("error", 0, ok=False, detail=f"{type(exc).__name__}: {exc}")
            dt = time.perf_counter() - t0
        if rec is not None and name == "bench.op":
            rec["name"] = f"bench.{op.kind}"
        if op is not None:
            with tracer.span("bench.check"):
                op.settle()
        return op, dt

    samples: list[tuple[Op, float]] = []
    start = time.perf_counter()
    i = 0
    while True:
        if n_ops is not None:
            if i >= n_ops:
                break
        elif time.perf_counter() - start >= seconds and i % w.cycle == 0:
            break
        arg = w.prepare(i)
        samples.append(timed("bench.op", lambda: w.run(i, arg)))
        i += 1
    fin = timed("bench.finish", w.finish)
    ops = samples + ([fin] if fin[0] is not None else [])
    return {"samples": samples, "ops": ops, "wall": sum(dt for _, dt in ops)}


def audio_probe(tracer, seed: int, per_codec: int = 16) -> tuple[dict, list[dict]]:
    """Per-clip cost of the audio kernels on a fixed seeded sample:
    `decode_payload` per codec and `compute_flags_row`.  Returns the
    metrics and the sample."""
    from gx_spark import audio
    from tools.gen_audio import gen_row

    wanted = ["pcm_s16le", "flac", "pcm_mulaw", "pcm_alaw"]
    sample: dict[str, list[dict]] = {c: [] for c in wanted}
    i = 50_000_000 + seed * 10_000
    while any(len(v) < per_codec for v in sample.values()):
        codec = audio.ref_codec(f"clip_{i:010d}")
        if codec in sample and len(sample[codec]) < per_codec:
            row, _ = gen_row(i, 16)
            if row["codec"] == codec and row["transcript"] is not None:
                sample[codec].append(row)
        i += 1
    out = {}
    per_clip = []
    for codec, rows in sample.items():
        reps = []
        for _ in range(3):
            with tracer.span("audio.decode"):
                t0 = time.perf_counter()
                for r in rows:
                    audio.decode_payload(r["bytes"], codec)
                reps.append((time.perf_counter() - t0) / len(rows) * 1e6)
        out[f"audio.decode_us_per_clip.{codec}"] = statistics.median(reps)
        per_clip.append(statistics.median(reps))
    out["audio.decode_us_per_clip"] = statistics.mean(per_clip)
    rows = [r for v in sample.values() for r in v]
    reps = []
    for _ in range(3):
        with tracer.span("audio.flags"):
            t0 = time.perf_counter()
            for r in rows:
                audio.compute_flags_row(r["clip_id"], r["bytes"], r["sr_hz"], r["dur_ms"],
                                        r["codec"], r["transcript"])
            reps.append((time.perf_counter() - t0) / len(rows) * 1e6)
    out["audio.flags_us_per_clip"] = statistics.median(reps)
    return out, rows


def extract_probe(spark, tracer, w, sample_rows: list[dict]) -> dict:
    """`validate_and_extract_audio` written to the noop sink: over the audio
    workload's table, or over the probe sample elsewhere."""
    from gx_spark import audio_ops

    if w.name == "audio":
        df, n = w.table.read(spark), w.clips
    else:
        import pandas as pd

        df, n = spark.createDataFrame(pd.DataFrame(sample_rows)), len(sample_rows)
    with tracer.span("audio_ops.extract"):
        t0 = time.perf_counter()
        audio_ops.validate_and_extract_audio(df).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    return {"audio_ops.extract_s": dt, "audio_ops.extract_clips_per_s": n / dt}


def summarize(w, p: dict) -> dict:
    from perfbench.metrics import median, tail

    prim = [dt for op, dt in p["samples"] if op.kind in w.primary]
    by_kind = defaultdict(list)
    rows_by_kind = defaultdict(int)
    for op, dt in p["ops"]:
        by_kind[op.kind].append(dt)
        rows_by_kind[op.kind] += op.rows
    # Throughput of the operation stream at each kind's median latency: a
    # slow operation (a GC pause, a burst of host CPU steal) moves a median
    # little and a sum of walls a lot.  The closing step (ingest's final
    # read) is left out: it pays for every merge the pass made, and how many
    # rounds fit in the pass depends on the host's speed (the read took
    # 2.5 s after 2 rounds, 3.6 s after 4, 25 s after 15).
    stream = defaultdict(list)
    for op, dt in p["samples"]:
        stream[op.kind].append(dt)
    rows = sum(op.rows for op, _ in p["samples"])
    return {
        "rows_per_s": rows / sum(len(v) * median(v) for v in stream.values()),
        "op_p50_s": median(prim),
        "op_tail": tail(prim),
        "n_primary": len(prim),
        "ops_per_s": len(p["samples"]) / p["wall"],
        "by_kind": {k: {"n": len(v), "p50_s": median(v), "rows_per_s": rows_by_kind[k] / sum(v)}
                    for k, v in by_kind.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tabular", "audio", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gx_spark")):
        print(f"gx_spark not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM spark-submit starts: temp files under the checkout, and no
    # hsperfdata file (HotSpot writes it to /tmp whatever java.io.tmpdir says)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, spark=None, size: dict | None = None) -> dict:
    """One benchmark run; returns the result object.  The benchmark's tests
    pass their own `spark` session (which the run leaves running) and a
    `size` that shrinks the workload's inputs."""
    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    run_id = uuid.uuid4().hex[:12]
    hw = [hw_control()]
    rss = RssSampler()
    t_setup = time.perf_counter()
    w = WORKLOADS[args.workload](work, args.seed, size)
    own_session = spark is None
    if own_session:
        spark = start_session(work, binary=args.workload == "audio")
    try:
        rss.start()
        tracer = Tracer(spark.sparkContext, run_id)
        w.attach(spark, tracer)
        w.setup_phases["session"] = time.perf_counter() - t_setup
        with w.phase("inputs"):
            w.generate()
        w.setup()
        setup_s = time.perf_counter() - t_setup
        phases = w.setup_phases
        ctx = run_context(spark)
        cpu0 = cpu_times()
        old_gen(spark).resetPeakUsage()
        base = timed_pass(w, tracer, args.seconds)
        ctx["steal_pct_timed"] = steal_pct(cpu0, cpu_times())
        old_mb = old_gen_peak_mb(spark)
        traced = again = None
        if args.trace:
            n_ops = len(base["samples"])
            w.reset()
            extras0 = w.pass_start()
            old_gen(spark).resetPeakUsage()
            tracer.install()
            try:
                traced = timed_pass(w, tracer, None, n_ops=n_ops)
                n_spans = len(tracer.spans)
                extras = dict(w.pass_extras(extras0), old_gen_peak_mb=old_gen_peak_mb(spark))
                probes, sample_rows = audio_probe(tracer, args.seed)
                probes.update(extract_probe(spark, tracer, w, sample_rows))
            finally:
                tracer.uninstall()
            # an untraced pass on either side of the traced one, so the
            # overhead is not the JVM warming up from one pass to the next
            w.reset()
            again = timed_pass(w, tracer, None, n_ops=n_ops)
            counters = tracer.spark_counters()
            ix = metrics.SpanIndex(metrics.timed_spans(tracer.spans[:n_spans]), counters)
            untraced_wall = (base["wall"] + again["wall"]) / 2
            layer = metrics.per_layer(ix, tracer, traced["wall"], untraced_wall, probes, extras)
        hw.append(hw_control())
        report = w.report()
        rss.sample()
    finally:
        if own_session:
            stop_session(spark)
        if rss.is_alive():
            rss.stop()

    passes = [p for p in (base, traced, again) if p]
    ops = [op for p in passes for op, _ in p["ops"]]
    failed = [op for op in ops if not op.ok]
    s = summarize(w, base)
    e2e = {"setup_s": setup_s, "rows_per_s": s["rows_per_s"], "op_p50_s": s["op_p50_s"],
           "peak_rss_mb": rss.peak / 2**20}
    values = layer if args.trace else e2e
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    out = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
           "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in values.items()}}

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "run_id": run_id, "context": ctx,
              "hw_control_melem_s": hw,
              "peak_rss_mb_by_process": [[n, b / 2**20] for n, b in rss.at_peak],
              "old_gen_peak_mb": old_mb, "setup_phases_s": phases, "end_to_end": e2e, "summary": s,
              "report": report, "failures": [f"{op.kind}: {op.detail}" for op in failed],
              "failed_frac": len(failed) / len(ops),
              "ops": [[op.kind, dt, op.ok] for op, dt in base["ops"]]}
    if args.trace:
        self_by_layer = ix.self_by_layer()
        record["per_layer"] = layer
        record["pass_walls_s"] = {"untraced": base["wall"], "traced": traced["wall"],
                                  "untraced_again": again["wall"]}
        record["self_s_by_layer"] = self_by_layer
        record["spans"] = [dict(sp, counters=dict(counters.get(sp["id"], {})))
                           for sp in tracer.spans]
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print_report(record, s, path)
    return out


def print_report(rec: dict, s: dict, path: str) -> None:
    print(f"workload={rec['workload']} seed={rec['seed']} trace={rec['trace']} "
          f"run_id={rec['run_id']} context={json.dumps(rec['context'])}")
    print("hw_control (numpy rfft, Melem/s) before/after: "
          + " / ".join(f"{x:.1f}" for x in rec["hw_control_melem_s"])
          + f"; CPU steal during the timed pass {rec['context']['steal_pct_timed']:.1f}%")
    for k, v in rec["end_to_end"].items():
        print(f"  {k:<14} {v:.4f}")
    print(f"  old_gen_peak_mb {rec['old_gen_peak_mb']:.1f} (driver JVM, timed pass)")
    print("  setup phases   " + ", ".join(f"{k} {v:.2f} s" for k, v in rec["setup_phases_s"].items()))
    t = s["op_tail"]
    print("  op_tail_s      " + (f"p{t[0]:.1f}={t[1]:.4f} (n={t[2]})" if t
                                 else f"n/a (n={s['n_primary']} < 11 samples)"))
    print(f"  ops_per_s      {s['ops_per_s']:.4f}")
    for k, v in s["by_kind"].items():
        print(f"  op {k:<10} n={v['n']:<4} p50={v['p50_s']:.4f} s  "
              f"{v['rows_per_s']:.1f} rows/s")
    for k, v in rec["report"].items():
        print(f"  {k}: {v}")
    print(f"  failed_frac    {rec['failed_frac']:.4f}")
    for f in rec["failures"][:10]:
        print(f"  FAILED {f}")
    if rec["trace"]:
        wall = rec["per_layer"]["trace.wall_s"]
        print("  pass walls     " + ", ".join(f"{k} {v:.3f} s"
                                              for k, v in rec["pass_walls_s"].items()))
        print(f"  layer self times (traced wall {wall:.3f} s, overhead "
              f"{rec['per_layer']['trace.overhead_s']:+.3f} s against the untraced mean):")
        for layer, t in sorted(rec["self_s_by_layer"].items(), key=lambda kv: -kv[1]):
            print(f"    {layer:<12} {t:9.3f} s  {100 * t / wall:5.1f}%")
    print(f"  record: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
