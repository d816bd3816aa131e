"""The three benchmark workloads and their correctness oracles.

Each workload is driven through gx_spark's public API only.  `generate()`
writes the seeded inputs and imports them; `setup()` does the rest of the
preparation and warms the JVM and the Python workers.  Operation `i` is
`prepare(i)` (untimed: the input arriving), `run(i, arg)` (timed: the
gx_spark call plus the one action that materializes its output) and the
returned `Op`'s `check` (untimed: the oracle, and any clean-up).
`finish()` runs the closing step (ingest's final read); `reset()` rebuilds
any state an earlier pass changed, so a second pass over the same
operations does the same work.

Calls into gx_spark go through module attributes (``gx_spark.validate``,
``wap.validate_and_publish``, ...) so the traced run's wrappers see them.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gx_spark
from gx_spark import audio_ops, wap
from gx_spark.checkpoint import CheckpointRunner
from gx_spark.iceberg import IcebergLiteTable
from gx_spark.model import EngineOptions, ExpectationSuite
from gx_spark.suites import audio_flag_suite, audio_suite
from gx_spark.table_provider import IcebergLiteTableProvider

from . import gen


@dataclass
class Op:
    """One operation's outcome.  `check` is the oracle, run after the clock
    stops; it returns "" when the output is right, else what is wrong."""

    kind: str
    rows: int
    check: Callable[[], str] | None = None
    ok: bool = True
    detail: str = ""

    def settle(self) -> "Op":
        """Run the oracle once and record its verdict."""
        if self.check is not None:
            try:
                self.detail = self.check()
            except Exception as exc:  # noqa: BLE001 — a raising check is a failed op
                self.detail = f"check raised {type(exc).__name__}: {exc}"
            self.ok = not self.detail
            self.check = None
        return self


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    name = ""
    cycle = 1                   # ops per cycle; a run ends on a cycle boundary
    primary: frozenset = frozenset()

    def __init__(self, work: str, seed: int, size: dict | None = None):
        self.work = work
        self.seed = seed
        self.size = dict(self.default_size, **(size or {}))
        self.setup_phases: dict[str, float] = {}
        self.spark = self.tracer = None

    def attach(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    default_size: dict = {}

    @contextmanager
    def phase(self, name: str):
        """Time one named part of setup() for the run record."""
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = self.setup_phases.get(name, 0.0) + time.perf_counter() - t0

    def generate(self) -> None:
        """Write and import the seeded inputs."""

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int):
        """Untimed preparation of operation `i`; its result is passed to run()."""
        return None

    def run(self, i: int, arg) -> Op:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        return self.run(i, self.prepare(i)).settle()

    def finish(self) -> Op | None:
        return None

    def reset(self) -> None:
        pass

    def pass_start(self) -> dict:
        """State at the start of the traced pass, handed to pass_extras()."""
        return {}

    def pass_extras(self, start: dict) -> dict:
        """Per-layer figures of the traced pass that no span records."""
        return {}

    def report(self) -> dict:
        """Workload-specific figures for the run's text report."""
        return {}


# -- tabular ----------------------------------------------------------------

def tabular_suite() -> ExpectationSuite:
    return (
        ExpectationSuite("lineitem")
        .add("expect_table_row_count_to_be_between", min_value=1)
        .add("expect_column_mean_to_be_between", column="l_quantity",
             min_value=20, max_value=30)
        .add("expect_column_stdev_to_be_between", column="l_extendedprice", min_value=0)
        .add("expect_column_quantile_values_to_be_between", column="l_quantity",
             quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                              "value_ranges": [[1, 50], [1, 50], [1, 50]]})
        .add("expect_column_unique_value_count_to_be_between", column="l_suppkey",
             min_value=1, max_value=2000)
        .add("expect_column_values_to_not_be_null", column="l_comment")
        .add("expect_column_values_to_be_in_set", column="l_shipmode",
             value_set=gen.SHIPMODES)
        .add("expect_column_values_to_be_between", column="l_discount",
             min_value=0.0, max_value=0.10)
        .add("expect_column_values_to_match_regex", column="l_shipinstruct",
             regex=gen.SHIPINSTRUCT_REGEX)
        .add("expect_column_values_to_be_in_set", column="l_returnflag",
             value_set=gen.RETURNFLAGS)
        .add("expect_column_values_to_be_between", column="l_quantity",
             min_value=1, max_value=50)
        .add("expect_column_values_to_exist_in_table", column="l_orderkey",
             other_table_name="orders_of_customers", other_column="o_orderkey")
    )


def tabular_oracle(paths: dict[str, str]) -> dict[int, tuple[str, float]]:
    """DuckDB's answer for every expectation of `tabular_suite` that has an
    exact value: expectation index -> ("unexpected_count" | "observed_value",
    value)."""
    import duckdb

    li = f"read_parquet('{paths['lineitem']}/*.parquet')"
    orders = f"read_parquet('{paths['orders']}')"
    cust = f"read_parquet('{paths['customer']}')"
    modes = ", ".join(f"'{m}'" for m in gen.SHIPMODES)
    flags = ", ".join(f"'{m}'" for m in gen.RETURNFLAGS)
    con = duckdb.connect(config={"threads": 1, "temp_directory": tempfile.gettempdir()})
    row = con.sql(f"""
        SELECT count(*),
               avg(l_quantity),
               count(*) FILTER (WHERE l_comment IS NULL),
               count(*) FILTER (WHERE l_shipmode NOT IN ({modes})),
               count(*) FILTER (WHERE NOT l_discount BETWEEN 0.0 AND 0.10),
               count(*) FILTER (WHERE NOT regexp_matches(l_shipinstruct,
                                                         '{gen.SHIPINSTRUCT_REGEX}')),
               count(*) FILTER (WHERE l_returnflag NOT IN ({flags})),
               count(*) FILTER (WHERE NOT l_quantity BETWEEN 1 AND 50),
               count(*) FILTER (WHERE l_orderkey NOT IN (
                   SELECT o_orderkey FROM {orders} AS o JOIN {cust} AS c
                   ON o_custkey = c_custkey))
        FROM {li} AS li""").fetchone()
    con.close()
    n, mean, *counts = row
    out = {0: ("observed_value", float(n)), 1: ("observed_value", float(mean))}
    for idx, c in zip(range(5, 12), counts):
        out[idx] = ("unexpected_count", float(c))
    return out


def check_results(results, oracle: dict[int, tuple[str, float]]) -> list[str]:
    """Mismatches between a suite's EVRs and an oracle (empty when equal)."""
    bad = []
    for idx, (key, want) in oracle.items():
        r = results[idx]
        got = r.result.get(key)
        if r.exception_info.get("raised_exception"):
            bad.append(f"#{idx} raised {r.exception_info.get('exception_message')}")
        elif got is None or not np.isclose(float(got), want, rtol=1e-9, atol=0):
            bad.append(f"#{idx} {key}={got} want {want}")
    return bad


class Tabular(Workload):
    """Repeated validations of one 12-expectation suite over lineitem read
    through an Iceberg-lite table imported metadata-only."""

    name = "tabular"
    primary = frozenset({"validate"})
    default_size = {"scale": 0.1, "files": 4}

    def generate(self) -> None:
        tables = gen.tpch_tables(self.seed, self.size["scale"])
        li = tables["lineitem"]
        paths = {k: os.path.join(self.work, k) for k in ("lineitem", "orders", "customer")}
        os.makedirs(paths["lineitem"])
        step = -(-li.num_rows // self.size["files"])
        for k, start in enumerate(range(0, li.num_rows, step)):
            pq.write_table(li.slice(start, step),
                           os.path.join(paths["lineitem"], f"part-{k}.parquet"))
        for k in ("orders", "customer"):
            paths[k] += ".parquet"
            pq.write_table(tables[k], paths[k])
        self.location = os.path.join(self.work, "ice_lineitem")
        IcebergLiteTable.create_from_parquet(self.location, paths["lineitem"])
        self.paths, self.rows, self.oracle = paths, li.num_rows, tabular_oracle(paths)

    def setup(self) -> None:
        spark = self.spark
        self.table = IcebergLiteTable(self.location)
        orders = spark.read.parquet(self.paths["orders"])
        customer = spark.read.parquet(self.paths["customer"])
        self.tables = {"orders_of_customers": orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_semi"
        ).select("o_orderkey")}
        self.suite = tabular_suite()
        self.options = EngineOptions(mode="sketch")
        with self.phase("warm-up"):
            for i in range(2):
                self.op(i)

    def run(self, i: int, arg) -> Op:
        df = self.table.read(self.spark)
        bundle = gx_spark.validate(self.spark, df, self.suite, self.options, self.tables)

        def check() -> str:
            bundle.unpersist()
            return "; ".join(check_results(bundle.suite_result.results, self.oracle))
        return Op("validate", self.rows, check)


# -- audio ------------------------------------------------------------------

FEATURE_COLS = ["clip_id", "rms_dbfs", "peak", "clipping_ratio", "zcr_per_sec",
                "silence_ratio", "spectral_centroid_hz", "dominant_hz", "fp64"]


class Audio(Workload):
    """The north-rule audio table, in cycles of two `validate` operations
    (audio_suite with violations materialized) and one `curate` (the
    checkpointed one-decode validate+curate path of `run.py --curate`).

    At 6000 clips per-clip work (binary scan, Arrow transfer to the Python
    workers, decode) is about 70% of a validate and 77% of a curate: at
    local[4], validate took 1.9 s at 1500 clips and 4.0 s at 6000, curate
    8.3 s and 19.6 s, so the fixed cost per operation is about 1.2 s and
    4.5 s."""

    name = "audio"
    cycle = 3
    primary = frozenset({"validate"})
    default_size = {"clips": 6000, "partitions": 2, "warm_clips": 256}

    def generate(self) -> None:
        self.imports = {
            "warm": self._import("warm", self.seed + 50_000, self.size["warm_clips"]),
            "main": self._import("main", self.seed, self.size["clips"])}

    def setup(self) -> None:
        self.options = EngineOptions(unexpected_index_column_names=("clip_id",))
        self.checkpoint_bytes = 0
        # warm the JVM and the Python workers: one partition of a curate
        # over a small table of the same shape, then one validate of the
        # measured table (the first validate of a table runs colder)
        with self.phase("warm-up"):
            self._use("warm")
            self._curate(0, max_partitions=1).settle()
            self._use("main")
            self._validate().settle()
        self.checkpoint_bytes = 0

    def _import(self, name: str, seed: int, n: int) -> tuple:
        """Write `n` seeded clips and import them as an Iceberg-lite table
        partitioned by part_id; returns (location, expected ids, n)."""
        p = self.size["partitions"]
        rows, expected = gen.audio_rows(seed, n, p)
        # one file per partition under hive-style part_id=<k> dirs, with
        # part_id also kept in the file (the import reads the schema from
        # a footer and the partition tuple from the path)
        src = os.path.join(self.work, f"clips_{name}")
        table = pa.Table.from_pylist(rows)
        del rows
        part = table.column("part_id").to_numpy()
        for k in range(p):
            d = os.path.join(src, f"part_id={k}")
            os.makedirs(d)
            pq.write_table(table.filter(pa.array(part == k)), os.path.join(d, "part-0.parquet"))
        location = os.path.join(self.work, f"ice_audio_{name}")
        IcebergLiteTable.create_from_parquet(location, src, partition_by=["part_id"])
        return location, expected, n

    def _use(self, name: str) -> None:
        self.location, self.expected, self.clips = self.imports[name]
        self.table = IcebergLiteTable(self.location)

    def run(self, i: int, arg) -> Op:
        return self._curate(i) if i % self.cycle == self.cycle - 1 else self._validate()

    def _validate(self) -> Op:
        # validate() materializes the (persisted) violations in its counts pass
        bundle = gx_spark.validate(self.spark, self.table.read(self.spark),
                                   audio_suite(), self.options)

        def check() -> str:
            ids = {r.clip_id for r in
                   bundle.violations_table().select("clip_id").distinct().collect()}
            bundle.unpersist()
            return self._mismatch(ids)
        return Op("validate", self.clips, check)

    def _curate(self, i: int, max_partitions: int | None = None) -> Op:
        out = os.path.join(self.work, f"curate-{i}")
        runner = CheckpointRunner(
            self.spark, audio_flag_suite(), IcebergLiteTableProvider(self.location),
            out, self.options,
            transform=lambda d: audio_ops.validate_and_extract_audio(d),
            extra_outputs={"_features": lambda t: t.select(*FEATURE_COLS)})
        res = runner.run(max_partitions=max_partitions)

        def check() -> str:
            ids = {r.clip_id for r in
                   runner.violations().select("clip_id").distinct().collect()}
            self.checkpoint_bytes += dir_bytes(out)
            n_feat = pq.read_table(os.path.join(out, "_features"),
                                   columns=["clip_id"]).num_rows
            shutil.rmtree(out)
            bad = self._mismatch(ids)
            want_parts = max_partitions or self.size["partitions"]
            if n_feat != self.clips or len(res.validated_partitions) != want_parts:
                bad += f" features={n_feat} partitions={res.validated_partitions}"
            return bad
        return Op("curate", self.clips, check)

    def _mismatch(self, ids: set) -> str:
        if ids == self.expected:
            return ""
        return (f"{len(ids - self.expected)} unexpected, "
                f"{len(self.expected - ids)} missed violating clip ids")

    def pass_start(self) -> dict:
        self.checkpoint_bytes = 0
        return {}

    def pass_extras(self, start: dict) -> dict:
        return {"checkpoint_bytes": self.checkpoint_bytes}

    def report(self) -> dict:
        return {"expected_violating_clips": len(self.expected)}


# -- ingest -----------------------------------------------------------------

def ingest_suite() -> ExpectationSuite:
    return (
        ExpectationSuite("lineitem_batch")
        .add("expect_table_row_count_to_be_between", min_value=1)
        .add("expect_column_values_to_not_be_null", column="l_orderkey")
        .add("expect_column_values_to_be_between", column="l_quantity",
             min_value=1, max_value=50)
        .add("expect_column_values_to_be_in_set", column="l_shipmode",
             value_set=gen.SHIPMODES)
    )


KEY = ["l_orderkey", "l_linenumber"]


class Ingest(Workload):
    """A seeded stream of lineitem micro-batches into a fresh Iceberg-lite
    table: WAP gates (one in five with planted bad rows), merge_into upserts
    of published keys, expire_snapshots + rewrite_manifests once a round,
    and a closing full read of main.  Each pass starts on a table that has
    already taken `aging_rounds` untimed rounds.  The latency metric is the
    gate's; the closing read is checked and reported, but rows_per_s leaves
    it out."""

    name = "ingest"
    cycle = len(gen.IngestStream.ROUND) + 1     # a round and its maintenance
    primary = frozenset({"gate"})
    default_size = {"batch_rows": 5000, "merge_rows": 500, "base_batches": 4,
                    "aging_rounds": 2}

    def setup(self) -> None:
        self.suite = ingest_suite()
        self._pass = 0
        # the aging rounds reset() runs are also the warm-up; the closing
        # read is not warmed, because rows_per_s leaves it out
        with self.phase("warm-up"):
            self.reset()

    def reset(self) -> None:
        self._pass += 1
        self.location = os.path.join(self.work, f"ice_ingest_{self._pass}")
        self.stream = gen.IngestStream(self.seed, self.size["batch_rows"],
                                       self.size["merge_rows"])
        base = pa.concat_tables([self.stream.batch(False)
                                 for _ in range(self.size["base_batches"])])
        self.stream.published.append(base)
        self.table = IcebergLiteTable.create(
            self.location, self.spark.createDataFrame(base.slice(0, 1).to_pandas()).schema)
        self.table.append(self._df(base))
        self.model = {}
        self._model_add(base)
        self.input_bytes = _parquet_bytes(base)
        self.steps: list[gen.Step] = []
        self.first = 0
        # age the table, untimed: on a fresh table the first rounds' gates
        # run up to a third slower than later ones, so a pass that measured
        # them would move with how many rounds fit in it
        for i in range(self.cycle * self.size["aging_rounds"]):
            self.op(i)
        self.first = len(self.steps)

    def _extend(self, n: int) -> None:
        while len(self.steps) < n:
            self.steps.append(self.stream.step(len(self.steps)))

    def _df(self, t: pa.Table):
        return self.spark.createDataFrame(t.to_pandas())

    def _model_add(self, t: pa.Table) -> None:
        cols = t.select(KEY + ["l_quantity"]).to_pydict()
        for ok, ln, q in zip(cols["l_orderkey"], cols["l_linenumber"], cols["l_quantity"]):
            self.model[(ok, ln)] = q

    def prepare(self, i: int):
        """Untimed: the step's input as a DataFrame (the batch arriving)."""
        self._extend(self.first + i + 1)
        step = self.steps[self.first + i]
        if step.rows is None:
            return step, None, 0
        return step, self._df(step.rows), _parquet_bytes(step.rows)

    def run(self, i: int, arg) -> Op:
        step, df, nbytes = arg
        t = self.table
        if step.kind == "gate":
            res = wap.validate_and_publish(self.spark, t, df, self.suite)

            def check() -> str:
                if res.bundle is not None:
                    res.bundle.unpersist()
                if not step.bad:
                    self._publish(step.rows, nbytes)
                ok = res.published != step.bad and (res.rejected_tag is not None) == step.bad
                return "" if ok else f"gate bad={step.bad} published={res.published}"
            return Op("gate", step.rows.num_rows, check)
        if step.kind == "merge":
            t.merge_into(self.spark, df, on=KEY)
            return Op("merge", step.rows.num_rows, lambda: self._publish(step.rows, nbytes))
        t.expire_snapshots(keep_last=5)
        t.rewrite_manifests()
        return Op("maintain", 0)

    def _publish(self, rows: pa.Table, nbytes: int) -> str:
        """Record published rows in the model; returns "" (nothing to check)."""
        self._model_add(rows)
        self.input_bytes += nbytes
        return ""

    def finish(self) -> Op:
        from pyspark.sql import functions as F

        df = self.table.read(self.spark)
        with self.tracer.span("iceberg.scan"):
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.sum("l_quantity").alias("q"),
                         F.sum(F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("k")
                         ).collect()[0]

        def check() -> str:
            got = (row["n"], row["q"], row["k"])
            want = (len(self.model), sum(self.model.values()),
                    sum(ok * 8 + ln for ok, ln in self.model))
            return "" if got == want else f"final read {got} want {want}"
        return Op("read", row["n"], check)

    def pass_start(self) -> dict:
        return {"data": dir_bytes(self.table.data_dir), "meta": dir_bytes(self.table.meta_dir)}

    def pass_extras(self, start: dict) -> dict:
        return {"data_bytes_written": dir_bytes(self.table.data_dir) - start["data"],
                "meta_bytes_written": dir_bytes(self.table.meta_dir) - start["meta"],
                "write_amp": self.report()["write_amp"]}

    def report(self) -> dict:
        table_bytes = dir_bytes(self.location)
        return {"write_amp": table_bytes / self.input_bytes,
                "table_bytes": table_bytes, "input_parquet_bytes": self.input_bytes}


def _parquet_bytes(t: pa.Table) -> int:
    sink = pa.BufferOutputStream()
    pq.write_table(t, sink)
    return sink.getvalue().size


WORKLOADS = {w.name: w for w in (Tabular, Audio, Ingest)}
