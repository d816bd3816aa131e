"""Seeded input generators for the benchmark workloads.

Every generator is driven by an integer seed and returns plain pyarrow
tables / Python objects; the program under test only ever sees the parquet
files and DataFrames built from them.

- `tpch_tables`: a TPC-H-shaped `lineitem` / `orders` / `customer` triple
  (sf0.1 by default: 600k lineitem rows) with a few planted violations per
  map expectation and planted referential orphans.
- `audio_rows`: north-rule audio clips from `tools.gen_audio.gen_row`; the
  seed offsets the clip-id range.
- `IngestStream`: a seeded micro-batch schedule of WAP gates (some with
  planted bad rows), `merge_into` upserts of published keys, and periodic
  maintenance.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

SHIPMODES = ["REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
SHIPINSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
RETURNFLAGS = ["R", "A", "N"]
SHIPINSTRUCT_REGEX = r"^[A-Z ]+$"
_WORDS = ("furiously carefully quickly slyly blithely regular ironic final "
          "express special pending bold even silent deposits requests "
          "accounts packages theodolites foxes pinto beans ideas").split()
_EPOCH = dt.date(1992, 1, 1)
_MIN_SHIP_DAYS = 0
_MAX_SHIP_DAYS = (dt.date(1998, 12, 1) - _EPOCH).days

#: share of lineitem rows carrying each planted map-expectation violation
PLANT_RATE = 0.0005


def _comments(rng: np.random.Generator, n: int) -> np.ndarray:
    vocab = np.array([" ".join(rng.choice(_WORDS, 4)) for _ in range(512)],
                     dtype=object)
    return vocab[rng.integers(0, len(vocab), n)]


def lineitem_columns(rng: np.random.Generator, orderkeys: np.ndarray,
                     linenumbers: np.ndarray, plant: bool = True) -> dict:
    """Column arrays for lineitem rows at the given keys.  With `plant`,
    about PLANT_RATE of the rows get each planted violation (null comment,
    unknown ship mode, out-of-range discount, lower-case ship instruction)."""
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    partkey = rng.integers(1, 20_001, n)
    price = qty * (900.0 + (partkey % 20_001) / 10.0)
    discount = rng.integers(0, 11, n) / 100.0
    ship = rng.integers(_MIN_SHIP_DAYS, _MAX_SHIP_DAYS - 150, n)
    shipmode = np.array(SHIPMODES, dtype=object)[rng.integers(0, 7, n)]
    instruct = np.array(SHIPINSTRUCT, dtype=object)[rng.integers(0, 4, n)]
    comment = _comments(rng, n)
    if plant:
        def pick():
            return rng.random(n) < PLANT_RATE

        comment[pick()] = None
        shipmode[pick()] = "BOAT"
        m = pick()
        discount[m] = rng.integers(11, 21, int(m.sum())) / 100.0
        instruct[pick()] = "none"
    epoch = np.datetime64(_EPOCH, "D")
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n).astype(np.int64),
        "l_linenumber": linenumbers.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(price, 2),
        "l_discount": discount,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(RETURNFLAGS, dtype=object)[rng.integers(0, 3, n)],
        "l_linestatus": np.where(ship > 2300, "O", "F").astype(object),
        "l_shipdate": epoch + ship,
        "l_commitdate": epoch + ship + rng.integers(-60, 60, n),
        "l_receiptdate": epoch + ship + rng.integers(1, 31, n),
        "l_shipinstruct": instruct,
        "l_shipmode": shipmode,
        "l_comment": comment,
    }


def tpch_tables(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    """TPC-H-shaped lineitem/orders/customer at `scale` (sf0.1 = 150k
    orders, ~600k lineitem rows, 15k customers).  About 0.02% of lineitem
    rows point at an order that does not exist and about 0.1% of orders at
    a customer that does not exist, so the referential expectation has
    something to find."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_orders = int(1_500_000 * scale)
    custkeys = np.arange(1, n_cust + 1, dtype=np.int64)
    orderkeys = np.arange(n_orders, dtype=np.int64) * 4 + 1
    o_cust = rng.integers(1, n_cust + 1, n_orders)
    orphan_orders = rng.random(n_orders) < 0.001
    o_cust[orphan_orders] = n_cust + 1 + rng.integers(0, 1000, int(orphan_orders.sum()))
    lines = rng.integers(1, 8, n_orders)
    l_ok = np.repeat(orderkeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = np.arange(len(l_ok)) - starts + 1
    orphan_lines = rng.random(len(l_ok)) < 0.0002
    l_ok = l_ok.copy()
    l_ok[orphan_lines] = orderkeys[-1] + 2 + 4 * rng.integers(0, 1000, int(orphan_lines.sum()))
    lineitem = pa.table(lineitem_columns(rng, l_ok, l_ln))
    orders = pa.table({
        "o_orderkey": orderkeys,
        "o_custkey": o_cust.astype(np.int64),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_orders), 2),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], dtype=object)[rng.integers(0, 5, n_orders)],
    })
    customer = pa.table({
        "c_custkey": custkeys,
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int64),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer}


def audio_offset(seed: int, n: int) -> int:
    """First clip index for a seed: disjoint clip-id ranges per seed."""
    return 1_000_000 + (seed % 100_000) * n


def audio_rows(seed: int, n: int, p_partitions: int):
    """`n` north-rule clips starting at the seed's offset, plus the set of
    clip ids the row-level audio suite must flag.

    The expected set is the generator's sidecar minus the referential class
    (the suite has no speaker check).  A duplicate-id entry is kept only if
    the duplicated id really occurs twice in the range: the first clip of a
    range may copy the id of a clip that lies outside it."""
    from collections import Counter

    from tools.gen_audio import gen_row

    first = audio_offset(seed, n)
    rows, sidecar = [], []
    for i in range(first, first + n):
        r, s = gen_row(i, p_partitions)
        rows.append(r)
        sidecar.extend(s)
    counts = Counter(r["clip_id"] for r in rows)
    expected = {
        cid for cid, etype, _ in sidecar
        if etype != "expect_column_values_to_exist_in_table"
        and (etype != "expect_column_values_to_be_unique" or counts[cid] > 1)
    }
    return rows, expected


# -- ingest stream --------------------------------------------------------

@dataclass
class Step:
    kind: str                   # "gate" | "merge" | "maintain"
    rows: pa.Table | None = None
    bad: bool = False           # gate batch with planted bad rows


@dataclass
class IngestStream:
    """Seeded ingest schedule in rounds of `ROUND` steps: five WAP gates
    and one `merge_into` upsert in a seeded order, then maintenance.  One
    gate per round (about one batch in five) carries planted out-of-range
    quantities, at a seeded position.  Gates append fresh keys; merges
    upsert keys drawn from batches that should have been published earlier
    (every batch without planted rows, plus any base batch the caller adds
    to `published`).  Steps are generated in order, so a run of any length
    draws the same prefix for the same seed."""

    ROUND = ("gate",) * 5 + ("merge",)

    seed: int
    batch_rows: int = 5_000
    merge_rows: int = 500
    _rng: np.random.Generator = field(init=False)
    _next_order: int = field(init=False, default=1)
    _round: list = field(init=False, default_factory=list)
    published: list = field(init=False, default_factory=list)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng(self.seed)

    def batch(self, bad: bool) -> pa.Table:
        rng = self._rng
        n_orders = self.batch_rows // 4
        ok = np.repeat(np.arange(self._next_order, self._next_order + n_orders), 4)
        ln = np.tile(np.arange(1, 5), n_orders)
        self._next_order += n_orders
        cols = lineitem_columns(rng, ok, ln, plant=False)
        if bad:
            m = rng.choice(len(ok), size=int(rng.integers(1, 20)), replace=False)
            cols["l_quantity"][m] = 0.0
        return pa.table(cols)

    def step(self, i: int) -> Step:
        """Step `i` of the schedule (call with i = 0, 1, 2, ... in order)."""
        rng = self._rng
        if i % (len(self.ROUND) + 1) == len(self.ROUND):
            return Step("maintain")
        if not self._round:
            kinds = list(rng.permutation(self.ROUND))
            gates = [k for k, kind in enumerate(kinds) if kind == "gate"]
            bad = gates[int(rng.integers(0, len(gates)))]
            self._round = [(kind, k == bad) for k, kind in enumerate(kinds)][::-1]
        kind, bad = self._round.pop()
        if kind == "merge" and self.published:
            return Step("merge", self._merge_keys())
        rows = self.batch(bad)
        if not bad:
            self.published.append(rows)
        return Step("gate", rows, bad)

    def _merge_keys(self) -> pa.Table:
        rng = self._rng
        batch = self.published[int(rng.integers(0, len(self.published)))]
        idx = rng.choice(batch.num_rows, size=min(self.merge_rows, batch.num_rows),
                         replace=False)
        src = batch.take(pa.array(np.sort(idx)))
        qty = rng.integers(1, 51, src.num_rows).astype(np.float64)
        return src.set_column(src.schema.get_field_index("l_quantity"),
                              "l_quantity", pa.array(qty))
