"""point_lookup: one user's selective reads of ``lineitem`` while a loader
appends late lineitems.

The table is appended in one commit per ship year, so it has several
manifests (few enough for the 512-entry parsed-manifest LRU) and hundreds
of small data files.  Each lookup loads the table, filters one month of
``l_shipdate`` plus an ``l_orderkey`` range, and runs count + sum: per-query
fixed cost dominates and planning takes the driver path.  Each cycle starts
with one small append of a month's late lineitems (one data file, one
manifest), so commit latency is measured in the timed loop, on the table
the lookups read.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import datagen
from harness import COMMIT, READ, Op
from workloads import Workload, rel_close, spark_span

N_ORDERS = 15_000
LOOKUPS_PER_CYCLE = 16
WARMUP_OPS = 60


def _month_index(ship: pa.ChunkedArray) -> np.ndarray:
    return (pc.year(ship).to_numpy() - 1992) * 12 + pc.month(ship).to_numpy() - 1


def _oracle_columns(t: pa.Table) -> tuple:
    """(ship day, order key, price) as numpy: what the lookups are checked on."""
    return (t.column("l_shipdate").cast(pa.int32()).to_numpy(),
            t.column("l_orderkey").to_numpy(),
            t.column("l_extendedprice").to_numpy())


class PointLookup(Workload):
    name = "point_lookup"

    def generate(self):
        seed = self.ctx.seed
        li = datagen.generate(seed, N_ORDERS)["lineitem"]
        year = pc.year(li.column("l_shipdate")).to_numpy()
        self.by_year = [li.filter(pa.array(year == y)) for y in np.unique(year)]
        self.ship, self.okey, self.price = _oracle_columns(li)
        # late lineitems, appended a ship month at a time in the timed loop
        late = datagen.generate([seed, 3], N_ORDERS)["lineitem"]
        month = _month_index(late.column("l_shipdate"))
        self.late = [late.filter(pa.array(month == m)) for m in np.unique(month)]
        self.key_max = int(self.okey.max())

    def setup(self):
        from incubator_iceberg_spark.schema import Schema
        ctx = self.ctx
        self.cat = ctx.catalog()
        inputs = [ctx.stage_input(t, parts=ctx.nproc) for t in self.by_year]
        self.t = self.cat.create_table("db.lineitem", Schema.from_spark(inputs[0].schema),
                                       partition_by=["month(l_shipdate)"],
                                       properties={"write.distribution-mode": "none"})
        for df in inputs:
            self.t.append(df)

    def warmup(self):
        for _ in range(WARMUP_OPS):
            self._lookup(self.warm_rng).run()

    def _append(self) -> Op:
        rows = self.late[int(self.rng.integers(len(self.late)))]
        self.ship, self.okey, self.price = (
            np.concatenate(pair) for pair in zip((self.ship, self.okey, self.price),
                                                 _oracle_columns(rows)))
        df = self.ctx.stage_input(rows)
        return Op(COMMIT, "append", lambda: self.t.append(df))

    def _lookup(self, rng) -> Op:
        lo_day, hi_day = datagen.month_days(datagen.MONTHS[rng.integers(len(datagen.MONTHS))])
        width = self.key_max // 8
        k_lo = int(rng.integers(1, self.key_max - width))
        k_hi = k_lo + width
        pred = (f"l_shipdate >= DATE '{datagen.iso(lo_day)}' AND "
                f"l_shipdate < DATE '{datagen.iso(hi_day)}' AND "
                f"l_orderkey >= {k_lo} AND l_orderkey < {k_hi}")
        # the oracle only grows at its end: its first n rows are the rows
        # committed before this lookup runs
        n = len(self.okey)

        def run():
            from pyspark.sql import functions as F
            df = self.cat.load_table("db.lineitem").to_df(filter=pred)
            with spark_span(self.ctx, "spark.collect"):
                row = df.agg(F.count("*"), F.sum("l_extendedprice")).collect()[0]
            return int(row[0]), float(row[1] or 0.0)

        def check(got):
            ship, okey, price = self.ship[:n], self.okey[:n], self.price[:n]
            m = (ship >= lo_day) & (ship < hi_day) & (okey >= k_lo) & (okey < k_hi)
            want = (int(m.sum()), float(price[m].sum()))
            if got[0] != want[0] or not rel_close(got[1], want[1]):
                return f"{pred}: got {got}, want {want}"
            return None

        return Op(READ, "lookup", run, check)

    def cycle(self, k):
        return [self._append()] + [self._lookup(self.rng) for _ in range(LOOKUPS_PER_CYCLE)]

    def live_rows(self):
        return len(self.okey)

    def tables(self):
        return [self.cat.load_table("db.lineitem")]


WORKLOAD = PointLookup
