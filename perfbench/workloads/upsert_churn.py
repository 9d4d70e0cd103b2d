"""upsert_churn: one writer drives the ``orders`` ingest table.

Each cycle: an append of new orders, a copy-on-write upsert and a
copy-on-write purge of old pending orders; then three rounds of a
merge-on-read delete and update -- with keys skewed toward recent months,
and a dashboard read after every commit -- then a maintenance pass.  Reads
pay for the delete debt the merge-on-read commits pile up (six of the nine
reads run under it, so the median read is one of them), maintenance
clears all of it, and every commit writes fresh manifests, so the manifest
cache gives little reuse.  Every read and the final table are checked
against a Python model.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

import datagen
from harness import COMMIT, MAINTENANCE, READ, Op
from model import STATUS, OrdersModel
from workloads import Workload, rel_close, spark_span

N_ORDERS = 15_000
N_CUSTOMERS = 1_500
APPEND_ROWS = 300
UPSERT_ROWS, UPSERT_NEW = 200, 50
DELETE_ROWS = UPDATE_ROWS = 40
RECENT_DAYS = 180      # "recent" for the upsert's key skew
DASHBOARD_DAYS = 365   # window of the dashboard read
MOR_DAYS = DASHBOARD_DAYS  # window of merge-on-read keys: all debt is read
MOR_ROUNDS = 3         # delete + update pairs per maintenance pass
LAST_DAY = datagen.END_DAY - 152
MAINTENANCE_ACTIONS = ("rewrite_position_deletes", "rewrite_data_files",
                       "remove_dangling_deletes", "expire_snapshots",
                       "rewrite_manifests")


class UpsertChurn(Workload):
    name = "upsert_churn"
    track_each_op = True

    def generate(self):
        cols = datagen.orders_columns(self.rng, np.arange(1, N_ORDERS + 1), N_CUSTOMERS)
        self.initial = datagen.orders_table(cols)
        self.model = OrdersModel(cols)

    def setup(self):
        from incubator_iceberg_spark.schema import Schema
        ctx = self.ctx
        self.cat = ctx.catalog()
        df = ctx.stage_input(self.initial)
        self.t = self.cat.create_table("db.orders", Schema.from_spark(df.schema),
                                       partition_by=["month(o_orderdate)"])
        self.t.append(df)

    def warmup(self):
        # a read warms the scan path; the write paths warm in set-up's append
        self._read().run()

    # -- op builders (each updates the model as the op is queued) ------------
    def _new_rows(self, keys, days=None) -> dict:
        if days is None:
            days = self.rng.integers(LAST_DAY - 90, LAST_DAY, len(keys))
        return datagen.orders_columns(self.rng, np.asarray(keys), N_CUSTOMERS, days)

    def _recent_keys(self, n: int):
        # merge-on-read ops hit the dashboard's months only, so every seed
        # leaves its delete debt in the same partitions, all of it read (the
        # reads' cost then tracks the engine, not the draw)
        return self.model.choose_keys(self.rng, n, LAST_DAY - MOR_DAYS,
                                      recent_share=1.0)

    def _read(self) -> Op:
        from_day = LAST_DAY - DASHBOARD_DAYS
        want = self.model.read(from_day)
        pred = f"o_orderdate >= DATE '{datagen.iso(from_day)}'"

        def run():
            from pyspark.sql import functions as F
            df = self.cat.load_table("db.orders").to_df(filter=pred)
            with spark_span(self.ctx, "spark.collect"):
                row = df.agg(F.count("*"), F.sum("o_totalprice")).collect()[0]
            return int(row[0]), float(row[1] or 0.0)

        def check(got):
            if got[0] != want[0] or not rel_close(got[1], want[1]):
                return f"read {pred}: got {got}, want {want}"
            return None

        return Op(READ, "read", run, check)

    def _append(self) -> Op:
        rows = self._new_rows(np.arange(self.model.next_key,
                                        self.model.next_key + APPEND_ROWS))
        self.model.append(rows)
        df = self.ctx.stage_input(datagen.orders_table(rows))
        return Op(COMMIT, "append", lambda: self.t.append(df))

    def _upsert(self) -> Op:
        old = self.model.choose_keys(self.rng, UPSERT_ROWS, LAST_DAY - RECENT_DAYS)
        rows = self._new_rows(old, self.model.cols["o_orderdate"][old - 1])
        new = self._new_rows(np.arange(self.model.next_key,
                                       self.model.next_key + UPSERT_NEW))
        both = {c: np.concatenate([rows[c], new[c]]) for c in rows}
        self.model.upsert(both)
        df = self.ctx.stage_input(datagen.orders_table(both))
        return Op(COMMIT, "upsert", lambda: self.t.upsert(df, on=["o_orderkey"]),
                  rows_changed=len(both["o_orderkey"]))

    def _delete_mor(self) -> Op:
        keys = self._recent_keys(DELETE_ROWS)
        self.model.delete_keys(keys)
        pred = f"o_orderkey IN ({', '.join(map(str, keys))})"
        self.ctx.input_bytes += pa.array(keys).nbytes
        return Op(COMMIT, "delete_mor",
                  lambda: self.t.delete_where(pred, mode="merge-on-read"),
                  rows_changed=len(keys))

    def _update_mor(self) -> Op:
        keys = self._recent_keys(UPDATE_ROWS)
        self.model.update_keys(keys, 7.25, "P")
        pred = f"o_orderkey IN ({', '.join(map(str, keys))})"
        self.ctx.input_bytes += pa.array(keys).nbytes
        return Op(COMMIT, "update_mor",
                  lambda: self.t.update({"o_totalprice": "o_totalprice + 7.25",
                                         "o_orderstatus": "'P'"},
                                        pred, mode="merge-on-read"),
                  rows_changed=len(keys))

    def _purge(self, k: int) -> Op:
        """Copy-on-write delete of pending orders from the oldest months."""
        before = datagen.START_DAY + 31 * (k + 1)
        n_before = self.model.live_rows()
        self.model.delete_where("P", before)
        pred = (f"o_orderstatus = 'P' AND "
                f"o_orderdate < DATE '{datagen.iso(before)}'")
        return Op(COMMIT, "purge_cow",
                  lambda: self.t.delete_where(pred, mode="copy-on-write"),
                  rows_changed=n_before - self.model.live_rows())

    def _maintenance(self) -> Op:
        def run():
            for action in MAINTENANCE_ACTIONS:
                if action == "expire_snapshots":
                    # list the files this pass wrote before expiry deletes
                    # the ones already unreferenced (write_amp counts them)
                    self.ctx.track_files()
                getattr(self.t, action)()

        return Op(MAINTENANCE, "maintenance", run)

    def cycle(self, k):
        # merge-on-read ops last: their delete debt builds up over the
        # reads that follow them, and no copy-on-write rewrite clears a
        # seed-dependent share of it before the maintenance pass does
        ops = []
        for commit in ([self._append, self._upsert, lambda: self._purge(k)]
                       + [self._delete_mor, self._update_mor] * MOR_ROUNDS):
            ops += [commit(), self._read()]
        return ops + [self._maintenance()]

    # -- final state ------------------------------------------------------------
    def verify_final(self):
        got = self.cat.load_table("db.orders").to_df().toArrow().sort_by("o_orderkey")
        want = self.model.snapshot()
        errors = []
        keys = got.column("o_orderkey").to_numpy()
        if len(keys) != len(want["o_orderkey"]) or (keys != want["o_orderkey"]).any():
            return [f"final table has {len(keys)} live keys, model has "
                    f"{len(want['o_orderkey'])} (key sets differ)"]
        status = np.array([STATUS.index(s) for s in
                           got.column("o_orderstatus").to_pylist()])
        checks = {
            "o_totalprice": got.column("o_totalprice").to_numpy(),
            "o_orderstatus": status,
            "o_orderdate": got.column("o_orderdate").cast(pa.int32()).to_numpy(),
            "o_custkey": got.column("o_custkey").to_numpy(),
        }
        for c, v in checks.items():
            diff = np.flatnonzero(v != want[c])
            if len(diff):
                errors.append(f"final {c} differs on {len(diff)} keys, e.g. "
                              f"key {keys[diff[0]]}: {v[diff[0]]} != {want[c][diff[0]]}")
        return errors

    def live_rows(self):
        return self.model.live_rows()

    def tables(self):
        return [self.cat.load_table("db.orders")]


WORKLOAD = UpsertChurn
