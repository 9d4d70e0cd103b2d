"""Python model of the upsert_churn ``orders`` table: which keys are live
and what each live row holds.  Every read and the final table are checked
against it."""

from __future__ import annotations

import numpy as np

COLUMNS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
           "o_orderpriority", "o_shippriority")
STATUS = ("F", "O", "P")


class OrdersModel:
    """Rows are stored by position ``o_orderkey - 1``; keys are 1..n."""

    def __init__(self, cols: dict):
        self.alive = np.zeros(0, dtype=bool)
        self.cols = {c: np.zeros(0, dtype=np.asarray(cols[c]).dtype) for c in COLUMNS}
        self.upsert(cols)

    @property
    def next_key(self) -> int:
        return len(self.alive) + 1

    def _grow(self, n: int) -> None:
        extra = n - len(self.alive)
        if extra > 0:
            self.alive = np.concatenate([self.alive, np.zeros(extra, dtype=bool)])
            for c, a in self.cols.items():
                self.cols[c] = np.concatenate([a, np.zeros(extra, dtype=a.dtype)])

    def upsert(self, cols: dict) -> None:
        """Insert or fully replace the rows of ``cols["o_orderkey"]``."""
        idx = np.asarray(cols["o_orderkey"], dtype=np.int64) - 1
        if len(idx):
            self._grow(int(idx.max()) + 1)
        for c in COLUMNS:
            self.cols[c][idx] = cols[c]
        self.alive[idx] = True

    def append(self, cols: dict) -> None:
        idx = np.asarray(cols["o_orderkey"], dtype=np.int64) - 1
        if (idx < len(self.alive)).any() and self.alive[idx[idx < len(self.alive)]].any():
            raise ValueError("append of a live key")
        self.upsert(cols)

    def delete_keys(self, keys) -> None:
        self.alive[np.asarray(keys, dtype=np.int64) - 1] = False

    def delete_where(self, status: str, before_day: int) -> None:
        """``o_orderstatus = status AND o_orderdate < before_day``."""
        hit = (self.cols["o_orderstatus"] == STATUS.index(status)) \
            & (self.cols["o_orderdate"] < before_day)
        self.alive &= ~hit

    def update_keys(self, keys, price_delta: float, status: str) -> None:
        idx = np.asarray(keys, dtype=np.int64) - 1
        idx = idx[self.alive[idx]]
        self.cols["o_totalprice"][idx] = self.cols["o_totalprice"][idx] + price_delta
        self.cols["o_orderstatus"][idx] = STATUS.index(status)

    # -- queries -------------------------------------------------------------
    def live_keys(self) -> np.ndarray:
        return np.flatnonzero(self.alive) + 1

    def live_rows(self) -> int:
        return int(self.alive.sum())

    def read(self, from_day: int) -> tuple:
        """(count, sum of o_totalprice) of live rows with o_orderdate >= from_day."""
        m = self.alive & (self.cols["o_orderdate"] >= from_day)
        return int(m.sum()), float(self.cols["o_totalprice"][m].sum())

    def choose_keys(self, rng, n: int, recent_from_day: int,
                    recent_share: float = 0.8) -> np.ndarray:
        """``n`` distinct live keys, ``recent_share`` of them (when there are
        enough) from orders dated on or after ``recent_from_day``."""
        live = self.live_keys()
        dates = self.cols["o_orderdate"][live - 1]
        recent = live[dates >= recent_from_day]
        k = min(len(recent), int(round(n * recent_share)))
        hot = rng.choice(recent, size=k, replace=False) if k else recent[:0]
        rest = np.setdiff1d(live, hot, assume_unique=True)
        cold = rng.choice(rest, size=min(n - k, len(rest)), replace=False)
        return np.sort(np.concatenate([hot, cold]))

    def rows_of(self, keys) -> dict:
        idx = np.asarray(keys, dtype=np.int64) - 1
        out = {"o_orderkey": np.asarray(keys, dtype=np.int64)}
        out.update({c: self.cols[c][idx].copy() for c in COLUMNS})
        return out

    def snapshot(self) -> dict:
        """Columns of every live row, ordered by key."""
        return self.rows_of(self.live_keys())
