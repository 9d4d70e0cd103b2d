"""Run context, the closed-loop op runner and the end-to-end metrics."""

from __future__ import annotations

import os
import resource
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import pyarrow.parquet as pq

import stats

READ, COMMIT, MAINTENANCE = "read", "commit", "maintenance"


@dataclass
class Op:
    """One operation of a workload's seeded sequence.

    ``run`` makes the engine calls and returns what the op observed;
    ``check`` runs after the timed window and returns an error message
    when that observation is wrong."""
    kind: str
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], Optional[str]] = lambda _r: None
    rows_changed: int = 0


@dataclass
class Record:
    op: Op
    seconds: float
    cycle: int
    result: Any = None
    error: Optional[str] = None
    new_bytes: int = 0
    removed_files: int = 0
    root_span: Any = None
    spark: dict = field(default_factory=dict)


class Ctx:
    """Everything a workload needs: the session, a fresh warehouse, the
    input staging area and file accounting."""

    def __init__(self, tmp: str, seed: int, nproc: int, tracer=None):
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer
        self.warehouse = os.path.join(tmp, "warehouse")
        self.inputs = os.path.join(tmp, "inputs")
        os.makedirs(self.warehouse)
        os.makedirs(self.inputs)
        self.input_bytes = 0       # Arrow bytes handed to the engine
        self.files: dict = {}      # every file ever seen under the warehouse
        self.spark = None
        self._n_inputs = 0
        self._last: dict = {}
        self.removed = 0           # files seen, then gone
        self._mark = (0, 0)

    # -- Spark ---------------------------------------------------------------
    def start_spark(self) -> None:
        from incubator_iceberg_spark.session import get_spark
        self.spark = get_spark(master=f"local[{self.nproc}]",
                               shuffle_partitions=self.nproc)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext

    def stop_spark(self) -> None:
        """Stop the session and wait until its JVM has exited (the JVM
        exits when its stdin, held by this process, closes)."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def catalog(self):
        from incubator_iceberg_spark import Catalog
        return Catalog(self.warehouse, self.spark)

    # -- inputs --------------------------------------------------------------
    def stage_input(self, table, parts: int = 1):
        """Write a generated Arrow table as ``parts`` Parquet files and hand
        the engine a DataFrame over them."""
        self._n_inputs += 1
        d = os.path.join(self.inputs, f"in{self._n_inputs:05d}")
        os.makedirs(d)
        n = table.num_rows
        for i in range(parts):
            lo, hi = i * n // parts, (i + 1) * n // parts
            pq.write_table(table.slice(lo, hi - lo), os.path.join(d, f"p{i:03d}.parquet"))
        self.input_bytes += table.nbytes
        return self.spark.read.parquet(d)

    # -- file accounting ------------------------------------------------------
    def _listing(self) -> dict:
        out = {}
        for d, _dirs, names in os.walk(self.warehouse):
            for n in names:
                p = os.path.join(d, n)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass
        return out

    def track_files(self) -> None:
        """Record the warehouse listing: every file ever seen, and how many
        have disappeared since the last listing."""
        now = self._listing()
        self.removed += sum(1 for p in self._last if p not in now)
        self.files.update(now)
        self._last = now

    def delta(self) -> tuple:
        """(bytes of new files, files removed) since the last call."""
        self.track_files()
        mark = (self.bytes_written(), self.removed)
        out = (mark[0] - self._mark[0], mark[1] - self._mark[1])
        self._mark = mark
        return out

    def bytes_written(self) -> int:
        return sum(self.files.values())

    def table_bytes(self) -> int:
        return sum(self._listing().values())


def run_pass(workload, seconds: float, cycles: Optional[int] = None,
             tracer=None, after_op=None, first: int = 0) -> tuple:
    """Closed loop, one client, no think time: run whole cycles of the
    workload's ops, from cycle index ``first``, until the busy time is as
    close to ``seconds`` as whole cycles allow (a next cycle runs while it
    is predicted to end less than half a cycle past ``seconds``; at least
    one runs), or exactly ``cycles`` cycles.  ``after_op(record)`` runs
    between ops, outside the op's wall time.  Returns (records, index of
    the next cycle)."""
    records: list = []
    busy, k = 0.0, first
    while True:
        for op in workload.cycle(k):
            if tracer is not None:
                tracer.begin_op(op.name)
            t0 = time.perf_counter()
            try:
                rec = Record(op, 0.0, k, result=op.run())
            except Exception as e:  # a failed op is reported, never dropped
                rec = Record(op, 0.0, k, error=f"{type(e).__name__}: {e}")
            rec.seconds = time.perf_counter() - t0
            if tracer is not None:
                rec.root_span = tracer.end_op()
            if after_op is not None:
                after_op(rec)
            busy += rec.seconds
            records.append(rec)
        k += 1
        if cycles is not None:
            if k - first >= cycles:
                break
        elif busy + busy / (k - first) / 2 > seconds:
            break
    return records, k


def check_records(records) -> list:
    """One entry (index, op name, error) per op that raised or answered wrong."""
    bad = []
    for i, rec in enumerate(records):
        msg = rec.error
        if msg is None:
            try:
                msg = rec.op.check(rec.result)
            except Exception as e:
                msg = f"check raised {type(e).__name__}: {e}"
        if msg:
            bad.append({"op": i, "name": rec.op.name, "error": msg})
    return bad


# (name, unit, better) of every end-to-end metric; BENCHMARK.json mirrors it
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("read_p50_ms", "ms", "lower"),
    ("commit_p50_ms", "ms", "lower"),
    ("write_amp", "ratio", "lower"),
    ("bytes_per_live_row", "B", "lower"),
    ("driver_rss_mb", "MB", "lower"),
)


def end_to_end(ctx: Ctx, records, setup_s: float, live_rows: int) -> dict:
    walls = [r.seconds for r in records]
    reads = [r.seconds for r in records if r.op.kind == READ]
    commits = [r.seconds for r in records if r.op.kind == COMMIT]
    values = {
        "setup_s": setup_s,
        "ops_per_s": len(walls) / sum(walls),
        "op_p50_ms": statistics.median(walls) * 1000.0,
        "read_p50_ms": statistics.median(reads) * 1000.0,
        "commit_p50_ms": statistics.median(commits) * 1000.0,
        "write_amp": ctx.bytes_written() / ctx.input_bytes,
        "bytes_per_live_row": ctx.table_bytes() / live_rows,
        "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    return {name: (values[name], unit) for name, unit, _b in END_TO_END}


def details(records, bad: list) -> dict:
    """Figures that apply to some workloads only; printed in the report
    line, not gated."""
    walls = sorted(r.seconds for r in records)
    p = stats.tail_percentile(len(walls))
    out = {
        "ops": len(walls),
        "op_ms": [round(r.seconds * 1000.0, 1) for r in records],
        "failed_op_ratio": len(bad) / len(walls),
        "failed_ops": bad,
        "op_tail_ms": ({"percentile": p, "value": stats.percentile(walls, p) * 1000.0}
                       if p is not None else None),
    }
    passes = [r.seconds for r in records if r.op.kind == MAINTENANCE]
    if passes:
        out["maintenance_s_per_pass"] = statistics.median(passes)
    return out
