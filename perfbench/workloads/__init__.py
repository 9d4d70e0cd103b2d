"""The benchmark's workloads, by name.  Each one generates its inputs from
the run's seed, builds its tables (timed as set-up), then yields its ops a
cycle at a time; every cycle has the same mix of op kinds on every seed."""

from __future__ import annotations

import contextlib
import importlib

import numpy as np


class Workload:
    name = ""
    # list the warehouse after every op: set where ops delete files, so
    # bytes-written accounting sees files that a later op removes
    track_each_op = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 1])       # op sequence
        self.warm_rng = np.random.default_rng([ctx.seed, 2])  # warm-up ops

    def generate(self) -> None:
        """Make the inputs (not timed)."""

    def setup(self) -> None:
        """Build the tables (timed as set-up)."""

    def warmup(self) -> None:
        """Untimed-loop ops that let lazy set-up finish (timed as set-up)."""

    def cycle(self, k: int) -> list:
        raise NotImplementedError

    def verify_final(self) -> list:
        """Errors found in the final table state (after the timed window)."""
        return []

    def live_rows(self) -> int:
        raise NotImplementedError

    def tables(self) -> list:
        """Fresh handles on every table the workload built."""
        raise NotImplementedError


def spark_span(ctx, name: str):
    """Span for one of the benchmark's own Spark actions (traced run only)."""
    if ctx.tracer is None:
        return contextlib.nullcontext()
    return ctx.tracer.span(name, "spark")


def rel_close(a: float, b: float) -> bool:
    """Equal up to float summation order."""
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


NAMES = ("point_lookup", "upsert_churn")


def load(name: str):
    """The workload class defined by module ``workloads.<name>``."""
    return importlib.import_module(f"workloads.{name}").WORKLOAD
