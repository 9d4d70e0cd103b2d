"""Spans around the engine's layer boundaries, recorded from outside.

The traced run replaces each boundary in ``BOUNDARIES`` -- the module
attribute the engine itself calls through -- with a wrapper that opens a
span, so no engine file changes.  Spans live in memory until the run ends.
Every span also runs its Spark jobs under its own job group, which lets
the run attribute jobs, stages and tasks to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Optional

PKG = "incubator_iceberg_spark"

# (layer, module, attribute, workload meant to exercise it).  The attribute
# is the one the engine calls through (``W.stage_write``, ``MF.write_manifest``,
# ``TableOperations.refresh`` ...).  A workload of None marks a boundary that
# no workload reaches at benchmark scale; README.md says why for each.
BOUNDARIES = (
    ("metadata", "metadata", "TableOperations.refresh", "point_lookup"),
    ("metadata", "metadata", "TableOperations.commit", "upsert_churn"),
    ("scan", "scan", "TableScan.plan_entries_local", "point_lookup"),
    ("scan", "scan", "TableScan.plan_entries_df", None),
    ("scan", "scan", "TableScan.to_df", "point_lookup"),
    ("scan", "scan", "read_entries", "point_lookup"),
    ("manifests", "manifests", "read_manifest_arrow", "upsert_churn"),
    ("manifests", "manifests", "read_manifest_list_arrow", "point_lookup"),
    ("manifests", "manifests", "write_manifest", "upsert_churn"),
    ("manifests", "manifests", "write_manifest_list", "upsert_churn"),
    ("manifests", "manifests", "write_manifests_distributed", None),
    ("manifests", "manifests", "read_entries_df_from_mlist", None),
    ("write", "write", "stage_write", "upsert_churn"),
    ("write", "write", "collect_file_stats", "upsert_churn"),
    ("snapshots", "snapshots", "append_files", "upsert_churn"),
    ("snapshots", "snapshots", "overwrite_files", "upsert_churn"),
    ("snapshots", "snapshots", "replace_partitions", None),
    ("row_ops", "row_ops", "merge_into", "upsert_churn"),
    ("row_ops", "row_ops", "delete_where", "upsert_churn"),
    ("row_ops", "row_ops", "delete_where_mor", "upsert_churn"),
    ("row_ops", "row_ops", "update_mor", "upsert_churn"),
    ("deletes", "deletes", "apply_delete_files", "upsert_churn"),
    ("maintenance", "maintenance", "rewrite_position_deletes", "upsert_churn"),
    ("maintenance", "maintenance", "rewrite_data_files", "upsert_churn"),
    ("maintenance", "maintenance", "remove_dangling_deletes", "upsert_churn"),
    ("maintenance", "maintenance", "expire_snapshots", "upsert_churn"),
    ("maintenance", "maintenance", "rewrite_manifests", "upsert_churn"),
)


def _staged(entries) -> dict:
    return {"files": len(entries),
            "rows": sum(e.get("record_count") or 0 for e in entries),
            "bytes": sum(e.get("file_size_bytes") or 0 for e in entries)}


# boundary -> reduction of its return value kept on the span
SUMMARIES = {
    "scan.plan_entries_local": lambda r: {"local": r is not None},
    "write.stage_write": _staged,
    "manifests.write_manifest": lambda r: {"bytes": r.get("manifest_length") or 0},
    "manifests.write_manifests_distributed":
        lambda r: {"bytes": sum(x.get("manifest_length") or 0 for x in r)},
    "manifests.write_manifest_list":
        lambda r: {"bytes": os.path.getsize(r) if isinstance(r, str) else 0},
    **{f"row_ops.{f}": dict for f in ("merge_into", "delete_where",
                                       "delete_where_mor", "update_mor")},
}


def span_name(module: str, attr: str) -> str:
    return f"{module}.{attr.split('.')[-1]}"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: Optional[int]
    op: Optional[int]
    end: Optional[float] = None
    error: Optional[str] = None
    jobs: list = field(default_factory=list)
    info: Any = None  # what the call returned, as SUMMARIES reduces it

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """{span id: duration minus the union of its children's intervals}.
    Children running in parallel threads are not double-subtracted."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - union_length(kids.get(s.id, ()), s.start, s.end)
            for s in spans}


class Tracer:
    """Collects spans for the op that is currently running.

    ``begin_op``/``end_op`` bracket one benchmark operation; a wrapped
    boundary called outside an op (or while ``enabled`` is False) records
    nothing.  Spans opened on worker threads have no open parent on their
    own thread and hang off the op's root span."""

    def __init__(self):
        self.spans: list = []
        self.enabled = False
        self.sc = None  # SparkContext, once the session is up
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._patched: list = []
        self.op_root: Optional[Span] = None
        self._nogroup: set = set()
        self.op_start = 0  # index in ``spans`` of the current op's root

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str, parent: Optional[Span] = None) -> Span:
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.op_root
        sp = Span(sid, name, layer, time.perf_counter(),
                  parent.id if parent is not None else None,
                  self.op_root.id if self.op_root is not None else None)
        stack.append(sp)
        self._set_group(sp)
        with self._lock:
            self.spans.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        self._set_group(stack[-1] if stack else self.op_root)

    def _set_group(self, sp: Optional[Span]) -> None:
        # job groups are per thread; only the driver's main thread runs the
        # engine's Spark actions in this benchmark
        if self.sc is None or threading.get_ident() != self._main:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb-{sp.id}", sp.name)

    def begin_op(self, name: str) -> Span:
        self.op_root = None
        self.op_start = len(self.spans)
        self._nogroup = (set(self.sc.statusTracker().getJobIdsForGroup(None))
                         if self.sc is not None else set())
        self.op_root = self._open(name, "op")
        self.op_root.op = self.op_root.id
        self._stack().clear()
        return self.op_root

    def end_op(self) -> Span:
        root = self.op_root
        root.end = time.perf_counter()
        self.op_root = None
        self._stack().clear()
        self._set_group(None)
        return root

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """A span around one call: an engine boundary or one of the
        benchmark's own Spark actions.  Records nothing outside an op."""
        if not self.active():
            yield None
            return
        sp = self._open(name, layer)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            self._close(sp)

    def active(self) -> bool:
        return self.enabled and self.op_root is not None

    # -- boundary wrapping -------------------------------------------------
    def wrap(self, fn, name: str, layer: str):
        summarize = SUMMARIES.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                if sp is not None and summarize is not None:
                    sp.info = summarize(out)
                return out

        return traced

    def install(self) -> None:
        for layer, module, attr, _wl in BOUNDARIES:
            owner, leaf = resolve(module, attr)
            orig = owner.__dict__[leaf] if isinstance(owner, type) \
                else getattr(owner, leaf)
            setattr(owner, leaf, self.wrap(orig, span_name(module, attr), layer))
            self._patched.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    # -- Spark attribution -------------------------------------------------
    def collect_jobs(self, op_spans) -> dict:
        """Attach each span's Spark jobs (by its job group) and return the
        op's totals.  Jobs under the op's own group (no layer span open)
        or under no group at all (launched from another thread) count as
        unattributed."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
               "unattributed_jobs": 0}
        if self.sc is None:
            return out
        st = self.sc.statusTracker()

        def count(ids, unattributed):
            for j in ids:
                out["jobs"] += 1
                out["unattributed_jobs"] += unattributed
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped (shuffle reuse) or evicted
                    out["stages"] += 1
                    out["tasks"] += si.numCompletedTasks + si.numFailedTasks
                    out["failed_tasks"] += si.numFailedTasks

        for sp in op_spans:
            sp.jobs = list(st.getJobIdsForGroup(f"pb-{sp.id}"))
            count(sp.jobs, int(sp.layer == "op"))
        count(set(st.getJobIdsForGroup(None)) - self._nogroup, 1)
        return out


def resolve(module: str, attr: str):
    """(owner object, leaf name) for ``module`` + dotted ``attr``."""
    owner = importlib.import_module(f"{PKG}.{module}")
    parts = attr.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p)
    return owner, parts[-1]
