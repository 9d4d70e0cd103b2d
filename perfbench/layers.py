"""Per-layer metrics of the traced run.

``METRICS`` lists every per-layer metric with its unit and direction;
BENCHMARK.json mirrors it (a test keeps the two equal).  A layer the
workload does not exercise reports 0 for its times and counts.
"""

from __future__ import annotations

import os
import statistics

import stats
import tracing
from harness import COMMIT, MAINTENANCE, READ
from workloads.upsert_churn import MAINTENANCE_ACTIONS

# (name, unit, better)
METRICS = (
    ("metadata.refresh_ms", "ms", "lower"),
    ("metadata.commit_ms", "ms", "lower"),
    ("metadata.json_bytes", "B", "lower"),
    ("metadata.commit_attempts", "count", "lower"),
    ("metadata.commit_conflicts", "count", "lower"),
    ("scan.plan_ms", "ms", "lower"),
    ("scan.plan_local_ratio", "ratio", "higher"),
    ("scan.manifest_cache_hit_ratio", "ratio", "higher"),
    ("scan.files_planned", "count", "lower"),
    ("scan.file_skip_ratio", "ratio", "higher"),
    ("scan.delete_files_planned", "count", "lower"),
    ("scan.build_ms", "ms", "lower"),
    ("scan.read_groups", "count", "lower"),
    ("manifests.reads", "count", "lower"),
    ("manifests.read_ms", "ms", "lower"),
    ("manifests.writes", "count", "lower"),
    ("manifests.write_ms", "ms", "lower"),
    ("manifests.bytes_written", "B", "lower"),
    ("spark.exec_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.unattributed_jobs", "count", "lower"),
    ("write.stage_ms", "ms", "lower"),
    ("write.stats_ms", "ms", "lower"),
    ("write.files", "count", "lower"),
    ("write.bytes", "B", "lower"),
    ("write.rows_per_file", "rows", "higher"),
    ("snapshots.commit_ms", "ms", "lower"),
    ("snapshots.manifests_live", "count", "lower"),
    ("row_ops.merge_ms", "ms", "lower"),
    ("row_ops.delete_ms", "ms", "lower"),
    ("row_ops.update_ms", "ms", "lower"),
    ("row_ops.files_rewritten", "count", "lower"),
    ("row_ops.delete_files_written", "count", "lower"),
    ("row_ops.rows_written_per_row_changed", "ratio", "lower"),
    ("deletes.live_delete_files", "count", "lower"),
    ("deletes.apply_ms", "ms", "lower"),
    *((f"maintenance.{a}_ms", "ms", "lower") for a in MAINTENANCE_ACTIONS),
    ("maintenance.bytes_rewritten", "B", "lower"),
    ("maintenance.files_removed", "count", "higher"),
    ("setup.metadata_ms", "ms", "lower"),
    ("setup.manifests_ms", "ms", "lower"),
    ("setup.write_ms", "ms", "lower"),
    ("setup.snapshots_ms", "ms", "lower"),
    ("process.jvm_rss_mb", "MB", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.unattributed_ms", "ms", "lower"),
)


class ScanLog:
    """ScanEvents fired inside traced ops, with the scanned snapshot's
    live data/delete file totals looked up after the op."""

    def __init__(self, tracer):
        from incubator_iceberg_spark import events
        self.tracer = tracer
        self.rows: list = []  # [op id, event, totals]
        self._totals: dict = {}
        events.register(self._on_event)

    def _on_event(self, ev) -> None:
        from incubator_iceberg_spark.events import ScanEvent
        if isinstance(ev, ScanEvent) and self.tracer.active():
            self.rows.append([self.tracer.op_root.id, ev, None])

    def resolve(self) -> None:
        from incubator_iceberg_spark.metadata import TableOperations
        for row in self.rows:
            if row[2] is None:
                ev = row[1]
                key = (ev.table_location, ev.snapshot_id)
                if key not in self._totals:
                    snap = TableOperations(ev.table_location).refresh() \
                        .snapshot_by_id(ev.snapshot_id)
                    summ = snap.summary if snap is not None else {}
                    self._totals[key] = (int(summ.get("total-data-files", 0)),
                                         int(summ.get("total-delete-files", 0)))
                row[2] = self._totals[key]


def table_versions(tables) -> int:
    return sum(t.ops.current_version() or 0 for t in tables)


def after_traced_op(ctx, rec, scan_log: ScanLog, track=None) -> None:
    """Between traced ops: Spark job attribution and scan totals."""
    rec.spark = ctx.tracer.collect_jobs(ctx.tracer.spans[ctx.tracer.op_start:])
    scan_log.resolve()
    if track is not None:
        track(rec)


def begin_traced_pass(wl) -> dict:
    from incubator_iceberg_spark import scan
    return {"versions": table_versions(wl.tables()),
            "cache": scan._read_manifest_pylist.cache_info()}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _med_ms(spans) -> float:
    return statistics.median([s.duration for s in spans]) * 1000.0 if spans else 0.0


def per_layer(ctx, wl, untraced, traced, setup_root, scan_log, start) -> dict:
    from incubator_iceberg_spark import manifests, scan

    tracer = ctx.tracer
    op_ids = {r.root_span.id for r in traced}
    spans = [s for s in tracer.spans if s.op in op_ids]
    setup_spans = [s for s in tracer.spans if s.op == setup_root.id]
    by: dict = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    get = lambda *names: [s for n in names for s in by.get(n, [])]  # noqa: E731
    self_t = tracing.self_times(spans)
    parent = {s.id: s for s in spans}
    n_ops = len(traced)
    commits = sum(1 for r in traced if r.op.kind == COMMIT) or 1
    out: dict = {}

    def put(name, value):
        out[name] = float(value)

    # metadata
    tables = wl.tables()
    put("metadata.refresh_ms", _med_ms(get("metadata.refresh")))
    put("metadata.commit_ms", _med_ms(get("metadata.commit")))
    put("metadata.json_bytes", sum(
        os.path.getsize(t.ops.metadata_path(t.ops.current_version())) for t in tables))
    attempts = len(get("metadata.commit"))
    put("metadata.commit_attempts", attempts)
    put("metadata.commit_conflicts", attempts - (table_versions(tables) - start["versions"]))

    # scan
    plans = []
    for r in traced:
        iv = [(s.start, s.end) for s in get("scan.plan_entries_local", "scan.plan_entries_df")
              if s.op == r.root_span.id]
        if iv:
            plans.append(tracing.union_length(iv, r.root_span.start, r.root_span.end))
    put("scan.plan_ms", statistics.median(plans) * 1000.0 if plans else 0.0)
    local = sum(1 for s in get("scan.plan_entries_local") if s.info and s.info["local"])
    dist = len(get("scan.plan_entries_df"))
    put("scan.plan_local_ratio", local / (local + dist) if local + dist else 0.0)
    c0, c1 = start["cache"], scan._read_manifest_pylist.cache_info()
    looked = (c1.hits - c0.hits) + (c1.misses - c0.misses)
    put("scan.manifest_cache_hit_ratio", (c1.hits - c0.hits) / looked if looked else 0.0)
    events = [row for row in scan_log.rows if row[0] in op_ids]
    planned = [ev.planned_data_files for _o, ev, _t in events]
    put("scan.files_planned", statistics.median(planned) if planned else 0)
    skips = [1.0 - ev.planned_data_files / tot[0] for _o, ev, tot in events if tot[0]]
    put("scan.file_skip_ratio", stats.mean(skips))
    dels = [ev.planned_delete_files for _o, ev, _t in events]
    put("scan.delete_files_planned", statistics.median(dels) if dels else 0)
    to_df = get("scan.to_df")
    put("scan.build_ms", statistics.median([self_t[s.id] for s in to_df]) * 1000.0 if to_df else 0.0)
    groups = sum(1 for s in get("scan.read_entries")
                 if s.parent in parent and parent[s.parent].name == "scan.to_df")
    put("scan.read_groups", groups / len(to_df) if to_df else 0.0)

    # manifests
    reads = get("manifests.read_manifest_arrow", "manifests.read_manifest_list_arrow")
    put("manifests.reads", len(reads) / n_ops)
    put("manifests.read_ms", sum(s.duration for s in reads) * 1000.0 / n_ops)
    writes = get("manifests.write_manifest", "manifests.write_manifests_distributed")
    mwrites = writes + get("manifests.write_manifest_list")
    put("manifests.writes", len(writes) / commits)
    put("manifests.write_ms", sum(s.duration for s in mwrites) * 1000.0 / commits)
    put("manifests.bytes_written",
        sum(s.info["bytes"] for s in mwrites if s.info) / commits)

    # spark
    put("spark.exec_ms", _med_ms([s for s in spans if s.layer == "spark"]))
    for k in ("jobs", "stages", "tasks"):
        put(f"spark.{k}", sum(r.spark.get(k, 0) for r in traced) / n_ops)
    for k in ("failed_tasks", "unattributed_jobs"):
        put(f"spark.{k}", sum(r.spark.get(k, 0) for r in traced))

    # write
    staged = get("write.stage_write")
    put("write.stage_ms", _med_ms(staged))
    put("write.stats_ms", _med_ms(get("write.collect_file_stats")))
    files = sum(s.info["files"] for s in staged if s.info)
    put("write.files", files / len(staged) if staged else 0.0)
    put("write.bytes", sum(s.info["bytes"] for s in staged if s.info) / len(staged)
        if staged else 0.0)
    put("write.rows_per_file",
        sum(s.info["rows"] for s in staged if s.info) / files if files else 0.0)

    # snapshots
    commits_sn = get("snapshots.append_files", "snapshots.overwrite_files",
                     "snapshots.replace_partitions")
    put("snapshots.commit_ms",
        statistics.median([self_t[s.id] for s in commits_sn]) * 1000.0 if commits_sn else 0.0)
    put("snapshots.manifests_live", sum(
        manifests.read_manifest_list_arrow(t.current_snapshot().manifest_list).num_rows
        for t in tables if t.current_snapshot() is not None))

    # row ops
    put("row_ops.merge_ms", _med_ms(get("row_ops.merge_into")))
    put("row_ops.delete_ms", _med_ms(get("row_ops.delete_where", "row_ops.delete_where_mor")))
    put("row_ops.update_ms", _med_ms(get("row_ops.update_mor")))
    info = lambda names, key: sum((s.info or {}).get(key, 0) for s in get(*names))  # noqa: E731
    put("row_ops.files_rewritten", info(["row_ops.merge_into"], "touched_files")
        + info(["row_ops.delete_where"], "rewritten_files"))
    put("row_ops.delete_files_written",
        info(["row_ops.delete_where_mor", "row_ops.update_mor"], "delete_files_written"))

    def under_row_op(s) -> bool:
        while s.parent in parent:
            s = parent[s.parent]
            if s.layer == "row_ops":
                return True
        return False

    changed = sum(r.op.rows_changed for r in traced)
    rows_written = sum(s.info["rows"] for s in staged if s.info and under_row_op(s))
    put("row_ops.rows_written_per_row_changed", rows_written / changed if changed else 0.0)

    # deletes
    read_ops = {r.root_span.id for r in traced if r.op.kind == READ}
    live = [tot[1] for o, _ev, tot in events if o in read_ops]
    put("deletes.live_delete_files", statistics.median(live) if live else 0)
    put("deletes.apply_ms", _med_ms(get("deletes.apply_delete_files")))

    # maintenance
    for a in MAINTENANCE_ACTIONS:
        put(f"maintenance.{a}_ms", _med_ms(get(f"maintenance.{a}")))
    maint = [r for r in traced if r.op.kind == MAINTENANCE]
    put("maintenance.bytes_rewritten", sum(r.new_bytes for r in maint))
    put("maintenance.files_removed", sum(r.removed_files for r in maint))

    # set-up, by layer (self time)
    setup_self = tracing.self_times(setup_spans)
    for layer in ("metadata", "manifests", "write", "snapshots"):
        put(f"setup.{layer}_ms", sum(setup_self[s.id] for s in setup_spans
                                     if s.layer == layer) * 1000.0)

    # process and tracing cost
    put("process.jvm_rss_mb", _jvm_peak_rss_mb(ctx.spark))
    walls: dict = {}
    for side, recs in (("untraced", untraced), ("traced", traced)):
        for r in recs:
            walls.setdefault(r.op.name, {}).setdefault(side, []).append(r.seconds)
    both = [w for w in walls.values() if len(w) == 2]
    put("trace.overhead_ratio",
        sum(statistics.median(w["traced"]) for w in both)
        / sum(statistics.median(w["untraced"]) for w in both) if both else 1.0)
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append((s.start, s.end))
    put("trace.unattributed_ms", stats.mean([
        (r.root_span.duration - tracing.union_length(
            kids.get(r.root_span.id, ()), r.root_span.start, r.root_span.end)) * 1000.0
        for r in traced]))

    units = {name: unit for name, unit, _b in METRICS}
    return {name: (out[name], units[name]) for name, _u, _b in METRICS}


def coverage_gaps(spans, workload: str) -> list:
    """Boundaries meant for ``workload`` that recorded no span."""
    seen = {s.name for s in spans}
    return [tracing.span_name(m, a) for _l, m, a, wl in tracing.BOUNDARIES
            if wl == workload and tracing.span_name(m, a) not in seen]
