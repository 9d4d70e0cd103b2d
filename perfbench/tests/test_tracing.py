import types

import pytest

import tracing
from tracing import Span, Tracer, self_times, union_length


def span(i, start, end, parent=None):
    return Span(i, f"s{i}", "x", start, parent, 1, end=end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([], 0, 10) == 0
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (3, 4)], 0, 10) == 3
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([(2, 8), (3, 4)], 0, 10) == 6


def test_self_time_is_duration_minus_union_of_children():
    spans = [
        span(1, 0.0, 10.0),
        span(2, 1.0, 4.0, parent=1),
        span(3, 3.0, 6.0, parent=1),   # overlaps 2: parallel threads
        span(4, 2.0, 3.0, parent=2),   # grandchild: not subtracted from 1
        span(5, 8.0, 9.0, parent=1),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_wrapped_calls_nest_under_the_op_and_record_nothing_outside():
    tr = Tracer()
    tr.enabled = True
    inner = tr.wrap(lambda x: x + 1, "m.inner", "m")
    outer = tr.wrap(lambda x: inner(x) * 2, "m.outer", "m")
    assert outer(1) == 4
    assert tr.spans == []  # no op open
    root = tr.begin_op("op")
    with tr.span("spark.collect", "spark"):
        outer(1)
    tr.end_op()
    names = {s.name: s for s in tr.spans}
    assert set(names) == {"op", "spark.collect", "m.outer", "m.inner"}
    assert names["spark.collect"].parent == root.id
    assert names["m.outer"].parent == names["spark.collect"].id
    assert names["m.inner"].parent == names["m.outer"].id
    assert all(s.op == root.id and s.end >= s.start for s in tr.spans)


def test_span_records_the_exception_and_reraises():
    tr = Tracer()
    tr.enabled = True

    def boom():
        raise ValueError("x")

    f = tr.wrap(boom, "m.boom", "m")
    tr.begin_op("op")
    with pytest.raises(ValueError):
        f()
    tr.end_op()
    assert [s.error for s in tr.spans if s.name == "m.boom"] == ["ValueError"]


def test_summaries_keep_what_the_call_returned():
    tr = Tracer()
    tr.enabled = True
    f = tr.wrap(lambda: [{"record_count": 3, "file_size_bytes": 10}] * 2,
                "write.stage_write", "write")
    tr.begin_op("op")
    f()
    tr.end_op()
    assert tr.spans[-1].info == {"files": 2, "rows": 6, "bytes": 20}


def test_every_boundary_resolves_and_install_restores_originals():
    tr = Tracer()
    before = {}
    for _layer, module, attr, _wl in tracing.BOUNDARIES:
        owner, leaf = tracing.resolve(module, attr)
        before[(module, attr)] = getattr(owner, leaf)
        assert callable(before[(module, attr)])
    tr.install()
    try:
        for (module, attr), orig in before.items():
            owner, leaf = tracing.resolve(module, attr)
            assert getattr(owner, leaf) is not orig
    finally:
        tr.uninstall()
    for (module, attr), orig in before.items():
        owner, leaf = tracing.resolve(module, attr)
        assert getattr(owner, leaf) is orig


def test_boundaries_cover_every_layer_named_by_the_benchmark():
    layers = {b[0] for b in tracing.BOUNDARIES}
    assert layers == {"metadata", "scan", "manifests", "write", "snapshots",
                      "row_ops", "deletes", "maintenance"}
    names = [tracing.span_name(m, a) for _l, m, a, _w in tracing.BOUNDARIES]
    assert len(names) == len(set(names))


class FakeSparkContext:
    """Status tracker over a fixed job table: group -> job ids."""

    def __init__(self):
        self.group = None
        self.groups = {}
        self.stages = {10: (4, 0), 11: (0, 0), 12: (2, 1)}  # (completed, failed)
        self.job_stages = {}

    def setJobGroup(self, gid, _desc):
        self.group = gid

    def setLocalProperty(self, _k, v):
        self.group = v

    def run_job(self, jid, stages):
        self.groups.setdefault(self.group, []).append(jid)
        self.job_stages[jid] = stages

    def statusTracker(self):
        sc = self
        return types.SimpleNamespace(
            getJobIdsForGroup=lambda g: list(sc.groups.get(g, [])),
            getJobInfo=lambda j: types.SimpleNamespace(stageIds=sc.job_stages[j]),
            getStageInfo=lambda s: types.SimpleNamespace(
                numCompletedTasks=sc.stages[s][0], numFailedTasks=sc.stages[s][1]))


def test_jobs_are_attributed_to_the_innermost_span():
    sc = FakeSparkContext()
    tr = Tracer()
    tr.enabled, tr.sc = True, sc
    layer_call = tr.wrap(lambda: sc.run_job(1, [10, 11]), "scan.to_df", "scan")
    tr.begin_op("op")
    layer_call()
    sc.run_job(2, [12])          # no layer span open: the op's own group
    tr.end_op()
    sc.groups.setdefault(None, []).append(3)  # launched from another thread
    sc.job_stages[3] = []
    totals = tr.collect_jobs(tr.spans[tr.op_start:])
    by_name = {s.name: s.jobs for s in tr.spans}
    assert by_name["scan.to_df"] == [1]
    assert by_name["op"] == [2]
    # stage 11 ran no tasks (skipped): not counted
    assert totals == {"jobs": 3, "stages": 2, "tasks": 7, "failed_tasks": 1,
                      "unattributed_jobs": 2}
