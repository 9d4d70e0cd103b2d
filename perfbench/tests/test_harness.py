import pytest

import harness
from harness import COMMIT, READ, Op, Record


def fake_ctx(tmp_path):
    ctx = harness.Ctx(str(tmp_path), seed=1, nproc=1)
    ctx.input_bytes = 100
    (tmp_path / "warehouse" / "f").write_bytes(b"x" * 50)
    ctx.delta()
    return ctx


def rec(kind, seconds, cycle):
    return Record(Op(kind, kind, lambda: None), seconds, cycle)


def test_throughput_is_ops_over_their_summed_wall(tmp_path):
    ctx = fake_ctx(tmp_path)
    records = ([rec(COMMIT, 0.1, 0), rec(READ, 0.1, 0)]
               + [rec(READ, 0.1, 1), rec(READ, 1.0, 1)]
               + [rec(READ, 0.1, 2), rec(READ, 0.1, 2)])
    m = harness.end_to_end(ctx, records, setup_s=3.0, live_rows=10)
    assert m["ops_per_s"] == (pytest.approx(4.0), "1/s")
    assert m["op_p50_ms"][0] == pytest.approx(100.0)
    assert m["write_amp"][0] == pytest.approx(0.5)
    assert m["bytes_per_live_row"][0] == pytest.approx(5.0)
    assert [k for k, _u, _b in harness.END_TO_END] == list(m)


def test_commit_and_read_latency_are_medians_of_their_own_ops(tmp_path):
    ctx = fake_ctx(tmp_path)
    records = [rec(COMMIT, 2.0, 0), rec(READ, 0.2, 0), rec(COMMIT, 4.0, 0)]
    m = harness.end_to_end(ctx, records, setup_s=1.0, live_rows=1)
    assert m["commit_p50_ms"][0] == pytest.approx(3000.0)
    assert m["read_p50_ms"][0] == pytest.approx(200.0)


def test_failed_and_wrong_ops_are_listed():
    ok = Record(Op(READ, "good", lambda: None, check=lambda r: None), 0.1, 0, result=1)
    wrong = Record(Op(READ, "wrong", lambda: None, check=lambda r: "bad answer"), 0.1, 0)
    raised = Record(Op(COMMIT, "boom", lambda: None), 0.1, 0, error="ValueError: x")
    bad = harness.check_records([ok, wrong, raised])
    assert [(b["op"], b["name"], b["error"]) for b in bad] == [
        (1, "wrong", "bad answer"), (2, "boom", "ValueError: x")]


def test_run_pass_runs_whole_cycles_and_reports_errors():
    calls = []

    class W:
        def cycle(self, k):
            def fail():
                raise RuntimeError("no")
            return [Op(READ, "a", lambda: calls.append(k)), Op(COMMIT, "b", fail)]

    records, k = harness.run_pass(W(), 0, cycles=3)
    assert k == 3 and calls == [0, 1, 2]
    assert [r.cycle for r in records] == [0, 0, 1, 1, 2, 2]
    assert all(r.error == "RuntimeError: no" for r in records[1::2])
    records, k = harness.run_pass(W(), 0)  # at least one cycle
    assert k == 1 and len(records) == 2
    records, k = harness.run_pass(W(), 0, cycles=2, first=3)  # a later pass
    assert k == 5 and calls[-2:] == [3, 4]
    assert [r.cycle for r in records] == [3, 3, 4, 4]


def test_run_pass_stops_at_the_cycle_count_closest_to_seconds(monkeypatch):
    clock = [0.0]
    monkeypatch.setattr(harness.time, "perf_counter", lambda: clock[0])

    class W:  # one op of exactly 1 s per cycle
        def cycle(self, k):
            return [Op(READ, "a", lambda: clock.__setitem__(0, clock[0] + 1.0))]

    assert harness.run_pass(W(), 2.4)[1] == 2
    assert harness.run_pass(W(), 2.6)[1] == 3
    assert harness.run_pass(W(), 0.2)[1] == 1


def test_file_accounting_keeps_files_that_were_removed(tmp_path):
    ctx = harness.Ctx(str(tmp_path), seed=1, nproc=1)
    wh = tmp_path / "warehouse"
    (wh / "a").write_bytes(b"x" * 10)
    assert ctx.delta() == (10, 0)
    (wh / "b").write_bytes(b"x" * 5)
    (wh / "a").unlink()
    assert ctx.delta() == (5, 1)
    assert ctx.bytes_written() == 15
    assert ctx.table_bytes() == 5
