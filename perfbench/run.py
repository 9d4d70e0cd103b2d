"""Benchmark entry point.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 30 --trace 0

Run from the root of a source checkout.  Builds the workload's tables in a
fresh directory under ``.perfbench_tmp/`` (removed on exit), runs the timed
closed loop, checks every answer, and prints a report line followed by one
JSON result line.  ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` runs the loop untraced, then the same number of cycles traced, and
reports the per-layer metrics.  Exits 1 on any wrong answer or failed op,
2 when the engine is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time

import workloads  # numpy only: safe to import before the engine check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(tmp: str) -> None:
    """Keep every file the run writes inside ``tmp`` and put the engine on
    the Python workers' path."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')} "
        "pyspark-shell")


def engine_present() -> bool:
    if not os.path.isfile(os.path.join(ROOT, "incubator_iceberg_spark", "__init__.py")):
        return False
    sys.path.insert(0, ROOT)
    import incubator_iceberg_spark
    return os.path.dirname(os.path.abspath(incubator_iceberg_spark.__file__)) \
        == os.path.join(ROOT, "incubator_iceberg_spark")


def cpu_probe_ms() -> float:
    """Median wall of a fixed pure-Python loop: how fast this host ran
    while the run was measured (host speed can shift between runs)."""
    def loop():
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        return (time.perf_counter() - t0) * 1000.0
    return sorted(loop() for _ in range(5))[2]


def environment(ctx, probe_ms: float) -> dict:
    import pyarrow
    import pyspark
    return {
        "cpu_probe_ms": probe_ms,
        "nproc": ctx.nproc,
        "default_parallelism": ctx.spark.sparkContext.defaultParallelism,
        "loadavg": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


def execute(args, tmp: str, nproc: int) -> tuple:
    import harness

    tracer = None
    if args.trace:
        import layers
        import tracing
        tracer = tracing.Tracer()
        tracer.install()
        scan_log = layers.ScanLog(tracer)
    ctx = harness.Ctx(tmp, args.seed, nproc, tracer)
    wl = workloads.load(args.workload)(ctx)
    try:
        probe_ms = cpu_probe_ms()
        wl.generate()
        t0 = time.perf_counter()
        if tracer is not None:
            tracer.enabled = True
            tracer.begin_op("setup")
        ctx.start_spark()
        wl.setup()
        wl.warmup()
        setup_root = tracer.end_op() if tracer is not None else None
        setup_s = time.perf_counter() - t0
        ctx.delta()
        track = (lambda rec: _track(ctx, rec)) if wl.track_each_op else None
        if tracer is None:
            records, _k = harness.run_pass(wl, args.seconds, after_op=track)
            traced = []
        else:
            records, k = harness.run_pass(wl, args.seconds / 2, after_op=track)
            start = layers.begin_traced_pass(wl)
            # as many cycles again, continuing the seeded sequence
            traced, _k = harness.run_pass(
                wl, 0, cycles=k, tracer=tracer, first=k,
                after_op=lambda rec: layers.after_traced_op(ctx, rec, scan_log, track))
        ctx.track_files()
        bad = harness.check_records(records + traced)
        final_errors = wl.verify_final()
        if tracer is None:
            metrics = harness.end_to_end(ctx, records, setup_s, wl.live_rows())
        else:
            metrics = layers.per_layer(ctx, wl, records, traced, setup_root,
                                       scan_log, start)
            gaps = layers.coverage_gaps(tracer.spans, args.workload)
            if gaps:  # a boundary meant for this workload never fired
                final_errors.append(f"no span recorded at {', '.join(gaps)}")
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "environment": environment(ctx, probe_ms),
            "details": harness.details(records + traced, bad),
            "final_errors": final_errors,
        }
        ok = not bad and not final_errors
        return metrics, report, len(records) + len(traced), len(bad), ok
    finally:
        if tracer is not None:
            tracer.uninstall()
        ctx.stop_spark()


def _track(ctx, rec) -> None:
    rec.new_bytes, rec.removed_files = ctx.delta()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print("perfbench: incubator_iceberg_spark is not in this checkout",
              file=sys.stderr)
        return 2
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    try:
        pin_environment(tmp)
        metrics, report, attempted, failed, correct = execute(
            args, tmp, len(os.sched_getaffinity(0)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
