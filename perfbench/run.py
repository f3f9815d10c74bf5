"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload lakehouse|queries \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The engine runs on ``local[W]`` where W is the
number of CPUs this process may use. The workload builds its inputs from the
seed, then runs cycles of timed calls into the engine's public functions
until ``--seconds`` have passed (one cycle at least), and checks every
output. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, taken from traced cycles that
alternate with untraced ones (the difference is the tracing overhead). The
line before it holds the workload's own figures and the host record. A
complete record (with the spans of a traced run) is written to
``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every run must end within 180 s: no cycle starts unless it can end (at
# the last cycle's length) this long before the hard limit
HARD_LIMIT_S = 165
CYCLE_GUARD_S = 25
TRACE_MIN_CYCLES = 3  # untraced, traced, untraced

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "fraction",
    "cycle_s": "s",
    "call_geomean_ms": "ms",
}


def _engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(REPO, p))
        for p in ("nessie_spark/__init__.py", "__spark_entry__.py", "tools/check_oracle.py")
    )


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {HARD_LIMIT_S} s")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["lakehouse", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()
    if not _engine_present():
        print(f"perfbench: engine sources not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)

    import harness
    from harness import Run

    width = harness.cpu_width()
    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args.workload, args.seed, width, work)
    if args.trace:
        from tracing import Tracer

        run.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
        run.tracer.active = True
    spark = None
    try:
        with harness.TreeRssSampler() as rss:
            t0 = time.perf_counter()
            spark = run.timed_setup("session.get_spark", harness.start_spark, run, REPO)
            run.spark = spark
            if run.tracer is not None:
                run.tracer.spark = spark
            workload = _workload(args.workload, run)
            workload.setup()
            setup_wall = time.perf_counter() - t0
            _cycles(run, workload, args.seconds, bool(args.trace),
                    started + HARD_LIMIT_S - CYCLE_GUARD_S)
            if run.tracer is not None:
                run.tracer.cycle = -2  # end-of-run calls
            run.cycle = len(run.cycles)
            workload.finish()
            codec = {}
            if args.trace and args.workload == "lakehouse":
                import micro

                codec = micro.codec_and_writer(workload.images, args.seed, work)
        detail = workload.detail()
        if args.trace:
            import layers

            metrics = layers.per_layer(run, workload, codec, _cycle_sums(run))
        else:
            metrics = _end_to_end(run, rss.peak_bytes)
    finally:
        signal.alarm(0)
        if spark is not None:
            harness.stop_spark(spark)
        harness.wait_children()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    for err in run.errors[:20]:
        print(f"perfbench: {err}", file=sys.stderr)
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "host": harness.host_record(width, args.seed),
        "detail": detail,
        "setup": {"wall_s": setup_wall, "parts_s": run.setup_parts,
                  "slices_s": run.setup_slices},
        "cycle_s": _cycle_sums(run),
        "calls": _calls_by_kind(run),
        "errors": run.errors[:20],
    }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if not all(math.isfinite(m["value"]) for m in result["metrics"].values()):
        result["correct"] = False  # a metric that could not be measured
    record, result = _finite(record), _finite(result)
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        spans = run.tracer.spans if run.tracer is not None else []
        json.dump({**record, "result": result, "spans": spans}, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


def _finite(obj):
    """JSON has no NaN or infinity: write those as null."""
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_finite(v) for v in obj]
    return obj


def _workload(name: str, run):
    if name == "lakehouse":
        from lakehouse import Lakehouse

        return Lakehouse(run)
    from queries import Queries

    return Queries(run)


def _cycles(run, workload, seconds: float, traced: bool, last_end: float) -> None:
    """Closed loop: cycles back to back until ``seconds`` have passed. In a
    traced run, odd cycles are traced and at least three cycles run. After
    the first cycle, none starts that would end after ``last_end``."""
    tracer = run.tracer
    if tracer is not None:
        tracer.active = False
    start = time.perf_counter()
    while not run.cycles or (
        time.perf_counter() + run.cycles[-1] < last_end
        and (
            time.perf_counter() - start < seconds
            or (traced and len(run.cycles) < TRACE_MIN_CYCLES)
        )
    ):
        i = len(run.cycles)
        run.cycle = i
        on = traced and i % 2 == 1
        if on:
            tracer.cycle = i
            tracer.active = True
            tracer.install(_trace_targets(), on_result=_record_result)
        t0 = time.perf_counter()
        try:
            workload.cycle(i)
        finally:
            if on:
                tracer.uninstall()
                tracer.active = False
        run.cycles.append(time.perf_counter() - t0)
        run.traced_cycles.append(on)
    if tracer is not None:
        tracer.active = True


def _trace_targets() -> list[tuple[object, str, str]]:
    """Driver-side engine functions, patched where their callers look them
    up (``compact`` holds its own reference to ``ffd_pack``)."""
    from nessie_spark.lakehouse import compact, lineage, scan, zorder
    from nessie_spark.lakehouse.table import Table

    return [
        (compact, "ffd_pack", "plans.ffd.ffd_pack"),
        (zorder, "equi_depth_bounds", "zorder.equi_depth_bounds"),
        (lineage, "read_phase", "lineage.read_phase"),
        (Table, "commit", "table.commit"),
        (Table, "write_manifest", "table.write_manifest"),
        (scan, "plan_files", "scan.plan_files"),
    ]


def _record_result(name: str, result, rec: dict) -> None:
    if name == "scan.plan_files":
        rec["attrs"]["files_planned"] = len(result)


def _cycle_sums(run) -> list[float]:
    """Seconds spent in timed calls per cycle (checks excluded)."""
    sums = [0.0] * len(run.cycles)
    for c in run.calls:
        if not c.kind.startswith("check:") and c.cycle < len(sums):
            sums[c.cycle] += c.seconds
    return sums


def _calls_by_kind(run) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for c in run.calls:
        if not c.kind.startswith("check:"):
            out.setdefault(c.kind, []).append(c.seconds)
    return out


def _end_to_end(run, peak_rss_bytes: int) -> dict[str, tuple[float, str]]:
    from harness import geomean

    sums = _cycle_sums(run)
    kinds = _calls_by_kind(run)
    values = {
        "setup_s": sum(run.setup_parts.values()),
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "ops_ok_frac": 1.0 - run.failed / max(1, run.attempted),
        "cycle_s": statistics.median(sums),
        "call_geomean_ms": 1000 * geomean([statistics.median(v) for v in kinds.values()]),
    }
    return {k: (v, END_TO_END_UNITS[k]) for k, v in values.items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
