"""Shared machinery: the timed call loop, host record, memory sampler and
Spark session lifecycle.

Every workload drives the engine from this one process as a closed loop with
one client: the next call starts only after the previous one returned. Only
calls into the engine's public functions are timed; output checks run after
the timer stops and a failed check counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import math
import os
import platform
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (``q`` in [0, 1])."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def cpu_width() -> int:
    """CPUs this process may run on (honours affinity masks; unlike
    ``nproc`` it ignores OMP_NUM_THREADS)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_record(width: int, seed: int) -> dict:
    model = platform.processor() or "unknown"
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    mem_gb = None
    try:
        with open("/proc/meminfo") as fh:
            mem_gb = round(int(fh.readline().split()[1]) / 2**20, 1)
    except (OSError, ValueError, IndexError):
        pass
    nproc = cpu_width()
    return {
        "nproc": nproc,
        "cpu_count": os.cpu_count(),
        "cpu_model": model,
        "mem_gb": mem_gb,
        "width": width,
        "width_exceeds_nproc": width > nproc,
        "seed": seed,
        "python": platform.python_version(),
    }


class TreeRssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "TreeRssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in process_tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue  # exited between listing and reading
        self.peak_bytes = max(self.peak_bytes, total)


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


@dataclass
class Call:
    kind: str
    seconds: float
    cycle: int
    ok: bool


@dataclass
class Run:
    """State of one benchmark run: timed calls, cycles, set-up parts."""

    workload: str
    seed: int
    width: int
    work: str
    spark: object = None
    tracer: object = None
    calls: list[Call] = field(default_factory=list)
    cycles: list[float] = field(default_factory=list)
    traced_cycles: list[bool] = field(default_factory=list)
    setup_parts: dict[str, float] = field(default_factory=dict)
    setup_slices: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, list[float]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    cycle: int = 0

    def span(self, name: str, top: bool = True):
        """A tracer span when this part of the run is traced, else nothing."""
        if self.tracer is None or not self.tracer.active:
            return contextlib.nullcontext()
        return self.tracer.top(name) if top else self.tracer.span(name)

    def call(self, kind: str, fn, *args, check=None, span: str | None = None, **kw):
        """Time ``fn(*args, **kw)``; run ``check(result)`` untimed.

        Returns the result, or None when the call raised. A raised call or a
        check that returns False counts as one failed operation."""
        ok, result = True, None
        t0 = time.perf_counter()
        try:
            with self.span(span or kind):
                result = fn(*args, **kw)
        except Exception:
            ok = False
            self.errors.append(f"{kind}: {traceback.format_exc(limit=8)}")
        seconds = time.perf_counter() - t0
        if ok and check is not None:
            try:
                ok = bool(check(result))
                if not ok:
                    self.errors.append(f"{kind}: output check failed (cycle {self.cycle})")
            except Exception:
                ok = False
                self.errors.append(f"{kind} check: {traceback.format_exc(limit=8)}")
        self.calls.append(Call(kind, seconds, self.cycle, ok))
        return result if ok else None

    def check(self, name: str, ok: bool) -> None:
        """Record an end-of-run output check as one operation."""
        self.calls.append(Call(f"check:{name}", 0.0, self.cycle, bool(ok)))
        if not ok:
            self.errors.append(f"{name}: output check failed")

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    def timed_setup(self, name: str, fn, *args, **kw):
        t0 = time.perf_counter()
        with self.span(name):
            out = fn(*args, **kw)
        self.setup_parts[name] = time.perf_counter() - t0
        return out

    # -- summaries -------------------------------------------------------
    def timed(self, kind: str | None = None) -> list[float]:
        return [
            c.seconds for c in self.calls
            if not c.kind.startswith("check:") and (kind is None or c.kind == kind)
        ]

    @property
    def attempted(self) -> int:
        return len(self.calls)

    @property
    def failed(self) -> int:
        return sum(1 for c in self.calls if not c.ok)


def repeated_build(run: Run, name: str, parts: list) -> None:
    """Run the equal-size set-up slices ``parts`` (callables) and time each.
    The set-up part ``name`` is ``len(parts) x`` their median: the build's
    cost with one slow slice (a GC pause, a noisy neighbour) filtered out."""
    times = []
    for part in parts:
        t0 = time.perf_counter()
        with run.span(name):
            part()
        times.append(time.perf_counter() - t0)
    run.setup_slices[name] = times
    run.setup_parts[name] = len(parts) * statistics.median(times)


DRIVER_MEM = "2g"


def start_spark(run: Run, repo_root: str):
    """Start a local session at the run's width with every scratch file
    (shuffle, JVM temp) inside the run's work directory."""
    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + py_path if py_path else "")
    from nessie_spark import session

    # a bounded driver heap keeps the JVM's share of peak memory steady from
    # run to run (with the engine's 8g default it grows with GC timing)
    os.environ["NESSIE_SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher included, keeps its temp files
    # in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return session.get_spark(
        cores=run.width,
        app_name=f"perfbench-{run.workload}",
        extra_conf={
            "spark.local.dir": os.path.join(run.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        },
    )


def warm_workers(spark, width: int) -> None:
    """Start every Python worker and import the engine's task-side modules
    once, so the first timed Spark job does not pay for it."""

    def touch(batches):
        import nessie_spark.lakehouse.jpegvec  # noqa: F401
        import nessie_spark.lakehouse.kernels  # noqa: F401
        import nessie_spark.lakehouse.writer  # noqa: F401
        import nessie_spark.synth  # noqa: F401

        yield from batches

    n = 4 * width
    spark.range(0, n, 1, n).mapInArrow(touch, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)


def wait_children(timeout: float = 20.0) -> None:
    """Wait until no descendant process is left; kill stragglers."""
    import signal

    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in process_tree(me) if p != me]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            for p in left:
                try:
                    os.waitpid(p, 0)
                except ChildProcessError:
                    pass
            return
        time.sleep(0.1)
