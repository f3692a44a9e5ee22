"""Run isolation, Spark lifecycle and statistics shared by the workloads.

Everything a run creates (inputs, marts, ACID tables, the Spark
warehouse, SPARK_LOCAL_DIRS, Python and JVM temp files) lives under
one per-run directory inside the checkout, removed when the run ends.
The benchmark changes directory into it, so files Spark drops in the
working directory land there too.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

#: checkout root: the directory holding perfbench/ and the program
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbt_lakehouse_aws_spark"
#: files of the program the benchmark needs besides the package
PROGRAM_FILES = (
    os.path.join(PACKAGE, "__init__.py"),
    os.path.join("tests", "sgp_fixtures.py"),
    os.path.join("tests", "sgp_oracle.py"),
)
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")


def program_present() -> list[str]:
    """Program files missing from the checkout (empty when complete)."""
    return [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]


class RunDir:
    """Per-run scratch root plus the environment that points every
    writer of the program and of Spark into it."""

    def __init__(self, workload: str) -> None:
        self.path = os.path.join(TMP_PARENT, f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.path)
        self._cwd = os.getcwd()

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def enter(self) -> None:
        tmp = self.sub("tmp")
        cpus = os.cpu_count() or 4
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": self.sub("spark-local"),
            "SPARK_GRAFT_WAREHOUSE": self.sub("warehouse"),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS") or str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            # Python workers import the program by module path; the JVM
            # hands this environment to every worker it forks
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            # driver JVM: temp files into the run dir, no hsperfdata in
            # /tmp, no console progress bar on stderr
            "SPARK_SUBMIT_OPTS": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-Dspark.ui.showConsoleProgress=false"
            ),
        })
        import tempfile

        tempfile.tempdir = tmp
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        os.chdir(self.path)

    def remove(self) -> None:
        os.chdir(self._cwd)
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass  # another run still owns a directory there


class SparkHandle:
    """The program's SparkSession plus its JVM process."""

    def __init__(self) -> None:
        from dbt_lakehouse_aws_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self._proc = self.spark.sparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        """VmHWM of this Python driver plus its JVM child, in MiB."""
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(self._proc.pid))) / 1024.0

    def stop(self) -> None:
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            # the gateway JVM exits when its stdin reaches EOF
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except Exception:
                self._proc.kill()
                self._proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the JVM with all its threads and the Python
    workers it forks. Exited children count through their parent's
    cumulative times. The kernel leaves out time stolen by the
    hypervisor, so this is the work done, not the wait for a core."""
    stats: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # fields[1] is the parent pid; [11:15] utime, stime, cutime, cstime
        stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total * _TICK_S


def _vm_hwm_kb(pid: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


# -- operations ---------------------------------------------------------------


class Recorder:
    """Times a workload's operations and counts attempts and failures.

    ``op`` wraps one operation: a span on the current tracer, a Spark
    job group while ``jobs`` is set, and a latency sample while
    ``sampling`` is on (it is off during set-up). An exception fails
    the operation (once, however many operations enclose it) and
    aborts the unit; ``check`` fails one operation per non-empty list
    of problems."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.jobs = None
        self.sampling = False
        self.samples: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.untimed_s = 0.0

    @contextlib.contextmanager
    def op(self, name: str):
        self.attempted += 1
        group = self.jobs.group(name) if self.jobs else contextlib.nullcontext()
        try:
            with group, self.tracer.span(name):
                t0 = time.perf_counter()
                yield
                dt = time.perf_counter() - t0
        except Exception as exc:
            if not getattr(exc, "perfbench_counted", False):
                exc.perfbench_counted = True
                self.failed += 1
                print(f"perfbench: {name} failed", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
            raise
        if self.sampling:
            self.samples.setdefault(name, []).append(dt)

    @contextlib.contextmanager
    def timed(self, name: str):
        """A span and a latency sample around a group of operations."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            yield
            dt = time.perf_counter() - t0
        if self.sampling:
            self.samples.setdefault(name, []).append(dt)

    def check(self, problems: list[str], what: str) -> None:
        if problems:
            self.failed += 1
            print(f"perfbench: check {what} failed: {'; '.join(problems)}", file=sys.stderr)

    @contextlib.contextmanager
    def untimed(self):
        """Work inside set-up that is checking, not set-up."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0


# -- statistics -------------------------------------------------------------

#: percentiles tried for the tail figure, highest first
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def describe(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it, and the sample count."""
    n = len(values)
    if n == 0:
        return "n=0"
    parts = [f"p50={statistics.median(values):.4g}"]
    for q in _TAILS:
        if n * (1 - q / 100.0) >= 10:
            parts.append(f"p{q:g}={percentile(values, q):.4g}")
            break
    parts.append(f"n={n}")
    return " ".join(parts)
