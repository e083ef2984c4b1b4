"""Process-level plumbing shared by the workloads: where the run may
write, how the Spark session is started, peak memory, percentiles and
the correctness ledger."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
DRIVER_MEM = "1536m"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """A private directory under the checkout for everything the run
    writes: outputs, stores, Spark's scratch and the event log."""

    def __init__(self, workload: str):
        self.path = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *names: str) -> str:
        return os.path.join(self.path, *names)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's directory is still there


def prepare_env(work: WorkDir) -> None:
    """Environment the JVM and Spark's Python workers inherit. The
    workers import ``file_appender_spark`` by name, so the checkout
    root must be on their PYTHONPATH."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = work.sub("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("tmp")


def start_session(work: WorkDir, traced: bool):
    """The engine's own session factory on local[cores], with every
    scratch path inside the work dir; the traced run also writes an
    uncompressed event log. The driver heap is fixed and touched at
    start, so peak memory does not swing with when the JVM grows it."""
    from file_appender_spark.session import get_spark

    conf = {
        "spark.local.dir": work.sub("tmp"),
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work.sub('tmp')} -Dderby.system.home={work.sub('tmp')}",
    }
    if traced:
        os.makedirs(work.sub("eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + work.sub("eventlog"),
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(int(jvm_pid))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_pct(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(0, math.floor(100 * (n - 10) / n)) if n > 10 else 0


def percentile(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(1, math.ceil(pct / 100 * len(s)))
    return s[k - 1]


class Checks:
    """Correctness ledger: every attempted operation, every failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self) -> None:
        self.attempted += 1

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)

    def expect(self, cond: bool, msg: str) -> bool:
        if not cond:
            self.fail(msg)
        return cond


class Clock:
    """Deadline for the timed loop."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.wall0 = time.time()
        self.seconds = seconds

    def window(self) -> tuple[float, float]:
        """The loop's (start, now) on the epoch clock spans use."""
        return (self.wall0, time.time())

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def running(self) -> bool:
        return self.elapsed() < self.seconds
