"""Run isolation, the Spark session, and the statistics every workload shares.

Each run gets a private directory under ``<checkout>/.perfbench_runs``
holding its temp files, Spark local dirs, collections, checkpoints and
event log; the directory is removed when the run ends. Directories left
by a killed run are removed by the next run, so a stale lease or
checkpoint can never leak into a later measurement.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "python_vectordbapp_ceph_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
REPORT_DIR = os.path.join(ROOT, ".perfbench_out")


def package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


class RunDir:
    """The run's private directory tree; ``close`` removes it."""

    def __init__(self) -> None:
        os.makedirs(RUNS_DIR, exist_ok=True)
        for name in os.listdir(RUNS_DIR):
            pid = name.split("-")[1] if name.startswith("run-") else ""
            if pid.isdigit() and not _pid_alive(int(pid)):
                shutil.rmtree(os.path.join(RUNS_DIR, name), ignore_errors=True)
        self.path = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=RUNS_DIR)
        for sub in ("tmp", "local", "eventlog", "work", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))
        # every temp file of this process, its JVM and the Python workers
        # lands inside the run directory
        os.environ["TMPDIR"] = self.sub("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        tempfile.tempdir = self.sub("tmp")

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(run: RunDir, trace: bool):
    """``get_spark`` at ``local[nproc]`` with every path inside the run
    directory; with ``trace`` the uncompressed, unrolled event log is on."""
    sys.path.insert(0, ROOT)
    from python_vectordbapp_ceph_spark.session import get_spark

    n = ncpus()
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": run.sub("local"),
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        # no hsperfdata file in /tmp: the JVM keeps its counters in memory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.sub('tmp')} "
                                         "-XX:+PerfDisableSharedMem",
        "spark.executorEnv.TMPDIR": run.sub("tmp"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.sub("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)  # noqa: SLF001
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM child."""
    kb = _hwm_kb(os.getpid())
    pid = jvm_pid(spark)
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (the Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); falls back to the maximum when there are fewer
    than eleven samples (percentile reported as 100)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    s = sorted(xs)
    if n < 11:
        return s[-1], 100.0
    p = math.floor(100.0 * (n - 10) / n)
    idx = max(0, math.ceil(p / 100.0 * n) - 1)
    return s[idx], float(p)
