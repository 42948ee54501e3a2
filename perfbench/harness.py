"""Process-level plumbing shared by every workload: the work directory
inside the checkout, machine-fit settings, the Spark session's life
cycle, memory high-water marks, and the summary statistics."""

from __future__ import annotations

import math
import os
import platform
import shutil
import subprocess
import tempfile
import time

#: driver-heap share of physical RAM: the JVM heap plus Python, the
#: page cache and everything else on the machine share the rest
HEAP_SHARE = 0.25


def machine() -> dict:
    """nproc and physical RAM, read the way the settings derive from them."""
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
    }


def fit_environment(work: str, mach: dict) -> dict:
    """Set the program's existing machine-fit variables and confine every
    temporary file to ``work``. Returns the values that were set."""
    heap_gb = max(1, int(mach["ram_gb"] * HEAP_SHARE))
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(mach["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the JVM's own temp files and perf-data file stay in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.update(env)
    # the first gettempdir() may already have cached the old location
    tempfile.tempdir = env["TMPDIR"]
    return env


def java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        ).stderr
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    line = next((x for x in out.splitlines() if "version" in x), "unknown")
    return line.strip()


def calibration_probe() -> float:
    """Seconds for a fixed single-thread Python loop: a yardstick for
    comparing results taken on different machines."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def _status_kb(pid: int | str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """High-water resident memory (VmHWM) of this process plus the JVM."""
    kb = _status_kb("self", "VmHWM")
    pid = jvm_pid()
    if pid is not None:
        kb += _status_kb(pid, "VmHWM")
    return kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_work(work: str) -> None:
    """Remove the run's directory, and its parent once no run uses it."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float], beyond: int = 10) -> int | None:
    """The highest whole percentile with at least ``beyond`` samples above
    it, or None when the sample is too small to have one."""
    for q in (99, 95, 90, 75, 50):
        if sum(1 for v in values if v > percentile(values, q)) >= beyond:
            return q
    return None
