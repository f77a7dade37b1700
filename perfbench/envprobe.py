"""Environment floor recorded with every result: the warm cost of a
1-task Spark job and of a py4j round trip, CPU counts, versions and the
commit, so that a slow record can be told apart from a slow machine."""

from __future__ import annotations

import os
import statistics
import subprocess
import time


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat: the steal share of a
    window says whether the host took CPU away from this VM."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_pct(before, after) -> float:
    if before is None or after is None or after[1] == before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def probe(spark, root: str, reps: int = 7) -> dict:
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    rtt = []
    for _ in range(200):
        t0 = time.perf_counter()
        jvm.java.lang.System.nanoTime()
        rtt.append(time.perf_counter() - t0)
    one_task = spark.range(0, 1, 1, 1)
    one_task.collect()
    floor = []
    for _ in range(reps):
        t0 = time.perf_counter()
        one_task.collect()
        floor.append(time.perf_counter() - t0)
    return {
        "job_floor_ms": statistics.median(floor) * 1e3,
        "py4j_rtt_ms": statistics.median(rtt) * 1e3,
        "nproc": cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark_version": pyspark.__version__,
        "pyarrow_version": pyarrow.__version__,
        "git_commit": _git_commit(root),
        "loadavg": os.getloadavg(),
    }
