"""Shared plumbing for the workloads: statistics, the engine session,
process accounting and the result record."""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")  # everything a run writes lives here
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

PROCESS_START = time.perf_counter()


# --- statistics ---------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(
    values: list[float], q: float = 99.0, min_beyond: int = 10
) -> tuple[float, float]:
    """The q-th percentile, or, when fewer than ``min_beyond`` samples lie
    beyond it, the highest percentile that keeps ``min_beyond`` samples
    beyond it. Returns (value, percentile used)."""
    n = len(values)
    if n <= min_beyond:
        raise ValueError(f"{n} samples cannot keep {min_beyond} beyond any percentile")
    rank = min(max(1, math.ceil(q / 100.0 * n)), n - min_beyond)
    return sorted(values)[rank - 1], 100.0 * rank / n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def unit(name: str) -> str:
    """A metric's unit, read from its name's suffix."""
    if "_ms" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_per_s", "_ev_s")):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "coverage", "frac")):
        return "ratio"
    return "count"


# --- engine session -----------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file Spark, Python and the JVM write inside the
    checkout, and size the engine to the host."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM (the launcher's too) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


# The JVM compiles with C1 only. With both tiers, C2 compile threads took
# over half the driver JVM's CPU time in a timed curate_stream replay
# (29 of 54 CPU-s) and fought the task threads for the host's cores, so
# runs measured the compile queue as much as the engine; C1 alone halved
# the CPU time at the same wall time.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"


def session_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": JIT_OPTIONS
        + " -Djava.io.tmpdir="
        + os.path.join(WORK, "tmp")
        + " -Dderby.system.home="
        + os.path.join(WORK, "tmp"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process, the driver JVM and the Python
    workers under it (sum of each live process's high-water mark)."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *_descendants(me)]) / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, the
    driver JVM and the Python workers under it, reaped children included.
    Time the hypervisor steals is not in it."""
    me = os.getpid()
    ticks = 0
    for pid in [me, *_descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (the "cpu" line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings; it slows every timing of the run alike."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def stop_engine(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def write_artifact(name: str, obj: dict) -> str:
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True, default=str)
    return path
