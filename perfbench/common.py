"""Shared pieces of the benchmark: host-sized Spark session, work
directory, process-tree memory, summary statistics and the drift check."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The repository's sf0.01 test fixture tables (TESTDATA.md), copied
# unchanged: the catalog queries and both streaming backlogs read them.
DATA_DIR = os.path.join(REPO_ROOT, "perfbench", "data", "sf0.01")

# The tail statistic is the highest order statistic that still has this
# many samples above it.
TAIL_SAMPLES_BEYOND = 10


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixth of physical memory, clamped to [1 GiB, 4 GiB]: the JVM
    heap is also the only executor heap in local mode, and the machine's
    memory is shared, so the heap stays small."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(4096, total_mb // 6))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


class WorkDir:
    """Everything the run writes (fixtures, backlogs, Spark local dirs,
    checkpoints, warehouse, temp files) lives under one directory inside
    the checkout, removed when the run ends."""

    def __init__(self) -> None:
        self.path = os.path.join(REPO_ROOT, ".perfbench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def start_spark(work: WorkDir):
    """A local session sized to this host, reaching the Python workers.

    Spark's Python workers inherit ``PYTHONPATH`` from the JVM, which
    inherits it from this process; without the repository root on it the
    pandas-UDF operators fail in the workers with ModuleNotFoundError.
    """
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = work.sub("tmp")
    from ksql_query_tutorial_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=host_cpus(),
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work.sub('tmp')} -XX:-UsePerfData",
            "spark.local.dir": work.sub("local"),
            "spark.sql.warehouse.dir": work.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def process_tree(pid: int | None = None) -> list[int]:
    """This process and every live descendant (the JVM and its Python
    workers)."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident
    set (VmHWM)."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then end the JVM and its Python workers and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    descendants = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF on its stdin
        try:
            proc.wait(timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited, waiting to be reaped by its parent
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.monotonic() >= deadline:
            os.kill(pid, 9)


NAN = float("nan")


def median(xs: list[float]) -> float:
    """Median, or NaN for an empty population (every operation of it
    failed; the run is then reported incorrect with its failed count)."""
    return statistics.median(xs) if xs else NAN


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with at least
    ``TAIL_SAMPLES_BEYOND`` samples above it; NaN for both when the
    population is too small to have one."""
    n = len(xs)
    if n <= TAIL_SAMPLES_BEYOND:
        return NAN, NAN
    return sorted(xs)[n - TAIL_SAMPLES_BEYOND - 1], 100.0 * (n - TAIL_SAMPLES_BEYOND) / n


def drift(ops: list[tuple[str, float]]) -> float:
    """Relative change from the first third of the timed operations to
    the last third.

    ``ops`` is the timeline of (identity, seconds). Each time is divided
    by the mean time of its identity first, so the thirds compare like
    with like even when a unit of work mixes fast and slow operations.
    """
    by_id: dict[str, list[float]] = {}
    for key, t in ops:
        by_id.setdefault(key, []).append(t)
    ref = {k: statistics.fmean(v) for k, v in by_id.items()}
    ratios = [t / ref[k] for k, t in ops]
    third = len(ratios) // 3
    if third == 0:
        return NAN
    return statistics.median(ratios[-third:]) / statistics.median(ratios[:third]) - 1.0


@dataclass
class Outcome:
    """What one workload run reports back to ``run.py``."""

    correct: bool
    attempted: int
    failed: int
    drift: float
    metrics: dict[str, float]
    notes: list[str] = field(default_factory=list)
