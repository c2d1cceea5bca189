"""Shared pieces of the benchmark: the Spark session, warm-up, host
context, the process-tree sampler and small statistics helpers.

Nothing here runs on import; ``run.py`` owns the process lifetime.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values):
    """Highest whole percentile with at least ten samples above it.

    Returns ``(percentile, value, n)``; ``percentile`` is None when
    there are fewer than eleven samples, and ``value`` is then the max.
    """
    n = len(values)
    if n == 0:
        return None, 0.0, 0
    s = sorted(values)
    if n < 11:
        return None, s[-1], n
    p = int(100 * (n - 10) / n)
    return p, s[min(n - 1, int(p * n / 100))], n


# --- host context -----------------------------------------------------------


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies from the aggregate ``/proc/stat`` line."""
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:9]))
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy = after[0] - before[0]
    steal = after[1] - before[1]
    return steal / max(busy + steal, 1)


def host_context(master: str) -> dict:
    load1, load5, _ = os.getloadavg()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "loadavg_1m": round(load1, 2),
        "loadavg_5m": round(load5, 2),
    }


# --- process tree: RSS and CPU time ----------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu_jiffies incl. reaped children, rss_bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may contain spaces; fields resume after the last ')'
        fields = raw[raw.rindex(")") + 2 :].split()
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        rss = int(fields[21]) * _PAGE
        out[int(name)] = (ppid, cpu, rss)
    return out


def _tree(table, roots) -> set[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    seen: set[int] = set()
    stack = [r for r in roots if r in table]
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.add(pid)
            stack.extend(children.get(pid, ()))
    return seen


def tree_usage(roots) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``roots`` and descendants."""
    table = _proc_table()
    pids = _tree(table, roots)
    return (
        sum(table[p][1] for p in pids) / _CLK,
        sum(table[p][2] for p in pids),
    )


@dataclass
class TreeSampler:
    """Samples the RSS of a process tree on one background thread.

    ``roots`` are the driver's own pid and the JVM's; Python workers
    are descendants of the JVM. Use as a context manager around the
    timed window; ``peak_bytes`` holds the largest sum seen.
    """

    roots: list[int]
    interval_s: float = 0.1
    peak_bytes: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_usage(self.roots)[1])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_usage(self.roots)[1])


# --- Spark session ----------------------------------------------------------


def start_session(master: str, work_dir: str):
    """Build the engine's session, keeping every scratch file of Spark
    and the JVM under ``work_dir``."""
    from enhydris_autoprocess_spark.session import build_session

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = build_session(
        app_name="perfbench",
        master=master,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def warm_up(spark, cores: int) -> None:
    """Start the Python workers on every core and compile the basic
    JVM paths once (the same warm-up bench.py uses)."""
    from pyspark.sql import functions as F

    spark.range(100_000).select(F.sum("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    twice = F.pandas_udf(lambda s: s * 2, "long")
    spark.range(1000, numPartitions=cores).select(
        twice("id").alias("id")
    ).write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def now() -> float:
    return time.perf_counter()

