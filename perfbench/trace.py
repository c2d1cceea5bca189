"""Tracing for the ``--trace 1`` run, all from outside the program.

Three sources:

- spans around the public storage entry points, installed as wrappers
  on the classes and modules at run time (no program file changes);
- Spark SQL metrics of every execution, read from the session's SQL
  status store (it is filled with ``spark.ui.enabled=false`` too);
- job, stage and task counts through job groups and ``statusTracker``.

Spans carry a name, start, end and parent and stay in memory until the
run writes them out.
"""

from __future__ import annotations

import functools
import html
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and counters. A disabled tracer records nothing and
    installs no wrappers, so the untraced run measures the bare program."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.spans if s.name == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def _wrap(self, owner, attr: str, name, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``name`` may be
        a callable of the call's arguments; ``after`` sees the arguments
        and the result, for counters."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, *args, **kwargs)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install_storage_shims(self) -> None:
        """Spans around ``TierTable.append/read``,
        ``CheckpointStore.filter_new/advance``, ``decompress_series``
        and ``retention.enforce``."""
        if not self.enabled:
            return
        import os

        from enhydris_autoprocess_spark.storage import checkpoint, gorilla, retention
        from enhydris_autoprocess_spark.storage import tier_table

        def append_name(table, *a, **k):
            return ("gorilla.append" if table.root.endswith("_gorilla")
                    else "tier_table.append")

        def after_append(snap, table, *a, **k):
            n = sum(len(f) for _, _, f in os.walk(snap.data_dir))
            self.add("storage.files_written", n)

        def after_read(df, table, *a, **k):
            if df is not None:
                self.add("tier_table.files_read", len(df.inputFiles()))
                self.add("tier_table.reads_nonempty", 1)

        self._wrap(tier_table.TierTable, "append", append_name, after_append)
        self._wrap(tier_table.TierTable, "read", "tier_table.read", after_read)
        self._wrap(checkpoint.CheckpointStore, "filter_new",
                   "checkpoint.filter_new")
        self._wrap(checkpoint.CheckpointStore, "advance", "checkpoint.advance")
        self._wrap(gorilla, "decompress_series", "gorilla.decompress_series")

        def after_enforce(results, *a, **k):
            for r in results.values():
                self.add("retention.days_dropped", r["days_dropped"])
                self.add("retention.snapshots_dropped", r["snapshots_dropped"])

        self._wrap(retention, "enforce", "retention.enforce", after_enforce)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "parent": s.parent, "name": s.name,
             "start": round(s.start, 6), "end": round(s.end, 6)}
            for s in self.spans
        ]


# --- Spark SQL metrics -------------------------------------------------------

_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_NODE = re.compile(r'labelType="html" label="(.*?)" tooltip=', re.S)
_CLUSTER = re.compile(r'label="(WholeStageCodegen.*?)";', re.S)


def _number(text: str) -> float | None:
    m = _VALUE.match(text.strip())
    if not m:
        return None
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME:
        return v * _TIME[unit]
    if unit in _SIZE:
        return v * _SIZE[unit]
    return v


def _stats(text: str) -> tuple[float, float | None, float | None]:
    """(total, med, max) of a metric value as the plan graph renders it:
    either ``"34 ms"`` or ``"4.7 s (1.1 s, 1.2 s, 1.2 s (stage 0.0: task 0))"``."""
    total = _number(text)
    inner = text[text.find("(") + 1 :] if "(" in text else ""
    parts = [p.strip() for p in inner.split(",")]
    if len(parts) >= 3:
        return total, _number(parts[1]), _number(parts[2].split("(")[0])
    return total, None, None


def _metrics_of(items: list[str]):
    """Yield (metric name, value text) from a node label's lines."""
    i = 0
    while i < len(items):
        line = items[i]
        if " total (min, med, max" in line and i + 1 < len(items):
            yield (line.split(" total (min, med, max")[0].strip().rstrip(":"),
                   items[i + 1])
            i += 2
            continue
        if ": " in line:
            k, v = line.split(": ", 1)
            yield k.strip(), v
        i += 1


# metric name in Spark's plan graph -> benchmark metric
_WANTED = {
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "shuffle bytes written": "exchange.bytes",
    "shuffle write time": "exchange.write_s",
    "time in aggregation build": "agg.build_s",
    "spill size": "spill.bytes",
    "scan time": "scan.time_s",
}


class SqlMetrics:
    """Sums per-operator SQL metrics over a range of executions."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        """Next execution id; executions are numbered from 0."""
        return int(self._store.executionsCount())

    def collect(self, start: int, stop: int) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        out: dict[str, float] = defaultdict(float)
        dur_max = dur_med = 0.0  # per-task max and median of stage durations
        for eid in range(start, stop):
            try:
                dot = self._store.planGraph(eid).makeDotFile(
                    self._store.executionMetrics(eid)
                )
            except Py4JJavaError:  # evicted from the store: skip it
                continue
            out["sql.executions"] += 1
            for label in _NODE.findall(dot):
                if label.startswith("<b>Exchange</b>"):
                    out["exchange.nodes"] += 1
                items = html.unescape(label).replace("\\n", "<br>").split("<br>")
                for name, value in _metrics_of(items):
                    key = _WANTED.get(name)
                    if key is not None:
                        total = _stats(value)[0]
                        out[key] += total or 0.0
            for label in _CLUSTER.findall(dot):
                items = label.replace("\\n", "<br>").split("<br>")
                for name, value in _metrics_of(items):
                    if name == "duration":
                        _, med, mx = _stats(value)
                        if med is not None and mx is not None:
                            dur_med += med
                            dur_max += mx
        out["task.duration_max_s"] = dur_max
        out["task.duration_med_s"] = dur_med
        return dict(out)


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks run under a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in list(info.stageIds):
            stages += 1
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages, "spark.tasks": tasks}
