"""One benchmark run: set-up, the workload's timed window, its output
checks, and the result line with the metrics and their units."""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import pipelines, query_mix
from .common import (
    TreeSampler,
    cpu_jiffies,
    host_context,
    jvm_pid,
    median,
    now,
    start_session,
    steal_share,
    stop_session,
    tree_usage,
    warm_up,
)
from .trace import SqlMetrics, Tracer, job_counts

SIZES = {
    "full": {
        "batch_backfill": {"n_convs": 50},
        "incremental_ingest": {"n_convs": 50},
        "query_mix": {"documents": 1000, "embeddings": 1000, "events": 10000},
    },
    "smoke": {
        "batch_backfill": {"n_convs": 6},
        "incremental_ingest": {"n_convs": 6},
        "query_mix": {"documents": 200, "embeddings": 200, "events": 2000},
    },
}

# Set-up is repeated this many times in a run and the median reported.
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "job_cpu_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "setup.input_gen_s": "s",
    "setup.warmup_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "sql.executions": "count",
    "python.worker_init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "exchange.bytes": "B",
    "exchange.write_s": "s",
    "agg.build_s": "s",
    "spill.bytes": "B",
    "task.skew_max_over_median": "ratio",
    "input.rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "trace.job_s": "s",
    "trace.collect_s": "s",
}


@dataclass
class Op:
    """One timed operation: its wall and CPU time, and the Spark work it
    ran as (name, job group, first execution id, next execution id)."""

    name: str
    seconds: float = 0.0
    cpu_s: float = 0.0
    units: list = field(default_factory=list)
    detail: dict = field(default_factory=dict)


class Context:
    """What a workload needs: the session, the seed and sizes, a scratch
    directory, the tracer, ``op()`` to time one operation and
    ``timed()`` around the whole timed window."""

    def __init__(self, spark, seed, seconds, size, work_dir, cores, tracer, sql, roots):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.work_dir = work_dir
        self.cores = cores
        self.tracer = tracer
        self.sql = sql
        self.roots = roots
        self.peak_rss_bytes = 0
        self.steal_share = 0.0
        self.window = [0.0, 0.0]

    @contextmanager
    def timed(self):
        self.window[0] = now()
        before = cpu_jiffies()
        with TreeSampler(self.roots) as sampler:
            yield
        self.peak_rss_bytes = sampler.peak_bytes
        self.steal_share = steal_share(before, cpu_jiffies())
        self.window[1] = now()

    @contextmanager
    def unit(self, op: Op, name: str):
        """A Spark job group inside ``op``; the traced run attributes its
        jobs and SQL executions to ``name``."""
        sc = self.spark.sparkContext
        group = f"perfbench-{op.name}-{name}"
        sc.setJobGroup(group, name)
        start = self.sql.mark() if self.sql else 0
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            op.units.append((name, group, start, self.sql.mark() if self.sql else 0))

    @contextmanager
    def op(self, name: str, unit: bool = True):
        op = Op(name)
        cpu0 = tree_usage(self.roots)[0]
        t0 = now()
        with self.tracer.span(name):
            if unit:
                with self.unit(op, name):
                    yield op
            else:
                yield op
        op.seconds = now() - t0
        op.cpu_s = tree_usage(self.roots)[0] - cpu0


def _setup_input(ctx, workload: str, rep: int):
    """Make the workload's input (rep-th copy); return (handle, rows)."""
    if workload == "query_mix":
        out = os.path.join(ctx.work_dir, f"sf-{rep}")
        return out, query_mix.generate_input(ctx.size, ctx.seed, out)
    return pipelines.generate_input(ctx, os.path.join(ctx.work_dir, f"input-{rep}"))


def _run(ctx, workload: str, inp, rows: int):
    if workload == "batch_backfill":
        return pipelines.batch_backfill(ctx, inp, rows)
    if workload == "incremental_ingest":
        return pipelines.incremental_ingest(ctx, inp, rows)
    return query_mix.query_mix(ctx, inp, rows)


def _layer_metrics(ctx, ops) -> tuple[dict, dict]:
    """Per-op averages of job counts and SQL metrics, plus a per-unit
    breakdown for the report."""
    totals: dict[str, float] = {}
    units: dict[str, dict] = {}
    for op in ops:
        for name, group, start, stop in op.units:
            m = {**job_counts(ctx.spark, group), **ctx.sql.collect(start, stop)}
            units.setdefault(name, []).append(m)
            for k, v in m.items():
                totals[k] = totals.get(k, 0.0) + v
    per_op = {k: v / len(ops) for k, v in totals.items()}
    med = totals.get("task.duration_med_s", 0.0)
    per_op["task.skew_max_over_median"] = (
        totals.get("task.duration_max_s", 0.0) / med if med else 1.0
    )
    by_unit = {
        name: {k: median([m.get(k, 0.0) for m in ms]) for k in ms[0]}
        for name, ms in units.items()
    }
    return per_op, by_unit


def _storage_layer(tracer, n_ops: int) -> dict:
    """Span totals per op for the storage entry points."""
    out = {}
    for name in ("tier_table.append", "tier_table.read", "gorilla.append",
                 "checkpoint.filter_new", "checkpoint.advance",
                 "retention.enforce", "read.rollup_1H", "read.gorilla_decode"):
        out[f"{name}_s"] = tracer.total(name) / n_ops
        out[f"{name}_calls"] = tracer.calls(name) / n_ops
    reads = tracer.counts.get("tier_table.reads_nonempty", 0)
    out["tier_table.files_per_read"] = (
        tracer.counts.get("tier_table.files_read", 0) / reads if reads else 0.0
    )
    for k in ("storage.files_written", "retention.days_dropped",
              "retention.snapshots_dropped"):
        out[k] = tracer.counts.get(k, 0) / n_ops
    return out


def run_workload(args, work_dir: str):
    """Returns (result line dict, report lines dict)."""
    cores = min(4, len(os.sched_getaffinity(0)))
    master = f"local[{cores}]"
    size = SIZES["smoke" if args.smoke else "full"][args.workload]
    tracer = Tracer(args.trace == 1)
    host = host_context(master)

    t_begin = now()
    spark = start_session(master, work_dir)
    session_s = now() - t_begin
    try:
        ctx = Context(spark, args.seed, args.seconds, size, work_dir, cores, tracer,
                      SqlMetrics(spark) if tracer.enabled else None,
                      [os.getpid(), jvm_pid(spark)])
        gen_s, warm_s, inputs = [], [], []
        for rep in range(SETUP_REPS):
            t0 = now()
            inputs.append(_setup_input(ctx, args.workload, rep))
            gen_s.append(now() - t0)
            t0 = now()
            warm_up(spark, cores)
            warm_s.append(now() - t0)
        t_setup = now()
        inp, rows = inputs[0]
        tracer.install_storage_shims()
        try:
            ops, failures, detail, attempted = _run(ctx, args.workload, inp, rows)
        finally:
            tracer.uninstall()
        t_checks = now()
        layers, by_unit = _layer_metrics(ctx, ops) if tracer.enabled else ({}, {})
        collect_s = now() - t_checks
    finally:
        stop_session(spark)
    t_end = now()

    job_s = median([op.seconds for op in ops])
    failed = min(attempted, sum(1 for v in failures.values() if v))
    host.update(
        steal_share_timed=round(ctx.steal_share, 4),
        loadavg_1m_end=round(os.getloadavg()[0], 2),
    )
    host["phases_s"] = {
        "session": round(session_s, 2),
        "setup": round(t_setup - t_begin - session_s, 2),
        "timed": round(ctx.window[1] - ctx.window[0], 2),
        "checks": round(t_checks - t_setup - (ctx.window[1] - ctx.window[0]), 2),
        "trace_collect_and_stop": round(t_end - t_checks, 2),
        "input_gen": [round(x, 2) for x in gen_s],
        "warm_up": [round(x, 2) for x in warm_s],
    }
    detail["peak_rss_mb"] = ctx.peak_rss_bytes / 2**20
    report = {"host": host, "checks": failures, "detail": detail}
    if tracer.enabled:
        values = {
            "session.start_s": session_s,
            "setup.input_gen_s": median(gen_s),
            "setup.warmup_s": median(warm_s),
            **layers,
            "input.rows_per_s": detail["input.rows"] / job_s,
            "peak_rss_mb": detail["peak_rss_mb"],
            "trace.job_s": job_s,
            "trace.collect_s": collect_s,
        }
        spec = PER_LAYER
        report["layers"] = {
            **{k: v for k, v in layers.items() if k not in spec},
            **_storage_layer(tracer, len(ops)),
        }
        report["units"] = by_unit
        if args.trace_out:
            with open(args.trace_out, "w") as f:
                json.dump({"spans": tracer.dump(), **report}, f, default=str)
    else:
        values = {
            "setup_s": session_s + median(gen_s) + median(warm_s),
            "job_s": job_s,
            "job_cpu_s": median([op.cpu_s for op in ops]),
        }
        spec = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": unit}
            for k, unit in spec.items()
        },
    }
    return result, report
