"""The two storage workloads: ``batch_backfill`` and ``incremental_ingest``.

Both feed ``synth.generate_transcripts_jvm(seed=<seed>)`` through
``Pipeline`` with ``bench.py``'s pipeline config and Gorilla tier
compression. Each returns ``(ops, failures, detail, attempted)``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .common import dir_bytes, median, now, tail

DAY_US = 86_400_000_000


def pipeline_config():
    from enhydris_autoprocess_spark.config import (
        AggregationConfig,
        PipelineConfig,
        RangeCheckConfig,
        RateOfChangeConfig,
        RoccThreshold,
    )

    return PipelineConfig(
        range_check=RangeCheckConfig(0, 3000, 5, 2500),
        rate_of_change=RateOfChangeConfig((RoccThreshold("10min", 2000.0),)),
        aggregations=(AggregationConfig("H", "sum", 10, "1min"),),
        source_time_step="1min",
    )


# Short keep times for the raw and 1-minute tiers, so that expiry fires
# within the few cycles of one run; coarser tiers are kept forever.
RETENTION_KEEP_S = {"checked": 2 * 86400, "rollup_1min": 3 * 86400}

AGG = "agg_H_sum"
TIERS = ("checked", AGG, "rollup_1min", "rollup_1H", "rollup_1D")


def generate_input(ctx, out_dir: str):
    """Write the seeded transcript table as parquet; return (df, turns)."""
    from enhydris_autoprocess_spark.synth import generate_transcripts_jvm

    generate_transcripts_jvm(
        ctx.spark, n_convs=ctx.size["n_convs"], seed=ctx.seed
    ).write.parquet(out_dir)
    df = ctx.spark.read.parquet(out_dir)
    return df, df.count()


def _table(root: str, name: str):
    from enhydris_autoprocess_spark.storage import TierTable

    return TierTable(
        os.path.join(root, name),
        partition_days_col="chunk_end_us" if name.endswith("_gorilla") else "ts",
    )


def _stage_split(results) -> dict[str, float]:
    return {f"pipeline.{r.stage}_s": r.seconds for r in results}


# --- output checks -------------------------------------------------------------


def _differing_rows(a, b) -> int:
    """Rows in either frame without an equal row in the other."""
    return a.exceptAll(b).unionAll(b.exceptAll(a)).count()


def check_gorilla_round_trip(spark, root: str) -> int:
    """The Gorilla copy of the aggregated tier decodes to the tier."""
    from enhydris_autoprocess_spark.storage import gorilla

    plain = _table(root, AGG).read(spark)
    comp = _table(root, f"{AGG}_gorilla").read(spark)
    if plain is None or comp is None:
        return 1
    back = gorilla.decompress_series(comp)
    cols = ["key", "ts", "value", "flags"]
    return _differing_rows(plain.select(cols), back.select(cols))


def check_rollups(spark, root: str, tdf, turns: int) -> int:
    """Every rollup tier counts each input turn exactly once in its
    all-roles rows and once across its per-role rows, and
    ``rollup_1min`` has one row per (conversation, minute) and per
    (conversation, role, minute) of the input, whose turns all sit on
    whole minutes."""
    from enhydris_autoprocess_spark.rollup import ROLE_ALL

    minute = F.date_trunc("minute", "ts")
    want_rows = (
        tdf.select("conv_id", minute.alias("m")).distinct().count()
        + tdf.select("conv_id", "role", minute.alias("m")).distinct().count()
    )
    one_min = _table(root, "rollup_1min").read(spark)
    bad = int(one_min is None or one_min.count() != want_rows)
    for tier in ("rollup_1min", "rollup_1H", "rollup_1D"):
        df = _table(root, tier).read(spark)
        if df is None:
            bad += 1
            continue
        is_all = F.col("role") == F.lit(ROLE_ALL)
        row = df.agg(
            F.sum(F.when(is_all, F.col("turn_count"))),
            F.sum(F.when(~is_all, F.col("turn_count"))),
        ).first()
        bad += int(row[0] != turns or row[1] != turns)
    return bad


def dashboard_reads(ctx, root: str, day_start_us: int, times: list[float]) -> int:
    """The two reads a dashboard makes after an ingest, each timed:
    the latest day of ``rollup_1H`` summed by role (a ``min_ts_us``-
    pruned read), and a decode of the newest Gorilla snapshot. Returns
    the number of wrong answers: the pruned read must equal the same
    sum over an unpruned read, and the decode must yield points."""
    from enhydris_autoprocess_spark.storage import gorilla

    spark = ctx.spark
    cut = F.col("ts") >= F.timestamp_micros(F.lit(day_start_us))
    with ctx.tracer.span("read.rollup_1H"):
        t0 = now()
        pruned = _table(root, "rollup_1H").read(spark, min_ts_us=day_start_us)
        by_role = sorted(
            pruned.where(cut).groupBy("role").agg(F.sum("turn_count")).collect()
        ) if pruned is not None else []
        times.append(now() - t0)

    with ctx.tracer.span("read.gorilla_decode"):
        t0 = now()
        table = _table(root, f"{AGG}_gorilla")
        newest = table.current_snapshot()
        comp = table.read(spark, after_snapshot=newest.snapshot_id - 1) if newest else None
        points = gorilla.decompress_series(comp).count() if comp is not None else 0
        times.append(now() - t0)

    full = _table(root, "rollup_1H").read(spark)
    want = sorted(
        full.where(cut).groupBy("role").agg(F.sum("turn_count")).collect()
    ) if full is not None else []
    return int(by_role != want) + int(newest is not None and points == 0)


def check_retention(spark, root: str, now_us: int) -> int:
    """After a sweep, no retained row of a swept tier is older than its
    cutoff day."""
    bad = 0
    for tier, keep in RETENTION_KEEP_S.items():
        cutoff = now_us - keep * 1_000_000
        cut_day_us = cutoff // DAY_US * DAY_US
        df = _table(root, tier).read(spark)
        if df is None:
            continue
        oldest = df.agg(F.min(F.unix_micros("ts"))).first()[0]
        bad += int(oldest is not None and oldest < cut_day_us)
    return bad


def _retention_policy():
    from enhydris_autoprocess_spark.storage.retention import RetentionPolicy

    return RetentionPolicy(dict(RETENTION_KEEP_S))


# --- batch_backfill ----------------------------------------------------------------


def batch_backfill(ctx, tdf, turns: int):
    """Timed: ``Pipeline.run(compress_tiers=True, finalize=True)`` on a
    fresh root, repeated until ``--seconds`` is spent (at least once)."""
    from enhydris_autoprocess_spark.pipeline import Pipeline

    spark, cfg = ctx.spark, pipeline_config()
    ops = []
    with ctx.timed():
        t_start = now()
        while not ops or now() - t_start < ctx.seconds:
            root = os.path.join(ctx.work_dir, f"backfill-{len(ops)}")
            with ctx.op(f"op-{len(ops)}") as op:
                results = Pipeline(spark, root, cfg, compress_tiers=True).run(
                    tdf, finalize=True
                )
            op.detail = {
                "root": root,
                "stages": _stage_split(results),
                "rows": {r.stage: r.rows_out for r in results},
            }
            ops.append(op)

    # --- checks and reads, outside the timed window -------------------
    root = ops[0].detail["root"]
    failures = {
        "gorilla_round_trip": check_gorilla_round_trip(spark, root),
        "rollups": check_rollups(spark, root, tdf, turns),
        "row_counts_repeat": sum(
            int(op.detail["rows"] != ops[0].detail["rows"]) for op in ops
        ),
    }
    stored = dir_bytes(root)
    max_us = tdf.agg(F.max(F.unix_micros("ts"))).first()[0]
    read_times: list[float] = []
    with ctx.tracer.span("reads"):
        failures["dashboard_reads"] = dashboard_reads(
            ctx, root, max_us // DAY_US * DAY_US, read_times
        )
    with ctx.tracer.span("retention"):
        Pipeline(spark, root, cfg, compress_tiers=True).apply_retention(
            _retention_policy(), max_us
        )
    failures["retention"] = check_retention(spark, root, max_us)

    detail = _pipeline_detail(ctx, ops, turns, stored, read_times)
    return ops, failures, detail, len(ops) + len(read_times) + 1


def _pipeline_detail(ctx, ops, turns, stored, read_times) -> dict:
    stages = {}
    for k in ops[0].detail["stages"]:
        stages[k] = median([op.detail["stages"][k] for op in ops])
    job = median([op.seconds for op in ops])
    if ctx.tracer.enabled:
        # the Gorilla copy runs after agg_H_sum's StageResult is taken
        stages["pipeline.agg_H_sum_gorilla_s"] = (
            ctx.tracer.total("gorilla.append") / len(ops)
        )
    p, tail_v, n = tail(read_times)
    return {
        "input.rows": turns,
        "ops": len(ops),
        "rows_per_s": turns / job,
        "stored_bytes_per_turn": stored / turns,
        "read_p50_s": median(read_times),
        "read_tail": {"percentile": p, "value_s": tail_v, "samples": n},
        **stages,
        "pipeline.stage_coverage": sum(stages.values()) / job,
    }


# --- incremental_ingest --------------------------------------------------------------


def _day_starts(tdf) -> list[int]:
    lo, hi = tdf.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    return list(range(lo // DAY_US * DAY_US, hi + 1, DAY_US))


def incremental_ingest(ctx, tdf, turns: int):
    """Timed: one cycle per event-time day slice, as one invocation of
    ``scripts/run_pipeline.py`` does it (``Pipeline.run`` then
    ``apply_retention``), followed by the dashboard reads. Cycles run
    until ``--seconds`` is spent (at least three); the last one runs
    with ``finalize=True``."""
    from enhydris_autoprocess_spark.pipeline import Pipeline

    spark, cfg = ctx.spark, pipeline_config()
    root = os.path.join(ctx.work_dir, "ingest")
    days = _day_starts(tdf)
    ops, read_times = [], []
    read_failures = 0
    with ctx.timed():
        t_start = now()
        for i, day in enumerate(days):
            final = i == len(days) - 1 or (i >= 2 and now() - t_start >= ctx.seconds)
            day_slice = tdf.where(
                (F.unix_micros("ts") >= day) & (F.unix_micros("ts") < day + DAY_US)
            )
            with ctx.op(f"cycle-{i}") as op:
                p = Pipeline(spark, root, cfg, compress_tiers=True)
                results = p.run(day_slice, finalize=final)
                p.apply_retention(_retention_policy(), day + DAY_US)
            op.detail = {"stages": _stage_split(results)}
            ops.append(op)
            with ctx.tracer.span("reads"):
                read_failures += dashboard_reads(ctx, root, day, read_times)
            if final:
                ingested_until = day + DAY_US
                break

    # --- checks, outside the timed window --------------------------------
    ingested = tdf.where(F.unix_micros("ts") < ingested_until)
    oneshot = os.path.join(ctx.work_dir, "oneshot")
    Pipeline(spark, oneshot, cfg, compress_tiers=True).run(ingested, finalize=True)
    mismatched = {
        tier: _mismatched_rows(spark, root, oneshot, tier)
        for tier in (AGG, "rollup_1H", "rollup_1D")
    }
    n_ingested = ingested.count()
    failures = {
        "dashboard_reads": read_failures,
        "gorilla_round_trip": check_gorilla_round_trip(spark, root),
        "retention": check_retention(spark, root, ingested_until),
        "matches_one_shot": int(sum(mismatched.values()) > 0),
    }
    stored = dir_bytes(root)
    detail = _pipeline_detail(ctx, ops, n_ingested, stored, read_times)
    detail["rows_per_s"] = n_ingested / sum(op.seconds for op in ops)
    detail["pipeline.incremental_rows_mismatched"] = sum(mismatched.values())
    detail["mismatched_rows_by_tier"] = mismatched
    detail["tier_table.snapshots"] = sum(
        len(_table(root, t).snapshots()) for t in TIERS + (f"{AGG}_gorilla",)
    )
    return ops, failures, detail, len(ops) + len(read_times)


def _mismatched_rows(spark, root_a: str, root_b: str, tier: str) -> int:
    """Rows of ``tier`` that differ between two roots, comparing values
    at 9 decimals as ``scripts/check_entry.py`` does (summation order
    differs between an incremental and a one-shot run)."""
    a = _table(root_a, tier).read(spark)
    b = _table(root_b, tier).read(spark)
    if a is None or b is None:
        return int(a is not b)

    def canon(df):
        return df.select(
            [
                F.round(F.col(c), 9).alias(c)
                if t in ("double", "float")
                else F.col(c)
                for c, t in sorted(df.dtypes)
            ]
        )

    return _differing_rows(canon(a), canon(b))
