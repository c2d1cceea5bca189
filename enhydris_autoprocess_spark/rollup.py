"""Continuous aggregates: 1min/1h/1d retention tiers of per-conv_id /
per-role turn counts, tool-call rates, and text-length stats
(north-star requirement, BASELINE.json; SURVEY.md §2.4 A5).

Design:

- Tier rows are keyed (conv_id, role, ts) where ``role`` includes the
  sentinel ``"<all>"`` for the across-roles rollup — produced with
  GROUPING SETS so the source is scanned once.
- Buckets are right-labeled left-open intervals, identical to the
  aggregation operator's semantics (operators/aggregate.py), so tier
  timestamps line up with reference-style aggregated series.
- Stats are chosen to COMPOSE: sums/counts/min/max re-aggregate
  losslessly, so the 1h tier is computed from the 1min tier and 1d
  from 1h (``rollup_tier``) instead of rescanning the fact table —
  the economic path at 10^12 turns. Rates/means are derived at query
  time (tool_call_rate = tool_calls / turn_count). Tier-by-tier
  equality with direct computation is pinned by
  tests/test_rollup_synth.py.

Scale: each tier is one partial+final hash aggregation; grouping-sets
doubles the shuffled rows but halves the jobs. No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import ts_micros
from .timeutil import Step, parse_step

TIER_STEPS = ("1min", "1H", "1D")

ROLE_ALL = "<all>"

_STATS = (
    "turn_count",
    "tool_calls",
    "text_len_sum",
    "text_len_min",
    "text_len_max",
)


def bucket_end(ts: Column, step: Step) -> Column:
    """Right-labeled (start, end] bucket end, as in operators.aggregate."""
    s = F.lit(step.micros)
    us = ts_micros(ts)
    return F.timestamp_micros(us + (s - us % s) % s)


def rollup_transcripts(df: DataFrame, step: Step | str) -> DataFrame:
    """Direct tier computation from the raw transcript table."""
    if isinstance(step, str):
        step = parse_step(step)
    return rollup_series(
        df.select(
            F.col("conv_id"),
            F.coalesce(F.col("role"), F.lit("")).alias("role"),
            F.col("ts"),
            F.length(F.coalesce(F.col("text"), F.lit("")))
            .cast("double")
            .alias("__len"),
            F.col("tool").isNotNull().cast("long").alias("__tool"),
        ),
        step,
    )


def rollup_series(
    df: DataFrame,
    step: Step | str,
    key_col: str = "conv_id",
    role_col: str = "role",
    ts_col: str = "ts",
    len_col: str = "__len",
    tool_col: str = "__tool",
) -> DataFrame:
    """Tier computation from an already-derived series frame (key,
    role, ts, text-length channel, tool indicator) — lets checked /
    windowed frames flow straight into the tier ladder in ONE plan
    (scan -> checks -> tiers), the shape the reference pipeline runs
    (checks feed aggregation), instead of re-scanning the raw table
    per consumer."""
    if isinstance(step, str):
        step = parse_step(step)
    base = df.select(
        F.col(key_col).alias("conv_id"),
        F.coalesce(F.col(role_col), F.lit("")).alias("role"),
        bucket_end(F.col(ts_col), step).alias("ts"),
        F.col(len_col).cast("double").alias("__len"),
        F.col(tool_col).cast("long").alias("__tool"),
    )
    grouped = base.groupingSets(
        [["conv_id", "ts"], ["conv_id", "role", "ts"]],
        "conv_id",
        "role",
        "ts",
    ).agg(
        F.count(F.lit(1)).alias("turn_count"),
        F.sum("__tool").alias("tool_calls"),
        F.sum("__len").alias("text_len_sum"),
        F.min("__len").alias("text_len_min"),
        F.max("__len").alias("text_len_max"),
    )
    return grouped.withColumn(
        "role", F.coalesce(F.col("role"), F.lit(ROLE_ALL))
    )


def rollup_tier(tier: DataFrame, step: Step | str) -> DataFrame:
    """Compute a coarser tier FROM a finer tier (lossless composition)."""
    if isinstance(step, str):
        step = parse_step(step)
    return (
        tier.withColumn("ts", bucket_end(F.col("ts"), step))
        .groupBy("conv_id", "role", "ts")
        .agg(
            F.sum("turn_count").alias("turn_count"),
            F.sum("tool_calls").alias("tool_calls"),
            F.sum("text_len_sum").alias("text_len_sum"),
            F.min("text_len_min").alias("text_len_min"),
            F.max("text_len_max").alias("text_len_max"),
        )
    )


def with_rates(tier: DataFrame) -> DataFrame:
    """Derived, non-composable stats for query surfaces."""
    return tier.withColumns(
        {
            "tool_call_rate": F.col("tool_calls") / F.col("turn_count"),
            "text_len_mean": F.col("text_len_sum") / F.col("turn_count"),
        }
    )


def quantile_rollup(
    df: DataFrame,
    key_cols: tuple[str, ...],
    value_col: str = "value",
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """EXACT interpolated per-key quantiles (plus count) — the
    percentile stats a text-length distribution report needs where
    min/max/sum don't suffice.

    Uses Spark's exact ``percentile`` aggregate (linear interpolation
    at rank (n-1)*q, the same definition as ANSI
    ``percentile_cont``/DuckDB ``quantile_cont``, so results
    cross-check bit-for-bit after round6). Exact quantiles buffer each
    group's values — fine for per-key groups (a key's events fit a
    task by the same assumption every per-key window here makes). For
    quantiles OVER ALL 10^12 rows use ``quantile_rollup_approx``:
    mergeable sketches, partial+final, no buffering — kept out of the
    oracle gate because approximate results can't hash-match an exact
    oracle (pinned against this operator within rank epsilon instead).
    """
    arr = F.expr(
        f"percentile({value_col}, array({', '.join(repr(q) + 'D' for q in quantiles)}))"
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, q in enumerate(quantiles):
        # p50 / p95 / p12_5 — never a '.' in the name (a dotted column
        # name parses as struct access in later F.col references)
        name = ("p%g" % (q * 100)).replace(".", "_")
        aggs.append(F.element_at(arr, i + 1).alias(name))
    return df.groupBy(*key_cols).agg(*aggs)


def quantile_rollup_approx(
    df: DataFrame,
    key_cols: tuple[str, ...] = (),
    value_col: str = "value",
    quantiles: tuple[float, ...] = (0.5, 0.95),
    accuracy: int = 10000,
) -> DataFrame:
    """Approximate quantiles via ``approx_percentile`` — the scale path
    for percentiles over ALL rows (or hot keys), where the exact
    aggregate's per-group value buffer cannot fit.

    Spark's implementation is a mergeable Greenwald-Khanna-style
    sketch: each task summarizes its partition, partial sketches merge
    map-side and at the final agg, so memory is O(accuracy) per group
    regardless of row count and the plan stays partial+final hash
    aggregation — exactly what a 10^12-row corpus-wide percentile
    needs. ``accuracy`` bounds the rank error at n/accuracy (default
    1e4 -> 0.01% of rows); tests pin the result within that epsilon of
    the exact operator per key and corpus-wide.

    ``key_cols=()`` computes corpus-wide quantiles (one output row).
    Output schema matches ``quantile_rollup``: n + one ``p<q>`` column
    per requested quantile.
    """
    arr = F.expr(
        f"approx_percentile({value_col}, "
        f"array({', '.join(repr(q) + 'D' for q in quantiles)}), {accuracy})"
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, q in enumerate(quantiles):
        name = ("p%g" % (q * 100)).replace(".", "_")
        aggs.append(F.element_at(arr, i + 1).cast("double").alias(name))
    if key_cols:
        return df.groupBy(*key_cols).agg(*aggs)
    return df.agg(*aggs)


def quantile_rollup_auto(
    df: DataFrame,
    key_cols: tuple[str, ...],
    value_col: str = "value",
    quantiles: tuple[float, ...] = (0.5, 0.95),
    hot_count_threshold: int = 10_000_000,
    accuracy: int = 10000,
) -> DataFrame:
    """Skew-aware per-key quantiles: exact for normal keys, mergeable
    sketch for hot ones (VERDICT r04 next-round #6).

    The exact ``percentile`` aggregate buffers every value of a group
    in one task — the last unbounded per-key memory on the rollup path
    when a key carries 10^8+ events. Keys whose row count exceeds
    ``hot_count_threshold`` route to ``quantile_rollup_approx`` (rank
    error <= n/accuracy, O(accuracy) memory, partial+final merge);
    everything else keeps bit-exact quantiles. Routing costs one
    map-side-combined count aggregation broadcast back as a semi/anti
    join — the same pattern as ``gap_fill_auto``'s span routing.

    Output schema matches ``quantile_rollup`` exactly (key cols + n +
    one ``p<q>`` per quantile). ``df``'s plan is consumed three times
    (count + both branches), so it is persisted here and attached to
    the result — release with ``cache.release_caches`` once the output
    is materialized.
    """
    if not key_cols:
        # corpus-wide is always the sketch path (one group = all rows)
        return quantile_rollup_approx(df, key_cols, value_col, quantiles, accuracy)
    from .cache import carry_caches

    df = df.persist()
    hot = F.broadcast(
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > hot_count_threshold)
        .select(*key_cols)
    )
    exact = quantile_rollup(
        df.join(hot, list(key_cols), "left_anti"), key_cols, value_col, quantiles
    )
    approx = quantile_rollup_approx(
        df.join(hot, list(key_cols), "left_semi"),
        key_cols,
        value_col,
        quantiles,
        accuracy,
    )
    return carry_caches(exact.unionByName(approx), df)


def build_tiers(transcripts: DataFrame) -> dict[str, DataFrame]:
    """1min directly; 1h from 1min; 1d from 1h."""
    t1min = rollup_transcripts(transcripts, "1min")
    t1h = rollup_tier(t1min, "1H")
    t1d = rollup_tier(t1h, "1D")
    return {"1min": t1min, "1H": t1h, "1D": t1d}
