"""Physical-plan assertions: the optimizations the engine claims are
load-bearing at 100 TB must be visible in the executed plan, not just
in docstrings — a regression that silently adds a shuffle or drops
filter pushdown should fail CI, not a future benchmark.
"""

import datetime as dt

from pyspark.sql import functions as F

from enhydris_autoprocess_spark.config import (
    RangeCheckConfig,
    RateOfChangeConfig,
    RoccThreshold,
)
from enhydris_autoprocess_spark.operators import (
    gap_fill,
    range_check,
    rate_of_change_check,
)
from enhydris_autoprocess_spark.operators.aggregate import aggregate_step
from enhydris_autoprocess_spark.timeutil import parse_step

from .conftest import series_df

UTC = dt.timezone.utc


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _series(spark, n=32):
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    idx = [t0 + dt.timedelta(minutes=10 * i) for i in range(n)]
    return series_df(spark, idx, [float(i) for i in range(n)], [""] * n)


def test_range_check_is_shuffle_free(spark):
    """P1/P2 are pure column expressions: no Exchange, whole-stage
    codegen covers the check."""
    out = range_check(_series(spark), RangeCheckConfig(0, 100, 5, 50))
    p = _plan(out)
    assert "Exchange" not in p
    assert "*(1)" in p  # the '*(n)' prefix marks whole-stage codegen


def test_rocc_single_sort_for_all_thresholds(spark):
    """W1: every threshold's range frame shares ONE shuffle + ONE sort
    on (key, ts) — per-threshold sorts would multiply the dominant cost
    at scale."""
    cfg = RateOfChangeConfig(
        (RoccThreshold("10min", 5.0), RoccThreshold("1H", 10.0)),
    )
    out = rate_of_change_check(_series(spark), cfg)
    p = _plan(out)
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Sort ") == 1
    assert "Window" in p


def test_aggregate_is_partial_then_final(spark):
    """A1: map-side partial aggregation must absorb rows before the
    shuffle (two HashAggregate levels around one Exchange)."""
    out = aggregate_step(
        _series(spark), parse_step("10min"), parse_step("H"), "sum",
        max_missing=3,
    )
    p = _plan(out)
    assert p.count("HashAggregate") >= 2
    first_agg = p.index("HashAggregate")
    assert "Exchange" in p[first_agg:]  # partial agg sits above a shuffle


def test_gapfill_single_exchange_no_join(spark):
    """I2 (fused path): one key repartition, grid completion inside the
    UDF — no Spark-side sequence/join, and carried columns (conv_id /
    turn_idx) must not reintroduce a join (round-1 ADVICE: the checked
    stage re-joined its own output)."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC).replace(tzinfo=None)
    rows = [
        ("k", t0 + dt.timedelta(minutes=i), float(i), "", "c1", i)
        for i in range(0, 40, 2)
    ]
    df = spark.createDataFrame(
        rows,
        "key string, ts timestamp, value double, flags string, "
        "conv_id string, turn_idx int",
    )
    out = gap_fill(df, parse_step("1min"), max_gap_slots=10)
    p = _plan(out)
    assert "Join" not in p
    assert p.count("Exchange") == 1


def test_chunked_gapfill_runs_the_one_kernel(spark):
    """Hot-key gap-fill runs the cold path's kernel: exactly one
    mapInPandas over (key, chunk) groups and no per-group
    applyInPandas."""
    t0 = dt.datetime(2024, 1, 1, tzinfo=UTC).replace(tzinfo=None)
    rows = [("k", t0 + dt.timedelta(minutes=i), float(i), "") for i in range(0, 90, 2)]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    out = gap_fill(df, parse_step("1min"), max_gap_slots=3, chunk_span_slots=20)
    p = _plan(out)
    assert p.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in p


def test_parquet_filter_pushdown_reaches_scan(spark, tmp_path):
    """Predicate + projection pushdown: a filtered two-column read of a
    wide parquet table must show PushedFilters and a pruned ReadSchema
    at the scan."""
    path = str(tmp_path / "wide")
    spark.range(1000).select(
        F.col("id"),
        (F.col("id") * 2).alias("a"),
        (F.col("id") * 3).alias("b"),
        F.lit("x").alias("c"),
    ).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("id") > 500).select("id", "a")
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,500)]" in p
    assert "ReadSchema: struct<id:bigint,a:bigint>" in p
    assert "b:bigint" not in p


def test_rollup_tiers_single_raw_row_exchange(spark, tmp_path):
    """Round-7 reshape: the hourly/daily tier queries repartition the
    raw events by user_id once instead of shuffling Expand-doubled
    aggregation states (rollup_hourly) or shuffling twice
    (tier_1d_from_1h). The union-of-aggs form must stay row-identical
    to GROUPING SETS ((user_id, ts), (user_id, event_type, ts)) with
    both sets' event_type coalesced; the hourly plan holds exactly two
    raw-row exchanges (one per branch) and the daily tier's plan a
    single one."""
    import random

    import __spark_entry__ as e

    rng = random.Random(7)
    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (
            rng.randrange(5),
            rng.choice(["a", "b", None]),
            t0 + dt.timedelta(minutes=rng.randrange(0, 60 * 72)),
            rng.uniform(0, 3000),
        )
        for _ in range(400)
    ]
    path = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, value double"
    ).write.parquet(path + "/events.parquet")

    got = e.q_rollup_hourly(spark, path)

    ev = spark.read.parquet(path + "/events.parquet").select(
        "user_id",
        "event_type",
        e._bucket(F.col("ts"), 3600_000_000).alias("ts"),
        "value",
    )
    ref = (
        ev.groupingSets(
            [["user_id", "ts"], ["user_id", "event_type", "ts"]],
            "user_id",
            "event_type",
            "ts",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            e.round6(F.sum("value")).alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
        )
        .withColumn("event_type", F.coalesce("event_type", F.lit("<all>")))
    )
    assert got.columns == ref.columns
    key = lambda r: tuple(str(v) for v in r)
    assert sorted(got.collect(), key=key) == sorted(ref.collect(), key=key)

    # rollup_hourly: one raw-row exchange per union branch — the
    # branches prune different columns, so neither the scan nor the
    # shuffle is reused (and no aggregation-state Expand appears)
    p = _plan(e.q_rollup_hourly(spark, path))
    assert p.count("Exchange hashpartitioning(user_id") == 2
    assert "ReusedExchange" not in p
    assert p.count("FileScan parquet") == 2
    assert "Expand" not in p

    p = _plan(e.q_tier_1d_from_1h(spark, path))
    assert p.count("Exchange") == 1
    assert "Expand" not in p
