"""Schemas: input transcript table, working series, tier outputs.

Input shape per BASELINE.json input_hint:
``transcripts(conv_id:string, turn_idx:int32, role:string, text:string,
tool:string, ts:timestamp)``.

The working "series" shape mirrors the reference's HTimeseries
(date index + value:float64 + flags:str,
/root/reference/enhydris_autoprocess/tests/test_models.py:328-345)
generalized with a partition key: ``(key, ts, value, flags)``.
NaN (not NULL) means missing inside the pipeline, like the reference
(models.py:176-178); NULL<->NaN is normalized at the boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

SERIES_COLUMNS = ("key", "ts", "value", "flags")

SERIES_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("flags", T.StringType(), False),
    ]
)

NAN = float("nan")


def ts_micros(c: Column) -> Column:
    """Epoch micros of a timestamp column, tolerant of TIMESTAMP_NTZ
    (what Spark infers for pyarrow-written parquet): with the session
    tz pinned to UTC the cast is a pure reinterpretation."""
    return F.unix_micros(c.cast("timestamp"))


def ts_seconds(c: Column) -> Column:
    return F.unix_timestamp(c.cast("timestamp"))


def nan_to_null(c: Column) -> Column:
    """Boundary normalization: pipeline NaN -> NULL (for sinks/oracles)."""
    return F.when(~F.isnan(c), c)


# --- derived value channels over transcripts (SURVEY.md §1.4) ---------------

CHANNELS = {
    "text_len": lambda df: F.length(F.coalesce(F.col("text"), F.lit(""))).cast(
        "double"
    ),
    "tool_call": lambda df: F.col("tool").isNotNull().cast("double"),
    "turn": lambda df: F.lit(1.0),
}


def transcripts_to_series(
    transcripts: DataFrame,
    channel: str = "text_len",
    key_cols: tuple[str, ...] = ("conv_id",),
) -> DataFrame:
    """Project the transcript table to the working series shape.

    ``value`` is a derived numeric channel; ``flags`` starts "".
    Stable ordering/per-turn identity is (conv_id, turn_idx); ts is the
    time axis for all windowed operators.
    """
    if channel not in CHANNELS:
        raise ValueError(f"unknown channel {channel!r}")
    key = (
        F.col(key_cols[0])
        if len(key_cols) == 1
        else F.concat_ws("\x1f", *[F.col(c) for c in key_cols])
    )
    return transcripts.select(
        key.alias("key"),
        F.col("ts"),
        CHANNELS[channel](transcripts).alias("value"),
        F.lit("").alias("flags"),
        F.col("conv_id"),
        F.col("turn_idx"),
    )
