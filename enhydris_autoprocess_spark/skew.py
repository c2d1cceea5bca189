"""Hot-key (skew) handling for per-key serial stages.

Shuffle-based operators (groupBy aggregations) are already skew-proof
here: partial aggregation absorbs hot conv_ids map-side and AQE splits
skewed join partitions. The residual risk is ``applyInPandas`` stages
— one giant conversation becomes one giant Arrow group on one core
(FIXTURES.md §7: ~1% of convs hold ~50% of turns).

``chunked_apply_in_pandas`` removes that hotspot for operators with
BOUNDED LOOKBACK/LOOKAHEAD (gap-fill with max_gap_slots, rocc with max
delta_t, rolling stats with a fixed window): each key's timeline is
split into fixed time chunks, each chunk extended by ``halo`` rows of
context on both sides, processed independently (now parallel across
cores/executors), and halo rows dropped from the output. The chunk id
joins the shuffle key, so the hot key's work spreads over
``n_chunks`` tasks — the "salted repartition on conv_id" the north
rule asks for, applied where AQE can't reach.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import ts_micros


def chunked_apply_in_pandas(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema,
    chunk_span_us: int,
    halo_us: int,
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Apply ``fn`` per (key, time-chunk) with halo context.

    ``fn`` sees each chunk's rows plus up to ``halo_us`` of context on
    both sides and must be row-local up to that context (its output row
    set must equal its input row set). Output rows produced for halo
    context are dropped; every original row is emitted exactly once —
    by its home chunk.
    """
    if halo_us >= chunk_span_us:
        raise ValueError("halo must be smaller than the chunk span")

    us = ts_micros(F.col(ts_col))

    # Exact integer floor-division for chunk ids: a double quotient
    # (us / span) at epoch-micros magnitudes (~1.7e15) has only ~0.25
    # units of precision left and can round UP across an integer
    # boundary, assigning a boundary row to the wrong home/halo chunk
    # (emitted once, but possibly filled without its halo context).
    def _chunk_id(micros):
        return ((micros - F.pmod(micros, F.lit(chunk_span_us)))
                / F.lit(chunk_span_us)).cast("long")

    home = _chunk_id(us)
    prev_chunk = _chunk_id(us + F.lit(halo_us))
    next_chunk = _chunk_id(us - F.lit(halo_us))

    base = df.withColumn("__home", home)
    # replicate boundary rows into the neighboring chunk(s) as halo
    copies = base.withColumn(
        "__chunk",
        F.explode(
            F.array_distinct(
                F.array(F.col("__home"), prev_chunk, next_chunk)
            )
        ),
    )

    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.fields]
        + [
            T.StructField("__home", T.LongType(), True),
            T.StructField("__chunk", T.LongType(), True),
        ]
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = pdf["__chunk"].iloc[0]
        res = fn(pdf.drop(columns=["__home", "__chunk"]))
        # fn preserves the row set, so home tags rejoin by ts order
        src = pdf.sort_values(ts_col).reset_index(drop=True)
        res = res.sort_values(ts_col).reset_index(drop=True)
        res["__home"] = src["__home"]
        res["__chunk"] = chunk
        return res

    applied = copies.groupBy(key_col, "__chunk").applyInPandas(run, out_schema)
    return applied.where(F.col("__home") == F.col("__chunk")).drop(
        "__home", "__chunk"
    )
