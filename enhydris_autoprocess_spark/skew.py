"""Hot-key (skew) handling for per-key serial stages.

Shuffle-based operators (groupBy aggregations) are already skew-proof
here: partial aggregation absorbs hot conv_ids map-side and AQE splits
skewed join partitions. The residual risk is a stage that must see one
key's rows in time order — a window sort or a per-key kernel — where one
giant conversation lands on one core (FIXTURES.md §7: ~1% of convs hold
~50% of turns).

``halo_chunks`` removes that hotspot for operators with BOUNDED
LOOKBACK/LOOKAHEAD (gap-fill with max_gap_slots, rocc with max delta_t,
sessionize with its gap): each key's timeline is split into fixed time
chunks, and a row near a chunk edge is also copied into the neighbouring
chunk as context. The operator then partitions by (key, ``__chunk``)
instead of the key — the hot key's work spreads over ``n_chunks`` tasks,
the "salted repartition on conv_id" the north rule asks for, applied
where AQE can't reach — and keeps only the rows whose ``__home`` is
their ``__chunk``, so every original row is emitted exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def halo_chunks(
    df: DataFrame, t: Column, span: int, back: int, ahead: int = 0
) -> DataFrame:
    """Add ``__home`` (the chunk of ``t``) and ``__chunk`` (one row per
    chunk the row belongs to, its copies included).

    A row is copied into the next chunk when it lies within ``back`` of
    that chunk's start (lookback context) and into the previous chunk
    when it lies within ``ahead`` of that chunk's end (lookahead
    context). ``t``, ``span``, ``back`` and ``ahead`` share one unit.
    """
    if span <= max(back, ahead):
        raise ValueError("chunk span must exceed the halo")

    # Exact integer floor-division for chunk ids: a double quotient
    # (t / span) at epoch-micros magnitudes (~1.7e15) has only ~0.25
    # units of precision left and can round UP across an integer
    # boundary, assigning a boundary row to the wrong home/halo chunk
    # (emitted once, but possibly processed without its halo context).
    def chunk_id(x: Column) -> Column:
        return ((x - F.pmod(x, F.lit(span))) / F.lit(span)).cast("long")

    ids = [F.col("__home"), chunk_id(t + F.lit(back))]
    if ahead:
        ids.append(chunk_id(t - F.lit(ahead)))
    return df.withColumn("__home", chunk_id(t)).withColumn(
        "__chunk", F.explode(F.array_distinct(F.array(*ids)))
    )
