"""Sessionization: split each key's event stream into sessions at
inactivity gaps (no reference analog — the reference processes
continuous sensor series; transcript analytics needs conversation
sessions, so this is a target-domain extension like the textops).

Spark-first shape: one window sort on (key, ts) computes the
new-session marker (``lag`` + gap compare) and the running session
ordinal (cumulative sum over the same sort), then one partial+final
hash aggregation per (key, session). Both steps share a single
exchange on the key; the aggregation's map-side combine absorbs hot
keys, so the only skew-sensitive stage is the window sort — the same
profile as the rate-of-change check, and ``chunk_span_seconds``
applies the same lookback-halo time-chunking (``skew.halo_chunks``, as
rocc.py does): rows in the last ``gap`` of each chunk are copied into
the next chunk as context, the window partitions by (key, chunk), and
the per-key session ordinal is reassembled as per-chunk-start-count
prefix + within-chunk cumulative sum — a session crossing chunk
boundaries contributes its start to exactly one chunk, so every
fragment lands on the same global ordinal and the final (key, session)
aggregation merges them.

``sessionize_native`` is the batch twin of the streaming operator
(streaming/session_stream.py): the same sessions from Spark's
``session_window``, without the ordinal.

Duplicate timestamps are safe: a zero gap is never a session break,
and the running sum gives equal-ts rows the same session id in any
tie order, so the output is deterministic without a tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import ts_micros
from ..skew import halo_chunks


def sessionize(
    df: DataFrame,
    gap_seconds: int,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    chunk_span_seconds: int | None = None,
) -> DataFrame:
    """Group events into per-key sessions separated by more than
    ``gap_seconds`` of inactivity.

    Output: key, session_id (1-based per key, ordered by time),
    session_start, session_end, n_events, value_sum.

    ``chunk_span_seconds``: hot-key mode — a plain window makes one
    conversation one sort partition, so a years-long conversation is
    one straggler task at 10^12-turn scale. Because session membership
    only looks BACK ``gap_seconds``, each key's timeline splits into
    fixed time chunks with a gap-sized lookback halo (the halo carries
    the previous event, so a session crossing the boundary continues
    rather than restarting); the global ordinal is the number of
    session STARTS at or before each row, which decomposes exactly as
    (starts in earlier chunks) + (within-chunk running count) — one
    tiny per-(key, chunk) aggregation + prefix window supplies the
    first term. Output is identical to the plain path (pinned by
    test). Must exceed ``gap_seconds``.
    """
    us = ts_micros(F.col(ts_col))
    gap_us = gap_seconds * 1_000_000

    if chunk_span_seconds is not None:
        return _sessionize_chunked(
            df, gap_us, chunk_span_seconds * 1_000_000,
            key_col, ts_col, value_col,
        )

    w = Window.partitionBy(key_col).orderBy(us)
    prev = F.lag(us).over(w)
    new_session = (prev.isNull() | ((us - prev) > F.lit(gap_us))).cast("int")
    run = Window.partitionBy(key_col).orderBy(us).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        df.withColumn("__us", us)
        .withColumn("__sid", F.sum(new_session).over(run))
    )
    return _agg_sessions(sess, key_col, value_col)


def _agg_sessions(sess: DataFrame, key_col: str, value_col: str) -> DataFrame:
    return (
        sess.groupBy(key_col, F.col("__sid").cast("long").alias("session_id"))
        .agg(
            F.timestamp_micros(F.min("__us")).alias("session_start"),
            F.timestamp_micros(F.max("__us")).alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(value_col).alias("value_sum"),
        )
    )


def _sessionize_chunked(
    df: DataFrame,
    gap_us: int,
    span_us: int,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    # lookback halo: rows within gap of a chunk's end also copy into
    # the next chunk, so the next chunk's first row sees its true
    # previous event; any previous event farther back than the halo is
    # farther than the gap, i.e. a session break either way
    copies = halo_chunks(
        df.withColumn("__us", ts_micros(F.col(ts_col))),
        F.col("__us"),
        span_us,
        back=gap_us,
    )
    w = Window.partitionBy(key_col, "__chunk").orderBy("__us")
    prev = F.lag("__us").over(w)
    new_session = (
        prev.isNull() | ((F.col("__us") - prev) > F.lit(gap_us))
    ).cast("int")
    # halo copies contribute context to lag but must not count as
    # session starts in their guest chunk (their start was counted in
    # their home chunk)
    start_here = new_session * (F.col("__home") == F.col("__chunk")).cast("int")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = (
        copies.withColumn("__local_sid", F.sum(start_here).over(run))
        .where(F.col("__home") == F.col("__chunk"))
    )

    # per-(key, chunk) start counts -> per-key prefix sums: rows per
    # key here = occupied chunks, not events, so this window is tiny
    # even for the hottest key
    counts = local.groupBy(key_col, "__chunk").agg(
        F.max("__local_sid").alias("__starts")
    )
    woff = (
        Window.partitionBy(key_col)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        key_col,
        "__chunk",
        F.coalesce(F.sum("__starts").over(woff), F.lit(0)).alias("__offset"),
    )
    sess = (
        local.join(offsets, [key_col, "__chunk"])
        .withColumn("__sid", F.col("__offset") + F.col("__local_sid"))
    )
    return _agg_sessions(sess, key_col, value_col).drop(
        "__home", "__chunk", "__offset", "__local_sid"
    )


def sessionize_native(
    df: DataFrame,
    gap_seconds: int,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Same sessions via Spark's built-in ``session_window`` — one
    hash aggregation with Catalyst's native session merging (usable in
    Structured Streaming unchanged, where the custom window variant is
    not). Produces (key, session_start, session_end, n_events,
    value_sum) without the per-key ordinal.

    Boundary semantics differ by one instant from ``sessionize``: the
    built-in starts a NEW session when the gap equals the threshold
    (half-open windows), where ``sessionize`` keeps it (strict >).
    Equivalence everywhere else is pinned by test; pick by whether the
    ordinal / the exact-gap rule / streaming matters.
    """
    win = F.session_window(F.col(ts_col), f"{gap_seconds} seconds")
    return (
        df.groupBy(key_col, win.alias("__w"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(value_col).alias("value_sum"),
        )
        .drop("__w")
    )
