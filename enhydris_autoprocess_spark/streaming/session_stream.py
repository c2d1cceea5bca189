"""Structured Streaming sessionization — the streaming tier for the
batch ``operators.sessionize`` family (VERDICT r03 #7; no reference
analog — the reference is batch-only Celery).

``sessionize_native`` is already expressed as a ``session_window``
hash aggregation, which is exactly the shape Spark's streaming state
store knows how to merge incrementally: each micro-batch's partial
sessions merge with the stored ones (two fragments of one session
arriving in different batches coalesce in state), and a session is
emitted in append mode once the event-time watermark passes its close
(last event + gap). So the streaming tier IS the batch operator —
``sessionize_native``'s groupBy(key, session_window) + min/max/count/
sum — called on a ``readStream`` frame with ``withWatermark``.

Semantics vs batch: late events beyond the watermark delay are dropped
(the batch operator sees every row); sessions still open at the
watermark frontier stay unemitted until a later batch closes them
(availableNow runs therefore emit only sessions that closed before
`max_event_time - watermark`).
Boundary rule matches ``sessionize_native``: a gap exactly equal to
the threshold STARTS a new session (half-open windows) — one instant
off the batch ``sessionize``'s strict->.

Scale shape: state is one (start, end, aggregates) row per OPEN
session, sharded by the (key, window) shuffle; merging is in the state
store, no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.session import sessionize_native


def streaming_sessionize(
    stream: DataFrame,
    gap_seconds: int,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "30 minutes",
) -> DataFrame:
    """(key, ts, value) stream -> closed sessions, one row each.

    ``operators.sessionize_native`` over the watermarked stream: key,
    session_start, session_end (min/max event time — NOT the padded
    window end, which includes the gap), n_events, value_sum.
    """
    return sessionize_native(
        stream.withWatermark(ts_col, watermark),
        gap_seconds,
        key_col,
        ts_col,
        value_col,
    )

