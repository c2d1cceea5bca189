"""Streaming exact dedup — the streaming tier for
``textops.exact_dedup`` (no reference analog; the reference app is
batch-only Celery — this belongs to the task brief's training-data
surface, like the batch dedup family).

A live ingestion pipeline wants each document admitted AT MOST ONCE by
content: the first arrival passes, re-crawls and mirrors are dropped
as they stream in. That is exactly Spark's
``dropDuplicatesWithinWatermark`` shape: state keyed by the content
hash, bounded by the event-time watermark (a key's state is evicted
once the watermark passes its last-seen time + delay), so state never
grows with the corpus — only with the duplicate-arrival horizon.

Semantics vs batch ``exact_dedup``:

- within one watermark horizon the stream admits exactly one row per
  content hash (the first to be processed) — same keeper cardinality
  as the batch operator;
- a duplicate arriving LATER than the watermark delay after its
  keeper's state was evicted is re-admitted (batch, with the whole
  corpus in view, would have caught it). The horizon is the knob: set
  it to the pipeline's re-crawl window. The persistent cross-horizon
  answer is ``textops.dedup_incremental.MinHashIndex`` at threshold
  1.0 semantics — streaming handles the hot path, the index the
  archive;
- which duplicate survives is arrival-order-dependent (batch keeps
  min id). Downstream consumers keyed by content_hash are unaffected.

Scale shape: one shuffle on content_hash into the state store; no
per-row Python (md5 + regexp are codegen'd JVM expressions); state is
one (hash, last_ts) row per distinct content in the horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textops.dedup import _normalize


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """(id, text, ts) stream -> first-arrival rows only, plus their
    ``content_hash`` (same normalization + hash as the batch
    ``exact_dedup``: md5 of lowercased, whitespace-collapsed text —
    shared ``_normalize`` so the streaming and batch hashes can never
    drift).
    """
    h = F.md5(_normalize(F.col(text_col)))
    return (
        stream.withColumn("content_hash", h)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
