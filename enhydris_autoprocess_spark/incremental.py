"""Snapshot-incremental rollup — continuous aggregates that stay
correct under LATE / OUT-OF-ORDER ingestion.

The HWM pipeline (pipeline.py) mirrors the reference's incremental
contract — read from ``target.end_date + 1min``
(/root/reference/enhydris_autoprocess/models.py:61-65) — which assumes
event-time-monotone ingestion per key: a row arriving *after* a later-
timestamped row has been processed is invisible forever. This module
lifts that assumption with the Iceberg pattern instead:

- the source of truth is an append-only TierTable of transcripts;
  incremental state is "which source SNAPSHOTS have been consumed",
  not an event-time watermark, so arrival order is irrelevant;
- each run reads exactly the new snapshots (arrival-ordered, each row
  seen once), partially aggregates them, and MERGES into the tier:
  the combined row for each touched (conv_id, role, bucket) is
  re-appended, and readers resolve latest-row-wins per key
  (merge-on-read, Iceberg MoR / upsert semantics);
- coarser tiers recompute exactly the coarse buckets whose finer rows
  changed, from the finer tier's resolved view — still never rescanning
  the fact table;
- exactly-once across crashes: every tier append records the consumed
  source snapshot range in its manifest properties, and a run derives
  its start point from the tier manifest itself — a crash between
  "append tier" and "anything else" re-derives the same range and
  skips it (the manifest IS the checkpoint).

Scale notes: the merge join is keyed on (conv_id, role, ts) and only
touches buckets present in the new slice — for a trickle of late data
that's a broadcast join against a day-pruned tier scan. resolve_latest
is one window per read; a compaction run (rewrite resolved rows as a
fresh base snapshot) bounds its cost, exactly like Iceberg MoR
compaction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .rollup import TIER_STEPS, bucket_end, rollup_transcripts, rollup_tier
from .storage import TierTable
from .timeutil import parse_step

_KEYS = ("conv_id", "role", "ts")
_SUM_STATS = ("turn_count", "tool_calls", "text_len_sum")
_MIN_STATS = ("text_len_min",)
_MAX_STATS = ("text_len_max",)


def resolve_latest(df: DataFrame, keys=_KEYS, version_col: str = "__snap") -> DataFrame:
    """Merge-on-read resolution: newest row per key wins."""
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", version_col)
    )


def _merge_stats(partial: DataFrame, existing: DataFrame | None) -> DataFrame:
    """Combine a partial aggregate with existing tier rows for the same
    keys (decomposable stats: sums add, min/least, max/greatest).
    Rows only in ``existing`` are untouched (their stored version stays
    the resolved one); rows only in ``partial`` pass through."""
    if existing is None:
        return partial
    ex = existing.select(
        *_KEYS,
        *[F.col(c).alias(f"__ex_{c}") for c in (*_SUM_STATS, *_MIN_STATS, *_MAX_STATS)],
    )
    joined = partial.join(ex, list(_KEYS), "left")
    out_cols = {}
    for c in _SUM_STATS:
        out_cols[c] = F.col(c) + F.coalesce(F.col(f"__ex_{c}"), F.lit(0))
    for c in _MIN_STATS:
        out_cols[c] = F.least(F.col(c), F.col(f"__ex_{c}"))  # least skips NULL
    for c in _MAX_STATS:
        out_cols[c] = F.greatest(F.col(c), F.col(f"__ex_{c}"))
    return joined.withColumns(out_cols).select(partial.columns)


class SnapshotIncrementalRollup:
    """Maintains 1min/1H/1D tiers over an append-only transcripts
    TierTable, correct under arbitrary ingestion order."""

    def __init__(
        self, spark: SparkSession, root: str, auto_compact_after: int | None = 8
    ):
        """``auto_compact_after``: compact a tier automatically at the
        end of a run once more than this many snapshots sit above its
        last compaction — bounds resolve_latest's merge-on-read window
        cost without manual compact() calls (None disables)."""
        self.spark = spark
        self.root = root
        self.auto_compact_after = auto_compact_after
        self.source = TierTable(os.path.join(root, "initial"), partition_days_col="ts")
        self.tiers = {
            s: TierTable(os.path.join(root, f"tier_{s}"), partition_days_col="ts")
            for s in TIER_STEPS
        }

    # -- ingestion -----------------------------------------------------

    def ingest(self, transcripts: DataFrame):
        """Append an upload batch (any event-time order) to the source."""
        return self.source.append(transcripts, properties={"kind": "ingest"})

    # -- state (derived from manifests, no side files) -------------------

    def _consumed_up_to(self, tier_name: str) -> int:
        """Highest source snapshot this tier has merged (0 = none).
        Reading it from the tier manifest makes append-then-record
        atomic: the append IS the record."""
        snaps = self.tiers[tier_name].snapshots()
        return max((int(s.properties.get("source_hi", 0)) for s in snaps), default=0)

    def _fine_consumed(self, tier_name: str) -> int:
        """Highest FINER-TIER snapshot this coarse tier has rolled up
        (0 = none) — each tier carries its own consumed watermark, so a
        crash between the finer append and this tier's append cannot
        strand buckets (the next run sees the finer snapshot as
        unconsumed here even though the finer tier itself is
        up-to-date)."""
        snaps = self.tiers[tier_name].snapshots()
        return max(
            (int(s.properties.get("fine_snap_hi", 0)) for s in snaps), default=0
        )

    def tier(self, name: str) -> DataFrame | None:
        """The resolved (latest-wins) view of a tier."""
        raw = self.tiers[name].read(self.spark, with_snapshot_id=True)
        return None if raw is None else resolve_latest(raw)

    # -- the incremental run --------------------------------------------

    def run(self) -> dict[str, int]:
        """Consume unmerged snapshots per tier; returns rows appended
        per tier (all zero = idempotent no-op).

        Every tier advances from its OWN consumed watermark: 1min from
        the source snapshots it has merged (``source_hi``), each coarse
        tier from the finer-tier snapshots it has rolled up
        (``fine_snap_hi``). A crash after the 1min append but before
        the 1H/1D appends therefore cannot strand buckets — the next
        run finds the new 1min snapshot above the 1H tier's own
        watermark and recomputes exactly the affected coarse buckets.
        Compaction snapshots are excluded from delta reads (they
        rewrite already-consumed rows, not new data)."""
        appended = {name: 0 for name in TIER_STEPS}

        # ---- 1min: partial of the new source slice, merged additively --
        cur = self.source.current_snapshot()
        lo = self._consumed_up_to("1min")
        hi = cur.snapshot_id if cur is not None else 0
        if hi > lo:
            src_slice = self.source.read(
                self.spark, after_snapshot=lo, as_of_snapshot=hi
            )
            partial = rollup_transcripts(src_slice, "1min").persist()
            existing = self.tier("1min")
            if existing is not None:
                # only resolve/merge tier rows for touched buckets:
                # semi-join keeps the merge proportional to the slice,
                # not the tier
                touched = partial.select(*_KEYS).dropDuplicates()
                existing = existing.join(touched, list(_KEYS), "left_semi")
            appended["1min"] = self.tiers["1min"].append(
                _merge_stats(partial, existing),
                properties={"source_lo": lo, "source_hi": hi, "source": "initial"},
            ).row_count
            partial.unpersist()

        # ---- coarser tiers: recompute exactly the touched buckets -----
        # (1H from 1min, 1D from 1H — still never rescanning the facts)
        for fine, coarse in (("1min", "1H"), ("1H", "1D")):
            step = parse_step(coarse)
            fine_cur = self.tiers[fine].current_snapshot()
            fine_hi = fine_cur.snapshot_id if fine_cur is not None else 0
            fine_lo = self._fine_consumed(coarse)
            if fine_hi <= fine_lo:
                continue
            changed = self.tiers[fine].read(
                self.spark,
                after_snapshot=fine_lo,
                as_of_snapshot=fine_hi,
                exclude_kinds=("compaction",),
            )
            if changed is None:
                continue
            affected = changed.select(
                "conv_id", "role", bucket_end(F.col("ts"), step).alias("__cb")
            ).dropDuplicates()
            fine_resolved = resolve_latest(
                self.tiers[fine].read(
                    self.spark, as_of_snapshot=fine_hi, with_snapshot_id=True
                )
            )
            needed = fine_resolved.withColumn(
                "__cb", bucket_end(F.col("ts"), step)
            ).join(affected, ["conv_id", "role", "__cb"], "left_semi")
            appended[coarse] = self.tiers[coarse].append(
                rollup_tier(needed.drop("__cb"), step),
                properties={"fine_snap_hi": fine_hi, "from": fine},
            ).row_count
        self._auto_compact()
        return appended

    # -- maintenance -----------------------------------------------------

    def compact(self, name: str) -> int:
        """Rewrite a tier's resolved view as one fresh base snapshot so
        merge-on-read resolution stays O(recent appends). Old snapshots
        remain readable by id (time travel); the compacted snapshot
        carries the tier's consumed watermarks (source_hi AND
        fine_snap_hi) so incremental state is preserved."""
        resolved = self.tier(name)
        if resolved is None:
            return 0
        # a compaction supersedes all prior snapshots: readers resolve
        # latest-wins, and every key it holds now has the max version
        return self.tiers[name].append(
            resolved,
            properties={
                "kind": "compaction",
                "source_hi": self._consumed_up_to(name),
                "fine_snap_hi": self._fine_consumed(name),
            },
        ).row_count

    def _auto_compact(self) -> None:
        """Compact any tier whose merge-on-read window has grown past
        ``auto_compact_after`` snapshots since its last compaction.
        Compaction snapshots are excluded from coarse-tier delta reads,
        so compacting a fine tier does NOT trigger downstream
        recomputes."""
        if self.auto_compact_after is None:
            return
        for name, table in self.tiers.items():
            snaps = table.snapshots()
            last_compaction = max(
                (
                    s.snapshot_id
                    for s in snaps
                    if s.properties.get("kind") == "compaction"
                ),
                default=0,
            )
            pending = sum(1 for s in snaps if s.snapshot_id > last_compaction)
            if pending > self.auto_compact_after:
                self.compact(name)
