"""Retention enforcement — the third leg of the north rule's
"rollup + downsample + RETENTION engine".

The reference runs on TimescaleDB, whose retention story is
``drop_chunks(older_than)``: whole time-chunks are dropped, never
individual rows (tests/test_models.py:64-67 pin the hypertable record
store; retention itself is an operational Timescale policy, not
reference code). The TierTable analog drops at the same granularities
it stores:

- whole SNAPSHOT directories whose manifest ``max_ts_us`` lies below
  the cutoff (Iceberg ``expire_snapshots`` + data-file delete);
- within straddling snapshots, whole ``__day=`` partition directories
  strictly before the cutoff's day (hidden-partition chunk drop).

Row-level deletes never happen — a day that contains any retained
instant is kept whole, so retention can only err on the keeping side
(day-granular, exactly like drop_chunks' chunk-granular contract).

In the manifest, expired snapshots disappear (their time travel is
gone, as after Iceberg expiration), and trimmed snapshots lose the
dropped days from their ``days`` list, get ``min_ts_us`` raised to the
cutoff day and ``retention_trimmed`` set (their ``row_count`` becomes
an upper bound, flagged by ``rows_approximate``). The table entry — the
last snapshot id and a stage's committed HWMs — is carried forward
unchanged, so a stage whose every snapshot expired still reads nothing
twice.

A ``RetentionPolicy`` maps tier names to keep-durations; ``None``
keeps forever — the typical ladder keeps raw/checked briefly, 1min for
weeks, 1H for years, 1D forever, which is what makes the tier design a
RETENTION engine rather than just a cascade of aggregates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace

from .tier_table import _DAY_US, Snapshot, TierTable, day_dir


def expire(table: TierTable, cutoff_us: int) -> dict:
    """Drop all data strictly before ``cutoff_us`` (day-granular).

    Returns {"snapshots_dropped": n, "days_dropped": n,
    "snapshots_trimmed": n}. Idempotent: a second call with the same
    cutoff changes no snapshot; it only vacuums what a crashed call
    left on disk. Works from the manifest alone: a snapshot's range
    and its day list say what to drop. It commits through
    ``Manifest.commit``, which deletes the dropped directories only
    after the rename, so a crash anywhere leaves readers the old state
    or the new one, and the next commit deletes what it left. Readers
    opened after the commit see only retained data; concurrent readers
    of already-listed files keep working until the files vanish (same
    caveat as Iceberg expiration).
    """
    # drop the days before the cutoff's; NULL_DAY sorts after them all
    cut_name = day_dir(cutoff_us)
    kept: list[Snapshot] = []
    doomed: list[str] = []
    dropped = trimmed = 0
    for s in table.snapshots():
        max_ts = s.properties.get("max_ts_us")
        if max_ts is not None and int(max_ts) < cutoff_us:
            # whole snapshot below the cutoff: expire it
            doomed.append(s.data_dir)
            dropped += 1
            continue
        # straddling day-partitioned snapshot: drop whole old days
        old = [day for day in s.properties["days"] if day < cut_name]
        if old:
            doomed += [os.path.join(s.data_dir, day) for day in old]
            s = replace(
                s,
                properties={
                    **s.properties,
                    "days": [d for d in s.properties["days"] if d not in old],
                    # day-granular: retained rows start at the cut
                    # day, which may precede cutoff_us itself
                    "min_ts_us": cutoff_us // _DAY_US * _DAY_US,
                    "retention_trimmed": True,
                    "rows_approximate": True,
                },
            )
            trimmed += 1
        kept.append(s)
    if doomed:
        table.manifest.commit(kept, then_delete=doomed)
    else:
        table.manifest.vacuum()  # what an earlier crashed run left
    return {
        "snapshots_dropped": dropped,
        "days_dropped": len(doomed) - dropped,
        "snapshots_trimmed": trimmed,
    }


@dataclass(frozen=True)
class RetentionPolicy:
    """keep_seconds per tier name; None (or absent) = keep forever."""

    keep_seconds: dict = field(default_factory=dict)

    def cutoff_us(self, tier: str, now_us: int) -> int | None:
        keep = self.keep_seconds.get(tier)
        if keep is None:
            return None
        return now_us - int(keep * 1_000_000)


def enforce(root: str, policy: RetentionPolicy, now_us: int) -> dict[str, dict]:
    """Apply the policy to every configured tier under ``root``."""
    results = {}
    for tier in policy.keep_seconds:
        cutoff = policy.cutoff_us(tier, now_us)
        if cutoff is not None:
            results[tier] = expire(TierTable(os.path.join(root, tier)), cutoff)
    return results
