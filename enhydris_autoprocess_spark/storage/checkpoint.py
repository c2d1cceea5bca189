"""Per-partition high-water-mark checkpoints with lineage + metrics.

The reference processes incrementally from ``target.end_date + 1min``
(/root/reference/enhydris_autoprocess/models.py:61-65; golden
tests/test_models.py:114-190 — only rows after the target's end are
read). At 10^12 turns a single global HWM under-prunes and a per-conv
HWM is itself a big table, so the checkpoint key here is the
*partition*: ``bucket = hash(conv_id) % n_buckets``. Each pipeline run
advances one HWM per (stage, bucket) and records lineage (source
snapshot -> target snapshot) and throughput metrics alongside.

Each stage's HWMs live in its own tier table: the per-bucket vector
and the config hash are the table's ``txn`` entry, committed in the
same manifest rename as the stage's data (``TierTable.append(txn=)``,
the analog of Delta's ``txn`` action). A crash leaves the old data and
HWMs or the new data and HWMs, never one without the other, and
``retention.expire`` carries the entry forward, so the HWMs outlive
every snapshot. ``runs.jsonl`` holds only the run log, one JSON line
appended per entry after the commit: losing an entry loses no state.

The HWMs are broadcast into the scan filter as literals via a tiny
in-memory DataFrame join, so the incremental read becomes
``WHERE ts > hwm(bucket)`` — Catalyst pushes the conjunctive ts bound
(min over buckets) to Parquet as a scan filter, and the exact per-
bucket cut is applied by the broadcast hash join. Advancing costs no
Spark action: the per-bucket maxima are observed (``hwm_metrics``)
during the tier write that commits the slice. Idempotence: re-runs
read nothing new and append nothing (A4/S2 semantics).

Late rows: a row at or below its bucket's HWM is never read, as the
reference reads only after ``target.end_date``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import ts_micros
from .tier_table import Manifest

DEFAULT_BUCKETS = 64


def bucket_col(key: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(n_buckets))


class CheckpointStore:
    """Per-bucket HWMs of the stage tables under ``root`` (stage
    ``name`` is the table ``<root>/<name>``), valid for the pipeline
    config hashed as ``config_hash``; and the run log
    ``<root>/runs.jsonl``."""

    def __init__(
        self, root: str, n_buckets: int = DEFAULT_BUCKETS, config_hash: str = ""
    ):
        self.root = root
        self.n_buckets = n_buckets
        self.config_hash = config_hash
        self.path = os.path.join(root, "runs.jsonl")

    def _txn(self, stage: str) -> dict:
        return Manifest(os.path.join(self.root, stage)).txn()

    # --- HWMs ---------------------------------------------------------

    def hwms(self, stage: str) -> dict[int, int]:
        """bucket -> high-water-mark (epoch micros, inclusive processed),
        as committed with the stage's data; none if the stage was
        committed under another config."""
        txn = self._txn(stage)
        if txn.get("config") != self.config_hash:
            return {}
        return {int(b): int(us) for b, us in txn["hwms"].items()}

    def global_min_hwm(self, stage: str) -> int | None:
        """Min HWM across buckets, valid as a coarse lower bound only
        when every bucket has one (else an unseen bucket's history would
        be pruned away). Used for storage-level partition pruning."""
        hwms = self.hwms(stage)
        if len(hwms) == self.n_buckets:
            return min(hwms.values())
        return None

    def filter_new(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Incremental slice: rows whose ``ts`` is strictly after the
        HWM of their ``key_col`` bucket.

        Mirrors S1's exclusive bound (models.py:61-65: next start is
        end + 1min, i.e. strictly-greater at minute resolution).
        """
        hwms = self.hwms(stage)
        if not hwms:
            return df
        hwm_df = df.sparkSession.createDataFrame(
            list(hwms.items()), "__bucket int, __hwm_us long"
        )
        out = df.withColumn(
            "__bucket", bucket_col(F.col(key_col), self.n_buckets).cast("int")
        )
        if len(hwms) == self.n_buckets:
            # pushable coarse bound (Parquet row-group pruning)
            out = out.where(ts_micros(F.col("ts")) > F.lit(min(hwms.values())))
        return (
            out.join(F.broadcast(hwm_df), "__bucket", "left")
            .where(
                F.col("__hwm_us").isNull()
                | (ts_micros(F.col("ts")) > F.col("__hwm_us"))
            )
            .drop("__bucket", "__hwm_us")
        )

    def hwm_metrics(self, key: Column, ts: Column) -> list[Column]:
        """Per-bucket max of ``ts`` (epoch micros) as ``n_buckets``
        aggregate columns, for a ``DataFrame.observe`` on the write that
        commits a slice: the HWMs come out of that write with no pass of
        their own. Rows with a NULL ``ts`` advance nothing. One
        aggregate per bucket keeps the observed row — and the driver
        side of ``advance`` — bounded by ``n_buckets``, not by data
        size."""
        bucket = bucket_col(key, self.n_buckets)
        us = ts_micros(ts)
        return [
            F.max(F.when(bucket == b, us)).alias(f"__hwm_{b}")
            for b in range(self.n_buckets)
        ]

    def advance(self, stage: str, observed: dict) -> dict:
        """The stage's ``txn`` for its next commit: its committed HWMs,
        each raised to the bucket's maximum in ``observed`` (the values
        of ``hwm_metrics`` gathered during the commit's write), and the
        config hash. Writes nothing: the tier commit records it."""
        hwms = self.hwms(stage)
        for b in range(self.n_buckets):
            m = observed.get(f"__hwm_{b}")
            if m is not None:
                hwms[b] = max(int(m), hwms.get(b, int(m)))
        return {
            "config": self.config_hash,
            "hwms": {str(b): us for b, us in sorted(hwms.items())},
        }

    # --- run log --------------------------------------------------------

    def runs(self) -> list[dict]:
        """The logged entries in order, skipping a line that does not
        parse (one a crash cut short)."""
        if not os.path.exists(self.path):
            return []
        entries = []
        with open(self.path) as f:
            for line in f:
                try:
                    entries.append(json.loads(line))
                except json.JSONDecodeError:
                    pass
        return entries

    def record_run(self, info: dict) -> None:
        """Append one line, after a newline ending a torn last line:
        the cost does not grow with the log, and no byte already
        written is rewritten."""
        line = json.dumps(info).encode() + b"\n"
        with open(self.path, "ab+") as f:
            end = f.seek(0, os.SEEK_END)
            if end:
                f.seek(end - 1)
                if f.read(1) != b"\n":
                    line = b"\n" + line
            f.write(line)

    def ensure_config(self, stages) -> bool:
        """Config-change trigger (O2): the reference re-executes an
        auto-process whenever its config is saved (models.py:67-70,
        tests/test_models.py:63-87). Batch analog: a stage whose table
        records another config hash has no HWMs (``hwms``), so the next
        run reprocesses it from the start, and its commit records the
        new hash. Returns True, and logs the event, when any of
        ``stages`` was committed under another config.

        Note: tier tables are append-only and no read deduplicates,
        so after a config change a stage appends its reprocessed rows
        beside the old ones: write to a fresh tier root. The run log
        records the invalidation.
        """
        recorded = {s: self._txn(s).get("config") for s in stages}
        stale = [s for s, h in recorded.items() if h not in (None, self.config_hash)]
        if stale:
            self.record_run(
                {"event": "config_changed", "new": self.config_hash, "stages": stale}
            )
        return bool(stale)
