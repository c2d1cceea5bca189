"""TierTable — an Iceberg-style append-only table on Parquet + a
JSON-lines manifest.

Why not Iceberg itself: the sandbox's PySpark 4.1.2 install bundles no
Iceberg/Delta runtime jars and has no network (SURVEY.md §7 guiding
constraint), so this thin interface mirrors the Iceberg semantics the
engine needs — atomic append, snapshot ids, lineage/metrics snapshot
properties, time-travel-by-snapshot for resume — over plain Parquet.
On a cluster with an Iceberg catalog, ``append``/``read`` collapse to
``df.writeTo(name).append()`` / ``spark.read.format("iceberg")`` with
the same call sites (S2/S6 in SURVEY.md §2.1).

Layout:
    <root>/data/snap-<n>/part-*.parquet   (one directory per commit)
    <root>/manifest.jsonl                 (one JSON line per snapshot)

Commit protocol (``append``): one Spark action writes the data files
and, through a ``DataFrame.observe`` on the written plan, gathers the
snapshot's row count and partition-column range; then the manifest
line is appended via write-temp + atomic rename of the whole manifest.
Readers list files from the manifest only, so a crashed half-written
data directory is invisible (Iceberg's snapshot isolation, poor man's
edition; Delta Lake commits the same way — file stats are gathered
while the files are written, then one log record is committed).

Partitioning: data is written partitioned by ``days(ts)`` when a ts
column exists (hypertable analog of the reference's TimescaleDB record
store, tests/test_models.py:64-67) plus an optional bucket column for
conv_id co-location.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_DAY_US = 86_400_000_000  # one UTC day in epoch-micros


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    data_dir: str
    row_count: int
    properties: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "data_dir": self.data_dir,
                "row_count": self.row_count,
                "properties": self.properties,
            }
        )

    @staticmethod
    def from_json(line: str) -> "Snapshot":
        d = json.loads(line)
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["data_dir"],
            d["row_count"],
            d.get("properties", {}),
        )


class TierTable:
    def __init__(
        self,
        root: str,
        partition_by: tuple[str, ...] = (),
        partition_days_col: str | None = None,
    ):
        """``partition_days_col``: name of a timestamp column — or an
        integer column holding epoch MICROSECONDS (Gorilla blob tiers
        carry ``chunk_end_us``, not a ts) — to partition data
        directories by day: the analog of Iceberg's hidden ``days(ts)``
        transform (and of the reference's TimescaleDB hypertable
        time-chunking, tests/test_models.py:64-67). The derived
        ``__day`` column lives only in the file layout: ``append`` adds
        it, ``read`` prunes on it (``min_ts_us``) and drops it before
        returning.
        """
        self.root = root
        self.partition_by = tuple(partition_by)
        self.partition_days_col = partition_days_col
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.jsonl")

    def _part_micros(self, df: DataFrame):
        """Epoch-micros expression over the partition column, whatever
        its type (timestamp vs integer-micros)."""
        from pyspark.sql.types import IntegerType, LongType

        col = F.col(self.partition_days_col)
        if isinstance(
            df.schema[self.partition_days_col].dataType,
            (LongType, IntegerType),
        ):
            return col.cast("long")
        return F.unix_micros(col.cast("timestamp"))

    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return [Snapshot.from_json(line) for line in f if line.strip()]

    def current_snapshot(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def append(
        self,
        df: DataFrame,
        properties: dict | Callable[[int], dict] | None = None,
    ) -> Snapshot:
        """Atomic append in one Spark action; returns the snapshot.

        The (day-)partitioned parquet write into a fresh directory is
        the only action: an ``Observation`` at the top of the written
        plan (the write's result stage, so a retried task cannot count
        twice) gathers the row count and the partition column's
        min/max. Then the manifest commits (write-temp + rename); a
        crash before that leaves an orphan directory no reader sees.
        An empty write commits nothing: its directory is removed and
        the returned snapshot (``row_count == 0``) is not in the
        manifest.

        ``properties`` carries lineage + metrics (source snapshot ids,
        rows/sec) into the manifest, the analog of Iceberg snapshot
        summary properties — or is a function of the row count
        returning them, called between the write and the commit so a
        caller can record what its own observations gathered during
        the write.
        """
        snaps = self.snapshots()
        sid = (snaps[-1].snapshot_id + 1) if snaps else 1
        parent = snaps[-1].snapshot_id if snaps else None
        data_dir = os.path.join(self.root, "data", f"snap-{sid}-{uuid.uuid4().hex[:8]}")
        parts = list(self.partition_by)
        stats = [F.count(F.lit(1)).alias("rows")]
        if (
            self.partition_days_col is not None
            and self.partition_days_col in df.columns
        ):
            # Timezone-independent day derivation (ADVICE r04):
            # to_date(timestamp_micros(...)) applies the SESSION
            # timezone, while retention's cutoff day is computed in
            # UTC — with a session tz west of UTC a chunk at/after the
            # cutoff could land in a day directory expire() drops.
            # floor-divide micros by a UTC day instead, so the file
            # layout and the UTC cutoff-day comparison always agree.
            us = self._part_micros(df)
            df = df.withColumn(
                "__day",
                F.date_from_unix_date(F.floor(us / F.lit(_DAY_US)).cast("int")),
            )
            parts.insert(0, "__day")
            # the snapshot's range, which read(min_ts_us=...) uses to
            # skip whole snapshot directories (Iceberg manifest file
            # pruning)
            stats += [F.min(us).alias("min_ts_us"), F.max(us).alias("max_ts_us")]
        observed = Observation()
        writer = df.observe(observed, *stats).write.mode("errorifexists")
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(data_dir)
        written = observed.get
        row_count = int(written.pop("rows"))
        # a range only when some partition value is non-NULL
        written = {k: int(v) for k, v in written.items() if v is not None}
        if not row_count:
            shutil.rmtree(data_dir, ignore_errors=True)
            return Snapshot(sid, parent, data_dir, 0)
        if callable(properties):
            properties = properties(row_count)
        snap = Snapshot(
            sid,
            parent,
            data_dir,
            row_count,
            {"committed_at": time.time(), **written, **(properties or {})},
        )
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            for s in snaps:
                f.write(s.to_json() + "\n")
            f.write(snap.to_json() + "\n")
        os.replace(tmp, self._manifest_path)
        return snap

    def read(
        self,
        spark: SparkSession,
        as_of_snapshot: int | None = None,
        min_ts_us: int | None = None,
        after_snapshot: int | None = None,
        with_snapshot_id: bool = False,
        exclude_kinds: tuple[str, ...] = (),
    ) -> DataFrame | None:
        """Read the table at (up to) a snapshot; None if empty.

        ``min_ts_us``: two-level pruning for incremental consumers —
        whole snapshot DIRECTORIES whose manifest ``max_ts_us`` is below
        the bound are never opened (Iceberg manifest file pruning), and
        within surviving snapshots, day directories strictly before the
        bound's day are never listed into the scan (``__day >=
        date(hwm)`` keeps same-day rows; the caller's exact ``ts > hwm``
        filter does the rest).

        ``after_snapshot``: snapshot-incremental read — only data
        committed by snapshots STRICTLY AFTER the given id (Iceberg's
        incremental append scan). Arrival-ordered, so consumers see
        late/out-of-order event-time rows exactly once.

        ``with_snapshot_id``: attach ``__snap`` (the committing
        snapshot's id) to every row — the version column merge-on-read
        readers resolve on.

        ``exclude_kinds``: skip snapshots whose ``properties["kind"]``
        matches — delta consumers pass ("compaction",) since a
        compaction rewrites already-consumed rows, not new data.
        """
        dirs: list[tuple[int, str]] = []
        for s in self.snapshots():
            if as_of_snapshot is not None and s.snapshot_id > as_of_snapshot:
                break
            if after_snapshot is not None and s.snapshot_id <= after_snapshot:
                continue
            if exclude_kinds and s.properties.get("kind") in exclude_kinds:
                continue
            if (
                min_ts_us is not None
                and "max_ts_us" in s.properties
                and int(s.properties["max_ts_us"]) < min_ts_us
            ):
                continue
            dirs.append((s.snapshot_id, s.data_dir))
        if not dirs:
            return None
        # Each snapshot dir is its own (possibly day-partitioned) table
        # root; a combined multi-path read fails basePath discovery
        # (CONFLICTING_DIRECTORY_STRUCTURES) — and a reader handle can't
        # know how an existing table was written. Per-dir scans union
        # cheaply and filters still push into every scan.
        from functools import reduce

        parts = []
        for sid, d in dirs:
            p = spark.read.option("basePath", d).parquet(d)
            if with_snapshot_id:
                p = p.withColumn("__snap", F.lit(sid))
            parts.append(p)
        df = reduce(lambda a, b: a.unionByName(b), parts)
        if "__day" in df.columns:
            if min_ts_us is not None:
                # UTC day, matching append()'s timezone-independent
                # __day derivation (session-tz to_date would prune the
                # wrong directories for non-UTC sessions)
                df = df.where(
                    F.col("__day")
                    >= F.date_from_unix_date(F.lit(min_ts_us // _DAY_US).cast("int"))
                )
            df = df.drop("__day")
        return df

    def read_or_empty(
        self, spark: SparkSession, schema: str, as_of_snapshot: int | None = None
    ) -> DataFrame:
        df = self.read(spark, as_of_snapshot)
        return df if df is not None else spark.createDataFrame([], schema)
