"""TierTable — an Iceberg-style append-only table on Parquet + a
JSON-lines manifest.

Why not Iceberg itself: the sandbox's PySpark 4.1.2 install bundles no
Iceberg/Delta runtime jars and has no network (SURVEY.md §7 guiding
constraint), so this thin interface mirrors the Iceberg semantics the
engine needs — atomic append, snapshot ids, lineage/metrics snapshot
properties, incremental reads by snapshot id — over plain Parquet.
On a cluster with an Iceberg catalog, ``append``/``read`` collapse to
``df.writeTo(name).append()`` / ``spark.read.format("iceberg")`` with
the same call sites (S2/S6 in SURVEY.md §2.1).

Layout:
    <root>/data/snap-<n>-<id>/__day=<date>/part-*.parquet
                                          (one directory per commit)
    <root>/manifest.jsonl                 (a table entry line, then one
                                           JSON line per snapshot)

The table entry carries the last snapshot id ever committed (ids never
repeat, even after every snapshot expired) and the writer's ``txn``:
the state a writer commits with its data, such as a pipeline stage's
per-bucket HWMs (``CheckpointStore``), the analog of Delta's ``txn``
action. Every commit that does not set a new ``txn`` carries the old
one forward unchanged, so ``retention.expire`` keeps it.

Commit protocol (``Manifest.commit``, the one every table writer
uses — ``append``, ``retention.expire``, ``MinHashIndex`` append and
compact): data files are written first into a fresh directory; then
the whole manifest is rewritten to a temp file and renamed over the
old one; only after that rename are superseded directories deleted.
A crash before the rename leaves an orphan directory no reader sees, a
crash after it leaves data no manifest references; readers see the old
state or the new one, and the next commit deletes the leftovers
(``Manifest.vacuum``; Delta Lake's VACUUM likewise deletes only files
no committed log entry references). ``append`` gathers row count and
partition range during its one write (``DataFrame.observe``).

Each snapshot records its read schema and its ``__day=`` directories:
a ``read`` is one parquet scan of the directories the manifest names
(as a Delta Lake reader scans the files its log names), with no schema
inference; over more than 32 directories, planning it lists them in
one Spark job. ``expire`` edits the day lists.

Partitioning: data is written partitioned by ``days(ts)`` when a ts
column exists (hypertable analog of the reference's TimescaleDB record
store, tests/test_models.py:64-67).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructType

_DAY_US = 86_400_000_000  # one UTC day in epoch-micros

# rows with a NULL partition value: sorts after every day_dir, so
# retention.expire keeps it; a read pruned by min_ts_us skips it
NULL_DAY = "__day=__HIVE_DEFAULT_PARTITION__"


def day_dir(us: int) -> str:
    """The ``__day=`` directory ``append`` writes the rows of the UTC
    day holding epoch-micros ``us`` to. ISO dates order as strings, so
    comparing names compares days."""
    day = dt.date(1970, 1, 1) + dt.timedelta(days=us // _DAY_US)
    return f"__day={day.isoformat()}"


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    data_dir: str
    row_count: int
    properties: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(asdict(self))


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text``: write a temp file, then rename it
    over ``path`` — readers see the old file or the new one, never a
    partial one."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _last_id(entry: dict, snaps: list[Snapshot]) -> int:
    return max([entry.get("last_snapshot_id", 0)] + [s.snapshot_id for s in snaps])


class Manifest:
    """The snapshot log ``<root>/manifest.jsonl`` of one table, led by
    its table entry."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "manifest.jsonl")
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    def _read(self) -> tuple[dict, list[Snapshot]]:
        """(table entry, snapshots); a manifest written before the
        table entry existed reads as an empty entry."""
        entry, snaps = {}, []
        if os.path.exists(self.path):
            with open(self.path) as f:
                for line in f:
                    if line.strip():
                        d = json.loads(line)
                        if "table" in d:
                            entry = d["table"]
                        else:
                            snaps.append(Snapshot(**d))
        return entry, snaps

    def snapshots(self) -> list[Snapshot]:
        return self._read()[1]

    def txn(self) -> dict:
        """The writer state committed with the data (empty if none)."""
        return self._read()[0].get("txn", {})

    def next_id(self) -> int:
        """The id of the next snapshot: above every id ever committed."""
        return _last_id(*self._read()) + 1

    def new_data_dir(self, snapshot_id: int) -> str:
        """A fresh directory name for a snapshot's data files."""
        return os.path.join(
            self.root, "data", f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}"
        )

    def commit(
        self, snapshots: list[Snapshot], then_delete=(), txn: dict | None = None
    ) -> None:
        """Make ``snapshots`` (and ``txn``, if given; else the committed
        one) the table's state in one rename; only after it delete each
        directory in ``then_delete`` (data no committed snapshot
        references any more), then ``vacuum``."""
        entry, old = self._read()
        table = {
            "last_snapshot_id": _last_id(entry, old + snapshots),
            "txn": entry.get("txn", {}) if txn is None else txn,
        }
        write_atomic(
            self.path,
            json.dumps({"table": table}) + "\n"
            + "".join(s.to_json() + "\n" for s in snapshots),
        )
        for path in then_delete:
            shutil.rmtree(path, ignore_errors=True)
        self.vacuum()

    def vacuum(self) -> None:
        """Delete what a crash left that no committed snapshot
        references: an orphan write, or deletes that never ran. Only
        ``snap-<n>`` directories with ``n`` up to the last committed id
        are candidates (a writer in flight writes id last+1)."""
        entry, snaps = self._read()
        last = _last_id(entry, snaps)
        listed = {os.path.basename(s.data_dir) for s in snaps}
        data = os.path.join(self.root, "data")
        doomed = [
            os.path.join(data, n)
            for n in os.listdir(data)
            if n not in listed and int(n.split("-")[1]) <= last
        ]
        for s in snaps:
            if "days" in s.properties:  # a TierTable snapshot's day dirs
                doomed += [
                    os.path.join(s.data_dir, n)
                    for n in os.listdir(s.data_dir)
                    if n.startswith("__day=") and n not in s.properties["days"]
                ]
        for path in doomed:
            shutil.rmtree(path, ignore_errors=True)


def _columns(ddl: str) -> list:
    """A recorded schema's (name, type) pairs, in name order and without
    nullability: what one scan needs equal across snapshots (a file
    scan reads every column as nullable)."""
    return sorted((f.name, f.dataType.simpleString()) for f in StructType.fromDDL(ddl))


class TierTable:
    def __init__(self, root: str, partition_days_col: str | None = None):
        """``partition_days_col``: name of a timestamp column — or an
        integer column holding epoch MICROSECONDS (Gorilla blob tiers
        carry ``chunk_end_us``, not a ts) — to partition data
        directories by day: the analog of Iceberg's hidden ``days(ts)``
        transform (and of the reference's TimescaleDB hypertable
        time-chunking, tests/test_models.py:64-67). The derived
        ``__day`` column lives only in the file layout: ``append`` adds
        it, and ``read`` picks day directories by name (``min_ts_us``)
        and never sees it as a column.
        """
        self.root = root
        self.partition_days_col = partition_days_col
        self.manifest = Manifest(root)

    def snapshots(self) -> list[Snapshot]:
        return self.manifest.snapshots()

    def current_snapshot(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def append(
        self,
        df: DataFrame,
        properties: dict | Callable[[int], dict] | None = None,
        txn: dict | Callable[[], dict] | None = None,
    ) -> Snapshot:
        """Atomic append in one Spark action; returns the snapshot.

        The (day-)partitioned parquet write into a fresh directory is
        the only action: an ``Observation`` at the top of the written
        plan (the write's result stage, so a retried task cannot count
        twice) gathers the row count and the partition column's
        min/max. Then the manifest commits (``Manifest.commit``); a
        crash before that leaves an orphan directory no reader sees.
        An empty write commits nothing: its directory is removed and
        the returned snapshot (``row_count == 0``) is not in the
        manifest.

        ``properties`` carries lineage + metrics (source snapshot ids,
        rows/sec) into the manifest, the analog of Iceberg snapshot
        summary properties — or is a function of the row count
        returning them, called between the write and the commit so a
        caller can record what its own observations gathered during
        the write. ``txn`` (a dict, or a function returning one, called
        likewise) replaces the table's writer state in the same commit
        (``Manifest.commit``); None carries the committed one forward.
        """
        snaps = self.snapshots()
        sid = self.manifest.next_id()
        parent = snaps[-1].snapshot_id if snaps else None
        data_dir = self.manifest.new_data_dir(sid)
        schema = df.schema.toDDL()  # the read schema: no __day column
        parts = []
        stats = [F.count(F.lit(1)).alias("rows")]
        if (
            self.partition_days_col is not None
            and self.partition_days_col in df.columns
        ):
            # UTC days whatever the session timezone (which to_date
            # would apply), so the layout agrees with day_dir, against
            # which expire() and pruned reads compare
            col = F.col(self.partition_days_col)
            if isinstance(
                df.schema[self.partition_days_col].dataType, (LongType, IntegerType)
            ):
                us = col.cast("long")  # already epoch micros
            else:
                us = F.unix_micros(col.cast("timestamp"))
            df = df.withColumn(
                "__day",
                F.date_from_unix_date(F.floor(us / F.lit(_DAY_US)).cast("int")),
            )
            parts = ["__day"]
            # the snapshot's range, which read(min_ts_us=...) uses to
            # skip whole snapshot directories (Iceberg manifest file
            # pruning)
            stats += [F.min(us).alias("min_ts_us"), F.max(us).alias("max_ts_us")]
        observed = Observation()
        df.observe(observed, *stats).write.mode("errorifexists").partitionBy(
            *parts
        ).parquet(data_dir)
        written = observed.get
        row_count = int(written.pop("rows"))
        # a range only when some partition value is non-NULL
        written = {k: int(v) for k, v in written.items() if v is not None}
        if not row_count:
            shutil.rmtree(data_dir, ignore_errors=True)
            return Snapshot(sid, parent, data_dir, 0)
        # the read schema and the day directories the write made,
        # listed with no Spark action: read() then needs neither schema
        # inference nor a directory walk
        written["schema"] = schema
        written["days"] = sorted(
            name for name in os.listdir(data_dir) if name.startswith("__day=")
        )
        if callable(properties):
            properties = properties(row_count)
        snap = Snapshot(
            sid,
            parent,
            data_dir,
            row_count,
            {"committed_at": time.time(), **written, **(properties or {})},
        )
        self.manifest.commit([*snaps, snap], txn=txn() if callable(txn) else txn)
        return snap

    def read(
        self,
        spark: SparkSession,
        min_ts_us: int | None = None,
        after_snapshot: int | None = None,
    ) -> DataFrame | None:
        """Read the table's committed snapshots as one parquet scan;
        None if nothing is left to read. Raises ``ValueError`` if two
        chosen snapshots record different columns (see ``_columns``).

        ``min_ts_us``: two-level pruning for incremental consumers, from
        the manifest alone — snapshots whose ``max_ts_us`` is below the
        bound are skipped whole (Iceberg manifest file pruning), and of
        the rest only the day directories from the bound's UTC day on
        are scanned (same-day rows stay; the caller's exact ``ts > hwm``
        filter does the rest).

        ``after_snapshot``: only data committed by snapshots STRICTLY
        AFTER the given id (Iceberg's incremental append scan) — how
        the Gorilla copy of a tier picks up the snapshots it has not
        compressed yet.
        """
        chosen: list[Snapshot] = []
        for s in self.snapshots():
            if after_snapshot is not None and s.snapshot_id <= after_snapshot:
                continue
            if (
                min_ts_us is not None
                and "max_ts_us" in s.properties
                and int(s.properties["max_ts_us"]) < min_ts_us
            ):
                continue
            chosen.append(s)
        # One scan of the chosen day directories, with the recorded
        # schema and no basePath: Spark infers no schema and discovers
        # no __day column. Planning lists the paths: up to 32
        # (spark.sql.sources.parallelPartitionDiscovery.threshold) with
        # no Spark job, more in one listing job.
        paths = []
        first = None if min_ts_us is None else day_dir(min_ts_us)
        for s in chosen:
            days = s.properties["days"]
            if not days:  # not day-partitioned: the files lie in data_dir
                paths.append(s.data_dir)
                continue
            if first is not None:
                days = [d for d in days if first <= d != NULL_DAY]
            paths += [os.path.join(s.data_dir, d) for d in days]
        if not paths:
            return None
        schema = chosen[0].properties["schema"]
        for s in chosen[1:]:
            ddl = s.properties["schema"]
            if ddl != schema and _columns(ddl) != _columns(schema):
                raise ValueError(
                    f"snapshots {chosen[0].snapshot_id} and {s.snapshot_id} "
                    f"record different columns: {schema!r} vs {ddl!r}"
                )
        return spark.read.schema(schema).parquet(*paths)
