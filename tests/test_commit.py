"""The tier commit: one Spark action per tier write, HWMs and domain
counters observed during that write and committed with its data in the
table's manifest entry, crash consistency at the one manifest commit
point every table writer shares (and the vacuum of what a crash
leaves), and reads planned from the manifest with no Spark job."""

import datetime as dt
import os
from functools import reduce

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.cache import release_caches
from enhydris_autoprocess_spark.pipeline import CHECKED_FLAGS, Pipeline
from enhydris_autoprocess_spark.storage import CheckpointStore, TierTable, expire
from enhydris_autoprocess_spark.storage import tier_table
from enhydris_autoprocess_spark.storage.checkpoint import bucket_col
from enhydris_autoprocess_spark.storage.gorilla import decompress_series
from enhydris_autoprocess_spark.storage.retention import RetentionPolicy
from enhydris_autoprocess_spark.synth import generate_transcripts
from enhydris_autoprocess_spark.textops import MinHashIndex

from .test_pipeline_storage import CFG


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, n_convs=30, seed=5).cache()


def _executions(spark) -> int:
    """SQL executions so far, after the listener bus has delivered every
    event posted before the call."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def _per_bucket_max(df, key: str, ts, n_buckets: int = 64) -> dict[int, int]:
    rows = (
        df.groupBy(bucket_col(F.col(key), n_buckets).alias("b"))
        .agg(F.max(F.unix_micros(ts)).alias("m"))
        .collect()
    )
    return {int(r.b): int(r.m) for r in rows}


def test_each_tier_write_is_one_sql_execution(
    spark, transcripts, tmp_path, monkeypatch
):
    """Every TierTable.append of a finalizing run is exactly one SQL
    execution (the write; its stats, HWMs and counters ride on
    observations), and a finalizing run runs nothing else."""
    transcripts.count()  # materialize the input cache outside the count
    deltas = []
    orig = TierTable.append

    def counting_append(self, df, **commit):
        before = _executions(spark)
        snap = orig(self, df, **commit)
        deltas.append((os.path.basename(self.root), _executions(spark) - before))
        return snap

    monkeypatch.setattr(TierTable, "append", counting_append)
    before = _executions(spark)
    Pipeline(spark, str(tmp_path / "one"), CFG, compress_tiers=True).run(
        transcripts, finalize=True
    )
    total = _executions(spark) - before
    assert [name for name, _ in deltas] == [
        "checked",
        "agg_H_sum",
        "agg_H_sum_gorilla",
        "rollup_1min",
        "rollup_1H",
        "rollup_1D",
    ]
    assert all(d == 1 for _, d in deltas), deltas
    assert total == len(deltas)


def test_observed_hwms_and_flag_counters(spark, transcripts, tmp_path):
    """The HWMs observed during the writes equal a direct per-bucket
    max(ts) over the source turns (checked) and over the emitted bucket
    ends (agg tier); the flag counters equal direct counts over the
    committed tier, on the snapshot and in the run log."""
    root = str(tmp_path / "hwm")
    p = Pipeline(spark, root, CFG)
    p.run(transcripts, finalize=True)

    assert p.ckpt.hwms("checked") == _per_bucket_max(
        transcripts, "conv_id", F.col("ts")
    )
    agg = TierTable(f"{root}/agg_H_sum").read(spark)
    offset_us = CFG.aggregations[0].offset_minutes * 60 * 1_000_000
    assert p.ckpt.hwms("agg_H_sum") == _per_bucket_max(
        agg, "key", F.timestamp_micros(F.unix_micros("ts") + F.lit(offset_us))
    )

    checked = TierTable(f"{root}/checked").read(spark)
    want = checked.agg(
        *(
            F.count_if(F.col("flags").contains(flag)).alias(f"flagged_{flag}")
            for flag in CHECKED_FLAGS
        )
    ).first().asDict()
    assert want["flagged_RANGE"] > 0 and want["flagged_DATEINSERT"] > 0
    props = TierTable(f"{root}/checked").current_snapshot().properties
    assert {k: props[k] for k in want} == want
    run = next(r for r in p.ckpt.runs() if r.get("stage") == "checked")
    assert {k: run[k] for k in want} == want


def test_run_log_appends_json_lines(tmp_path):
    """The run log is JSON lines: entries come back in order, a line a
    crash cut short is skipped, and an append never rewrites a byte
    already written."""
    ckpt = CheckpointStore(str(tmp_path))
    assert ckpt.runs() == []
    for i in range(3):
        ckpt.record_run({"stage": "checked", "i": i})
    assert [r["i"] for r in ckpt.runs()] == [0, 1, 2]
    with open(ckpt.path, "ab") as f:
        f.write(b'{"stage": "chec')  # a crash mid-append
    assert [r["i"] for r in ckpt.runs()] == [0, 1, 2]
    with open(ckpt.path, "rb") as f:
        before = f.read()
    ckpt.record_run({"stage": "checked", "i": 3})
    with open(ckpt.path, "rb") as f:
        assert f.read().startswith(before)
    assert [r["i"] for r in ckpt.runs()] == [0, 1, 2, 3]


def test_empty_append_commits_nothing(spark, tmp_path):
    t = TierTable(str(tmp_path / "empty"), partition_days_col="ts")
    snap = t.append(spark.createDataFrame([], "key string, ts timestamp"))
    assert snap.row_count == 0
    assert t.snapshots() == []
    assert not os.path.exists(snap.data_dir)


def _crash_at_rename(monkeypatch, target: str, after: bool) -> None:
    """Raise at the package's one rename when it lands on ``target``:
    before the rename, or right after it (before any delete)."""
    real_replace = os.replace

    def replace(src, dst):
        if os.path.abspath(dst) == os.path.abspath(target):
            if after:
                real_replace(src, dst)
            raise RuntimeError("simulated crash at the commit rename")
        return real_replace(src, dst)

    monkeypatch.setattr(tier_table.os, "replace", replace)


def test_crash_before_manifest_commit_is_invisible(spark, tmp_path, monkeypatch):
    t = TierTable(str(tmp_path / "t"), partition_days_col="ts")
    schema = "key string, ts timestamp, value double"
    d0 = dt.datetime(2024, 1, 1)
    first = spark.createDataFrame([("a", d0, 1.0)], schema)
    second = spark.createDataFrame([("a", d0 + dt.timedelta(days=1), 2.0)], schema)
    t.append(first)
    before = t.snapshots()

    with monkeypatch.context() as m:
        _crash_at_rename(m, t.manifest.path, after=False)
        with pytest.raises(RuntimeError, match="simulated crash"):
            t.append(second)
    # the orphan data directory exists, but readers see the old snapshot
    assert len(os.listdir(os.path.join(t.root, "data"))) == 2
    assert [s.to_json() for s in TierTable(t.root).snapshots()] == [
        s.to_json() for s in before
    ]
    assert [r.value for r in t.read(spark).collect()] == [1.0]

    t.append(second)
    assert sorted(r.value for r in t.read(spark).collect()) == [1.0, 2.0]


CUT = dt.datetime(2024, 1, 2)
TIERS = (
    "checked",
    "agg_H_sum",
    "agg_H_sum_gorilla",
    "rollup_1min",
    "rollup_1H",
    "rollup_1D",
)


def _tier_rows(spark, root: str, tier: str) -> list:
    """The tier's rows as a sorted multiset (a duplicate would show); a
    Gorilla tier decoded, so the chunking does not matter."""
    df = TierTable(f"{root}/{tier}").read(spark)
    if tier.endswith("_gorilla"):
        df = decompress_series(df)
    rows = df.select(sorted(df.columns)).collect()
    return sorted(tuple(str(v) for v in r) for r in rows)


def _run(spark, root: str, df, finalize: bool) -> None:
    Pipeline(spark, root, CFG, compress_tiers=True).run(df, finalize=finalize)


@pytest.fixture(scope="module")
def uninterrupted(spark, transcripts, tmp_path_factory):
    """Tiers after the first slice (not finalized), then the whole
    input (finalized), with no crash."""
    root = str(tmp_path_factory.mktemp("uninterrupted"))
    _run(spark, root, transcripts.where(F.col("ts") < F.lit(CUT)), False)
    _run(spark, root, transcripts, True)
    return {tier: _tier_rows(spark, root, tier) for tier in TIERS}


@pytest.mark.parametrize(
    "stage,after",
    [
        # a crash before the rename keeps the tier's bare id
        pytest.param(t, a, id=f"{t}-after_rename" if a else t)
        for t in TIERS
        for a in (False, True)
    ],
)
def test_crash_in_pipeline_commit_recovers(
    spark, transcripts, uninterrupted, tmp_path, monkeypatch, stage, after
):
    """Crash the second run at ``stage``'s manifest rename, before or
    right after it: readers see the tier's old snapshots, or those and
    the new one, and a plain re-run converges to the tiers of the same
    two runs without the crash — row for row, so no slice is appended
    twice and none is lost (the Gorilla copy included)."""
    root = str(tmp_path / "crash")
    _run(spark, root, transcripts.where(F.col("ts") < F.lit(CUT)), False)
    seen = TierTable(f"{root}/{stage}").snapshots()
    with monkeypatch.context() as m:
        _crash_at_rename(m, f"{root}/{stage}/manifest.jsonl", after)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _run(spark, root, transcripts, True)
    now = TierTable(f"{root}/{stage}").snapshots()
    assert now[: len(seen)] == seen and len(now) == len(seen) + after

    _run(spark, root, transcripts, True)
    for tier in TIERS:
        assert _tier_rows(spark, root, tier) == uninterrupted[tier], tier


def test_hwms_survive_expiry_of_every_snapshot(spark, transcripts, tmp_path):
    """A stage's HWMs live in its table entry, which retention carries
    forward: after a sweep that expires every snapshot of ``checked``
    and ``rollup_1min``, a re-run on the same cumulative input appends
    nothing to any tier, and every stage keeps its HWMs."""
    root = str(tmp_path / "expired")
    _run(spark, root, transcripts, True)
    p = Pipeline(spark, root, CFG, compress_tiers=True)
    hwms = {stage: p.ckpt.hwms(stage) for stage in p.stages()}
    assert all(hwms.values())
    last_us = transcripts.agg(F.max(F.unix_micros("ts"))).first()[0]
    p.apply_retention(
        RetentionPolicy({"checked": 0, "rollup_1min": 0}), last_us + 2 * 86_400_000_000
    )
    assert TierTable(f"{root}/checked").snapshots() == []
    assert TierTable(f"{root}/rollup_1min").snapshots() == []
    snaps = {tier: TierTable(f"{root}/{tier}").snapshots() for tier in TIERS}

    _run(spark, root, transcripts, True)
    assert {tier: TierTable(f"{root}/{tier}").snapshots() for tier in TIERS} == snaps
    p = Pipeline(spark, root, CFG, compress_tiers=True)
    assert {stage: p.ckpt.hwms(stage) for stage in p.stages()} == hwms


# --- one commit protocol, every writer -----------------------------------------


def _us(day: int, hour: int = 0) -> int:
    utc = dt.datetime(2024, 1, day, hour, tzinfo=dt.timezone.utc)
    return int(utc.timestamp() * 1e6)


class _TableCase:
    """A day-partitioned TierTable; readers see (snapshot ids, rows)."""

    schema = "key string, ts timestamp, value double"

    def __init__(self, spark, root):
        self.spark = spark
        self.table = TierTable(os.path.join(root, "t"), partition_days_col="ts")

    def append_days(self, days, batch):
        rows = [("a", dt.datetime(2024, 1, d, 9), float(d)) for d in days]
        self.table.append(
            self.spark.createDataFrame(rows, self.schema), properties={"batch": batch}
        )

    def state(self):
        df = self.table.read(self.spark)
        rows = [] if df is None else sorted(tuple(r) for r in df.collect())
        return [s.snapshot_id for s in self.table.snapshots()], rows

    def target_path(self):
        return self.table.manifest.path


class Append(_TableCase):
    def setup(self):
        self.append_days([1, 2], "b1")

    def op(self):
        # a retried append is guarded by its caller, as Pipeline's HWMs do
        if all(s.properties["batch"] != "b2" for s in self.table.snapshots()):
            self.append_days([3], "b2")


class ExpireSnapshot(_TableCase):
    def setup(self):
        self.append_days([1, 2], "b1")
        self.append_days([5, 6], "b2")

    def op(self):
        expire(self.table, _us(4, 12))


class ExpireDays(_TableCase):
    def setup(self):
        self.append_days([1, 2, 3], "b1")

    def op(self):
        expire(self.table, _us(2, 12))


class _IndexCase:
    """A MinHashIndex; readers see (snapshot ids, sig rows, bucket rows)."""

    docs = [(str(i), f"document {i} about rivers and stations") for i in range(6)]

    def __init__(self, spark, root):
        self.spark = spark
        self.index = MinHashIndex(
            spark, os.path.join(root, "idx"), num_hashes=8, bands=4
        )

    def append(self, lo, hi, key):
        batch = self.spark.createDataFrame(
            self.docs[lo:hi], "doc_id string, text string"
        )
        try:
            release_caches(self.index.append(batch, batch_key=key))
        except ValueError as e:  # a retried batch the index already holds
            assert "already committed" in str(e)

    def state(self):
        snaps = self.index.snapshots()
        sig = self.index._committed(snaps, "sig", self.index._sig_ddl)
        bkt = self.index._committed(snaps, "bkt", self.index._bkt_ddl)
        return (
            [s.snapshot_id for s in snaps],
            sorted((r.id, tuple(r.sig)) for r in sig.collect()),
            sorted(tuple(r) for r in bkt.collect()),
        )

    def target_path(self):
        return self.index.manifest.path


class IndexAppend(_IndexCase):
    def setup(self):
        self.append(0, 3, "b1")

    def op(self):
        self.append(3, 6, "b2")


class IndexCompact(_IndexCase):
    def setup(self):
        self.append(0, 3, "b1")
        self.append(3, 6, "b2")

    def op(self):
        self.index.compact()


class Checkpoint(_TableCase):
    """A stage commit: a slice and its advanced HWMs in one manifest
    rename. Readers see the snapshots, the rows and the HWMs a fresh
    CheckpointStore reads; as in Pipeline, a retried slice is cut by
    the committed HWMs, so it never commits twice."""

    def store(self):
        return CheckpointStore(
            os.path.dirname(self.table.root), n_buckets=4, config_hash="cfg"
        )

    def commit(self, rows):
        store = self.store()
        df = self.spark.createDataFrame(
            [(k, dt.datetime(2024, 1, d, 9), float(d)) for k, d in rows],
            self.schema,
        )
        fresh = store.filter_new(df, "t", key_col="key")
        seen = Observation()
        self.table.append(
            fresh.observe(seen, *store.hwm_metrics(F.col("key"), F.col("ts"))),
            txn=lambda: store.advance("t", seen.get),
        )

    def setup(self):
        self.commit([("a", 1), ("a", 2), ("b", 4)])

    def op(self):
        # ("a", 2) is at its bucket's HWM: not read again
        self.commit([("a", 2), ("a", 3), ("c", 1)])

    def state(self):
        return (*super().state(), self.store().hwms("t"))


COMMIT_POINTS = [
    Append,
    ExpireSnapshot,
    ExpireDays,
    IndexAppend,
    IndexCompact,
    Checkpoint,
]


def _data_layout(case) -> list:
    """The data directories beside the case's manifest, each as its
    snapshot id (the random part of the name cut) and its entries."""
    data = os.path.join(os.path.dirname(case.target_path()), "data")
    return sorted(
        (name.rsplit("-", 1)[0], sorted(os.listdir(os.path.join(data, name))))
        for name in os.listdir(data)
    )


@pytest.mark.parametrize("after", [False, True], ids=["before_rename", "after_rename"])
@pytest.mark.parametrize("case", COMMIT_POINTS, ids=lambda c: c.__name__)
def test_crash_at_every_commit_point(spark, tmp_path, monkeypatch, case, after):
    """Crash each writer at the commit rename: before it, readers see
    exactly the old state; right after it (before the deletes), exactly
    the new one. A re-run then converges to the no-crash result, on
    disk too: what the crash left unreferenced is deleted."""
    clean = case(spark, str(tmp_path / "clean"))
    clean.setup()
    old = clean.state()
    clean.op()
    new = clean.state()
    assert new != old

    c = case(spark, str(tmp_path / "crash"))
    c.setup()
    assert c.state() == old
    with monkeypatch.context() as m:
        _crash_at_rename(m, c.target_path(), after)
        with pytest.raises(RuntimeError, match="simulated crash"):
            c.op()
    assert c.state() == (new if after else old)
    c.op()
    assert c.state() == new
    assert _data_layout(c) == _data_layout(clean)


def test_vacuum_spares_a_write_in_flight(spark, tmp_path):
    """vacuum deletes an unreferenced directory of a committed id but
    not one of the next id, which a writer may be filling."""
    c = _TableCase(spark, str(tmp_path))
    c.append_days([1], "b1")
    c.append_days([2], "b2")
    stale = c.table.manifest.new_data_dir(2)
    in_flight = c.table.manifest.new_data_dir(3)
    os.makedirs(stale)
    os.makedirs(in_flight)
    c.table.manifest.vacuum()
    assert not os.path.exists(stale)
    assert os.path.isdir(in_flight)
    rows = [("a", dt.datetime(2024, 1, d, 9), float(d)) for d in (1, 2)]
    assert c.state() == ([1, 2], rows)


def _jobs_of(spark, group, plan):
    """``plan()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = plan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_read(spark, snaps):
    """The oracle of ``TierTable.read``: every snapshot directory read
    with Spark's own schema and partition inference, unioned by name,
    the inferred ``__day`` column dropped."""
    return reduce(
        lambda a, b: a.unionByName(b),
        [
            spark.read.option("basePath", s.data_dir).parquet(s.data_dir)
            for s in snaps
        ],
    ).drop("__day")


def test_read_plans_without_a_spark_job(spark, tmp_path):
    """TierTable.read over many snapshots launches no job before its
    action (the manifest records each snapshot's schema and day
    directories), and its columns and dtypes equal what Spark's own
    schema inference over the snapshot directories gives."""
    t = TierTable(str(tmp_path / "t"), partition_days_col="ts")
    schema = "key string, ts timestamp, value double, flags array<string>, n int"
    for d in range(1, 9):
        t.append(
            spark.createDataFrame(
                [("a", dt.datetime(2024, 1, d, 9), float(d), ["X"], d)], schema
            )
        )
    df, jobs = _jobs_of(spark, "tier-read", lambda: t.read(spark))
    assert jobs == 0
    inferred, inferred_jobs = _jobs_of(
        spark, "inferred-read", lambda: _inferred_read(spark, t.snapshots())
    )
    assert inferred_jobs > 0  # the counter sees inference jobs
    assert df.dtypes == inferred.dtypes
    assert sorted(df.collect()) == sorted(inferred.collect())


@pytest.mark.parametrize("n", [1, 8, 40])
def test_read_is_one_scan(spark, tmp_path, n):
    """Whatever the snapshot count, a read plans ONE parquet scan, plain,
    pruned by ``min_ts_us`` and incremental by ``after_snapshot``, and
    returns the oracle's rows and dtypes. Snapshot d holds rows on days
    d and d+1, so the 40-snapshot table has 80 day directories: above
    32 paths, planning lists them in one Spark job (none below)."""
    t = TierTable(str(tmp_path / "t"), partition_days_col="ts")
    day = dt.datetime(2024, 1, 1)
    schema = "key string, ts timestamp, value double, n int"
    for d in range(n):
        t.append(
            spark.createDataFrame(
                [
                    ("a", day + dt.timedelta(days=d, hours=9), float(d), d),
                    ("b", day + dt.timedelta(days=d + 1, hours=3), None, d),
                ],
                schema,
            )
        )
    oracle = _inferred_read(spark, t.snapshots())
    bound = day + dt.timedelta(days=n // 2)
    bound_us = int(bound.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    after = n // 2  # snapshot ids run 1..n
    cases = [
        ("all", {}, oracle),
        ("pruned", {"min_ts_us": bound_us}, oracle.where(F.col("ts") >= bound)),
        (
            "after",
            {"after_snapshot": after},
            _inferred_read(
                spark, [s for s in t.snapshots() if s.snapshot_id > after]
            ),
        ),
    ]
    for name, kwargs, expected in cases:
        df, jobs = _jobs_of(
            spark, f"one-scan-{n}-{name}", lambda: t.read(spark, **kwargs)
        )
        if name == "all":
            assert jobs == (1 if 2 * n > 32 else 0), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1, name
        assert df.dtypes == expected.dtypes, name
        assert sorted(df.collect()) == sorted(expected.collect()), name
