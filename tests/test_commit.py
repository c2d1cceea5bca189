"""The tier commit: one Spark action per tier write, HWMs and domain
counters observed during that write, and crash consistency at the
manifest commit point."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.pipeline import CHECKED_FLAGS, Pipeline
from enhydris_autoprocess_spark.storage import TierTable
from enhydris_autoprocess_spark.storage import tier_table
from enhydris_autoprocess_spark.storage.checkpoint import bucket_col
from enhydris_autoprocess_spark.synth import generate_transcripts

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

    def counting_append(self, df, properties=None):
        before = _executions(spark)
        snap = orig(self, df, properties)
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
    run = next(r for r in p.ckpt._state["runs"] if r.get("stage") == "checked")
    assert {k: run[k] for k in want} == want


def test_empty_append_commits_nothing(spark, tmp_path):
    t = TierTable(str(tmp_path / "empty"), partition_days_col="ts")
    snap = t.append(spark.createDataFrame([], "key string, ts timestamp"))
    assert snap.row_count == 0
    assert t.snapshots() == []
    assert not os.path.exists(snap.data_dir)


def _crash_at_commit(monkeypatch, table_name: str) -> None:
    """Raise in TierTable.append after the data files are written and
    before the manifest rename, for the table named ``table_name``."""
    real_replace = os.replace

    def replace(src, dst):
        if dst.endswith(os.path.join(table_name, "manifest.jsonl")):
            raise RuntimeError(f"simulated crash before {table_name} commit")
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
        _crash_at_commit(m, "t")
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
TIERS = ("checked", "agg_H_sum", "rollup_1min", "rollup_1H", "rollup_1D")


def _tier_rows(spark, root: str, tier: str) -> list:
    """The tier's rows as a sorted multiset (a duplicate would show)."""
    df = TierTable(f"{root}/{tier}").read(spark)
    rows = df.select(sorted(df.columns)).collect()
    return sorted(tuple(str(v) for v in r) for r in rows)


@pytest.fixture(scope="module")
def uninterrupted(spark, transcripts, tmp_path_factory):
    """Tiers after the first slice (not finalized), then the whole
    input (finalized), with no crash."""
    root = str(tmp_path_factory.mktemp("uninterrupted"))
    Pipeline(spark, root, CFG).run(
        transcripts.where(F.col("ts") < F.lit(CUT)), finalize=False
    )
    Pipeline(spark, root, CFG).run(transcripts, finalize=True)
    return {tier: _tier_rows(spark, root, tier) for tier in TIERS}


@pytest.mark.parametrize("stage", ["agg_H_sum", "rollup_1H"])
def test_crash_in_pipeline_commit_recovers(
    spark, transcripts, uninterrupted, tmp_path, monkeypatch, stage
):
    """Crash the second run at ``stage``'s manifest commit: readers keep
    the pre-crash snapshots, and a plain re-run converges to the tiers
    of the same two runs without the crash — row for row, so the
    orphaned write left nothing behind."""
    root = str(tmp_path / "crash")
    Pipeline(spark, root, CFG).run(
        transcripts.where(F.col("ts") < F.lit(CUT)), finalize=False
    )
    seen = TierTable(f"{root}/{stage}").snapshots()
    with monkeypatch.context() as m:
        _crash_at_commit(m, stage)
        with pytest.raises(RuntimeError, match="simulated crash"):
            Pipeline(spark, root, CFG).run(transcripts, finalize=True)
    assert TierTable(f"{root}/{stage}").snapshots() == seen

    Pipeline(spark, root, CFG).run(transcripts, finalize=True)
    for tier in TIERS:
        assert _tier_rows(spark, root, tier) == uninterrupted[tier], tier
