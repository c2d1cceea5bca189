"""Stream ingestion drives the one engine: ``Pipeline.run_stream``
appends each micro-batch to the ``initial`` tier and runs the DAG over
it, so the stage tables equal the same cuts run as batches, a crashed
batch completes on restart, and a batch Spark replays appends
nothing."""

import datetime as dt
import os
import time

import pytest
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.pipeline import Pipeline
from enhydris_autoprocess_spark.rollup import ROLE_ALL
from enhydris_autoprocess_spark.schema import TRANSCRIPT_SCHEMA
from enhydris_autoprocess_spark.storage import CheckpointStore, TierTable
from enhydris_autoprocess_spark.synth import generate_transcripts

from .test_commit import _crash_at_rename, _tier_rows
from .test_pipeline_storage import CFG

CUTS = (dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 2))


def _write_files(spark, df, in_dir) -> list[str]:
    """``df`` cut at ``CUTS`` into one parquet file per slice, in
    directories whose file mtimes follow the slice order (the order a
    file stream picks them up in)."""
    bounds = (None, *CUTS, None)
    now = time.time()
    dirs = []
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = df
        if lo is not None:
            part = part.where(F.col("ts") >= F.lit(lo))
        if hi is not None:
            part = part.where(F.col("ts") < F.lit(hi))
        d = f"{in_dir}/p{i}"
        part.coalesce(1).write.parquet(d)
        f = next(x for x in os.listdir(d) if x.endswith(".parquet"))
        os.utime(os.path.join(d, f), (now - 60 * (len(bounds) - i),) * 2)
        dirs.append(d)
    return dirs


def _stream(spark, in_dir):
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )


def test_stream_equals_sequential_runs(spark, tmp_path, monkeypatch):
    """Three micro-batches (one file each) leave every stage table equal
    to three sequential ``run(finalize=False)`` calls over the same
    cumulative inputs, ``<all>`` rows included, though the last batch
    crashed after its ``initial`` commit and ran again on restart.
    Replaying that batch once more runs the DAG but appends no snapshot
    to any table, ``initial`` included; a fresh checkpoint location
    appends its batch 0."""
    dirs = _write_files(
        spark, generate_transcripts(spark, n_convs=15, seed=5), str(tmp_path / "in")
    )
    staged = str(tmp_path / "p2")
    os.rename(dirs[2], staged)
    root, ck = str(tmp_path / "stream"), str(tmp_path / "ck")
    p = Pipeline(spark, root, CFG)
    p.run_stream(_stream(spark, str(tmp_path / "in")), ck, timeout_sec=600)
    os.rename(staged, dirs[2])
    with monkeypatch.context() as m:
        _crash_at_rename(m, f"{root}/checked/manifest.jsonl", after=False)
        with pytest.raises(Exception, match="simulated crash"):
            p.run_stream(_stream(spark, str(tmp_path / "in")), ck, timeout_sec=600)
    assert len(TierTable(f"{root}/initial").snapshots()) == 3
    Pipeline(spark, root, CFG).run_stream(
        _stream(spark, str(tmp_path / "in")), ck, timeout_sec=600
    )

    seq = str(tmp_path / "seq")
    for i in range(len(dirs)):
        Pipeline(spark, seq, CFG).run(spark.read.parquet(*dirs[: i + 1]), finalize=False)
    tables = ("initial", *p.stages())
    assert len(TierTable(f"{root}/initial").snapshots()) == 3
    for stage in p.stages():
        assert _tier_rows(spark, root, stage) == _tier_rows(spark, seq, stage), stage
    one_min = TierTable(f"{root}/rollup_1min").read(spark)
    assert one_min.where(F.col("role") == ROLE_ALL).count() > 0

    # replay batch 2: Spark re-runs a batch whose commit file is gone
    snaps = {t: TierTable(f"{root}/{t}").snapshots() for t in tables}
    logged = len(CheckpointStore(root).runs())
    os.remove(f"{ck}/commits/2")
    os.remove(f"{ck}/commits/.2.crc")
    Pipeline(spark, root, CFG).run_stream(
        _stream(spark, str(tmp_path / "in")), ck, timeout_sec=600
    )
    assert len(CheckpointStore(root).runs()) == logged + len(p.stages())
    assert {t: TierTable(f"{root}/{t}").snapshots() for t in tables} == snaps

    # another checkpoint location is another stream: its batch 0 appends
    late = spark.createDataFrame(
        [("conv-new", 0, "user", "hello", None, dt.datetime(2024, 1, 9))],
        TRANSCRIPT_SCHEMA,
    )
    late.coalesce(1).write.parquet(str(tmp_path / "in2"))
    ck2 = str(tmp_path / "ck2")
    Pipeline(spark, root, CFG).run_stream(
        _stream(spark, str(tmp_path / "in2")), ck2, timeout_sec=600
    )
    initial = TierTable(f"{root}/initial")
    assert len(initial.snapshots()) == 4
    assert initial.manifest.txn() == {"stream": ck2, "batch_id": 0}
