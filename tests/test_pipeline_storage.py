"""End-to-end pipeline: incremental == one-shot, idempotence,
checkpoint/resume, TierTable snapshots, Gorilla round-trip."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.config import (
    AggregationConfig,
    PipelineConfig,
    RangeCheckConfig,
    RateOfChangeConfig,
    RoccThreshold,
)
from enhydris_autoprocess_spark.pipeline import Pipeline
from enhydris_autoprocess_spark.storage import TierTable
from enhydris_autoprocess_spark.storage.gorilla import (
    compress_series,
    decompress_series,
)
from enhydris_autoprocess_spark.synth import generate_transcripts

CFG = PipelineConfig(
    range_check=RangeCheckConfig(0, 3000, 5, 2500),
    rate_of_change=RateOfChangeConfig((RoccThreshold("10min", 2000.0),)),
    aggregations=(AggregationConfig("H", "sum", 10, "1min"),),
    source_time_step="1min",
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, n_convs=40, seed=11).cache()


def _tier_canon(spark, root, stage, dedup_cols=None):
    df = TierTable(f"{root}/{stage}").read(spark)
    if df is None:
        return set()
    rows = df.collect()
    out = set()
    for r in rows:
        d = r.asDict()
        d.pop("__bend", None)
        out.add(tuple(sorted((k, str(v)) for k, v in d.items())))
    return out


def test_full_run_and_idempotent_rerun(spark, transcripts, tmp_path):
    root = str(tmp_path / "tiers")
    p = Pipeline(spark, root, CFG)
    results = p.run(transcripts, finalize=True)
    by_stage = {r.stage: r for r in results}
    assert by_stage["checked"].rows_out > 0
    assert by_stage["agg_H_sum"].rows_out > 0
    assert by_stage["rollup_1min"].rows_out > 0
    assert by_stage["rollup_1H"].rows_out > 0
    assert by_stage["rollup_1D"].rows_out > 0

    # lineage + metrics on snapshots
    snap = TierTable(f"{root}/checked").current_snapshot()
    assert snap.properties["rows_per_sec"] > 0
    assert snap.properties["source"] == "transcripts"

    # re-run: nothing new -> nothing appended (reference
    # tests/test_models.py:1021-1028 analog)
    p2 = Pipeline(spark, root, CFG)
    results2 = p2.run(transcripts, finalize=True)
    assert all(r.rows_out == 0 for r in results2), [
        (r.stage, r.rows_out) for r in results2
    ]


def test_incremental_equals_oneshot(spark, transcripts, tmp_path):
    """Split the input at a time boundary; two incremental runs must
    produce the same tier contents as one full run."""
    cut = dt.datetime(2024, 1, 2, 0, 0)
    first = transcripts.where(F.col("ts") < F.lit(cut))
    # one-shot
    root_a = str(tmp_path / "oneshot")
    Pipeline(spark, root_a, CFG).run(transcripts, finalize=True)
    # incremental: batch 1 (not finalized), then full set (finalized)
    root_b = str(tmp_path / "incr")
    pb = Pipeline(spark, root_b, CFG)
    pb.run(first, finalize=False)
    pb2 = Pipeline(spark, root_b, CFG)  # resume from disk
    pb2.run(transcripts, finalize=True)

    for stage in ("agg_H_sum", "rollup_1H", "rollup_1D"):
        a = _tier_canon(spark, root_a, stage)
        b = _tier_canon(spark, root_b, stage)
        assert a == b, f"{stage}: {len(a)} vs {len(b)} rows; diff={list(a ^ b)[:4]}"


def test_late_rows_are_ignored(spark, transcripts, tmp_path):
    """The incremental contract, as the reference's (it reads only
    after the target's end, models.py:61-65): a row at or below its
    bucket's HWM is ignored. A slice older than an already committed
    one — the rows before a cut of the conversations that also have
    rows after it — leaves every tier as the run without it left it."""
    cut = dt.datetime(2024, 1, 2, 0, 0)
    newer = transcripts.where(F.col("ts") >= F.lit(cut))
    late = transcripts.where(F.col("ts") < F.lit(cut)).join(
        newer.select("conv_id"), "conv_id", "left_semi"
    )
    assert late.count() > 0
    root = str(tmp_path / "late")
    Pipeline(spark, root, CFG, compress_tiers=True).run(newer, finalize=True)
    tiers = ("checked", "agg_H_sum", "agg_H_sum_gorilla", "rollup_1min",
             "rollup_1H", "rollup_1D")
    before = {t: _tier_canon(spark, root, t) for t in tiers}
    snaps = {t: TierTable(f"{root}/{t}").snapshots() for t in tiers}

    results = Pipeline(spark, root, CFG, compress_tiers=True).run(
        late.unionByName(newer), finalize=True
    )
    assert all(r.rows_out == 0 for r in results), [
        (r.stage, r.rows_out) for r in results
    ]
    assert {t: TierTable(f"{root}/{t}").snapshots() for t in tiers} == snaps
    assert {t: _tier_canon(spark, root, t) for t in tiers} == before


def test_rollup_1min_incremental_no_duplicates(spark, transcripts, tmp_path):
    root = str(tmp_path / "dup")
    p = Pipeline(spark, root, CFG, gap_fill_enabled=False)
    cut = dt.datetime(2024, 1, 2, 0, 0)
    p.run_rollups(transcripts.where(F.col("ts") < F.lit(cut)), finalize=False)
    p.run_rollups(transcripts, finalize=True)
    t = TierTable(f"{root}/rollup_1min").read(spark)
    dups = (
        t.groupBy("conv_id", "role", "ts").count().where(F.col("count") > 1).count()
    )
    assert dups == 0


def test_gorilla_spark_round_trip(spark, transcripts):
    from enhydris_autoprocess_spark.schema import transcripts_to_series

    series = transcripts_to_series(transcripts.limit(2000)).select(
        "key", "ts", "value"
    )
    comp = compress_series(series)
    assert comp.where(F.length("blob") > 0).count() == comp.count()
    back = decompress_series(comp)
    a = {(r.key, r.ts, r.value) for r in series.collect()}
    b = {(r.key, r.ts, r.value) for r in back.collect()}
    assert a == b
    # compression: blob bytes well under 16 B/point
    stats = comp.agg(
        F.sum(F.length("blob")).alias("bytes"), F.sum("n").alias("pts")
    ).first()
    assert stats["bytes"] / stats["pts"] < 12.0


def test_per_turn_text_equality_invariant(spark, transcripts, tmp_path):
    """North-rule invariant: under stable (conv_id, turn_idx) ordering,
    every input turn appears in the checked tier exactly once, with its
    derived channel equal to length(text) of the ORIGINAL text."""
    root = str(tmp_path / "inv")
    p = Pipeline(spark, root, CFG, gap_fill_enabled=False)
    p.run_checked(transcripts)
    checked = TierTable(f"{root}/checked").read(spark)
    joined = transcripts.alias("t").join(
        checked.alias("c"),
        (F.col("t.conv_id") == F.col("c.conv_id"))
        & (F.col("t.turn_idx") == F.col("c.turn_idx")),
        "left",
    )
    n_in = transcripts.count()
    assert joined.where(F.col("c.value").isNull()).count() == 0  # no turn lost
    assert checked.count() == n_in  # no turn duplicated/invented
    # channel carries the text identity: value == length(text) except
    # where a check rejected the value — and every rejected row must
    # carry a check flag explaining it.
    text_len = F.length(F.coalesce(F.col("t.text"), F.lit(""))).cast("double")
    mism = joined.where(
        ~F.isnan("c.value") & (F.col("c.value") != text_len)
    ).count()
    assert mism == 0
    unexplained = joined.where(
        F.isnan("c.value")
        & ~(F.col("c.flags").contains("RANGE") | F.col("c.flags").contains("TEMPORAL"))
    ).count()
    assert unexplained == 0


def test_config_change_invalidates_checkpoints(spark, transcripts, tmp_path):
    import dataclasses

    root = str(tmp_path / "cfgchange")
    p1 = Pipeline(spark, root, CFG, gap_fill_enabled=False)
    p1.run_checked(transcripts)
    # same config -> resume, nothing to do
    p2 = Pipeline(spark, root, CFG, gap_fill_enabled=False)
    assert not p2.config_invalidated
    assert p2.run_checked(transcripts).rows_out == 0
    # changed bounds -> HWMs reset, full reprocess (O2, models.py:67-70)
    cfg2 = dataclasses.replace(
        CFG, range_check=type(CFG.range_check)(0, 100, 5, 50)
    )
    p3 = Pipeline(spark, root, cfg2, gap_fill_enabled=False)
    assert p3.config_invalidated
    assert p3.run_checked(transcripts).rows_out > 0


def test_compressed_tier_round_trip_with_flags(spark, transcripts, tmp_path):
    """compress_tiers=True writes a Gorilla tier per agg snapshot; the
    decompressed contents (incl. flags) equal the plain tier."""
    from enhydris_autoprocess_spark.storage.gorilla import decompress_series

    root = str(tmp_path / "gz")
    p = Pipeline(spark, root, CFG, gap_fill_enabled=False, compress_tiers=True)
    p.run_checked(transcripts)
    p.run_agg_tier(0)
    plain = TierTable(f"{root}/agg_H_sum").read(spark)
    comp = TierTable(f"{root}/agg_H_sum_gorilla").read(spark)
    assert comp is not None
    back = decompress_series(comp)
    a = {(r.key, r.ts, r.value, r.flags) for r in plain.collect()}
    b = {(r.key, r.ts, r.value, r.flags) for r in back.collect()}
    assert a == b
    assert TierTable(f"{root}/agg_H_sum_gorilla").current_snapshot().properties[
        "source_snapshot"
    ] == 1


def test_day_partitioned_tier_and_pruned_read(spark, tmp_path):
    """days(ts) hidden partitioning: data dirs split by __day, read()
    skips whole days via min_ts_us without scanning them, and the
    partition column never leaks into the returned schema."""
    import glob
    import os

    root = str(tmp_path / "day_tier")
    t = TierTable(root, partition_days_col="ts")
    rows = [
        ("a", dt.datetime(2025, 1, 1, 10, 0), 1.0),
        ("a", dt.datetime(2025, 1, 2, 10, 0), 2.0),
        ("a", dt.datetime(2025, 1, 3, 10, 0), 3.0),
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    snap = t.append(df)
    day_dirs = sorted(
        os.path.basename(p) for p in glob.glob(f"{snap.data_dir}/__day=*")
    )
    assert day_dirs == ["__day=2025-01-01", "__day=2025-01-02", "__day=2025-01-03"]

    full = t.read(spark)
    assert set(full.columns) == {"key", "ts", "value"}
    assert full.count() == 3

    # prune at an HWM inside day 2: day 1 dropped, day 2+3 kept
    hwm_us = int(dt.datetime(2025, 1, 2, 12, 0).timestamp() * 1_000_000)
    pruned = t.read(spark, min_ts_us=hwm_us)
    assert {r.value for r in pruned.collect()} == {2.0, 3.0}
    # pruning picks day directories: day 1's files are never listed
    assert pruned.inputFiles()
    assert not [f for f in pruned.inputFiles() if "/__day=2025-01-01/" in f]

    # manifest-level pruning: append a second snapshot entirely in the
    # future; a read above the FIRST snapshot's max_ts never opens its
    # directory at all (whole-snapshot skip, not just day dirs)
    rows2 = [("a", dt.datetime(2025, 2, 1, 10, 0), 9.0)]
    t.append(spark.createDataFrame(rows2, "key string, ts timestamp, value double"))
    assert "max_ts_us" in t.snapshots()[0].properties
    hwm2 = int(dt.datetime(2025, 1, 10).timestamp() * 1_000_000)
    pruned2 = t.read(spark, min_ts_us=hwm2)
    assert {r.value for r in pruned2.collect()} == {9.0}
    plan2 = pruned2._jdf.queryExecution().executedPlan().toString()
    assert snap.data_dir not in plan2  # snapshot dir skipped via manifest


def test_null_partition_rows(spark, tmp_path):
    """Rows with a NULL ts land in the NULL partition directory: a full
    read returns them, a min_ts_us read skips them (no NULL is at or
    above a bound), and expire keeps them (it drops only dated days
    before the cutoff's)."""
    from enhydris_autoprocess_spark.storage import expire
    from enhydris_autoprocess_spark.storage.tier_table import NULL_DAY

    t = TierTable(str(tmp_path / "t"), partition_days_col="ts")
    snap = t.append(
        spark.createDataFrame(
            [
                ("a", dt.datetime(2025, 1, 1, 10), 1.0),
                ("a", dt.datetime(2025, 1, 3, 10), 3.0),
                ("a", None, 9.0),
            ],
            "key string, ts timestamp, value double",
        )
    )
    assert snap.properties["days"][-1] == NULL_DAY
    assert {r.value for r in t.read(spark).collect()} == {1.0, 3.0, 9.0}
    bound_us = int(dt.datetime(2025, 1, 2, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert {r.value for r in t.read(spark, min_ts_us=bound_us).collect()} == {3.0}
    assert expire(t, bound_us)["days_dropped"] == 1
    assert {r.value for r in t.read(spark).collect()} == {3.0, 9.0}


def test_read_checks_snapshot_columns(spark, tmp_path):
    """Snapshots that differ only in NOT NULL read as one table; ones
    whose columns differ in name or type raise, naming both snapshots,
    instead of one scan returning NULLs for the missing column."""
    t = TierTable(str(tmp_path / "nullability"), partition_days_col="ts")
    t.append(
        spark.range(2).selectExpr(
            "timestamp_micros(id * 86400000000) AS ts", "CAST(id AS DOUBLE) AS value"
        )
    )
    t.append(spark.createDataFrame([(None, None)], "ts timestamp, value double"))
    ddls = [s.properties["schema"] for s in t.snapshots()]
    assert "NOT NULL" in ddls[0] and "NOT NULL" not in ddls[1]
    rows = t.read(spark).collect()
    assert len(rows) == 3 and {r.value for r in rows} == {0.0, 1.0, None}

    q = TierTable(str(tmp_path / "quantiles"), partition_days_col="ts")
    for col in ("p50", "p95"):
        q.append(
            spark.createDataFrame(
                [(dt.datetime(2025, 1, 1), 1.0)], f"ts timestamp, {col} double"
            )
        )
    with pytest.raises(ValueError, match="snapshots 1 and 2"):
        q.read(spark)


def test_pipeline_tiers_are_day_partitioned(spark, transcripts, tmp_path):
    import glob

    root = str(tmp_path / "tiers_daypart")
    p = Pipeline(spark, root, CFG)
    p.run(transcripts, finalize=True)
    snap = p.table("rollup_1min").current_snapshot()
    assert glob.glob(f"{snap.data_dir}/__day=*"), "rollup tier not day-partitioned"
    # and the read-back schema is clean
    assert "__day" not in p.table("rollup_1min").read(spark).columns


def test_gorilla_fast_encoder_parity_and_fuzz():
    """encode_chunks_multi (vectorized, explicit-window form) must write
    byte-for-byte the scalar oracle's blobs, and decode_chunks_batch and
    the oracle decoder must both round-trip them bit-exactly, across
    random series, special float bit patterns (NaN/inf/-0/denormal) and
    dods of |dod| >= 2^60, which encode as class-3 raw payloads in the
    one format (header flags == 1)."""
    import numpy as np

    from enhydris_autoprocess_spark.storage.gorilla import (
        decode_chunks_batch,
        encode_chunks_multi,
    )

    from .gorilla_oracle import decode_chunk, encode_chunk

    rng = np.random.RandomState(11)
    specials = np.array(
        [0.0, -0.0, np.inf, -np.inf, np.nan, 1e-300, -1e300, 5e-324]
    )
    for i in range(40):
        m = rng.randint(1, 400)
        ts = np.sort(rng.randint(0, 1 << 45, size=m)).astype(np.int64)
        v = np.where(
            rng.rand(m) < 0.2, np.nan, rng.randn(m) * 10.0 ** rng.randint(-3, 6)
        )
        sp = rng.rand(m) < 0.15
        v[sp] = rng.choice(specials, size=int(sp.sum()))
        ((start, n, blob),) = encode_chunks_multi(ts, v, [0], [m])
        assert (start, n) == (ts[0], m)
        assert blob == encode_chunk(ts, v), i
        for t2, v2 in (decode_chunk(blob), decode_chunks_batch([blob])[:2]):
            assert np.array_equal(t2, ts), i
            assert np.array_equal(v2.view(np.uint64), v.view(np.uint64)), i

    # 4096-point chunks of one series with a |dod| >= 2^60 jump: every
    # chunk is the one format, oracle-identical, and decodes as a batch
    n = 10000
    ts = np.cumsum(
        rng.choice([60_000_000, 61_000_000, 3_600_000_000], size=n)
    ).astype(np.int64)
    ts[7000] += 1 << 61
    ts = np.sort(ts)
    v = np.round(np.cumsum(rng.randn(n)), 3)
    starts = np.arange(0, n, 4096)
    lens = np.minimum(4096, n - starts)
    out = encode_chunks_multi(ts, v, starts, lens)
    for (start, cnt, blob), lo in zip(out, starts):
        assert start == int(ts[lo]) and blob[12:16] == b"\x01\0\0\0"
        assert blob == encode_chunk(ts[lo : lo + cnt], v[lo : lo + cnt])
    t2, v2, counts = decode_chunks_batch([blob for _, _, blob in out])
    assert counts.tolist() == lens.tolist()
    assert np.array_equal(t2, ts)
    assert np.array_equal(v2.view(np.uint64), v.view(np.uint64))


def test_retention_day_granular_expiry(spark, tmp_path):
    """Retention (north rule third leg): whole old snapshots expire,
    straddling snapshots drop whole old __day chunks (drop_chunks
    analog) — never rows — and the manifest rewrite keeps pruned reads
    consistent. Idempotent."""
    import glob
    import os

    from enhydris_autoprocess_spark.storage.retention import (
        RetentionPolicy,
        enforce,
        expire,
    )

    root = str(tmp_path / "ret")
    t = TierTable(f"{root}/tier_demo", partition_days_col="ts")
    day = dt.datetime
    # snapshot 1: days 1-2 (all below the later cutoff)
    s1 = spark.createDataFrame(
        [("a", day(2025, 1, 1, 9), 1.0), ("a", day(2025, 1, 2, 9), 2.0)],
        "key string, ts timestamp, value double",
    )
    # snapshot 2: days 3-5 (straddles)
    s2 = spark.createDataFrame(
        [
            ("a", day(2025, 1, 3, 9), 3.0),
            ("a", day(2025, 1, 4, 9), 4.0),
            ("a", day(2025, 1, 5, 9), 5.0),
        ],
        "key string, ts timestamp, value double",
    )
    t.append(s1)
    snap2 = t.append(s2)

    # cutoff: midday Jan 4 -> snapshot 1 fully expired; day 3 dropped
    # from snapshot 2; day 4 kept WHOLE (day granularity) though its
    # morning precedes the cutoff instant
    cutoff_us = int(day(2025, 1, 4, 12, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    stats = expire(t, cutoff_us)
    assert stats == {
        "snapshots_dropped": 1,
        "days_dropped": 1,
        "snapshots_trimmed": 1,
    }
    vals = {r.value for r in t.read(spark).collect()}
    assert vals == {4.0, 5.0}
    # manifest: one snapshot left, trimmed + flagged
    snaps = t.snapshots()
    assert [s.snapshot_id for s in snaps] == [snap2.snapshot_id]
    assert snaps[0].properties["retention_trimmed"] is True
    assert snaps[0].properties["rows_approximate"] is True
    # physical day dirs gone
    assert not glob.glob(f"{root}/tier_demo/data/*/__day=2025-01-03")
    # idempotent
    assert expire(t, cutoff_us) == {
        "snapshots_dropped": 0,
        "days_dropped": 0,
        "snapshots_trimmed": 0,
    }
    assert {r.value for r in t.read(spark).collect()} == {4.0, 5.0}

    # policy sweep across tiers: 1D kept forever, demo tier expired
    now_us = int(day(2025, 1, 10, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    pol = RetentionPolicy({"tier_demo": 4 * 86400, "tier_keep": None})
    res = enforce(root, pol, now_us)
    assert "tier_demo" in res and "tier_keep" not in res
    # Jan 10 - 4d = Jan 6 cutoff -> everything in tier_demo expires
    assert t.read(spark) is None


def test_retention_day_granular_expiry_compressed_tier(spark, tmp_path):
    """VERDICT r03 missing #2: Gorilla cold tiers had no ts column, so
    day-granular retention could not prune the archival tier — the one
    place retention bites at 10^12 turns. The compressed schema now
    carries chunk_end_us and the tier partitions by its day; __day=
    chunk drops stay keep-side-safe because a chunk's end day bounds
    every point in it."""
    import glob
    import os

    from enhydris_autoprocess_spark.storage.retention import (
        RetentionPolicy,
        enforce,
        expire,
    )

    def at(day, hour):
        return dt.datetime(2025, 1, day, hour)

    # key a: 4 points/day at 0/6/12/18h over Jan 1-3; chunk=3 makes
    # chunk 2 straddle midnight (Jan1 18h, Jan2 0h, Jan2 6h) so the
    # keep-side contract is actually exercised
    rows = [
        ("a", at(d, h), float(d * 100 + h))
        for d in (1, 2, 3)
        for h in (0, 6, 12, 18)
    ]
    series = spark.createDataFrame(rows, "key string, ts timestamp, value double")
    comp = compress_series(series, chunk=3)

    root = str(tmp_path / "cold")
    t = TierTable(
        os.path.join(root, "agg_gorilla"), partition_days_col="chunk_end_us"
    )
    t.append(comp)

    # physically partitioned by the chunk END day
    days = sorted(
        os.path.basename(p)
        for p in glob.glob(f"{root}/agg_gorilla/data/*/__day=*")
    )
    assert days == ["__day=2025-01-01", "__day=2025-01-02", "__day=2025-01-03"]
    # manifest stats derive from chunk_end_us (long micros, not ts)
    snap = t.current_snapshot()
    assert snap.properties["min_ts_us"] == int(
        at(1, 12).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    assert snap.properties["max_ts_us"] == int(
        at(3, 18).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6
    )

    # cutoff midday Jan 2: the Jan-1 day dir (chunk ending Jan1 12h,
    # points 0/6/12h) drops; the straddling chunk ends Jan2 6h so its
    # Jan1-18h point is KEPT (keep-side error, like drop_chunks)
    cutoff_us = int(at(2, 12).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    stats = expire(t, cutoff_us)
    assert stats["days_dropped"] == 1 and stats["snapshots_trimmed"] == 1
    assert not glob.glob(f"{root}/agg_gorilla/data/*/__day=2025-01-01")
    back = sorted(
        (r.ts, r.value) for r in decompress_series(t.read(spark)).collect()
    )
    kept_hours = [(ts.day, ts.hour) for ts, _ in back]
    assert (1, 18) in kept_hours  # straddling chunk kept whole
    assert not any(d == 1 and h < 18 for d, h in kept_hours)  # old day gone
    assert {(d, h) for d, h in kept_hours if d >= 2} == {
        (d, h) for d in (2, 3) for h in (0, 6, 12, 18)
    }

    # the policy ladder reaches *_gorilla tiers by name
    # (now=Jan4, keep 1 day -> cutoff Jan3 -> the 01-02 day dir drops)
    now_us = int(
        dt.datetime(2025, 1, 4, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    res = enforce(root, RetentionPolicy({"agg_gorilla": 86400}), now_us)
    assert res["agg_gorilla"]["days_dropped"] >= 1
    remaining = decompress_series(t.read(spark))
    assert remaining.count() > 0  # Jan-3-ending chunks survive


def test_day_partitioning_is_utc_under_non_utc_session(spark, tmp_path):
    """ADVICE r04: __day was derived via to_date(timestamp_micros(...)),
    which applies the SESSION timezone, while retention's cutoff day is
    UTC — west-of-UTC sessions could file a keep-side chunk into a day
    directory expire() drops. __day now floor-divides epoch micros, so
    the file layout is UTC regardless of session timezone."""
    import glob
    import os

    from enhydris_autoprocess_spark.storage.retention import expire

    # chunk_end_us 2025-01-02 00:30 UTC = 2025-01-01 16:30 LA time:
    # the old derivation would have filed it under __day=2025-01-01
    # and a Jan-2-cutoff expire would have dropped a keep-side chunk
    end_us = int(
        dt.datetime(2025, 1, 2, 0, 30, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    rows = [("k", 3, end_us - 600_000_000, end_us, bytearray(b"\x00") * 8)]
    df = spark.createDataFrame(
        rows,
        "key string, n int, chunk_start_us long, chunk_end_us long, blob binary",
    )
    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/Los_Angeles")
    try:
        root = str(tmp_path / "tz")
        t = TierTable(root, partition_days_col="chunk_end_us")
        t.append(df)
        days = sorted(
            os.path.basename(p) for p in glob.glob(f"{root}/data/*/__day=*")
        )
        assert days == ["__day=2025-01-02"]  # UTC day, not LA day
        # cutoff midnight Jan 2 UTC: the chunk ends at/after it -> kept
        cutoff_us = int(
            dt.datetime(2025, 1, 2, tzinfo=dt.timezone.utc).timestamp() * 1e6
        )
        stats = expire(t, cutoff_us)
        assert stats["days_dropped"] == 0
        assert t.read(spark).count() == 1
        # read-side pruning uses the same UTC day: a min_ts_us inside
        # the chunk's day must not prune its directory
        assert t.read(spark, min_ts_us=end_us - 1).count() == 1
    finally:
        spark.conf.set(tz_key, old_tz)


def test_hot_key_chunking_identical_output(spark, transcripts, tmp_path):
    """VERDICT r02 #5: the hot-key chunked modes (chunked rocc windows +
    gap_fill_auto routing) are the production path. A pipeline run with
    a chunk span small enough that real keys route hot must write the
    same checked/agg tiers as a run whose span no conversation
    exceeds (one rocc chunk and no hot gap-fill key per conversation)."""
    from enhydris_autoprocess_spark.schema import ts_micros

    spans_min = transcripts.groupBy("conv_id").agg(
        (
            (F.max(ts_micros(F.col("ts"))) - F.min(ts_micros(F.col("ts"))))
            / 60_000_000
        ).alias("span")
    )
    # the routing genuinely splits: at least one conv spans > 60 slots
    assert spans_min.where(F.col("span") > 60).count() > 0, (
        "fixture has no hot key; raise conv lengths"
    )
    plain_span_s = 10 * 365 * 86400
    assert spans_min.agg(F.max("span")).first()[0] * 60 < plain_span_s

    roots = {}
    # 1h chunks at 1-min source step: convs spanning >60 turns route
    # hot; rocc chunk span 3600s > max delta_t 600s
    for mode, span_s in (("chunked", 3600), ("plain", plain_span_s)):
        root = str(tmp_path / mode)
        Pipeline(
            spark, root, CFG, hot_chunk_span_seconds=span_s
        ).run(transcripts, finalize=True)
        roots[mode] = root
    for stage in ("checked", "agg_H_sum", "rollup_1H"):
        a = _tier_canon(spark, roots["chunked"], stage)
        b = _tier_canon(spark, roots["plain"], stage)
        assert a == b, f"{stage}: chunked and plain tiers differ"


def test_gorilla_multi_encode_byte_identical():
    """encode_chunks_multi (all keys/chunks of a block in one vector
    pass — VERDICT r03 #5) must produce byte-for-byte the scalar
    oracle's blob per segment, across segment sizes incl. n=1/2/3,
    NaNs, and dods at and beyond 2^60 up to int64-min."""
    import numpy as np

    from enhydris_autoprocess_spark.storage.gorilla import (
        decode_chunks_batch,
        encode_chunks_multi,
    )

    from .gorilla_oracle import decode_chunk, encode_chunk

    rng = np.random.RandomState(33)
    ts_parts, v_parts, starts, lens = [], [], [], []
    off = 0
    for n in [1, 2, 3, 7, 50, 251, 4096, 904]:
        gaps = rng.exponential(5e7, size=n).astype(np.int64) + 1
        t = np.cumsum(gaps) + 1_700_000_000_000_000
        v = rng.randn(n)
        v[rng.rand(n) < 0.2] = np.nan
        ts_parts.append(t)
        v_parts.append(v)
        starts.append(off)
        lens.append(n)
        off += n
    T = np.concatenate(ts_parts)
    V = np.concatenate(v_parts)
    multi = encode_chunks_multi(T, V, np.array(starts), np.array(lens))
    assert len(multi) == len(ts_parts)
    for (st, n, blob), t, v in zip(multi, ts_parts, v_parts):
        assert st == t[0] and n == len(t)
        assert blob == encode_chunk(t, v)

    # dods of |dod| >= 2^60 between well-behaved neighbors: the one
    # format (flags == 1), oracle-identical, neighbors undisturbed
    t_bad = np.array([0, 1, 2**61, 2**61 + 1], dtype=np.int64) + T[-1] + 10**9
    v_bad = np.array([1.0, 2.0, 3.0, 4.0])
    T2 = np.concatenate([ts_parts[4], t_bad, ts_parts[5]])
    V2 = np.concatenate([v_parts[4], v_bad, v_parts[5]])
    s2 = np.array([0, 50, 54])
    l2 = np.array([50, 4, 251])
    out = encode_chunks_multi(T2, V2, s2, l2)
    assert out[0][2] == encode_chunk(ts_parts[4], v_parts[4])
    assert out[2][2] == encode_chunk(ts_parts[5], v_parts[5])
    assert out[1][2] == encode_chunk(t_bad, v_bad)
    assert out[1][2][12:16] == b"\x01\0\0\0"
    dt_, dv = decode_chunk(out[1][2])
    assert np.array_equal(dt_, t_bad) and np.array_equal(dv, v_bad)
    dt_b, dv_b, _ = decode_chunks_batch([blob for _, _, blob in out])
    assert np.array_equal(dt_b, T2)
    assert np.array_equal(dv_b.view(np.uint64), V2.view(np.uint64))

    # dod == int64-min (ADVICE r04: np.abs overflows negative there)
    t_min = np.array([0, 1 << 62, 0], dtype=np.int64)
    v_min = np.array([1.0, 2.0, 3.0])
    (st_m, n_m, blob_m), = encode_chunks_multi(
        t_min, v_min, np.array([0]), np.array([3])
    )
    assert blob_m == encode_chunk(t_min, v_min)
    for dt_m, dv_m in (decode_chunk(blob_m), decode_chunks_batch([blob_m])[:2]):
        assert np.array_equal(dt_m, t_min) and np.array_equal(dv_m, v_min)


def test_gorilla_batch_decode_matches_per_chunk():
    """decode_chunks_batch (segmented-vectorized, many blobs per call)
    must reproduce the scalar oracle's per-blob decode exactly,
    including tiny chunks, NaNs and n=1/2 edge blobs."""
    import numpy as np

    from enhydris_autoprocess_spark.storage.gorilla import decode_chunks_batch

    from .gorilla_oracle import decode_chunk, encode_chunk

    rng = np.random.RandomState(21)
    blobs = []
    expect = []
    for i in range(60):
        n = int(rng.choice([1, 2, 3, 7, 50, 251]))
        gaps = rng.exponential(5e7, size=n).astype(np.int64) + 1
        ts = np.cumsum(gaps) + 1_700_000_000_000_000 + i
        vals = rng.randn(n)
        vals[rng.rand(n) < 0.15] = np.nan
        blob = encode_chunk(ts, vals)
        blobs.append(blob)
        expect.append(decode_chunk(blob))
    ts_all, v_all, counts = decode_chunks_batch(blobs)
    assert counts.tolist() == [len(t) for t, _ in expect]
    pos = 0
    for t, v in expect:
        assert np.array_equal(ts_all[pos : pos + len(t)], t)
        assert np.array_equal(
            v_all[pos : pos + len(v)].view(np.uint64), v.view(np.uint64)
        )
        pos += len(v)


def test_gorilla_decode_rejects_foreign_format():
    """Blobs are read from storage: a header whose flags are not the one
    wire format (flags=0 was the retired interleaved layout) must raise,
    not decode to noise."""
    import struct

    import numpy as np

    from enhydris_autoprocess_spark.storage.gorilla import (
        decode_chunks_batch,
        encode_chunks_multi,
    )

    ts = np.array([0, 60_000_000, 120_000_000], dtype=np.int64)
    ((_, _, good),) = encode_chunks_multi(ts, np.ones(3), [0], [3])
    bad = struct.pack("<IqI", 3, 0, 0) + good[16:]
    with pytest.raises(ValueError, match="flags=0"):
        decode_chunks_batch([good, bad])
    assert decode_chunks_batch([good])[2].tolist() == [3]


def test_compress_series_stream_path(spark):
    """compress_series now runs one shuffle + mapInPandas (no per-key
    applyInPandas): round-trip with flags across many short keys, and
    the executed plan must show no Join and a single Exchange."""
    import numpy as np

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.RandomState(2)
    for k in range(50):  # many short keys — the case the rework targets
        minutes = rng.choice(5000, size=int(rng.randint(2, 40)), replace=False)
        for m in sorted(minutes.tolist()):
            rows.append(
                (
                    f"k{k:03d}",
                    t0 + dt.timedelta(minutes=int(m)),
                    float(np.round(rng.randn(), 3)),
                    "F" if rng.rand() < 0.1 else "",
                )
            )
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    comp = compress_series(df, flags_col="flags")
    p = comp._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p
    assert p.count("Exchange") == 1
    back = decompress_series(comp)
    a = {(r.key, r.ts, round(r.value, 9), r.flags) for r in df.collect()}
    b = {(r.key, r.ts, round(r.value, 9), r.flags) for r in back.collect()}
    assert a == b


def test_pipeline_quantile_tier_exact_and_auto_routing(
    spark, transcripts, tmp_path
):
    """VERDICT r05 #4: QuantileRollupConfig exposes per-(key, bucket)
    quantile tiers declaratively. Default config reproduces the exact
    operator bit-for-bit off the checked tier; with
    hot_count_threshold set, hot buckets route through the mergeable
    sketch (within rank epsilon) while cold buckets stay bit-exact."""
    import numpy as np

    from enhydris_autoprocess_spark.config import QuantileRollupConfig
    from enhydris_autoprocess_spark.rollup import bucket_end, quantile_rollup
    from enhydris_autoprocess_spark.timeutil import parse_step

    base = dict(
        range_check=CFG.range_check,
        rate_of_change=CFG.rate_of_change,
        source_time_step="1min",
    )
    cfg = PipelineConfig(
        **base, quantile_rollups=(QuantileRollupConfig("H", (0.5,)),)
    )
    root = str(tmp_path / "qexact")
    p = Pipeline(spark, root, cfg, gap_fill_enabled=False)
    by_stage = {r.stage: r for r in p.run(transcripts, finalize=True)}
    assert by_stage["quantile_H"].rows_out > 0

    # ground truth straight off the committed checked tier
    checked = TierTable(f"{root}/checked").read(spark)
    step = parse_step("H")
    bucketed = (
        checked.where(F.col("value").isNotNull() & ~F.isnan("value"))
        .select("key", bucket_end(F.col("ts"), step).alias("ts"), "value")
        .cache()
    )
    want = {
        (r.key, r.ts): (r.n, r.p50)
        for r in quantile_rollup(bucketed, ("key", "ts"), "value", (0.5,)).collect()
    }
    got = {
        (r.key, r.ts): (r.n, r.p50)
        for r in TierTable(f"{root}/quantile_H").read(spark).collect()
    }
    assert got == want

    # rerun with nothing new appends nothing (HWM held at bucket ends)
    p_re = Pipeline(spark, root, cfg, gap_fill_enabled=False)
    assert all(r.rows_out == 0 for r in p_re.run(transcripts, finalize=True))

    # auto routing: pick a threshold that splits the buckets
    counts = sorted(n for n, _ in want.values())
    thr = counts[len(counts) // 2]
    assert counts[0] <= thr < counts[-1], "fixture must have mixed bucket sizes"
    cfg2 = PipelineConfig(
        **base,
        quantile_rollups=(
            QuantileRollupConfig("H", (0.5,), hot_count_threshold=thr),
        ),
    )
    root2 = str(tmp_path / "qauto")
    p2 = Pipeline(spark, root2, cfg2, gap_fill_enabled=False)
    p2.run(transcripts, finalize=True)
    got2 = {
        (r.key, r.ts): (r.n, r.p50)
        for r in TierTable(f"{root2}/quantile_H").read(spark).collect()
    }
    assert set(got2) == set(want)
    per_bucket: dict = {}
    for r in bucketed.collect():
        per_bucket.setdefault((r.key, r.ts), []).append(r.value)
    bucketed.unpersist()
    hot = cold = 0
    for k, (n, p50) in want.items():
        n2, p50_2 = got2[k]
        assert n2 == n, k
        if n <= thr:  # cold bucket: exact branch, bit-for-bit
            cold += 1
            assert p50_2 == p50, k
        else:  # hot bucket: sketch within the rank-error bound. The
            # returned value is an actual datum; with ties it occupies
            # a rank INTERVAL [lo, hi], any part of which may hit the
            # target rank.
            hot += 1
            vs = np.sort(per_bucket[k])
            lo = float(np.searchsorted(vs, p50_2, side="left"))
            hi = float(np.searchsorted(vs, p50_2, side="right") - 1)
            target = (n - 1) * 0.5
            eps = n / 10000 + 2
            assert lo - eps <= target <= hi + eps, (k, p50_2, lo, hi)
    assert hot > 0 and cold > 0


def test_pipeline_quantile_tier_incremental_equals_oneshot(
    spark, transcripts, tmp_path
):
    """Quantiles do NOT compose across slices, so the tier's HWM
    contract (emit only complete buckets, recompute held-back buckets
    from re-read source rows) is what keeps incremental == one-shot —
    the cut lands mid-bucket on purpose."""
    from enhydris_autoprocess_spark.config import QuantileRollupConfig

    cfg = PipelineConfig(
        range_check=CFG.range_check,
        rate_of_change=CFG.rate_of_change,
        quantile_rollups=(QuantileRollupConfig("H", (0.5, 0.95)),),
        source_time_step="1min",
    )
    cut = dt.datetime(2024, 1, 2, 0, 30)  # mid-H-bucket
    first = transcripts.where(F.col("ts") < F.lit(cut))

    root_a = str(tmp_path / "q_oneshot")
    Pipeline(spark, root_a, cfg, gap_fill_enabled=False).run(
        transcripts, finalize=True
    )
    root_b = str(tmp_path / "q_incr")
    pb = Pipeline(spark, root_b, cfg, gap_fill_enabled=False)
    pb.run(first, finalize=False)
    pb2 = Pipeline(spark, root_b, cfg, gap_fill_enabled=False)
    pb2.run(transcripts, finalize=True)

    a = _tier_canon(spark, root_a, "quantile_H")
    b = _tier_canon(spark, root_b, "quantile_H")
    assert a and a == b, f"{len(a)} vs {len(b)}; diff={list(a ^ b)[:4]}"


def test_rollups_mid_bucket_cut_incremental_equals_oneshot(
    spark, transcripts, tmp_path
):
    """The cascade (each coarse tier rebuilt from the finer stored tier
    above its own HWM) across two incremental runs cut mid-bucket must
    write the one-shot tiers, and a rerun with nothing new must append
    nothing."""
    cut = dt.datetime(2024, 1, 2, 0, 30)  # mid-H, mid-D bucket
    first = transcripts.where(F.col("ts") < F.lit(cut))

    root_a = str(tmp_path / "oneshot")
    Pipeline(spark, root_a, CFG, gap_fill_enabled=False).run_rollups(
        transcripts, finalize=True
    )

    root_b = str(tmp_path / "incr")
    pb = Pipeline(spark, root_b, CFG, gap_fill_enabled=False)
    r1 = pb.run_rollups(first, finalize=False)
    assert all(r.rows_out > 0 for r in r1), [(r.stage, r.rows_out) for r in r1]
    r2 = Pipeline(spark, root_b, CFG, gap_fill_enabled=False).run_rollups(
        transcripts, finalize=True
    )
    assert all(r.rows_out > 0 for r in r2), [(r.stage, r.rows_out) for r in r2]

    for stage in ("rollup_1min", "rollup_1H", "rollup_1D"):
        a = _tier_canon(spark, root_a, stage)
        b = _tier_canon(spark, root_b, stage)
        assert a == b, f"{stage}: {len(a)} vs {len(b)}; diff={list(a ^ b)[:4]}"

    r3 = Pipeline(spark, root_b, CFG, gap_fill_enabled=False).run_rollups(
        transcripts, finalize=True
    )
    assert all(r.rows_out == 0 for r in r3), [(r.stage, r.rows_out) for r in r3]
