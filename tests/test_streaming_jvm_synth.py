"""JVM generator shape; stateful streams (sessionize, gap monitor) vs
their batch oracles."""

from pyspark.sql import functions as F

from enhydris_autoprocess_spark.synth import (
    generate_transcripts,
    generate_transcripts_jvm,
)


def test_jvm_generator_shape_and_determinism(spark):
    a = generate_transcripts_jvm(spark, n_convs=200, seed=42)
    b = generate_transcripts_jvm(spark, n_convs=200, seed=42)
    sa = a.agg(F.sum(F.length("text")), F.count("*")).first()
    sb = b.agg(F.sum(F.length("text")), F.count("*")).first()
    assert sa == sb
    # same column names/types as the pandas generator (nullability may
    # differ: JVM expressions prove non-nullness, mapInPandas can't)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in generate_transcripts(spark, 2).schema.fields
    ]
    counts = sorted(
        r["count"] for r in a.groupBy("conv_id").count().collect()
    )
    assert counts[-1] > 4 * counts[0]  # skewed lengths
    tools = a.where(F.col("tool").isNotNull()).count()
    assert 0 < tools < sa[1]


def test_streaming_sessionize_cross_batch_merge(spark, tmp_path):
    """VERDICT r03 #7: streaming sessionization via native
    session_window state merging. A session whose fragments arrive in
    DIFFERENT micro-batches must emit as ONE merged row (that's the
    state store's session merge), equal to the batch operator's
    result on the same closed region."""
    import datetime as dt
    import os
    import time as _time

    from enhydris_autoprocess_spark.operators import sessionize_native
    from enhydris_autoprocess_spark.streaming import streaming_sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = []
    # key a: one session 0..15min whose halves arrive in different
    # batches (0,5 | 10,15 — every gap 5min < the 10min threshold)
    for m, v in ((0, 1.0), (5, 2.0), (10, 3.0), (15, 4.0)):
        rows.append(("a", t0 + dt.timedelta(minutes=m), v))
    # key a: a second session at 60..62min
    for m, v in ((60, 5.0), (62, 6.0)):
        rows.append(("a", t0 + dt.timedelta(minutes=m), v))
    # key b: single-event session
    rows.append(("b", t0 + dt.timedelta(minutes=3), 9.0))
    # frontier events: push the watermark far past every session above
    # (append mode only emits sessions the watermark has closed)
    rows.append(("z", t0 + dt.timedelta(hours=10), 0.0))
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double")

    in_dir = str(tmp_path / "ss_in")
    out_dir = str(tmp_path / "ss_out")
    ck_dir = str(tmp_path / "ss_ck")
    os.makedirs(in_dir)
    cut = t0 + dt.timedelta(minutes=8)
    df.where(F.col("ts") < F.lit(cut)).coalesce(1).write.parquet(in_dir + "/p1")
    df.where(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(in_dir + "/p2")
    now = _time.time()
    for sub, age in (("p1", 60), ("p2", 0)):
        f = [x for x in os.listdir(f"{in_dir}/{sub}") if x.endswith(".parquet")][0]
        os.utime(os.path.join(in_dir, sub, f), (now - age, now - age))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    q = (
        streaming_sessionize(stream, gap_seconds=600, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = {
        (r.key, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch oracle on the closed region (watermark = 10h - 10min covers
    # every non-frontier session)
    want = {
        (r.key, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in sessionize_native(
            df.where(F.col("key") != "z"), gap_seconds=600
        ).collect()
    }
    assert got == want
    # the cross-batch session really merged into one 4-event row
    assert ("a", t0, t0 + dt.timedelta(minutes=15), 4, 10.0) in got


def test_streaming_gap_monitor_stateful(spark, tmp_path):
    """applyInPandasWithState gap monitor: gap events across micro-batch
    boundaries must equal the batch lag-diff oracle, including gaps
    whose two sides arrive in DIFFERENT batches (the stateful part)."""
    import datetime as dt
    import os
    import time as _time

    from enhydris_autoprocess_spark.streaming import streaming_gap_events

    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = []
    # conv a: turns at 0,1,2, 30, 31 min  -> one 28min gap
    for m in (0, 1, 2, 30, 31):
        rows.append(("a", m, t0 + dt.timedelta(minutes=m)))
    # conv b: turns at 0, 5, 70 min -> one 65min gap (sides split across
    # batches below)
    for m in (0, 5, 70):
        rows.append(("b", m, t0 + dt.timedelta(minutes=m)))
    # conv c: dense, no gaps
    for m in range(0, 10):
        rows.append(("c", m, t0 + dt.timedelta(minutes=m)))
    df = spark.createDataFrame(
        [(c, f"t{i}", "user", f"msg {i}", None, ts) for c, i, ts in rows],
        "conv_id string, turn_id string, role string, text string, tool string, ts timestamp",
    )

    in_dir = str(tmp_path / "gm_in")
    out_dir = str(tmp_path / "gm_out")
    ck_dir = str(tmp_path / "gm_ck")
    os.makedirs(in_dir)
    # two event-time-ordered files => two micro-batches with
    # maxFilesPerTrigger=1; conv b's 65min gap spans the split
    cut = t0 + dt.timedelta(minutes=20)
    df.where(F.col("ts") < F.lit(cut)).coalesce(1).write.parquet(in_dir + "/p1")
    df.where(F.col("ts") >= F.lit(cut)).coalesce(1).write.parquet(in_dir + "/p2")
    # stream source lists files recursively; order by mtime
    p1 = [f for f in os.listdir(in_dir + "/p1") if f.endswith(".parquet")]
    p2 = [f for f in os.listdir(in_dir + "/p2") if f.endswith(".parquet")]
    now = _time.time()
    os.utime(os.path.join(in_dir, "p1", p1[0]), (now - 60, now - 60))
    os.utime(os.path.join(in_dir, "p2", p2[0]), (now, now))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(in_dir)
    )
    events = streaming_gap_events(stream, gap_seconds=600, watermark="1 minute")
    q = (
        events.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = spark.read.parquet(out_dir)
    gaps = {
        (r.conv_id, r.prev_ts, r.next_ts, r.gap_seconds)
        for r in got.where("kind = 'gap'").collect()
    }
    want = {
        ("a", t0 + dt.timedelta(minutes=2), t0 + dt.timedelta(minutes=30), 1680.0),
        ("b", t0 + dt.timedelta(minutes=5), t0 + dt.timedelta(minutes=70), 3900.0),
    }
    assert gaps == want
    # silence timeouts (best effort with availableNow: they fire only if
    # a later batch's watermark passes last+gap): any emitted silence
    # must name a conv that really went quiet before the stream's end
    sil = {r.conv_id for r in got.where("kind = 'silence'").collect()}
    assert sil <= {"a", "b", "c"}
