import datetime as dt

import pytest

from enhydris_autoprocess_spark.operators import gap_fill
from enhydris_autoprocess_spark.timeutil import parse_step

from .conftest import assert_values_equal, collect_series, series_df
from .gapfill_oracle import gap_fill_sql

UTC = dt.timezone.utc
NAN = float("nan")
T0 = dt.datetime(2024, 1, 1, 0, 0, tzinfo=UTC)


def _mk(spark, minutes_values):
    idx = [T0 + dt.timedelta(minutes=m) for m, _ in minutes_values]
    vals = [v for _, v in minutes_values]
    return series_df(spark, idx, vals, [""] * len(idx))


@pytest.mark.parametrize("impl", [gap_fill, gap_fill_sql], ids=["pandas", "sql"])
def test_linear_fill_inserted_rows(spark, impl):
    # grid hole at minute 1,2 (absent) and NaN at minute 4
    df = _mk(spark, [(0, 10.0), (3, 40.0), (4, NAN), (5, 70.0)])
    out = impl(df, parse_step("1min"))
    idx, vals, flags = collect_series(out)
    assert [t.minute for t in idx] == [0, 1, 2, 3, 4, 5]
    assert_values_equal(vals, [10.0, 20.0, 30.0, 40.0, 55.0, 70.0])
    assert flags == [
        "",
        "DATEINSERT FILLED",
        "DATEINSERT FILLED",
        "",
        "FILLED",
        "",
    ]


@pytest.mark.parametrize("impl", [gap_fill, gap_fill_sql], ids=["pandas", "sql"])
def test_edges_stay_nan(spark, impl):
    df = _mk(spark, [(0, NAN), (1, 5.0), (2, NAN)])
    out = impl(df, parse_step("1min"))
    _, vals, flags = collect_series(out)
    assert_values_equal(vals, [NAN, 5.0, NAN])
    assert flags == ["", "", ""]


@pytest.mark.parametrize("impl", [gap_fill, gap_fill_sql], ids=["pandas", "sql"])
def test_max_gap_slots(spark, impl):
    df = _mk(spark, [(0, 0.0), (4, 40.0), (5, 50.0), (7, 70.0)])
    out = impl(df, parse_step("1min"), max_gap_slots=1)
    _, vals, flags = collect_series(out)
    # 3-slot gap (1,2,3) too long; 1-slot gap (6) filled
    assert_values_equal(vals, [0.0, NAN, NAN, NAN, 40.0, 50.0, 60.0, 70.0])
    assert flags[6] == "DATEINSERT FILLED"
    assert flags[1] == "DATEINSERT"


def test_impls_agree_on_random_series(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = []
    for k in range(5):
        minutes = sorted(rng.choice(200, size=60, replace=False).tolist())
        for m in minutes:
            v = float("nan") if rng.rand() < 0.3 else float(rng.rand() * 100)
            rows.append(
                (f"k{k}", T0.replace(tzinfo=None) + dt.timedelta(minutes=int(m)), v, "")
            )
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    a = gap_fill(df, parse_step("1min")).orderBy("key", "ts").collect()
    b = gap_fill_sql(df, parse_step("1min")).orderBy("key", "ts").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra.key == rb.key and ra.ts == rb.ts and ra.flags == rb.flags
        va, vb = ra.value, rb.value
        import math

        assert (math.isnan(va) and math.isnan(vb)) or va == pytest.approx(vb)


def test_chunked_equals_unchunked(spark):
    """Hot-key chunked gap-fill ((key, chunk) kernel groups with a halo
    from skew.halo_chunks) must produce exactly the plain per-key
    result."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    # one hot key with a long timeline + two normal keys
    for k, n in (("hot", 400), ("a", 40), ("b", 25)):
        minutes = sorted(rng.choice(n * 3, size=n, replace=False).tolist())
        for m in minutes:
            v = float("nan") if rng.rand() < 0.25 else float(rng.rand() * 50)
            rows.append(
                (k, T0.replace(tzinfo=None) + dt.timedelta(minutes=int(m)), v, "")
            )
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    step = parse_step("1min")
    plain = gap_fill(df, step, max_gap_slots=5).orderBy("key", "ts").collect()
    chunked = (
        gap_fill(df, step, max_gap_slots=5, chunk_span_slots=50)
        .orderBy("key", "ts")
        .collect()
    )
    assert len(plain) == len(chunked)
    import math

    for ra, rb in zip(plain, chunked):
        assert (ra.key, ra.ts, ra.flags) == (rb.key, rb.ts, rb.flags)
        assert (math.isnan(ra.value) and math.isnan(rb.value)) or ra.value == rb.value


def test_chunked_matches_sql_on_offgrid_input(spark):
    """ADVICE r02 (medium): the chunked path treated off-grid
    pass-through rows as interpolation anchors while the fused/SQL
    paths exclude them. Now all paths agree on dirty input: off-grid
    rows survive unchanged and never anchor."""
    import math

    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for k in ("x", "y"):
        for m in range(0, 300, 1):
            if rng.rand() < 0.3:
                continue
            base = T0.replace(tzinfo=None) + dt.timedelta(minutes=m)
            rows.append((k, base, float(rng.rand() * 10), ""))
            if rng.rand() < 0.1:  # off-grid straggler between slots
                rows.append(
                    (k, base + dt.timedelta(seconds=17), 999.0, "OFF")
                )
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    step = parse_step("1min")
    sql = gap_fill_sql(df, step, max_gap_slots=4).orderBy("key", "ts", "flags").collect()
    chunked = (
        gap_fill(df, step, max_gap_slots=4, chunk_span_slots=60)
        .orderBy("key", "ts", "flags")
        .collect()
    )
    assert len(sql) == len(chunked)
    for ra, rb in zip(sql, chunked):
        assert (ra.key, ra.ts, ra.flags) == (rb.key, rb.ts, rb.flags)
        assert (math.isnan(ra.value) and math.isnan(rb.value)) or ra.value == rb.value
    # no interpolated value was pulled toward the 999.0 off-grid rows
    assert all(r.value < 100 for r in chunked if "FILLED" in r.flags)


def test_gap_fill_auto_routes_hot_keys(spark):
    """gap_fill_auto must produce exactly the plain result while
    routing only the long-span key through the chunked mode."""
    import math

    import numpy as np

    from enhydris_autoprocess_spark.cache import release_caches
    from enhydris_autoprocess_spark.operators.gapfill import gap_fill_auto

    rng = np.random.RandomState(5)
    rows = []
    for k, span in (("hot", 600), ("a", 40), ("b", 30)):
        minutes = sorted(rng.choice(span, size=span // 2, replace=False).tolist())
        for m in minutes:
            v = float("nan") if rng.rand() < 0.2 else float(rng.rand() * 50)
            rows.append(
                (k, T0.replace(tzinfo=None) + dt.timedelta(minutes=int(m)), v, "")
            )
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    step = parse_step("1min")
    plain = gap_fill(df, step, max_gap_slots=5).orderBy("key", "ts").collect()
    auto = gap_fill_auto(df, step, max_gap_slots=5, hot_span_slots=100)
    got = auto.orderBy("key", "ts").collect()
    release_caches(auto)
    assert len(plain) == len(got)
    for ra, rb in zip(plain, got):
        assert (ra.key, ra.ts, ra.flags) == (rb.key, rb.ts, rb.flags)
        assert (math.isnan(ra.value) and math.isnan(rb.value)) or ra.value == rb.value


def test_duplicate_slot_election_deterministic_and_variant_identical(spark):
    """ADVICE r03: duplicate (key, ts) slot election was order-dependent
    and differed between the fused path (last-in-shuffle-order wins) and
    the chunked path (all duplicates anchored). Both now elect the same
    winner deterministically — last in (ts, value, flags) order — so the
    pipeline's hot_chunk_span_seconds is output-invariant on dirty input
    too (the config-hash exclusion claim)."""
    import math

    t = T0.replace(tzinfo=None)
    rows = [
        ("k", t, 10.0, ""),
        # duplicates at minute 3: winner must be (41.0, "D") — the max
        # by (value, flags) — in every variant and every run
        ("k", t + dt.timedelta(minutes=3), 40.0, ""),
        ("k", t + dt.timedelta(minutes=3), 41.0, "D"),
        # NaN duplicate at minute 6: NaN sorts after numbers in both
        # Spark and pandas, so the NaN row wins the slot and the slot
        # gets interpolated while 60.0 passes through
        ("k", t + dt.timedelta(minutes=6), 60.0, ""),
        ("k", t + dt.timedelta(minutes=6), NAN, "N"),
        # NULL duplicate at minute 8 (ADVICE r04): NULL is in-contract
        # "missing" like NaN, but Spark sorts NULL before all numbers
        # while pandas (post-complete_grid, NULL already NaN) sorts it
        # after — the fused path now coalesces NULL->NaN before its
        # sort so both variants elect the NULL row as the slot winner
        ("k", t + dt.timedelta(minutes=8), 80.0, ""),
        ("k", t + dt.timedelta(minutes=8), None, "Z"),
        ("k", t + dt.timedelta(minutes=9), 90.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    step = parse_step("1min")
    for attempt in range(2):  # two runs: determinism, not luck
        fused = gap_fill(df, step, max_gap_slots=5).orderBy(
            "ts", "value", "flags"
        ).collect()
        chunked = gap_fill(
            df, step, max_gap_slots=5, chunk_span_slots=50
        ).orderBy("ts", "value", "flags").collect()
        assert len(fused) == len(chunked) == 13  # 10 slots + 3 losers
        for ra, rb in zip(fused, chunked):
            assert (ra.ts, ra.flags) == (rb.ts, rb.flags)
            assert (
                math.isnan(ra.value) and math.isnan(rb.value)
            ) or ra.value == rb.value
        by = {}
        for r in fused:
            by.setdefault(r.ts, []).append(r)
        # minute 1/2 lerp toward the 41.0 winner, not 40.0
        (r1,) = by[t + dt.timedelta(minutes=1)]
        assert r1.value == pytest.approx(10.0 + (41.0 - 10.0) / 3)
        # minute-6 slot: NaN row won -> interpolated 41 -> 90 over 6 slots;
        # the 60.0 loser passes through unchanged
        m6 = sorted(by[t + dt.timedelta(minutes=6)], key=lambda r: r.value)
        assert [r.flags for r in m6] == ["", "N FILLED"]
        assert m6[0].value == 60.0
        assert m6[1].value == pytest.approx(41.0 + (90.0 - 41.0) / 2)
        # minute-8 slot: the NULL row won -> interpolated between the
        # minute-3 and minute-9 anchors; the 80.0 loser passes through
        m8 = sorted(by[t + dt.timedelta(minutes=8)], key=lambda r: r.value)
        assert [r.flags for r in m8] == ["", "Z FILLED"]
        assert m8[0].value == 80.0
        assert m8[1].value == pytest.approx(41.0 + (90.0 - 41.0) * 5 / 6)


@pytest.mark.parametrize("impl", [gap_fill, gap_fill_sql], ids=["pandas", "sql"])
def test_offgrid_and_duplicate_rows_are_preserved(spark, impl):
    """Dirty input (off-grid timestamps, duplicate (key, ts) rows) must
    never lose rows: non-slot rows pass through unchanged and do not
    anchor interpolation (ADVICE r01: run_checked applied gap-fill to
    the raw checked series and silently dropped such rows)."""
    rows = [
        # on-grid spine: 0, 3 (hole at 1, 2)
        ("k", T0.replace(tzinfo=None), 10.0, ""),
        ("k", T0.replace(tzinfo=None) + dt.timedelta(minutes=3), 40.0, ""),
        # off-grid straggler at 1.5 min
        ("k", T0.replace(tzinfo=None) + dt.timedelta(seconds=90), 99.0, "X"),
        # duplicate at minute 3
        ("k", T0.replace(tzinfo=None) + dt.timedelta(minutes=3), 41.0, "D"),
    ]
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, value double, flags string"
    )
    out = impl(df, parse_step("1min")).collect()
    # 4 grid slots (0..3) + 1 off-grid passthrough + 1 duplicate = 6 rows
    assert len(out) == 6
    by_ts = {}
    for r in out:
        by_ts.setdefault(r.ts, []).append(r)
    off_ts = T0.replace(tzinfo=None) + dt.timedelta(seconds=90)
    (off_row,) = by_ts[off_ts]
    assert off_row.value == 99.0 and off_row.flags == "X"  # untouched
    # interpolation used the grid anchors (10 @0, 4x @3), NOT the 99.0
    t1 = T0.replace(tzinfo=None) + dt.timedelta(minutes=1)
    (r1,) = by_ts[t1]
    assert r1.flags == "DATEINSERT FILLED"
    assert 10.0 < r1.value < 50.0  # lerp between spine values, not 99-pulled... 
    # both duplicate values survive somewhere in the output
    dup_ts = T0.replace(tzinfo=None) + dt.timedelta(minutes=3)
    assert sorted(r.value for r in by_ts[dup_ts]) == [40.0, 41.0]
    assert sorted(r.flags for r in by_ts[dup_ts]) == ["", "D"]


def _canon(rows):
    """Rows as sortable tuples, NaN/NULL values as one token, so two
    results compare row for row, NaN-equal."""
    import math

    def v(x):
        return ("nan",) if x is None or math.isnan(x) else ("v", x)

    return sorted(
        (r.key, r.ts, r.flags, v(r.value), r.turn_idx) for r in rows
    )


def _slot_losers(rows):
    """Split input rows into slot holders and the duplicate (key, ts)
    rows that lose the slot: all but the last in (value, flags) order,
    NULL read as NaN and NaN sorting after every number, as Spark
    sorts. Losers pass through the engine unchanged."""
    import math

    by = {}
    for r in rows:
        by.setdefault((r[0], r[1]), []).append(r)

    def order(r):
        missing = r[2] is None or math.isnan(r[2])
        return (missing, 0.0 if missing else r[2], r[3] or "")

    keep, losers = [], []
    for group in by.values():
        group = sorted(group, key=order)
        keep.append(group[-1])
        losers.extend(group[:-1])
    return keep, losers


def _assert_chunked_plain_oracle(spark, rows, max_gap_slots, span_slots):
    """chunked == plain on ``rows``; and both equal the SQL oracle run
    on the slot holders plus the slot losers passed through unchanged
    (the oracle anchors on every duplicate; the engine elects one)."""
    from pyspark.sql import Row

    schema = "key string, ts timestamp, value double, flags string, turn_idx int"
    df = spark.createDataFrame(rows, schema)
    step = parse_step("1min")
    plain = _canon(gap_fill(df, step, max_gap_slots=max_gap_slots).collect())
    chunked = _canon(
        gap_fill(
            df, step, max_gap_slots=max_gap_slots, chunk_span_slots=span_slots
        ).collect()
    )
    assert chunked == plain
    keep, losers = _slot_losers(rows)
    oracle = gap_fill_sql(
        spark.createDataFrame(keep, schema), step, max_gap_slots=max_gap_slots
    ).collect()
    passed = [
        Row(key=k, ts=t, flags=f or "", value=NAN if v is None else v, turn_idx=i)
        for k, t, v, f, i in losers
    ]
    assert _canon(oracle + passed) == plain


def test_chunked_idle_gap_key(spark):
    """A hot key anchored off the chunk grid (+17 s) whose timeline has
    chunks without a source row, a gap longer than the halo across a
    chunk edge, a fillable gap across another edge, off-grid rows in
    both halos and a NULL duplicate whose election is visible: chunked,
    plain and the oracle agree."""
    t = T0.replace(tzinfo=None) + dt.timedelta(seconds=17)

    def at(minutes, value, flags="", seconds=0):
        ts = t + dt.timedelta(minutes=minutes, seconds=seconds)
        return ("idle", ts, value, flags, minutes)

    rows = [
        at(0, 1.0), at(1, NAN), at(2, 3.0), at(5, 6.0), at(6, NAN),
        # off-grid row first in the 10-min chunk's lookback halo (from
        # 6:00): that chunk's grid must come from the key's anchor
        at(6, 30.0, "OFF", seconds=-12),
        # fillable 3-slot gap (9, 10 missing) across the 10-min edge,
        # off-grid rows in the lookback and lookahead halos
        at(8, 9.0), at(9, NAN), at(9, 50.0, "OFF", seconds=23),
        at(11, 12.0), at(10, 70.0, "OFF", seconds=-12),
        # 7-slot gap (> halo) across the 20-min edge: stays NaN
        at(16, 17.0), at(18, NAN), at(23, 24.0),
        # idle: no source row in the 30- and 40-min chunks
        # NULL duplicate at 52: the NULL row wins the slot, so 53 is
        # not filled from the 5.0 loser
        at(52, 5.0), at(52, None, "Z"), at(53, NAN), at(54, 8.0),
        at(55, NAN), at(56, 9.0),
        # the key's last row is off its grid
        at(56, 1.5, "OFF", seconds=30),
        # a cold key in the same input, on the epoch-minute grid
        ("cold", T0.replace(tzinfo=None), 1.0, "", 0),
        ("cold", T0.replace(tzinfo=None) + dt.timedelta(minutes=3), 4.0, "", 3),
    ]
    _assert_chunked_plain_oracle(spark, rows, max_gap_slots=3, span_slots=10)


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_chunked_equals_plain_and_oracle_seeded(spark, seed):
    """Seeded random hot keys: random max_gap_slots and chunk span,
    per-key off-epoch anchors, NaN and NULL values, off-grid stragglers
    and duplicate slots."""
    import numpy as np

    rng = np.random.RandomState(seed)
    max_gap = int(rng.randint(1, 7))
    span = int(rng.randint(max_gap + 2, 40))
    rows = []
    for k in range(3):
        t0 = T0.replace(tzinfo=None) + dt.timedelta(seconds=int(rng.randint(60)))
        n = int(rng.randint(20, 120))
        for m in sorted(rng.choice(n * 2, size=n, replace=False).tolist()):
            u = rng.rand()
            v = None if u < 0.05 else NAN if u < 0.25 else float(rng.rand() * 50)
            ts = t0 + dt.timedelta(minutes=m)
            rows.append((f"k{k}", ts, v, "", m))
            if rng.rand() < 0.08:  # duplicate slot
                rows.append((f"k{k}", ts, float(rng.rand() * 50), "D", m))
            if rng.rand() < 0.08:  # off-grid straggler
                off = dt.timedelta(seconds=int(rng.randint(1, 60)))
                rows.append((f"k{k}", ts + off, 999.0, "OFF", m))
    _assert_chunked_plain_oracle(spark, rows, max_gap, span)
