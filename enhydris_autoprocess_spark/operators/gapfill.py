"""Gap-fill: complete the per-key time grid and linearly interpolate
missing values (north-star requirement; no reference analog —
SURVEY.md §2.5 I2).

One kernel, ``_fill_block`` — the spec-mandated pandas/Arrow UDF path
(BASELINE.json north_star: "gap-fills missing turns via flag-aware
linear interpolation inside pandas/Arrow UDFs"): one group-partitioned
``mapInPandas`` stream whose vectorized numpy kernel completes the grid
and interpolates many groups per call, no per-row Python. A cold key is
one group. A hot key (``chunk_span_slots``; ``gap_fill_auto`` routes
keys by span) is the same interpolation over time chunks: its grid is
completed in Spark (``complete_grid``), rows near a chunk edge are
copied into the neighbouring chunk as halo context
(``skew.halo_chunks``), each (key, chunk) is one kernel group laid on
the key's grid, and each row is kept only from its home chunk. The
tests check both against a pure window-function oracle (JVM-side:
previous / next known anchor via ``last(..., ignorenulls)`` over
unbounded frames, then the lerp formula).

Flag-aware semantics: a value is "missing" if NULL or NaN;
grid rows that did not exist are inserted with flag "DATEINSERT"
(token reused from regularization, models.py:481); every interpolated
value additionally gets flag "FILLED"; leading/trailing gaps (no anchor
on one side) stay NaN. ``max_gap_slots`` bounds how long a run may be
and still be filled (None = unbounded); bounding it is also what makes
the chunked hot-key mode possible: ``max_gap_slots + 1`` slots of halo
hold every anchor a chunk's rows can use.

Dirty input never loses rows: input rows off the key's min-anchored
grid, and all but the last of duplicate (key, ts) rows in
(ts, value, flags) order, pass through unchanged and do not anchor
interpolation — real transcripts are not always step-aligned, and the
checked tier must preserve every turn (per-turn text equality
invariant). On grid-aligned, duplicate-free input (what regularize
emits) nothing passes through.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import carry_caches
from ..schema import NAN, ts_micros
from ..skew import halo_chunks
from ..timeutil import Step

ANCHOR = "__anchor"  # the key's min ts in micros: its grid anchor


def complete_grid(
    df: DataFrame,
    step: Step,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
    new_date_flag: str = "DATEINSERT",
) -> DataFrame:
    """Materialize every step-multiple between each key's min and max
    ts, keeping every source row.

    ``sequence()`` + explode + one FULL OUTER join on (key, slot):
    inserted rows get NaN value and the new_date_flag; source rows off
    the min-anchored grid match no slot and survive unchanged. Every
    row, off-grid ones included, carries the key's grid anchor (its min
    ts in micros) as ``ANCHOR``: the per-key span aggregate is broadcast
    back onto the source rows. A per-key window would put a hot key's
    rows in one task; the aggregate has one row per key, and its
    callers (the hot-key branch of ``gap_fill`` and the test oracle)
    see few keys.
    """
    step_us = step.micros
    # __src marks rows that came from the input: "inserted grid row" is
    # detected by the marker being NULL after the join, NOT by NULL
    # flags — a real source row whose flags column happens to be NULL
    # must keep its identity (normalized to '', matching the cold
    # path's pre-sort coalesce) instead of being rebranded DATEINSERT.
    src = df.withColumn("__us", ts_micros(F.col(ts_col))).withColumn(
        "__src", F.lit(True)
    )
    spans = src.groupBy(key_col).agg(
        F.min("__us").alias(ANCHOR), F.max("__us").alias("__g1")
    )
    full = spans.select(
        key_col,
        ANCHOR,
        F.explode(F.sequence(ANCHOR, "__g1", F.lit(step_us))).alias("__us"),
    )
    anchored = src.drop(ts_col).join(
        F.broadcast(spans.drop("__g1")), key_col, "left"
    )
    return (
        full.join(anchored, [key_col, ANCHOR, "__us"], "full")
        .withColumn(ts_col, F.timestamp_micros(F.col("__us")))
        .withColumn(
            flags_col,
            F.when(F.col("__src").isNull(), F.lit(new_date_flag)).otherwise(
                F.coalesce(F.col(flags_col), F.lit(""))
            ),
        )
        .withColumn(value_col, F.coalesce(F.col(value_col), F.lit(NAN)))
        .drop("__us", "__src")
    )


def _group_starts(pdf: pd.DataFrame, group_cols: list[str]) -> np.ndarray:
    """True where a group starts: the first row, and wherever any group
    column changes (``pdf`` is sorted by the group columns)."""
    new = np.zeros(len(pdf), dtype=bool)
    new[:1] = True
    for c in group_cols:
        # the column's NATIVE dtype (int64 keys stay int64)
        k = pdf[c].to_numpy()
        new[1:] |= k[1:] != k[:-1]
    return new


def _fill_block(
    pdf: pd.DataFrame,
    step_us: int,
    ts_col: str,
    value_col: str,
    flags_col: str,
    max_gap_slots: int | None,
    fill_flag: str,
    new_date_flag: str,
    group_cols: list[str],
    anchor_col: str | None = None,
) -> pd.DataFrame:
    """Grid-complete + interpolate MANY groups in one numpy pass.

    ``pdf`` holds whole groups, sorted by (group columns, ts). All work
    is vectorized across group boundaries (offsets via cumsum; prev/next
    known anchors via searchsorted, masked to stay inside each group),
    so cost is O(output rows) with no per-group pandas objects — a
    per-group ``applyInPandas`` spent ~5ms/group on frame bookkeeping
    alone, which dominated at thousands of keys.

    A group's grid is the step-multiples from its anchor ``a`` that lie
    between its first and last ts; ``a`` is the group's ``anchor_col``
    value, or its first ts when there is none. Input rows that do NOT
    land on that grid, and all-but-the-last of any duplicate grid rows,
    cannot occupy a slot: they pass through to the output unchanged but
    do not serve as interpolation anchors.
    """
    t = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
    v = pdf[value_col].to_numpy(dtype=np.float64)
    fl = pdf[flags_col].to_numpy(dtype=object)
    m = len(t)

    newgrp = _group_starts(pdf, group_cols)
    gidx = np.cumsum(newgrp) - 1
    starts = np.flatnonzero(newgrp)
    ends = np.r_[starts[1:], m] - 1
    a = pdf[anchor_col].to_numpy(dtype=np.int64)[starts] if anchor_col else t[starts]
    g0 = a - (a - t[starts]) // step_us * step_us  # first grid ts >= t_first
    n_g = np.maximum((t[ends] - g0) // step_us + 1, 0)
    off = np.r_[0, np.cumsum(n_g)]
    n = int(off[-1])

    rel = t - g0[gidx]
    on = rel % step_us == 0
    pos = off[gidx[on]] + rel[on] // step_us
    # duplicates: several on-grid rows can share a slot (same key, ts);
    # the LAST one in sort order wins the slot, the rest pass through
    on_idx = np.flatnonzero(on)
    if len(pos):
        kept_last = np.r_[pos[1:] != pos[:-1], True]
    else:
        kept_last = np.zeros(0, dtype=bool)
    kept_idx = on_idx[kept_last]
    pos = pos[kept_last]
    on = np.zeros(m, dtype=bool)
    on[kept_idx] = True

    vf = np.full(n, np.nan, dtype=np.float64)
    vf[pos] = v[on]
    flf = np.full(n, new_date_flag, dtype=object)
    flf[pos] = fl[on]

    og = np.repeat(np.arange(len(starts)), n_g)  # group index per output row
    idx = np.arange(n)
    ot = g0[og] + (idx - off[og]) * step_us

    missing = np.isnan(vf)
    known = np.flatnonzero(~missing)
    if len(known) and missing.any():
        right = np.searchsorted(known, idx, side="right")
        prev_i = known[np.clip(right - 1, 0, None)]
        lpos = np.searchsorted(known, idx, side="left")
        next_i = known[np.clip(lpos, 0, len(known) - 1)]
        can = missing & (right > 0) & (lpos < len(known))
        # anchors must come from the same group (no cross-group lerp)
        can &= (og[prev_i] == og) & (og[next_i] == og)
        if max_gap_slots is not None:
            can &= (next_i - prev_i) <= (max_gap_slots + 1)
        pi, ni = prev_i[can], next_i[can]
        frac = (idx[can] - pi) / (ni - pi)
        vf[can] = vf[pi] + frac * (vf[ni] - vf[pi])
        sel = np.flatnonzero(can)
        codes, uniq = pd.factorize(flf[sel])
        mapped = np.array(
            [f"{s} {fill_flag}" if s else fill_flag for s in uniq], dtype=object
        )
        flf[sel] = mapped[codes]

    # group columns and the anchor are constant per group; keeping their
    # native dtype spares the Arrow serializer a per-element conversion
    per_group = {
        c: pdf[c].to_numpy()[starts]
        for c in (*group_cols, *([anchor_col] if anchor_col else []))
    }
    out = pd.DataFrame(index=pd.RangeIndex(n))
    opos = np.full(n, -1, dtype=np.int64)
    opos[pos] = np.flatnonzero(on)
    for col in pdf.columns:
        if col == ts_col:
            out[col] = ot.astype("datetime64[us]")
        elif col == value_col:
            out[col] = vf
        elif col == flags_col:
            out[col] = flf
        elif col in per_group:
            out[col] = per_group[col][og]
        else:
            src = pdf[col].to_numpy(dtype=object)
            carried = np.full(n, None, dtype=object)
            hit = opos >= 0
            carried[hit] = src[opos[hit]]
            out[col] = carried
    if not on.all():
        extra = pdf.iloc[np.flatnonzero(~on)]
        out = pd.concat([out, extra[list(pdf.columns)]], ignore_index=True)
    return out


_CHUNK_ROWS = 8192  # input rows per kernel call (group-aligned; see run_block)


def _fill_groups(
    df: DataFrame,
    step: Step,
    max_gap_slots: int | None,
    fill_flag: str,
    ts_col: str,
    value_col: str,
    flags_col: str,
    group_cols: list[str],
    anchor_col: str | None = None,
) -> DataFrame:
    """Run ``_fill_block`` over ``df`` grouped by ``group_cols``: one
    repartition on the groups, one (groups, ts, value, flags) sort and
    one ``mapInPandas`` stream. ``df``'s value and flags must already be
    NULL-free (NaN and '').

    mapInPandas over group-repartitioned, sorted partitions lets one
    Arrow batch carry MANY groups, so the kernel vectorizes across group
    boundaries instead of paying per-group pandas overhead
    (applyInPandas: ~5ms/group of frame bookkeeping). Batches are
    re-split on group boundaries, holding back only the possibly-
    incomplete last group of each batch — bounded memory at any scale.
    Arrow from_pandas turns float NaN into null on the way back, so the
    output schema must be nullable and NaN restored after (SURVEY.md §7
    watch-list (c)).
    """
    from pyspark.sql import types as T

    others = [
        c for c in df.columns
        if c not in (*group_cols, ts_col, value_col, flags_col)
    ]
    by_name = {f.name: f for f in df.schema.fields}
    ordered = [*group_cols, value_col, flags_col, *others, ts_col]
    schema = T.StructType(
        [T.StructField(n, by_name[n].dataType, True) for n in ordered]
    )
    step_us = step.micros

    def run_block(block: pd.DataFrame) -> Iterable[pd.DataFrame]:
        # Sub-chunk on group boundaries: keeps each kernel call's fresh
        # allocations small (grid expansion makes output ~span/step ×
        # input; one huge alloc-bound call is far slower than many small
        # ones) and bounds peak memory per task regardless of batch size.
        gstart = np.flatnonzero(_group_starts(block, group_cols))
        lo = 0
        while lo < len(block):
            nxt = np.searchsorted(gstart, lo + _CHUNK_ROWS, side="left")
            hi = gstart[nxt] if nxt < len(gstart) else len(block)
            yield _fill_block(
                block.iloc[lo:hi], step_us, ts_col, value_col, flags_col,
                max_gap_slots, fill_flag, "DATEINSERT", group_cols, anchor_col,
            )[ordered]
            lo = hi

    def fill_stream(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        tail: pd.DataFrame | None = None
        for pdf in batches:
            if tail is not None and len(tail):
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if not len(pdf):
                continue
            cut = np.flatnonzero(_group_starts(pdf, group_cols))[-1]
            head, tail = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(head):
                yield from run_block(head)
        if tail is not None and len(tail):
            yield from run_block(tail)

    # Explicit partition count: AQE sizes post-shuffle partitions by
    # INPUT bytes and would coalesce a small-but-about-to-explode input
    # to one or two tasks (observed at sf0.1: 100k rows -> 2 partitions
    # -> 6.3M output rows on 2 cores). The UDF expands by ~span/step, so
    # the pre-UDF shuffle must be sized by the caller's parallelism, not
    # by AQE's input-byte heuristic.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # (value, flags) tie-break keys make the duplicate-(key, ts) slot
    # election deterministic: the LAST row per slot wins in _fill_block,
    # so without them the winner depended on arbitrary shuffle order.
    out = (
        df.repartition(n_parts, *group_cols)
        .sortWithinPartitions(*group_cols, ts_col, value_col, flags_col)
        .mapInPandas(fill_stream, schema=schema)
    )
    return out.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(NAN)))


def gap_fill(
    df: DataFrame,
    step: Step,
    max_gap_slots: int | None = None,
    fill_flag: str = "FILLED",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
    chunk_span_slots: int | None = None,
) -> DataFrame:
    """Grid-complete then interpolate per key inside one ``mapInPandas``.

    Cold path (default): grid completion happens INSIDE the kernel, so
    only the source rows cross the Arrow boundary inward — one shuffle
    total, on the key, and no Spark-side grid join.

    ``chunk_span_slots``: hot-key mode — split each key's timeline into
    chunks of that many grid slots processed in parallel with
    ``max_gap_slots + 1`` slots of halo context on both sides (requires
    a bounded ``max_gap_slots``, and a span beyond the halo). The grid
    is completed in Spark first, so every slot is a row of its home
    chunk, and each (key, chunk) group runs the same kernel on the
    key's grid. Output is identical to the cold path, including on
    dirty input with off-grid or duplicate (key, ts) rows (tests pin
    this).
    """
    if chunk_span_slots is None:
        # Value is coalesced to NaN and flags to '' BEFORE the sort:
        # Spark sorts NULL before all numbers but NaN after them, so a
        # NULL-value duplicate would elect a different slot winner than
        # the hot path (whose complete_grid turns NULL into NaN) without
        # the normalization (NULL and NaN are the same "missing" per the
        # contract above, so this changes no semantics).
        src = df.withColumn(
            value_col, F.coalesce(F.col(value_col), F.lit(NAN))
        ).withColumn(flags_col, F.coalesce(F.col(flags_col), F.lit("")))
        return _fill_groups(
            src, step, max_gap_slots, fill_flag, ts_col, value_col, flags_col,
            [key_col],
        )
    if max_gap_slots is None:
        raise ValueError("chunked gap-fill requires bounded max_gap_slots")
    halo_us = (max_gap_slots + 1) * step.micros
    chunks = halo_chunks(
        complete_grid(df, step, key_col, ts_col, value_col, flags_col),
        ts_micros(F.col(ts_col)),
        chunk_span_slots * step.micros,
        back=halo_us,
        ahead=halo_us,
    )
    out = _fill_groups(
        chunks, step, max_gap_slots, fill_flag, ts_col, value_col, flags_col,
        [key_col, "__chunk"], ANCHOR,
    )
    return out.where(F.col("__home") == F.col("__chunk")).drop(
        "__home", "__chunk", ANCHOR
    )


def gap_fill_auto(
    df: DataFrame,
    step: Step,
    max_gap_slots: int | None = None,
    fill_flag: str = "FILLED",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
    hot_span_slots: int | None = 1008,
) -> DataFrame:
    """Skew-aware gap-fill: route each key by its timeline span.

    The cold path's cost per key is its grid span (output rows =
    span/step), and one conversation spanning years becomes one
    straggler task at 10^12-turn scale. Keys spanning more than
    ``hot_span_slots`` grid slots route to the time-chunked mode (the
    hot key's work spreads over span/hot_span_slots parallel tasks);
    everything else takes the cold path, which skips the Spark-side
    grid join and halo copies the chunked mode pays for.

    The hot-key set comes from one tiny span aggregation (map-side
    combined, broadcast back), so the routing adds one cheap pass + two
    broadcast semi/anti joins. ``df``'s plan is consumed three times
    (span agg + both branches), so it is persisted here and attached to
    the result — release with ``cache.release_caches`` once the output
    is materialized. Chunking needs a bounded ``max_gap_slots`` and a
    chunk wider than its ``max_gap_slots + 1`` halo: without them (or
    with ``hot_span_slots=None``) this is plain ``gap_fill``.
    """
    args = (step, max_gap_slots, fill_flag, key_col, ts_col, value_col, flags_col)
    if (
        max_gap_slots is None
        or hot_span_slots is None
        or hot_span_slots <= max_gap_slots + 1
    ):
        return gap_fill(df, *args)
    df = df.persist()
    us = ts_micros(F.col(ts_col))
    hot_keys = F.broadcast(
        df.groupBy(key_col)
        .agg(((F.max(us) - F.min(us)) / F.lit(step.micros)).alias("__span"))
        .where(F.col("__span") > hot_span_slots)
        .select(key_col)
    )
    cold = gap_fill(df.join(hot_keys, key_col, "left_anti"), *args)
    hot = gap_fill(
        df.join(hot_keys, key_col, "left_semi"), *args,
        chunk_span_slots=hot_span_slots,
    )
    return carry_caches(cold.unionByName(hot), df)
