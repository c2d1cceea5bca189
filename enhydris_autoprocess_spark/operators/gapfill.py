"""Gap-fill: complete the per-key time grid and linearly interpolate
missing values (north-star requirement; no reference analog —
SURVEY.md §2.5 I2).

One implementation, ``gap_fill`` — the spec-mandated pandas/Arrow UDF
path (BASELINE.json north_star: "gap-fills missing turns via flag-aware
linear interpolation inside pandas/Arrow UDFs"): one key-partitioned
``mapInPandas`` whose vectorized numpy kernel completes the grid and
interpolates many keys per call, no per-row Python. Hot keys take its
time-chunked mode (``chunk_span_slots``; ``gap_fill_auto`` routes them
by span). The tests check it against a pure window-function oracle
(JVM-side: previous / next known anchor via ``last(..., ignorenulls)``
over unbounded frames, then the lerp formula).

Flag-aware semantics: a value is "missing" if NULL or NaN;
grid rows that did not exist are inserted with flag "DATEINSERT"
(token reused from regularization, models.py:481); every interpolated
value additionally gets flag "FILLED"; leading/trailing gaps (no anchor
on one side) stay NaN. ``max_gap_slots`` bounds how long a run may be
and still be filled (None = unbounded); bounding it is also what makes
the chunked/salted hot-key variant possible (storage/skew).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import carry_caches
from ..schema import NAN, ts_micros
from ..timeutil import MICROS, Step


def complete_grid(
    df: DataFrame,
    step: Step,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
    new_date_flag: str = "DATEINSERT",
    keep_offgrid: bool = False,
    mark_offgrid: str | None = None,
) -> DataFrame:
    """Materialize every step-multiple between each key's min and max ts.

    ``sequence()`` + explode + join; inserted rows get NaN value and
    the new_date_flag. One small per-key agg + one join, both on the key
    — co-partitioned with downstream per-key work.

    ``keep_offgrid``: source rows whose ts is off the per-key
    min-anchored grid don't match any generated slot; a plain left join
    silently drops them. With ``keep_offgrid`` the join is FULL OUTER,
    so off-grid rows survive unchanged alongside the grid rows.

    ``mark_offgrid``: name of a boolean column to add, true exactly for
    those surviving off-grid rows (detected at join time: their grid
    side is absent — no extra per-key window needed). Lets downstream
    interpolation exclude them from the anchor set without re-deriving
    the per-key grid anchor.
    """
    step_us = step.micros
    # __src marks rows that came from the input: "inserted grid row" is
    # detected by the marker being NULL after the join, NOT by NULL
    # flags — a real source row whose flags column happens to be NULL
    # must keep its identity (normalized to '', matching the fused
    # path's pre-sort coalesce) instead of being rebranded DATEINSERT.
    src = df.withColumn("__us", ts_micros(F.col(ts_col))).withColumn(
        "__src", F.lit(True)
    )
    spans = src.groupBy(key_col).agg(
        F.min("__us").alias("__g0"), F.max("__us").alias("__g1")
    )
    full = spans.select(
        key_col,
        F.explode(F.sequence("__g0", "__g1", F.lit(step_us))).alias("__us"),
        F.lit(True).alias("__ongrid"),
    )
    out = (
        full.join(
            src.drop(ts_col),
            [key_col, "__us"],
            "full" if keep_offgrid else "left",
        )
        .withColumn(ts_col, F.timestamp_micros(F.col("__us")))
        .withColumn(
            flags_col,
            F.when(F.col("__src").isNull(), F.lit(new_date_flag)).otherwise(
                F.coalesce(F.col(flags_col), F.lit(""))
            ),
        )
        .withColumn(value_col, F.coalesce(F.col(value_col), F.lit(NAN)))
    )
    if mark_offgrid is not None:
        out = out.withColumn(mark_offgrid, F.col("__ongrid").isNull())
    return out.drop("__us", "__ongrid", "__src")


def _fill_block(
    pdf: pd.DataFrame,
    step_us: int,
    ts_col: str,
    value_col: str,
    flags_col: str,
    max_gap_slots: int | None,
    fill_flag: str,
    new_date_flag: str,
    key_col: str,
    keep_offgrid: bool = True,
) -> pd.DataFrame:
    """Grid-complete + interpolate MANY keys in one numpy pass.

    ``pdf`` holds whole keys, sorted by (key, ts). All work is
    vectorized across group boundaries (offsets via cumsum; prev/next
    known anchors via searchsorted, masked to stay inside each group),
    so cost is O(output rows) with no per-group pandas objects — the
    per-group ``applyInPandas`` variant spent ~5ms/group on frame
    bookkeeping alone, which dominated at thousands of keys.

    Input rows that do NOT land on the per-key min-anchored step grid,
    and all-but-the-last of any duplicate (key, ts) grid rows, cannot
    occupy a slot. With ``keep_offgrid`` they are passed through to the
    output unchanged (never silently dropped — real transcripts are
    not always aligned) but do not serve as interpolation anchors;
    without it they are dropped (the historical behavior, kept for the
    variant-equality tests on clean data).
    """
    # keep the key's NATIVE dtype (int64 keys stay int64): forcing
    # object here rebuilt the expanded key column as ~span/step x
    # boxed Python objects, and the Arrow serializer then paid a
    # per-element conversion on every output row (string keys come
    # back as object either way)
    k = pdf[key_col].to_numpy()
    t = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
    v = pdf[value_col].to_numpy(dtype=np.float64)
    fl = pdf[flags_col].to_numpy(dtype=object)
    m = len(k)

    newgrp = np.empty(m, dtype=bool)
    newgrp[0] = True
    newgrp[1:] = k[1:] != k[:-1]
    gidx = np.cumsum(newgrp) - 1
    starts = np.flatnonzero(newgrp)
    ends = np.r_[starts[1:], m] - 1
    g0 = t[starts]
    n_g = (t[ends] - g0) // step_us + 1
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
        # anchors must come from the same key (no cross-group lerp)
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
        elif col == key_col:
            out[col] = k[starts][og]
        else:
            src = pdf[col].to_numpy(dtype=object)
            carried = np.full(n, None, dtype=object)
            hit = opos >= 0
            carried[hit] = src[opos[hit]]
            out[col] = carried
    if keep_offgrid and not on.all():
        extra = pdf.iloc[np.flatnonzero(~on)]
        out = pd.concat([out, extra[list(pdf.columns)]], ignore_index=True)
    return out


def _fill_pdf(
    pdf: pd.DataFrame,
    ts_col: str,
    value_col: str,
    flags_col: str,
    max_gap_slots: int | None,
    fill_flag: str,
    step_us: int | None = None,
    offgrid_col: str | None = None,
) -> pd.DataFrame:
    """Interpolate NaN rows between known anchors, in ts order.

    ``offgrid_col``: boolean column marking pass-through rows that are
    off the key's step grid — they neither anchor interpolation nor get
    filled (mirrors the fused path's ``~offgrid`` predicate).
    ``step_us``: when given, the ``max_gap_slots`` gate measures the
    anchors' TIME distance in slots instead of index distance — index
    distance miscounts when off-grid pass-through rows are interleaved.

    Duplicate (key, ts) on-grid rows: only the LAST in
    (ts, value, flags) sort order occupies the slot (anchors / can be
    filled); the rest pass through unchanged as non-anchors. This is
    the same deterministic election the fused path applies (it sorts
    by the same keys and keeps the last per slot), so fused and
    chunked output match even on dirty input.
    """
    pdf = pdf.sort_values(
        [ts_col, value_col, flags_col], kind="stable"
    ).reset_index(drop=True)
    v = pdf[value_col].to_numpy(dtype=np.float64, copy=True)
    t = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
    off = (
        pdf[offgrid_col].to_numpy(dtype=bool)
        if offgrid_col is not None
        else np.zeros(len(v), dtype=bool)
    )
    # slot election for duplicate ts among on-grid rows: all but the
    # last (in the deterministic sort above) become pass-through
    on_idx = np.flatnonzero(~off)
    if len(on_idx) > 1:
        t_on = t[on_idx]
        loser = np.r_[t_on[1:] == t_on[:-1], False]
        if loser.any():
            off = off.copy()
            off[on_idx[loser]] = True
    missing = np.isnan(v)
    anchor = ~missing & ~off
    if (missing & ~off).any() and anchor.any():
        idx = np.arange(len(v))
        known = idx[anchor]
        # previous/next known index per position (vectorized)
        right = np.searchsorted(known, idx, side="right")
        prev_i = known[np.clip(right - 1, 0, None)]
        next_pos = np.searchsorted(known, idx, side="left")
        has_prev = right > 0
        has_next = next_pos < len(known)
        next_i = known[np.clip(next_pos, 0, len(known) - 1)]
        can = missing & ~off & has_prev & has_next
        if max_gap_slots is not None:
            if step_us is not None:
                can &= (t[next_i] - t[prev_i]) <= (max_gap_slots + 1) * step_us
            else:
                can &= (next_i - prev_i) <= (max_gap_slots + 1)
        pi, ni = prev_i[can], next_i[can]
        frac = (t[can] - t[pi]) / (t[ni] - t[pi])
        v[can] = v[pi] + frac * (v[ni] - v[pi])
        pdf[value_col] = v
        fl = pdf[flags_col].to_numpy(dtype=object)
        sel = np.where(can)[0]
        fl[sel] = [f"{s} {fill_flag}" if s else fill_flag for s in fl[sel]]
        pdf[flags_col] = fl
    return pdf


_CHUNK_ROWS = 8192  # input rows per kernel call (key-aligned; see run_block)


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
    num_partitions: int | None = None,
    keep_offgrid: bool = True,
) -> DataFrame:
    """Grid-complete then interpolate inside ``applyInPandas`` per key.

    ``chunk_span_slots``: hot-key mode — split each key's timeline into
    chunks of that many grid slots processed in parallel with
    ``max_gap_slots + 1`` slots of halo context (requires a bounded
    ``max_gap_slots``; see skew.chunked_apply_in_pandas). Output is
    identical to the unchunked path — including on dirty input with
    duplicate (key, ts) rows, where both variants elect the same slot
    winner deterministically by the (ts, value, flags) tie-break
    (tests pin this); off-grid rows pass through as non-anchors here
    too (the grid join marks them, ``_fill_pdf`` masks them out).

    ``keep_offgrid`` (default on): input rows off the per-key
    min-anchored grid, and duplicate (key, ts) rows beyond the one that
    wins the slot, are passed through unchanged instead of silently
    dropped — real transcripts are not always step-aligned, and the
    checked tier must preserve every turn (per-turn text equality
    invariant). Passed-through rows do not anchor interpolation in the
    fused path. On grid-aligned, duplicate-free input (what regularize
    emits) the flag has no effect.
    """
    if chunk_span_slots is not None:
        if max_gap_slots is None:
            raise ValueError("chunked gap-fill requires bounded max_gap_slots")
        from ..skew import chunked_apply_in_pandas

        completed = complete_grid(
            df, step, key_col, ts_col, value_col, flags_col,
            keep_offgrid=keep_offgrid,
            mark_offgrid="__offgrid",
        )

        def fill_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            return _fill_pdf(
                pdf, ts_col, value_col, flags_col, max_gap_slots, fill_flag,
                step_us=step.micros, offgrid_col="__offgrid",
            )

        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in completed.schema.fields]
        )
        out = chunked_apply_in_pandas(
            completed,
            fill_chunk,
            schema,
            chunk_span_us=chunk_span_slots * step.micros,
            halo_us=(max_gap_slots + 1) * step.micros,
            key_col=key_col,
            ts_col=ts_col,
        )
        return out.drop("__offgrid").withColumn(
            value_col, F.coalesce(F.col(value_col), F.lit(NAN))
        )

    # Fused fast path: grid completion happens INSIDE the UDF, so only
    # the source rows cross the Arrow boundary inward and the Spark-side
    # span-agg + grid join (which materializes the exploded grid twice)
    # disappear — one shuffle total, on the key. mapInPandas over
    # key-repartitioned, (key, ts)-sorted partitions lets one Arrow
    # batch carry MANY keys, so the kernel vectorizes across group
    # boundaries instead of paying per-group pandas overhead
    # (applyInPandas: ~5ms/group of frame bookkeeping). Batches are
    # re-split on key boundaries, holding back only the possibly-
    # incomplete last key of each batch — bounded memory at any scale.
    # Output is identical to complete_grid + _fill_pdf (tests pin all
    # variants against each other). Arrow from_pandas turns float NaN
    # into null on the way back, so the output schema must be nullable
    # and NaN restored after (SURVEY.md §7 watch-list (c)).
    from pyspark.sql import types as T

    others = [
        c for c in df.columns if c not in (key_col, ts_col, value_col, flags_col)
    ]
    by_name = {f.name: f for f in df.schema.fields}
    ordered = [key_col, value_col, flags_col, *others, ts_col]
    schema = T.StructType(
        [T.StructField(n, by_name[n].dataType, True) for n in ordered]
    )
    step_us = step.micros

    def run_block(block: pd.DataFrame) -> Iterable[pd.DataFrame]:
        # Sub-chunk on key boundaries: keeps each kernel call's fresh
        # allocations small (grid expansion makes output ~span/step ×
        # input; one huge alloc-bound call is far slower than many small
        # ones) and bounds peak memory per task regardless of batch size.
        keys = block[key_col].to_numpy(dtype=object)
        kstart = np.flatnonzero(
            np.r_[True, keys[1:] != keys[:-1]]
        )
        lo = 0
        while lo < len(block):
            nxt = np.searchsorted(kstart, lo + _CHUNK_ROWS, side="left")
            hi = kstart[nxt] if nxt < len(kstart) else len(block)
            yield _fill_block(
                block.iloc[lo:hi], step_us, ts_col, value_col, flags_col,
                max_gap_slots, fill_flag, "DATEINSERT", key_col,
                keep_offgrid=keep_offgrid,
            )[ordered]
            lo = hi

    def fill_stream(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        tail: pd.DataFrame | None = None
        for pdf in batches:
            if tail is not None and len(tail):
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy(dtype=object)
            cut = len(pdf) - int((keys == keys[-1]).sum())
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
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # (value, flags) tie-break keys make the duplicate-(key, ts) slot
    # election deterministic: the LAST row per slot wins in _fill_block,
    # so without them the winner depended on arbitrary shuffle order.
    # Value is coalesced to NaN and flags to '' BEFORE the sort: Spark
    # sorts NULL before all numbers while pandas sorts NaN (what
    # complete_grid turns NULL into) after them, so a NULL-value
    # duplicate would elect a different winner in the fused vs chunked
    # variant without the normalization (NULL and NaN are the same
    # "missing" per the contract above, so this changes no semantics).
    out = (
        df.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(NAN)))
        .withColumn(flags_col, F.coalesce(F.col(flags_col), F.lit("")))
        .repartition(n_parts, key_col)
        .sortWithinPartitions(key_col, ts_col, value_col, flags_col)
        .mapInPandas(fill_stream, schema=schema)
    )
    return out.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(NAN)))


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
    num_partitions: int | None = None,
    keep_offgrid: bool = True,
) -> DataFrame:
    """Skew-aware gap-fill: route each key by its timeline span.

    The fused path's cost per key is its grid span (output rows =
    span/step), and one conversation spanning years becomes one
    straggler task at 10^12-turn scale. Keys spanning more than
    ``hot_span_slots`` grid slots route to the time-chunked variant
    (the hot key's work spreads over span/hot_span_slots parallel
    tasks); everything else takes the fused single-shuffle path, whose
    cross-key vectorization the chunked variant's per-(key, chunk)
    ``applyInPandas`` groups would forfeit (~5 ms of group bookkeeping
    per group — ruinous as a default over millions of cold keys).

    The hot-key set comes from one tiny span aggregation (map-side
    combined, broadcast back), so the routing adds one cheap pass + two
    broadcast semi/anti joins. ``df``'s plan is consumed three times
    (span agg + both branches), so it is persisted here and attached to
    the result — release with ``cache.release_caches`` once the output
    is materialized. Requires bounded ``max_gap_slots`` (the chunk
    halo); with ``hot_span_slots=None`` this is plain ``gap_fill``.
    """
    if max_gap_slots is None or hot_span_slots is None:
        return gap_fill(
            df, step, max_gap_slots, fill_flag, key_col, ts_col, value_col,
            flags_col, num_partitions=num_partitions, keep_offgrid=keep_offgrid,
        )
    if max_gap_slots + 1 >= hot_span_slots:
        raise ValueError("hot_span_slots must exceed max_gap_slots + 1")
    df = df.persist()
    us = ts_micros(F.col(ts_col))
    hot_keys = F.broadcast(
        df.groupBy(key_col)
        .agg(((F.max(us) - F.min(us)) / F.lit(step.micros)).alias("__span"))
        .where(F.col("__span") > hot_span_slots)
        .select(key_col)
    )
    cold = gap_fill(
        df.join(hot_keys, key_col, "left_anti"),
        step, max_gap_slots, fill_flag, key_col, ts_col, value_col,
        flags_col, num_partitions=num_partitions, keep_offgrid=keep_offgrid,
    )
    hot = gap_fill(
        df.join(hot_keys, key_col, "left_semi"),
        step, max_gap_slots, fill_flag, key_col, ts_col, value_col,
        flags_col, chunk_span_slots=hot_span_slots,
        num_partitions=num_partitions, keep_offgrid=keep_offgrid,
    )
    return carry_caches(cold.unionByName(hot), df)
