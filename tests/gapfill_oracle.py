"""Window-function gap-fill: the JVM-side test oracle of
``operators.gapfill.gap_fill``. It completes the grid with the
package's ``complete_grid`` and interpolates with previous / next known
anchors from ``last``/``first(..., ignorenulls)`` over unbounded
frames, so it shares no interpolation code with the numpy kernel it
checks."""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.flags import append_flag
from enhydris_autoprocess_spark.operators.gapfill import ANCHOR, complete_grid
from enhydris_autoprocess_spark.schema import ts_micros
from enhydris_autoprocess_spark.timeutil import Step


def gap_fill_sql(
    df: DataFrame,
    step: Step,
    max_gap_slots: int | None = None,
    fill_flag: str = "FILLED",
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
) -> DataFrame:
    """``gap_fill``'s semantics, anchors via last(ignorenulls) windows.

    Off-grid source rows survive the grid join (full outer) and pass
    through unchanged; like ``gap_fill`` they are excluded from the
    interpolation anchors (and from being filled), so both agree on
    which rows anchor. The off-grid test is this oracle's own per-key
    window, not ``complete_grid``'s anchor column. Duplicate (key, ts)
    grid rows each survive as their own row here (the grid row joins
    every duplicate), where ``gap_fill`` elects one slot winner — same
    row multiset, different slot election.
    """
    completed = complete_grid(
        df, step, key_col, ts_col, value_col, flags_col
    ).drop(ANCHOR)
    us = ts_micros(F.col(ts_col))
    v = F.col(value_col)
    # off-grid = not on the per-key min-anchored grid (the grid is
    # anchored at the key's min ts, which is itself always on-grid)
    w_key = Window.partitionBy(key_col)
    offgrid = F.pmod(us - F.min(us).over(w_key), F.lit(step.micros)) != 0
    known_v = F.when(~F.isnan(v) & ~offgrid, v)
    known_t = F.when(~F.isnan(v) & ~offgrid, us)

    wb = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    prev_v = F.last(known_v, ignorenulls=True).over(wb)
    prev_t = F.last(known_t, ignorenulls=True).over(wb)
    next_v = F.first(known_v, ignorenulls=True).over(wf)
    next_t = F.first(known_t, ignorenulls=True).over(wf)

    can = (
        F.isnan(v)
        & ~offgrid
        & prev_v.isNotNull()
        & next_v.isNotNull()
    )
    if max_gap_slots is not None:
        can = can & (
            (next_t - prev_t) <= F.lit((max_gap_slots + 1) * step.micros)
        )
    frac = (us - prev_t).cast("double") / (next_t - prev_t).cast("double")
    filled = prev_v + frac * (next_v - prev_v)

    return completed.withColumns(
        {
            value_col: F.when(can, filled).otherwise(v),
            flags_col: append_flag(F.col(flags_col), can, fill_flag),
        }
    )
