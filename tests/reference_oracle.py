"""Single-node pandas re-implementation of the reference semantics: a
test oracle, not part of the package.

It stands in for "the reference implementation's output": the
reference's math lives in the haggregate/rocc libraries, which are not
installed here, so the semantics are reconstructed from the reference's
``enhydris_autoprocess/models.py``. The only check on it is
tests/test_oracle_goldens.py, which runs it on the reference's golden
vectors (its tests/test_models.py) verbatim; no test compares the Spark
operators with it.

Frames here use the reference's own shape: a DataFrame with a tz-aware
DatetimeIndex and columns (value: float64, flags: str).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from enhydris_autoprocess_spark.timeutil import (
    Step,
    parse_delta_t_seconds,
    parse_step,
)


def _append_flag(flags: pd.Series, mask: pd.Series, flag: str) -> pd.Series:
    # models.py:180-184: add separator only where flags non-empty.
    out = flags.copy()
    both = mask & (out != "")
    out.loc[both] += " "
    out.loc[mask] += flag
    return out


def ref_range_check(
    df: pd.DataFrame,
    lower: float,
    upper: float,
    soft_lower: float | None = None,
    soft_upper: float | None = None,
) -> pd.DataFrame:
    """models.py:152-184."""
    df = df.copy()
    v = df["value"]
    hard = ~pd.isnull(v) & ~v.between(lower, upper)
    df.loc[hard, "value"] = np.nan
    df["flags"] = _append_flag(df["flags"], hard, "RANGE")
    if soft_lower is not None or soft_upper is not None:
        lo = -np.inf if soft_lower is None else soft_lower
        hi = np.inf if soft_upper is None else soft_upper
        v = df["value"]
        soft = ~pd.isnull(v) & ~v.between(lo, hi)
        df["flags"] = _append_flag(df["flags"], soft, "SUSPECT")
    return df


def ref_rate_of_change(
    df: pd.DataFrame,
    thresholds: list[tuple[str, float]],
    symmetric: bool = False,
) -> pd.DataFrame:
    """models.py:213-222 + the rocc library contract (see operators.rocc)."""
    df = df.copy()
    t = df.index.view("int64") // 10**9
    v = df["value"].to_numpy()
    n = len(df)
    mask = np.zeros(n, dtype=bool)
    for delta_t, allowed in sorted(thresholds, key=lambda x: x[0]):
        secs = parse_delta_t_seconds(delta_t)
        for i in range(n):
            if np.isnan(v[i]):
                continue
            j = i - 1
            while j >= 0 and t[i] - t[j] <= secs:
                if not np.isnan(v[j]):
                    diff = v[i] - v[j]
                    if symmetric:
                        trip = abs(diff) > allowed
                    elif allowed >= 0:
                        trip = diff > allowed
                    else:
                        trip = diff < allowed
                    if trip:
                        mask[i] = True
                        break
                j -= 1
    df["flags"] = _append_flag(df["flags"], pd.Series(mask, index=df.index), "TEMPORAL")
    df.loc[df["flags"].str.contains("TEMPORAL"), "value"] = np.nan
    return df


def ref_curve_interpolation(
    df: pd.DataFrame,
    periods: list[tuple],  # (start_date, end_date, [(x, y), ...])
) -> pd.DataFrame:
    """models.py:309-322."""
    import datetime as dt

    source = df
    target = source.copy()
    target["value"] = np.nan
    target["flags"] = ""
    utc = dt.timezone.utc
    for start_date, end_date, points in sorted(periods, key=lambda p: p[0]):
        pts = sorted(points)
        x = [p[0] for p in pts]
        y = [p[1] for p in pts]
        start = dt.datetime.combine(start_date, dt.time(0, 0), tzinfo=utc)
        end = dt.datetime.combine(end_date, dt.time(23, 59), tzinfo=utc)
        values = source.loc[start:end, "value"].values
        target.loc[start:end, "value"] = np.interp(
            values, x, y, left=np.nan, right=np.nan
        )
    return target


def ref_regularize(
    df: pd.DataFrame,
    step: Step | str,
    new_date_flag: str = "DATEINSERT",
    complete: bool = True,
) -> pd.DataFrame:
    """Nearest-within-half-step grid snap (see operators.regularize)."""
    if isinstance(step, str):
        step = parse_step(step)
    step_us = step.micros
    us = df.index.view("int64") // 1000
    grid = (us + step_us // 2) // step_us * step_us
    dist = np.abs(us - grid)
    tmp = pd.DataFrame(
        {
            "grid": grid,
            "dist": dist,
            "us": us,
            "value": df["value"].to_numpy(),
            "flags": df["flags"].to_numpy(),
        }
    )
    tmp = tmp.sort_values(["grid", "dist", "us"]).drop_duplicates("grid")
    moved = tmp["dist"] > 0
    tmp["flags"] = _append_flag(tmp["flags"].astype(object), moved, new_date_flag)
    if complete and len(tmp):
        full = np.arange(tmp["grid"].iloc[0], tmp["grid"].iloc[-1] + 1, step_us)
        tmp = tmp.set_index("grid").reindex(full)
        tmp["flags"] = tmp["flags"].fillna("")
        tmp = tmp.reset_index(names="grid")
    idx = pd.to_datetime(tmp["grid"], unit="us", utc=True)
    out = pd.DataFrame(
        {"value": tmp["value"].to_numpy(), "flags": tmp["flags"].to_numpy()},
        index=idx,
    )
    out.index.name = "date"
    return out


def ref_aggregate(
    df: pd.DataFrame,
    source_step: Step | str,
    target_step: Step | str,
    method: str,
    max_missing: int = 0,
    offset_minutes: int = 0,
    trim: bool = True,
) -> pd.DataFrame:
    """haggregate.aggregate contract + trim-last (models.py:483-533).

    Right-labeled (start, end] buckets; emit iff non-missing count >=
    max(ratio - max_missing, 1); MISS iff count < ratio; label -=
    offset; final bucket dropped iff MISS and raw source ends before
    the bucket's right endpoint.
    """
    if isinstance(source_step, str):
        source_step = parse_step(source_step)
    if isinstance(target_step, str):
        target_step = parse_step(target_step)
    if df.empty:
        return pd.DataFrame({"value": [], "flags": []})
    src_end_us = int(df.index.view("int64").max() // 1000)
    step_us = target_step.micros
    us = df.index.view("int64") // 1000
    bend = us + (step_us - us % step_us) % step_us
    ratio = target_step.seconds // source_step.seconds
    min_count = max(ratio - max_missing, 1)
    vals = df["value"].to_numpy()
    out_rows = []
    fn = {"sum": np.nansum, "mean": np.nanmean, "max": np.nanmax, "min": np.nanmin}[
        method
    ]
    for b in np.unique(bend):
        sel = vals[bend == b]
        n = int(np.count_nonzero(~np.isnan(sel)))
        if n < min_count:
            continue
        out_rows.append(
            (int(b), float(fn(sel)), "MISS" if n < ratio else "")
        )
    if trim and out_rows:
        b, _, fl = out_rows[-1]
        if "MISS" in fl and src_end_us < b:
            out_rows.pop()
    idx = pd.to_datetime(
        [b - offset_minutes * 60_000_000 for b, _, _ in out_rows], unit="us", utc=True
    )
    out = pd.DataFrame(
        {
            "value": [v for _, v, _ in out_rows],
            "flags": [f for _, _, f in out_rows],
        },
        index=idx,
    )
    out.index.name = "date"
    return out
