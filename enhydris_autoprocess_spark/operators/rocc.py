"""Rate-of-change ("time consistency") check — window range-frames,
no UDFs.

Semantics pinned by the reference's RateOfChangeCheck + rocc library
contract (/root/reference/enhydris_autoprocess/models.py:191-273; golden
tests/test_models.py:470-509: 10-min series, threshold 10min/7.0 ->
1.5->8.9 flagged TEMPORAL, 8.9->3.1 not, 3.8->11.9 flagged; flagged
values then NaN'd via ``flags.str.contains("TEMPORAL")``
models.py:220-221).

Definition implemented: a record (t_i, v_i) is flagged iff for some
threshold (delta_t, allowed_diff) there exists a prior record
(t_j, v_j), 0 < t_i - t_j <= delta_t, with

- symmetric:            |v_i - v_j| >  allowed_diff
- else, allowed_diff>0:  v_i - v_j  >  allowed_diff
- else (allowed_diff<0): v_i - v_j  <  allowed_diff

(direction semantics per the model help text, models.py:193-200).
Missing values participate in no comparison.

Spark-first trick: the existential over the lookback window reduces to
extrema —  ∃j: v_i - v_j > d  ⟺  v_i - min_j(v_j) > d, and
∃j: v_i - v_j < d  ⟺  v_i - max_j(v_j) < d — so one
``Window.partitionBy(key).orderBy(epoch).rangeBetween(-delta_t, -1)``
min/max per threshold does it entirely JVM-side (sorted once, all
threshold frames reuse the same sort). NaN is mapped to NULL before
the window so min/max skip it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import RateOfChangeConfig
from ..flags import append_flag, has_flag
from ..schema import NAN, ts_seconds
from ..skew import halo_chunks
from ..timeutil import parse_delta_t_seconds


def rate_of_change_check(
    df: DataFrame,
    cfg: RateOfChangeConfig,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str = "flags",
    chunk_span_seconds: int | None = None,
) -> DataFrame:
    """``chunk_span_seconds``: hot-key mode. A plain window makes one
    conversation one sort partition — a conversation holding 1% of
    10^12 turns is a straggler task. Because the check only looks BACK
    at most max(delta_t), each key's timeline can split into fixed
    time chunks where rows in the last max(delta_t) seconds of a chunk
    are also copied into the next one as lookback context
    (``skew.halo_chunks`` with a lookback-only halo — no lookahead
    copies needed); the window then partitions by (key, chunk) and halo
    copies drop from the output. Output is identical to the unchunked
    path (pinned by test), cost is one duplicated halo fraction, and
    the hot key's work spreads over span-sized tasks, entirely in JVM
    window frames. Must exceed max(delta_t).
    """
    value = F.col(value_col)
    present = value.isNotNull() & ~F.isnan(value)
    clean = F.when(present, value)  # NULL where missing so min/max skip

    epoch = ts_seconds(F.col(ts_col))
    out = df.withColumn("__v", clean).withColumn("__t", epoch)

    # default=0 keeps the degenerate no-thresholds config a no-op
    # (returns the input unflagged) instead of raising here; chunked
    # mode with max_dt=0 degenerates to plain per-chunk windows.
    max_dt = max(
        (parse_delta_t_seconds(th.delta_t) for th in cfg.sorted_thresholds()),
        default=0,
    )
    part_cols = [key_col]
    if chunk_span_seconds is not None:
        out = halo_chunks(out, F.col("__t"), chunk_span_seconds, back=max_dt)
        part_cols = [key_col, "__chunk"]

    mask = F.lit(False)
    for th in cfg.sorted_thresholds():
        secs = parse_delta_t_seconds(th.delta_t)
        w = (
            Window.partitionBy(*part_cols)
            .orderBy("__t")
            .rangeBetween(-secs, -1)
        )
        lo = F.min("__v").over(w)
        hi = F.max("__v").over(w)
        d = F.lit(th.allowed_diff)
        if cfg.symmetric:
            trip = (F.col("__v") - lo > d) | (hi - F.col("__v") > d)
        elif th.allowed_diff >= 0:
            trip = F.col("__v") - lo > d
        else:
            trip = F.col("__v") - hi < d
        mask = mask | (present & F.coalesce(trip, F.lit(False)))

    out = out.withColumn(flags_col, append_flag(F.col(flags_col), mask, "TEMPORAL"))
    # Reference NaNs every row whose flags CONTAIN "TEMPORAL" (substring,
    # models.py:220-221) — including pre-existing tokens from upstream.
    out = out.withColumn(
        value_col,
        F.when(has_flag(F.col(flags_col), "TEMPORAL"), F.lit(NAN)).otherwise(value),
    )
    if chunk_span_seconds is not None:
        out = out.where(F.col("__chunk") == F.col("__home")).drop(
            "__home", "__chunk"
        )
    return out.drop("__v", "__t")
