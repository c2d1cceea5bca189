"""spark-submit entry point for the rollup/retention pipeline.

Deployment shape required by the north rule: ``spark-submit
--py-files enhydris_autoprocess_spark.zip scripts/run_pipeline.py
--config job.json --input <transcripts parquet/iceberg> --root <tier
store root>``. In local sandboxes it also runs under plain python.

The JSON config mirrors PipelineConfig (the declarative replacement of
the reference's admin forms; validation rules identical —
/root/reference/enhydris_autoprocess/models.py:262-268, 457-465):

{
  "source_time_step": "1min",
  "range_check": {"lower_bound": 0, "upper_bound": 3000,
                   "soft_lower_bound": 5, "soft_upper_bound": 2500},
  "rate_of_change": {"symmetric": false,
                      "thresholds": [["10min", 2000.0]]},
  "curve_interpolation": {"periods": [
      {"start_date": "2024-01-01", "end_date": "2024-12-31",
       "curve": "0,0\n100,150\n3000,4000"}]},
  "aggregations": [{"target_time_step": "H", "method": "sum",
                     "max_missing": 10,
                     "resulting_timestamp_offset": "1min"}],
  "quantile_rollups": [{"target_time_step": "1H",
                         "quantiles": [0.5, 0.95],
                         "hot_count_threshold": 100000,
                         "accuracy": 10000}],
  "channel": "text_len",
  "gap_fill": {"enabled": true, "max_gap_slots": 60},
  "compress_tiers": false,
  "retention": {"checked": 604800, "rollup_1min": 2592000,
                 "rollup_1H": 31536000, "rollup_1D": null}
}

"curve" accepts the reference's comma/tab CSV form verbatim
(CurvePeriod.parse_curve; set_curve models.py:350-360); "points" as a
[[x, y], ...] list is accepted too. A key not shown above, at the top
level or under "gap_fill", is an error that names it: a stale job file
must not silently run a different configuration.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

JOB_KEYS = frozenset({
    "source_time_step", "range_check", "rate_of_change",
    "curve_interpolation", "aggregations", "quantile_rollups", "channel",
    "gap_fill", "compress_tiers", "retention",
})
GAP_FILL_KEYS = frozenset({"enabled", "max_gap_slots"})


def _reject_unknown(d: dict, known: frozenset, where: str) -> None:
    unknown = sorted(set(d) - known)
    if unknown:
        raise ValueError(
            f"unknown key(s) in {where}: {', '.join(map(repr, unknown))}"
        )


def load_config(d: dict):
    import datetime as dt

    from enhydris_autoprocess_spark.config import (
        AggregationConfig,
        CurveInterpolationConfig,
        CurvePeriod,
        PipelineConfig,
        QuantileRollupConfig,
        RangeCheckConfig,
        RateOfChangeConfig,
        RoccThreshold,
    )

    _reject_unknown(d, JOB_KEYS, "job config")
    _reject_unknown(d.get("gap_fill", {}), GAP_FILL_KEYS, "gap_fill")
    rc = d.get("range_check")
    roc = d.get("rate_of_change")
    ci = d.get("curve_interpolation")

    def period(p: dict) -> CurvePeriod:
        pts = (
            CurvePeriod.parse_curve(p["curve"])
            if "curve" in p
            else tuple((float(x), float(y)) for x, y in p["points"])
        )
        return CurvePeriod(
            dt.date.fromisoformat(p["start_date"]),
            dt.date.fromisoformat(p["end_date"]),
            pts,
        )

    return PipelineConfig(
        range_check=RangeCheckConfig(**rc) if rc else None,
        rate_of_change=RateOfChangeConfig(
            thresholds=tuple(RoccThreshold(t, float(x)) for t, x in roc["thresholds"]),
            symmetric=bool(roc.get("symmetric", False)),
        )
        if roc
        else None,
        curve_interpolation=CurveInterpolationConfig(
            periods=tuple(period(p) for p in ci["periods"])
        )
        if ci
        else None,
        aggregations=tuple(
            AggregationConfig(**a) for a in d.get("aggregations", ())
        ),
        quantile_rollups=tuple(
            QuantileRollupConfig(
                target_time_step=q["target_time_step"],
                quantiles=tuple(float(x) for x in q.get("quantiles", (0.5, 0.95))),
                hot_count_threshold=q.get("hot_count_threshold"),
                accuracy=int(q.get("accuracy", 10000)),
            )
            for q in d.get("quantile_rollups", ())
        ),
        source_time_step=d.get("source_time_step", "1min"),
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--config", required=True, help="job config JSON path")
    p.add_argument("--input", required=True, help="transcripts parquet path")
    p.add_argument("--root", required=True, help="tier store root directory")
    p.add_argument("--finalize", action="store_true",
                   help="emit trailing incomplete rollup buckets")
    p.add_argument("--retention-now-us", type=int, default=None,
                   help="override 'now' for the retention sweep (tests)")
    args = p.parse_args(argv)

    with open(args.config) as f:
        raw = json.load(f)
    cfg = load_config(raw)
    gf = raw.get("gap_fill", {})

    from enhydris_autoprocess_spark.pipeline import Pipeline

    spark = SparkSession.builder.appName("enhydris-autoprocess-spark").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    transcripts = spark.read.parquet(args.input)

    pipe = Pipeline(
        spark,
        args.root,
        cfg,
        channel=raw.get("channel", "text_len"),
        gap_fill_enabled=bool(gf.get("enabled", True)),
        max_gap_slots=gf.get("max_gap_slots", 60),
        compress_tiers=bool(raw.get("compress_tiers", False)),
    )
    results = pipe.run(transcripts, finalize=args.finalize)
    for r in results:
        print(
            f"{r.stage}: rows={r.rows_out} secs={r.seconds:.2f} "
            f"rows/s={r.rows_per_sec:.0f} snapshot={r.snapshot_id}"
        )
    if raw.get("retention"):
        import time

        from enhydris_autoprocess_spark.storage.retention import RetentionPolicy

        now_us = args.retention_now_us or int(time.time() * 1e6)
        swept = pipe.apply_retention(
            RetentionPolicy(raw["retention"]), now_us
        )
        for tier, stats in swept.items():
            print(f"retention {tier}: {stats}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
