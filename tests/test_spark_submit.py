"""Deployment-shape test (north rule): the pipeline must run via
``spark-submit --py-files <pkg.zip>`` — the package imported ONLY from
the zip artifact, in a fresh JVM, with the JSON config surface,
including the retention sweep."""

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from make_dist import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    assert os.path.getsize(zip_path) > 10_000

    # tiny input: two convs across two days
    t0 = dt.datetime(2024, 1, 1, 0, 0)
    rows = []
    for c in ("a", "b"):
        for i in range(12):
            rows.append(
                (c, i, "user", f"hello world {i}", None,
                 t0 + dt.timedelta(hours=4 * i))
            )
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    in_dir = str(tmp_path / "input")
    df.write.parquet(in_dir)

    cfg = {
        "source_time_step": "1min",
        "range_check": {"lower_bound": 0, "upper_bound": 3000},
        "aggregations": [
            {"target_time_step": "H", "method": "sum", "max_missing": 100}
        ],
        # the declarative quantile tier straight from job JSON
        "quantile_rollups": [
            {"target_time_step": "1D", "quantiles": [0.5, 0.9]}
        ],
        "gap_fill": {"enabled": False},
        "retention": {"rollup_1min": 86400},
    }
    cfg_path = str(tmp_path / "job.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit"
    )
    root = str(tmp_path / "tiers")
    now_us = int(
        dt.datetime(2024, 1, 3, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.session.timeZone=UTC",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--config", cfg_path,
            "--input", in_dir,
            "--root", root,
            "--finalize",
            "--retention-now-us", str(now_us),
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),  # NOT the repo root: no accidental local import
        env=env,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "rollup_1D: rows=" in proc.stdout
    assert "quantile_1D: rows=" in proc.stdout
    assert "retention rollup_1min:" in proc.stdout

    # the tiers landed and the retention cutoff (Jan 2) dropped day 1
    # from the 1min rollup (day granularity)
    from enhydris_autoprocess_spark.storage import TierTable

    t1d = TierTable(f"{root}/rollup_1D").read(spark)
    assert t1d is not None and t1d.count() > 0
    t1m = TierTable(f"{root}/rollup_1min").read(spark)
    days = {r[0] for r in t1m.selectExpr("to_date(ts)").distinct().collect()}
    assert dt.date(2024, 1, 1) not in days and dt.date(2024, 1, 2) in days


@pytest.mark.parametrize(
    "job, key",
    [
        ({"fused_rollups": True}, "fused_rollups"),
        ({"gap_fill": {"enabled": True, "use_sql": True}}, "use_sql"),
    ],
    ids=["top-level", "gap_fill"],
)
def test_job_file_with_unknown_key_fails(tmp_path, job, key):
    """A stale job file must not silently run a different path: an
    unknown key fails the job, before any Spark work, naming the key."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from run_pipeline import main

    cfg_path = tmp_path / "job.json"
    cfg_path.write_text(json.dumps(job))
    with pytest.raises(ValueError, match=f"'{key}'"):
        main([
            "--config", str(cfg_path),
            "--input", str(tmp_path / "input"),
            "--root", str(tmp_path / "tiers"),
        ])
