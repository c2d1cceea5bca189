"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench -q

The smoke tests run every workload at toy size, untraced and traced,
and check that the result line names every metric of BENCHMARK.json
with its unit and that the output checks ran.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import query_mix, trace
from perfbench.run import WORKLOADS
from perfbench.workload import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_prints_every_metric_and_runs_checks(workload, traced):
    p = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", str(traced), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = PER_LAYER if traced else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert result["attempted"] >= 1
    checks = json.loads(next(l for l in lines if l.startswith("checks "))[7:])
    assert checks, "no output check ran"
    if workload == "incremental_ingest":
        # compared against a one-shot run; a mismatch is reported, not hidden
        assert "matches_one_shot" in checks
        assert result["correct"] == (result["failed"] == 0)
    else:
        assert result["correct"] and result["failed"] == 0, checks
    assert not os.path.exists(os.path.join(ROOT, ".perfbench-work"))


def test_fails_without_program_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(str(tmp_path), "--workload", "batch_backfill", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_jaccard_sql_equals_the_oracle(tmp_path):
    """The inverted-index Jaccard query the checks use gives exactly
    oracle_sql()["minhash_dedup"]."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    docs = query_mix._documents(300, np.random.default_rng(3))
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = sorted(con.sql(entry.oracle_sql()["minhash_dedup"]).fetchall())
    got = sorted(con.sql(query_mix.JACCARD_SQL).fetchall())
    assert want and got == want


DOT = (
    'digraph G {\n'
    '  5 [id="node5" labelType="html" label="<b>Exchange</b><br><br>'
    'shuffle records written: 12<br>data size total (min, med, max '
    '(stageId: taskId))<br>288.0 B (72.0 B, 72.0 B, 72.0 B (stage 0.0: task 1))'
    '<br>shuffle write time total (min, med, max (stageId: taskId))<br>'
    '58 ms (2 ms, 18 ms, 24 ms (stage 0.0: task 3))<br>shuffle bytes written '
    'total (min, med, max (stageId: taskId))<br>1.5 KiB (133.0 B, 136.0 B, '
    '136.0 B (stage 0.0: task 1))" tooltip="Exchange hashpartitioning"];\n'
    '  subgraph cluster6 {\n'
    '    label="WholeStageCodegen (2)\\n \\nduration: total (min, med, max '
    '(stageId: taskId))\\n4.7 s (1.1 s, 1.2 s, 2.4 s (stage 0.0: task 0))";\n'
    '  }\n}'
)


def test_plan_graph_metrics_parse():
    items = trace._NODE.findall(DOT)[0].split("<br>")
    got = dict(trace._metrics_of(items))
    assert trace._stats(got["shuffle write time"]) == pytest.approx((0.058, 0.018, 0.024))
    assert trace._stats(got["shuffle bytes written"])[0] == 1.5 * 1024
    cluster = trace._CLUSTER.findall(DOT)[0].replace("\\n", "<br>").split("<br>")
    total, med, mx = trace._stats(dict(trace._metrics_of(cluster))["duration"])
    assert (total, med, mx) == pytest.approx((4.7, 1.2, 2.4))
