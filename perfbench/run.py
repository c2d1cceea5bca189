#!/usr/bin/env python3
"""Benchmark of the rollup engine: one workload per invocation.

    python3 perfbench/run.py --workload batch_backfill --seed 1 \
        --seconds 30 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``), each metric with its unit. The lines
before it give the host context, the output checks and the workload's
own figures. ``--smoke`` shrinks every input to a toy size for the
benchmark's own tests. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("batch_backfill", "incremental_ingest", "query_mix")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="minimum timed window; at least one operation runs")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="toy input sizes, for the benchmark's own tests")
    p.add_argument("--trace-out", default=None,
                   help="also write the spans and per-layer detail here")
    return p.parse_args(argv)


def _prepare_environment(work_dir: str) -> None:
    """Make the program importable here and in Spark's Python workers,
    and keep every temporary file inside ``work_dir``."""
    sys.path.insert(0, ROOT)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "enhydris_autoprocess_spark", "__init__.py")):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    os.makedirs(work_dir)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        _prepare_environment(work_dir)
        from perfbench.workload import run_workload

        result, report = run_workload(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        parent = os.path.dirname(work_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    for key, value in report.items():
        print(f"{key} {json.dumps(value, sort_keys=True, default=str)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
