"""Benchmark of the rollup engine; see README.md."""
