"""enhydris_autoprocess_spark — a from-scratch PySpark-native time-series
rollup / downsample / retention engine.

Re-expresses the query semantics of ``openmeteo/enhydris-autoprocess``
(reference snapshot at /root/reference, read-only) as batch windowed
DataFrame operators over tables of multi-turn agent transcripts
``(conv_id, turn_idx, role, text, tool, ts)``.

Design notes (Spark-first, NOT a port):

- Every reference operator whose semantics allow it is a *pure column
  expression* (whole-stage codegen, no Python in the hot path):
  range check, rate-of-change check (via range-frame window min/max),
  curve interpolation (chained CASE piecewise-linear), regularization
  (grid arithmetic + row_number), aggregation (hash agg).
- pandas/Arrow UDFs are used only where genuinely needed: Gorilla
  codec (bitstream), and the spec-mandated gap-fill kernel.
- Scale levers: per-partition HWM checkpoints (incremental scans ==
  partition pruning), time chunks with halo copies for hot keys
  (``skew.halo_chunks``), AQE on, broadcast joins for
  config/checkpoint dims.

Semantics provenance: reference behaviors are pinned by the golden
vectors in ``/root/reference/enhydris_autoprocess/tests/test_models.py``
(cited per-operator in docstrings); the delegated libraries
(htimeseries/haggregate/rocc) are not vendored there, so those goldens
are the authoritative contract, mirrored in ``tests/``.
"""

__version__ = "0.1.0"

from .config import (  # noqa: F401
    AggregationConfig,
    CurveInterpolationConfig,
    CurvePeriod,
    PipelineConfig,
    QuantileRollupConfig,
    RangeCheckConfig,
    RateOfChangeConfig,
    RoccThreshold,
)
