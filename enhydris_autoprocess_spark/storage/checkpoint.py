"""Per-partition high-water-mark checkpoints with lineage + metrics.

The reference processes incrementally from ``target.end_date + 1min``
(/root/reference/enhydris_autoprocess/models.py:61-65; golden
tests/test_models.py:114-190 — only rows after the target's end are
read). At 10^12 turns a single global HWM under-prunes and a per-conv
HWM is itself a big table, so the checkpoint key here is the
*partition*: ``bucket = hash(conv_id) % n_buckets``. Each pipeline run
advances one HWM per (stage, bucket) and records lineage (source
snapshot -> target snapshot) and throughput metrics alongside.

The store is a small JSON document, saved through the tier tables'
one atomic write (``tier_table.write_atomic``: temp file + rename), so
a crash leaves the old HWMs or the new ones. It is broadcast
into the scan filter as literals via a tiny in-memory DataFrame join,
so the incremental read becomes
``WHERE ts > hwm(bucket)`` — Catalyst pushes the conjunctive ts bound
(min over buckets) to Parquet as a scan filter, and the exact per-
bucket cut is applied by the broadcast hash join. Advancing costs no
Spark action: the per-bucket maxima are observed (``hwm_metrics``)
during the tier write that commits the slice. Idempotence: re-runs
read nothing new and append nothing (A4/S2 semantics).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import ts_micros
from .tier_table import write_atomic

DEFAULT_BUCKETS = 64


def bucket_col(key: Column, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(n_buckets))


class CheckpointStore:
    def __init__(self, path: str, n_buckets: int = DEFAULT_BUCKETS):
        self.path = path
        self.n_buckets = n_buckets
        self._state = self._load()

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"n_buckets": self.n_buckets, "stages": {}, "runs": []}

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        write_atomic(self.path, json.dumps(self._state, indent=1))

    # --- HWMs ---------------------------------------------------------

    def hwms(self, stage: str) -> dict[int, int]:
        """bucket -> high-water-mark (epoch micros, inclusive processed)."""
        return {
            int(k): int(v) for k, v in self._state["stages"].get(stage, {}).items()
        }

    def global_min_hwm(self, stage: str) -> int | None:
        """Min HWM across buckets, valid as a coarse lower bound only
        when every bucket has one (else an unseen bucket's history would
        be pruned away). Used for storage-level partition pruning."""
        hwms = self.hwms(stage)
        if len(hwms) == self.n_buckets:
            return min(hwms.values())
        return None

    def filter_new(
        self,
        df: DataFrame,
        stage: str,
        key_col: str = "conv_id",
        ts_col: str = "ts",
    ) -> DataFrame:
        """Incremental slice: rows strictly after their bucket's HWM.

        Mirrors S1's exclusive bound (models.py:61-65: next start is
        end + 1min, i.e. strictly-greater at minute resolution).
        """
        hwms = self.hwms(stage)
        if not hwms:
            return df
        spark = df.sparkSession
        hwm_df = spark.createDataFrame(
            [(b, us) for b, us in hwms.items()], "__bucket int, __hwm_us long"
        )
        global_min = min(hwms.values()) if len(hwms) == self.n_buckets else None
        out = df.withColumn(
            "__bucket", bucket_col(F.col(key_col), self.n_buckets).cast("int")
        )
        if global_min is not None:
            # pushable coarse bound (Parquet row-group pruning)
            out = out.where(ts_micros(F.col(ts_col)) > F.lit(global_min))
        out = (
            out.join(F.broadcast(hwm_df), "__bucket", "left")
            .where(
                F.col("__hwm_us").isNull()
                | (ts_micros(F.col(ts_col)) > F.col("__hwm_us"))
            )
            .drop("__bucket", "__hwm_us")
        )
        return out

    def hwm_metrics(self, key: Column, ts: Column) -> list[Column]:
        """Per-bucket max of ``ts`` (epoch micros) as ``n_buckets``
        aggregate columns, for a ``DataFrame.observe`` on the write that
        commits a slice: the HWMs come out of that write with no pass of
        their own. Rows with a NULL ``ts`` advance nothing. One
        aggregate per bucket keeps the observed row — and the driver
        side of ``advance`` — bounded by ``n_buckets``, not by data
        size."""
        bucket = bucket_col(key, self.n_buckets)
        us = ts_micros(ts)
        return [
            F.max(F.when(bucket == b, us)).alias(f"__hwm_{b}")
            for b in range(self.n_buckets)
        ]

    def advance(
        self, stage: str, observed: dict, lineage: dict | None = None
    ) -> dict:
        """Raise each bucket's HWM to its maximum in ``observed`` (the
        values of ``hwm_metrics`` gathered during the commit's write)
        and persist, recording a run entry with lineage + metrics.
        Returns the run."""
        stage_state = self._state["stages"].setdefault(stage, {})
        advanced = 0
        for b in range(self.n_buckets):
            m = observed.get(f"__hwm_{b}")
            if m is not None:
                stage_state[str(b)] = max(int(m), int(stage_state.get(str(b), 0)))
                advanced += 1
        run = {
            "stage": stage,
            "buckets_advanced": advanced,
            **(lineage or {}),
        }
        self._state["runs"].append(run)
        self._save()
        return run

    def record_run(self, info: dict) -> None:
        self._state["runs"].append(info)
        self._save()

    def ensure_config(self, config_hash: str) -> bool:
        """Config-change trigger (O2): the reference re-executes an
        auto-process whenever its config is saved (models.py:67-70,
        tests/test_models.py:63-87). Batch analog: if the pipeline
        config hash changed, every HWM is reset so the next run
        reprocesses from the start (checkpoint invalidation). Returns
        True when an invalidation happened.

        Note: tier TABLES are append-only, so a config change implies
        the operator should also write to a fresh tier root or rely on
        last-snapshot-wins reads; the pipeline surfaces this by
        recording the invalidation in the run log.
        """
        stored = self._state.get("config_hash")
        if stored == config_hash:
            return False
        invalidated = bool(stored) and bool(self._state["stages"])
        if invalidated:
            self._state["runs"].append(
                {"event": "config_changed", "old": stored, "new": config_hash}
            )
            self._state["stages"] = {}
        self._state["config_hash"] = config_hash
        self._save()
        return invalidated
