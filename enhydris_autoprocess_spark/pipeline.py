"""Pipeline orchestration — the Spark lifecycle replacing the
reference's signal -> Celery -> execute() chain (E1 in SURVEY.md §3).

DAG per run (batch, ``availableNow``-style):

    transcripts (initial)
        -> checked                  (derive channel, checks, gap-fill)
        -> agg tiers                (regularize -> aggregate, per config)
        -> rollup 1min -> 1H -> 1D  (continuous aggregates)

Each stage: read HWM checkpoint -> incremental slice -> transform ->
commit, with lineage (source -> target snapshot) and throughput
metrics recorded on both the snapshot properties and the checkpoint
run log (north rule).

Commit protocol (``_commit``): one Spark action and one commit point
per stage, the tier's partitioned parquet write and its manifest
rename. Observations at the top of the written plan (its result stage,
so a retried task cannot count twice) gather the manifest's row count
and ts range (``TierTable.append``), one max-HWM per checkpoint bucket
(``CheckpointStore.hwm_metrics``) and the domain counters during the
write; then the manifest commits the data together with the stage's
advanced HWMs (its ``txn`` entry), and only then is the run logged. A
crash before the rename leaves the old data and HWMs, a crash after it
the new ones, so a re-run never appends a slice twice. An empty slice
commits no snapshot. Non-finalizing runs add one action per
rollup/quantile tier (``_emit_complete``).

Incremental contract (the reference's, coarsened): the reference reads
each series from ``target.end_date + 1min`` (models.py:61-65), i.e. it
assumes per-series event-time-monotone ingestion. Here the checkpoint
key is the hash-bucket of conv_id (per-partition checkpoints at
10^12-turn scale), so the contract is monotone ingestion per bucket:
a late row — at or below its bucket's HWM — is ignored by every stage,
exactly as the reference never reads before the target's end.
HWM advancement is stage-aware:

- ``checked``: max processed source ts per bucket, observed on the
  stage's own output turns — gap-fill's inserted grid rows carry a NULL
  conv_id and are skipped. A checked row is not final when gap-fill is
  on: a gap open at the slice's end is filled only once its right
  anchor arrives, but the row is already committed unfilled (the open
  slice-cut defect, ROADMAP direction 1: incremental ``checked`` and
  ``agg_*`` can differ from one-shot there);
- aggregated/rollup tiers: max EMITTED bucket-end per bucket — a
  trimmed (MISS) or boundary-incomplete bucket stays below the HWM, so
  its source rows are re-read and the bucket recomputed when more data
  arrives — the distributed generalization of the reference's
  trim-last-and-recompute (models.py:513-533).

Idempotence: re-running with no new source rows appends nothing
(mirrors "already-complete target yields empty",
tests/test_models.py:1021-1028).

Stream ingestion (``run_stream``): a ``foreachBatch`` query appends
each micro-batch to the ``initial`` tier (the reference's INITIAL
series), then runs the DAG over ``initial`` above the HWMs. The append
commits ``{"stream": <checkpoint location>, "batch_id": id}`` as the
table's ``txn`` (Delta's idempotent ``foreachBatch`` write), so a batch
Spark replays after a crash appends nothing again; the run that
follows finds only what the crash left undone. No watermark and no
state store: late rows follow the HWM contract above.

Rollups cascade: each coarse tier (1H, 1D) is rebuilt from the finer
*stored* tier above its own HWM, never from raw rows — the hierarchical
composition of coarse aggregates from finer ones.

Skew: aggregations are partial+final (map-side combine absorbs hot
conv_ids); the per-key serial stages — rocc's window sort and the
gap-fill kernel — are time-chunked for hot conversations
(``hot_chunk_span_seconds``, with ``skew.halo_chunks``): rocc always
chunks its JVM window; gap-fill runs keys spanning more than one chunk
as (key, chunk) groups of its one kernel, and every other key as one
group — see operators/rocc.py and gap_fill_auto.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .cache import release_caches
from .config import PipelineConfig
from .operators import aggregate, regularize, run_checks
from .operators.gapfill import gap_fill_auto
from .operators.regularize import mode_for_method
from .rollup import (
    bucket_end,
    quantile_rollup,
    quantile_rollup_auto,
    rollup_tier,
    rollup_transcripts,
)
from .schema import transcripts_to_series
from .storage import CheckpointStore, TierTable
from .timeutil import MICROS, parse_step


# check flags counted on every ``checked`` commit (snapshot properties
# and run log: ``flagged_<FLAG>``)
CHECKED_FLAGS = ("RANGE", "SUSPECT", "TEMPORAL", "DATEINSERT", "FILLED")


def await_or_stop(q, timeout_sec: int) -> None:
    """``awaitTermination`` that surfaces a timeout (ADVICE r04).

    ``StreamingQuery.awaitTermination(timeout)`` returns False on
    timeout with the query STILL RUNNING — ignoring it made a hung
    catch-up run look like success while the live stream kept holding
    the checkpoint lock. On timeout: stop the query, then raise."""
    if not q.awaitTermination(timeout_sec):
        try:
            q.stop()
        finally:
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish within "
                f"{timeout_sec}s; stopped"
            )
    # surface any terminal failure (awaitTermination(timeout) swallows
    # the exception path when called with a timeout on some versions)
    if q.exception() is not None:
        raise q.exception()


def _emit_complete(tier: DataFrame, source: DataFrame, step) -> DataFrame:
    """Keep the ``tier`` buckets (labelled by their end ``ts``) that end
    at or before ``source``'s last complete ``step`` boundary: a bucket
    that may still receive rows stays un-emitted and below the HWM (the
    rollup analog of trim-last). One Spark action on ``source``."""
    max_ts = source.agg(F.max(F.unix_micros("ts"))).first()[0]
    if max_ts is None:
        return tier
    boundary = (max_ts // step.micros) * step.micros
    return tier.where(F.unix_micros("ts") <= F.lit(boundary))


@dataclass
class StageResult:
    stage: str
    rows_out: int
    seconds: float
    snapshot_id: int | None

    @property
    def rows_per_sec(self) -> float:
        return self.rows_out / self.seconds if self.seconds > 0 else 0.0


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: PipelineConfig,
        channel: str = "text_len",
        n_buckets: int = 64,
        gap_fill_enabled: bool = True,
        max_gap_slots: int | None = 60,
        compress_tiers: bool = False,
        hot_chunk_span_seconds: int = 7 * 86400,
    ):
        """``hot_chunk_span_seconds``: the two per-key serial stages —
        the rate-of-change window sort and the gap-fill kernel — split
        hot conversations into time chunks of this span, so one
        conversation holding 1% of 10^12 turns is span/chunk parallel
        tasks, not one straggler. rocc always chunks (JVM window
        frames, ~free); gap-fill chunks only keys spanning more than
        one chunk (chunking costs a Spark-side grid join and halo
        copies the common case need not pay — see gap_fill_auto), and
        only when a chunk is wider than its ``max_gap_slots + 1`` halo.
        Output does not depend on the span — including on dirty input
        with off-grid or duplicate (key, ts) rows, where chunks elect
        the same slot winner via the (ts, value, flags) tie-break
        (pinned by tests) — so it is excluded from the config hash and
        changing it does not invalidate checkpoints.
        """
        self.spark = spark
        self.cfg = cfg
        self.channel = channel
        self.root = root
        # O2 config-change trigger (models.py:67-70): HWMs committed
        # under another config (or bucket count) are void, so affected
        # stages reprocess fully.
        cfg_repr = repr((cfg, channel, gap_fill_enabled, max_gap_slots, n_buckets))
        self.ckpt = CheckpointStore(
            root, n_buckets, hashlib.sha256(cfg_repr.encode()).hexdigest()[:16]
        )
        self.config_invalidated = self.ckpt.ensure_config(self.stages())
        self.tables: dict[str, TierTable] = {}
        self.gap_fill_enabled = gap_fill_enabled
        self.max_gap_slots = max_gap_slots
        self.compress_tiers = compress_tiers
        self.hot_chunk_span_seconds = hot_chunk_span_seconds

    def stages(self) -> list[str]:
        """The HWM-checkpointed stages a run commits, in run order."""
        return [
            "checked",
            *(f"agg_{a.target_time_step}_{a.method}" for a in self.cfg.aggregations),
            *(f"quantile_{q.target_time_step}" for q in self.cfg.quantile_rollups),
            "rollup_1min",
            "rollup_1H",
            "rollup_1D",
        ]

    def table(self, name: str) -> TierTable:
        if name not in self.tables:
            # days(ts) hidden partitioning on every tier (hypertable
            # analog, S6): incremental consumers prune whole day
            # directories via read(min_ts_us=...). Gorilla blob tiers
            # have no ts column; they partition by the chunk's END
            # timestamp (chunk_end_us) — a day directory then only
            # holds chunks whose every point precedes the next day, so
            # retention's __day= drops stay keep-side-safe even for
            # chunks straddling midnight.
            self.tables[name] = TierTable(
                os.path.join(self.root, name),
                partition_days_col=(
                    "chunk_end_us" if name.endswith("_gorilla") else "ts"
                ),
            )
        return self.tables[name]

    def _source_slice(
        self, source: str, stage: str, key_col: str
    ) -> DataFrame | None:
        """The rows of table ``source`` above ``stage``'s per-bucket
        HWMs (keyed by ``key_col``): a read pruned at their minimum,
        then ``CheckpointStore.filter_new``. None if nothing is left to
        read."""
        src = self.table(source).read(
            self.spark, min_ts_us=self.ckpt.global_min_hwm(stage)
        )
        return None if src is None else self.ckpt.filter_new(src, stage, key_col)

    # ------------------------------------------------------------------

    def _commit(
        self,
        stage: str,
        out_df: DataFrame,
        hwm_key: str,
        hwm_ts: Column,
        t0: float,
        lineage: dict,
        metrics: tuple[Column, ...] = (),
    ) -> StageResult:
        """Commit one stage slice by the module's commit protocol: the
        tier write observes the per-bucket max of ``hwm_ts`` keyed by
        ``hwm_key`` and the named aggregates ``metrics`` (domain
        counters, recorded on the snapshot and the run log)."""
        observed = Observation()
        out = out_df.observe(
            observed,
            *self.ckpt.hwm_metrics(F.col(hwm_key), hwm_ts),
            *metrics,
        )

        def counters() -> dict:
            return {
                k: v for k, v in observed.get.items() if not k.startswith("__hwm_")
            }

        def properties(rows: int) -> dict:
            elapsed = time.time() - t0
            return {
                **lineage,
                **counters(),
                "rows": rows,
                "seconds": round(elapsed, 3),
                "rows_per_sec": round(rows / max(elapsed, 1e-9), 1),
            }

        snap = self.table(stage).append(
            out,
            properties=properties,
            txn=lambda: self.ckpt.advance(stage, observed.get),
        )
        snapshot_id = snap.snapshot_id if snap.row_count else None
        self.ckpt.record_run(
            {
                "stage": stage,
                **lineage,
                **counters(),
                "snapshot": snapshot_id,
            }
        )
        return StageResult(
            stage,
            rows_out=snap.row_count,
            seconds=time.time() - t0,
            snapshot_id=snapshot_id,
        )

    # ------------------------------------------------------------------

    def run_checked(self, transcripts: DataFrame) -> StageResult:
        """initial -> checked: derive channel, run checks, optional
        gap-fill. HWM: processed source rows."""
        t0 = time.time()
        fresh = self.ckpt.filter_new(transcripts, "checked", key_col="conv_id")
        series = transcripts_to_series(fresh, channel=self.channel)
        checked = run_checks(
            series, self.cfg, chunk_span_seconds=self.hot_chunk_span_seconds
        )
        if self.gap_fill_enabled:
            step = parse_step(self.cfg.source_time_step)
            # conv_id/turn_idx ride through the gap-fill schema (extra
            # columns round-trip; inserted grid rows get them NULL) —
            # re-attaching them with a (key, ts) equi-join against the
            # checked output would re-shuffle the whole checked table
            # once more per run for nothing.
            narrow = checked.select(
                "key", "ts", "value", "flags", "conv_id", "turn_idx"
            )
            checked = gap_fill_auto(
                narrow,
                step,
                max_gap_slots=self.max_gap_slots,
                hot_span_slots=self.hot_chunk_span_seconds * MICROS // step.micros,
            )
        # HWM from the turns themselves (inserted grid rows carry a NULL
        # conv_id): every source turn passes through with its conv_id
        # and ts, so this equals the source slice's per-bucket max
        # without a second scan of the source
        res = self._commit(
            "checked",
            checked,
            "conv_id",
            F.when(F.col("conv_id").isNotNull(), F.col("ts")),
            t0,
            {"source": "transcripts"},
            metrics=tuple(
                F.count_if(F.col("flags").contains(flag)).alias(f"flagged_{flag}")
                for flag in CHECKED_FLAGS
            ),
        )
        release_caches(checked)
        return res

    def run_agg_tier(self, cfg_index: int = 0) -> StageResult:
        """checked -> aggregated tier (reference semantics:
        regularize -> aggregate -> trim). HWM: emitted bucket ends."""
        t0 = time.time()
        cfg = self.cfg.aggregations[cfg_index]
        stage = f"agg_{cfg.target_time_step}_{cfg.method}"
        fresh = self._source_slice("checked", stage, "key")
        if fresh is None:
            return StageResult(stage, 0, time.time() - t0, None)
        reg = regularize(
            fresh.select("key", "ts", "value", "flags"),
            parse_step(self.cfg.source_time_step),
            mode=mode_for_method(cfg.method),
        )
        # trim against the RAW slice end (models.py:470) — also avoids
        # recomputing the regularize subtree for a per-key max
        agg = aggregate(reg, cfg, self.cfg.source_time_step, source_df=fresh)
        # HWM = emitted bucket end = label + offset (models.py:527-529)
        hwm_ts = F.timestamp_micros(
            F.unix_micros(F.col("ts")) + F.lit(cfg.offset_minutes * 60 * MICROS)
        )
        res = self._commit(stage, agg, "key", hwm_ts, t0, {"source": "checked"})
        if self.compress_tiers:
            self._compress_tier(stage)
        return res

    def _compress_tier(self, stage: str) -> None:
        """Gorilla-compressed copy of ``stage`` (north-star tier
        storage): blobs per (key, chunk) with the flags array riding
        alongside — lossless round-trip pinned by
        tests/test_pipeline_storage.py. It compresses every ``stage``
        snapshot above the last one its table committed (its ``txn``),
        so a run after a crash between the two commits catches up."""
        from .storage.gorilla import compress_series

        t0 = time.time()
        gorilla = self.table(f"{stage}_gorilla")
        done = gorilla.manifest.txn().get("source_snapshot", 0)
        newest = self.table(stage).current_snapshot()
        if newest is None or newest.snapshot_id <= done:
            return
        fresh = self.table(stage).read(self.spark, after_snapshot=done)
        gorilla.append(
            compress_series(fresh, flags_col="flags"),
            # a function, so the time is taken after the write
            properties=lambda rows: {
                "source": stage,
                "source_snapshot": newest.snapshot_id,
                "seconds": round(time.time() - t0, 3),
            },
            txn={"source_snapshot": newest.snapshot_id},
        )

    def run_quantile_tier(
        self, cfg_index: int = 0, finalize: bool = True
    ) -> StageResult:
        """checked -> per-(key, bucket) quantile tier
        (``QuantileRollupConfig``; VERDICT r05 #4 — the auto routing
        existed but nothing exposed it declaratively).

        With ``hot_count_threshold`` set the tier runs through
        ``quantile_rollup_auto``: hot (key, bucket) groups use the
        mergeable sketch, cold groups stay bit-exact. HWM: emitted
        bucket ends — quantiles do NOT compose across slices, so a
        bucket that may still receive rows is held back (``finalize=
        False`` trims at the last complete bucket boundary) and
        recomputed from the re-read source rows when more data
        arrives, exactly like the agg tiers' trim-last contract.
        NaN/NULL values (check-rejected points) are excluded: the
        quantile of a bucket is over its PRESENT values."""
        t0 = time.time()
        cfg = self.cfg.quantile_rollups[cfg_index]
        stage = f"quantile_{cfg.target_time_step}"
        fresh = self._source_slice("checked", stage, "key")
        if fresh is None:
            return StageResult(stage, 0, time.time() - t0, None)
        step = parse_step(cfg.target_time_step)
        bucketed = fresh.where(
            F.col("value").isNotNull() & ~F.isnan("value")
        ).select("key", bucket_end(F.col("ts"), step).alias("ts"), "value")
        if not finalize:
            bucketed = _emit_complete(bucketed, fresh, step)
        if cfg.hot_count_threshold is not None:
            out = quantile_rollup_auto(
                bucketed,
                ("key", "ts"),
                "value",
                cfg.quantiles,
                hot_count_threshold=cfg.hot_count_threshold,
                accuracy=cfg.accuracy,
            )
        else:
            out = quantile_rollup(bucketed, ("key", "ts"), "value", cfg.quantiles)
        res = self._commit(
            stage, out, "key", F.col("ts"), t0, {"source": "checked"}
        )
        release_caches(out)
        return res

    def run_rollups(
        self, transcripts: DataFrame, finalize: bool = False
    ) -> list[StageResult]:
        """Continuous-aggregate tiers 1min -> 1H -> 1D.

        Unless ``finalize``, each tier only emits buckets ending at or
        before the slice's last complete bucket boundary, so a bucket
        that may still receive rows stays un-emitted and below the HWM
        (the rollup analog of trim-last)."""
        results = []

        # --- 1min: directly from the fresh transcript slice ---------------
        t0 = time.time()
        fresh = self.ckpt.filter_new(transcripts, "rollup_1min", key_col="conv_id")
        step_1min = parse_step("1min")
        if not finalize:
            # read twice: the slice's last complete minute, then the rollup
            fresh = fresh.persist()
            t1min = _emit_complete(
                rollup_transcripts(fresh, step_1min), fresh, step_1min
            )
        else:
            t1min = rollup_transcripts(fresh, step_1min)
        results.append(
            self._commit(
                "rollup_1min", t1min, "conv_id", F.col("ts"), t0,
                {"source": "transcripts"},
            )
        )
        fresh.unpersist()

        # --- coarser tiers: incremental over the FULL finer tier table ----
        # A coarse bucket can span finer rows emitted by earlier runs, so
        # each coarse tier consumes the finer tier above its own HWM
        # (finer rows of un-emitted coarse buckets are exactly the rows
        # above it).
        for tier_step, source_name in (("1H", "rollup_1min"), ("1D", "rollup_1H")):
            t0 = time.time()
            stage = f"rollup_{tier_step}"
            step = parse_step(tier_step)
            finer_fresh = self._source_slice(source_name, stage, "conv_id")
            if finer_fresh is None:
                results.append(StageResult(stage, 0, time.time() - t0, None))
                continue
            tier = rollup_tier(finer_fresh, step)
            if not finalize:
                tier = _emit_complete(tier, finer_fresh, step)
            results.append(
                self._commit(
                    stage, tier, "conv_id", F.col("ts"), t0, {"source": source_name}
                )
            )
        return results

    def run(
        self, transcripts: DataFrame, finalize: bool = True
    ) -> list[StageResult]:
        """Full DAG for one batch of uploads."""
        results = [self.run_checked(transcripts)]
        for i in range(len(self.cfg.aggregations)):
            results.append(self.run_agg_tier(i))
        for i in range(len(self.cfg.quantile_rollups)):
            results.append(self.run_quantile_tier(i, finalize=finalize))
        results.extend(self.run_rollups(transcripts, finalize=finalize))
        return results

    def run_stream(
        self, stream: DataFrame, checkpoint_dir: str, timeout_sec: int = 300
    ) -> None:
        """Drive the DAG from a transcript ``stream`` (module docstring,
        stream ingestion): an ``availableNow`` ``foreachBatch`` query,
        resumable from ``checkpoint_dir``, that raises if it has not
        finished within ``timeout_sec``. Each micro-batch appends its
        rows to ``initial`` unless this checkpoint location already
        committed this batch id or a later one, then runs the DAG with
        ``finalize=False`` — on a replay too, as a crash can fall
        between the two. Late rows and config changes behave as in
        batch runs: a new config reprocesses from ``initial``.
        ``initial`` expires under a ``RetentionPolicy`` like any tier;
        expiring rows still above a stage's HWM loses them for it."""
        initial = self.table("initial")

        def run_batch(rows: DataFrame, batch_id: int) -> None:
            done = initial.manifest.txn()
            if done.get("stream") != checkpoint_dir or done["batch_id"] < batch_id:
                initial.append(
                    rows, txn={"stream": checkpoint_dir, "batch_id": batch_id}
                )
            hwms = [self.ckpt.global_min_hwm(s) for s in ("checked", "rollup_1min")]
            fresh = initial.read(
                self.spark, min_ts_us=None if None in hwms else min(hwms)
            )
            if fresh is not None:
                self.run(fresh, finalize=False)

        q = (
            stream.writeStream.foreachBatch(run_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_or_stop(q, timeout_sec)

    def apply_retention(self, policy, now_us: int) -> dict:
        """Enforce a per-tier retention ladder (e.g. checked: days,
        rollup_1min: weeks, rollup_1H: years, rollup_1D: forever) —
        day-granular chunk drops, see storage/retention.py. Recorded in
        the run log for lineage."""
        from .storage.retention import enforce

        results = enforce(self.root, policy, now_us)
        self.ckpt.record_run({"event": "retention", "results": results})
        return results
