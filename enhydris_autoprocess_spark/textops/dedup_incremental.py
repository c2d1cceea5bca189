"""Persistent, append-only MinHash/LSH dedup index.

The one-shot ``minhash_dedup_pairs`` answers "which near-duplicate
pairs exist in this corpus"; a 100 TB training-data pipeline almost
never asks that. It asks the INCREMENTAL question: a new crawl batch
arrives — which of its documents duplicate anything already ingested
(or each other)? Re-running the one-shot join re-scans and re-shuffles
the whole historical corpus for every batch; the index makes each
batch's cost proportional to the batch.

Design (mirrors the repo's tier-table storage discipline):

    <root>/manifest.jsonl            one JSON line per committed batch
    <root>/data/snap-N-xxxx/sig/     parquet (id, sig array<long>)
    <root>/data/snap-N-xxxx/bkt/     parquet (band, bucket, id)

Commit protocol is the same as ``storage/tier_table.py``'s, through its
``Manifest``: data files first, then ``Manifest.commit`` (write-temp +
atomic rename), and only then the deletes of superseded directories.
A crashed half-written batch directory is invisible to readers. One
manifest covers both stores, so a batch's signatures and buckets
commit together. Snapshot isolation is by construction — ``append``
captures the committed snapshot paths BEFORE writing its own batch, so
the (lazy) returned pair frame never sees the batch it just indexed.

Scale notes (100 TB):
- signatures are stored ONCE per doc (~0.5 KB at 64 hashes); the
  bucket table carries only (band, bucket, id) — the 16x-per-doc
  exploded rows stay 3 skinny columns instead of duplicating the
  signature per band.
- the batch-vs-index candidate join keys on (band, bucket); the new
  batch's banded frame is broadcast (a crawl batch is small next to
  the corpus), so the historical bucket table is scanned ONCE, never
  shuffled. With the bucket parquet laid out by bucket ranges an
  engine with real file statistics also prunes most of that scan;
  locally the scan is the cost model's upper bound.
- verification fetches signatures only for candidate ids: the pair
  frame is joined back to the signature store on id, which AQE
  converts to a broadcast join when the candidate set is small
  (the common case — candidates are bucket collisions, not the
  corpus).

Reference parity note: the reference app (enhydris_autoprocess) has no
dedup; this module belongs to the task brief's training-data-pipeline
surface, composing the same kernels as textops/dedup.py.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..cache import carry_caches
from ..storage.tier_table import Manifest, Snapshot
from .dedup import lsh_banded, minhash_signature_fast, sig_agreement


def _batch_keys(s: Snapshot) -> list:
    """The batch keys snapshot ``s`` committed: its own, then those of
    the snapshots compacted into it."""
    own = [s.properties["batch_key"]] if "batch_key" in s.properties else []
    return own + s.properties.get("batch_keys", [])


class MinHashIndex:
    """Append-only LSH dedup index over (id, text) documents.

    ``append(batch)`` returns the near-duplicate pairs the batch
    creates — batch-vs-corpus and batch-vs-batch — and commits the
    batch's signatures + band buckets to the index. Banding and
    signatures are exactly ``minhash_dedup_pairs``'s, so the union of
    pairs over any batch split equals the one-shot answer over the
    full corpus (pinned by tests/test_dedup_incremental.py).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_k: int = 3,
        threshold: float = 0.7,
        seed: int = 1,
        id_type: str = "string",
    ):
        if num_hashes % bands:
            raise ValueError("num_hashes must be divisible by bands")
        self.spark = spark
        self.root = root
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_k = shingle_k
        self.threshold = threshold
        self.seed = seed
        self._sig_ddl = f"id {id_type}, sig array<long>"
        self._bkt_ddl = f"band int, bucket long, id {id_type}"
        self.manifest = Manifest(root)

    def snapshots(self) -> list[Snapshot]:
        return self.manifest.snapshots()

    def _committed(self, snaps: list[Snapshot], sub: str, ddl: str) -> DataFrame:
        dirs = [os.path.join(s.data_dir, sub) for s in snaps]
        if not dirs:
            return self.spark.createDataFrame([], ddl)
        return self.spark.read.schema(ddl).parquet(*dirs)

    # -- the operator ------------------------------------------------
    def append(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_key: str | None = None,
    ) -> DataFrame:
        """Index a batch; return its near-duplicate pairs.

        Output columns: id_a < id_b, est_jaccard — identical contract
        to ``minhash_dedup_pairs``. The returned frame is lazy and
        snapshot-isolated (it reads only pre-append snapshot paths);
        the batch itself is committed before this returns. Persisted
        intermediates are attached — release with
        ``cache.release_caches(out)`` after materializing.

        ``batch_key``: optional idempotence guard recorded in the
        manifest; re-submitting a committed key raises (the caller's
        checkpoint should have consumed the previous result).
        """
        snaps = self.snapshots()
        if batch_key is not None and any(batch_key in _batch_keys(s) for s in snaps):
            raise ValueError(f"batch_key already committed: {batch_key}")

        with_sig = docs.select(
            F.col(id_col).alias("id"),
            minhash_signature_fast(
                F.col(text_col), self.num_hashes, self.shingle_k, self.seed
            ).alias("sig"),
        ).persist()
        banded = lsh_banded(with_sig, self.num_hashes, self.bands)

        # batch-vs-batch: the one-shot self-join shape
        a, b = banded.alias("a"), banded.alias("b")
        intra = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )

        # batch-vs-corpus: broadcast the batch's banded rows against
        # the committed bucket table (one corpus scan, zero corpus
        # shuffle), then fetch the colliding old ids' signatures.
        if snaps:
            old_bkt = self._committed(snaps, "bkt", self._bkt_ddl).alias("o")
            new_bkt = F.broadcast(
                banded.select("id", "band", "bucket")
            ).alias("n")
            cross_ids = (
                old_bkt.join(
                    new_bkt,
                    (F.col("o.band") == F.col("n.band"))
                    & (F.col("o.bucket") == F.col("n.bucket")),
                )
                .select(
                    F.col("o.id").alias("old_id"),
                    F.col("n.id").alias("new_id"),
                )
                .dropDuplicates(["old_id", "new_id"])
            )
            old_sig = self._committed(snaps, "sig", self._sig_ddl)
            cross = (
                cross_ids.join(
                    old_sig.withColumnsRenamed(
                        {"id": "old_id", "sig": "old_sig"}
                    ),
                    "old_id",
                )
                .join(
                    with_sig.withColumnsRenamed(
                        {"id": "new_id", "sig": "new_sig"}
                    ),
                    "new_id",
                )
                .select(
                    F.least("old_id", "new_id").alias("id_a"),
                    F.greatest("old_id", "new_id").alias("id_b"),
                    F.col("old_sig").alias("sig_a"),
                    F.col("new_sig").alias("sig_b"),
                )
            )
            cand = intra.unionByName(cross)
        else:
            cand = intra

        est = sig_agreement("sig_a", "sig_b", self.num_hashes).alias(
            "est_jaccard"
        )
        pairs = cand.select("id_a", "id_b", est).where(
            F.col("est_jaccard") >= self.threshold
        )

        # -- commit (data first, manifest last; tier_table protocol) --
        sid = self.manifest.next_id()
        data_dir = self.manifest.new_data_dir(sid)
        observed = Observation()
        with_sig.observe(observed, F.count(F.lit(1)).alias("rows")).write.mode(
            "errorifexists"
        ).parquet(os.path.join(data_dir, "sig"))
        banded.select("band", "bucket", "id").write.mode(
            "errorifexists"
        ).parquet(os.path.join(data_dir, "bkt"))
        props = {"committed_at": time.time()}
        if batch_key is not None:
            props["batch_key"] = batch_key
        snap = Snapshot(
            sid,
            snaps[-1].snapshot_id if snaps else None,
            data_dir,
            int(observed.get["rows"]),
            props,
        )
        self.manifest.commit([*snaps, snap])

        return carry_caches(pairs, with_sig)

    def compact(self, min_snapshots: int = 2) -> int:
        """Rewrite all committed batch snapshots as ONE: daily crawl batches
        leave one snapshot directory each, and ``_committed`` reads
        grow a file-listing + small-file tax per batch — at 10^5
        batches the candidate join's scan is dominated by open costs,
        not bytes. Compaction is pure data movement: the same rows,
        one directory, so results are unchanged (pinned by tests).

        Returns the number of snapshots compacted (0 = below
        ``min_snapshots``, nothing done). The superseded data
        directories are deleted after the manifest commit (readers
        holding pre-commit plans should finish first — same caveat as
        Iceberg snapshot expiration)."""
        snaps = self.snapshots()
        if len(snaps) < min_snapshots:
            self.manifest.vacuum()  # what an earlier crashed run left
            return 0
        sid = self.manifest.next_id()
        data_dir = self.manifest.new_data_dir(sid)
        sig = self._committed(snaps, "sig", self._sig_ddl)
        bkt = self._committed(snaps, "bkt", self._bkt_ddl)
        sig.write.mode("errorifexists").parquet(os.path.join(data_dir, "sig"))
        bkt.write.mode("errorifexists").parquet(os.path.join(data_dir, "bkt"))
        rows = sum(s.row_count for s in snaps)
        merged = Snapshot(
            sid,
            snaps[-1].snapshot_id,
            data_dir,
            rows,
            {
                "committed_at": time.time(),
                "compacted_from": [s.snapshot_id for s in snaps],
                # every batch key, so the idempotence guard keeps
                # rejecting re-submitted batches after compaction
                "batch_keys": [k for s in snaps for k in _batch_keys(s)],
            },
        )
        self.manifest.commit([merged], then_delete=[s.data_dir for s in snaps])
        return len(snaps)
