"""Deduplication operators for training-data pipelines (task brief:
first-class components alongside the reference operators).

All operators work on a documents-shaped frame (id_col, text_col) and
avoid per-row Python: hashing/shingling is built-in-function only;
MinHash uses the affine-over-xxhash64 trick entirely in column space.

Scale notes (100 TB):
- exact_dedup: one hash-groupBy; map-side combine collapses
  duplicates early, shuffle carries one row per (hash, doc).
- minhash: signatures computed scan-side (no shuffle); the LSH
  band-bucket join shuffles only (band, bucket-hash) pairs — rows per
  doc = n_bands, and the self-join runs on the tiny candidate buckets
  (AQE skew-split handles degenerate buckets; identical-text floods
  should be removed by exact_dedup first).
- simhash: 64-bit fingerprint scan-side; banding on 4x16-bit chunks
  for candidate generation (Hamming<=k lookup), verify by popcount.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..cache import carry_caches

# Mersenne prime 2^31-1: keeps a*h+b inside int64 (ANSI mode), since
# (h mod p) * a < 2^62 for a,h < 2^31
_MERSENNE = (1 << 31) - 1


def _normalize(text: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by md5(normalized text).

    Output: id, content_hash, dup_of (smallest id with same hash; null
    for the canonical keeper), group_size.
    """
    h = F.md5(_normalize(F.col(text_col)))
    w = Window.partitionBy("content_hash")
    out = (
        df.select(F.col(id_col), h.alias("content_hash"))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("keeper", F.min(id_col).over(w))
        .withColumn(
            "dup_of",
            F.when(F.col(id_col) != F.col("keeper"), F.col("keeper")),
        )
        .drop("keeper")
    )
    return out


def _shingles(text: Column, k: int) -> Column:
    """k-word shingles of the normalized text (distinct)."""
    words = F.split(_normalize(text), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.array_join(F.slice(words, i + 1, k), " ")
        )
    )


def minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rnd = _SplitMix(seed)
    return [
        (rnd.next() % (_MERSENNE - 1) + 1, rnd.next() % _MERSENNE)
        for _ in range(num_hashes)
    ]


def minhash_signature_fast(
    text: Column, num_hashes: int = 64, shingle_k: int = 3, seed: int = 1
) -> Column:
    """One-UDF minhash: normalized split stays JVM/codegen; everything
    per-element moves into a single Arrow batch kernel.

    Spark's higher-order lambdas (slice/array_join/xxhash64 per
    shingle) are interpreted ~2µs/element — several seconds per
    million shingles. Here word hashing is one vectorized
    ``pd.util.hash_array`` over the batch's flattened words
    (deterministic SipHash-style, fixed key), shingle hashes are a
    rolling polynomial combine of k consecutive word hashes (numpy,
    no string materialization), and the signature is the (shingles ×
    perms) outer-product min: sig[j] = min over shingles of
    (a_j*h + b_j) mod p, all values < 2^62, inside int64. MinHash
    needs SET semantics but min over a multiset equals min over its
    set, so no distinct pass is needed.
    """
    params = minhash_params(num_hashes, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)
    b = np.array([p[1] for p in params], dtype=np.int64)
    empty = np.zeros(num_hashes, dtype=np.int64)
    k = shingle_k

    @pandas_udf("array<long>")
    def mh(wcol: pd.Series) -> pd.Series:
        ndocs = len(wcol)
        lens = np.array(
            [len(w) if w is not None else 0 for w in wcol], dtype=np.int64
        )
        if lens.sum() == 0:
            return pd.Series([empty] * ndocs)
        flat = np.concatenate(
            [np.asarray(w, dtype=object) for w in wcol if w is not None and len(w)]
        )
        # hash UNIQUE words then gather (bit-identical: the hash is
        # content-only) — ``astype("U")`` materializes a fixed-width
        # copy of every occurrence and dominated the kernel (measured
        # 11.7s direct vs 0.19s factorize+gather on 2M words); natural
        # text repeats words heavily, so uniques << occurrences
        codes, uniq = pd.factorize(flat)
        wh = (
            pd.util.hash_array(np.asarray(uniq, dtype=object).astype("U"))
            .view(np.int64)[codes]
            % _MERSENNE
        ).astype(np.int64)
        # FLAT rolling polynomial (no per-doc loop):
        # sh[i] = sum_j wh[i+j]*C^(k-1-j) mod p, truncated at doc ends
        # for docs shorter than k (their single shingle covers all
        # their words). For docs with >= k words this matches the old
        # per-doc kernel exactly; for SHORTER docs the old code used
        # exact big-int accumulation, so their signature values changed
        # with this kernel (self-consistent within a run; Jaccard
        # estimates equivalent — do not compare against signatures
        # persisted by the pre-flat release).
        C = 1_000_003
        ends = np.cumsum(lens)
        starts = ends - lens
        m = np.maximum(lens - k + 1, (lens > 0).astype(np.int64))
        sh_ends = np.cumsum(m)
        sh_starts = sh_ends - m
        total = int(sh_ends[-1])
        base = np.repeat(starts, m) + np.arange(total) - np.repeat(sh_starts, m)
        doc_end = np.repeat(ends, m)
        sh = np.zeros(total, dtype=np.int64)
        for j in range(k):
            idx = base + j
            valid = idx < doc_end
            contrib = wh[np.minimum(idx, len(wh) - 1)]
            sh = np.where(valid, (sh * C + contrib) % _MERSENNE, sh)
        # per-doc min over the (shingles x perms) affine hashes, chunked
        # so the outer-product stays a few MB per pass
        sigs = np.zeros((ndocs, num_hashes), dtype=np.int64)
        with_sh = np.flatnonzero(m > 0)  # doc ids present in sh
        doc_sh_starts = sh_starts[with_sh]
        CH = 256
        for ci in range(0, len(with_sh), CH):
            cj = min(ci + CH, len(with_sh))
            lo = int(doc_sh_starts[ci])
            hi = int(sh_ends[with_sh[cj - 1]])
            block = (
                sh[lo:hi, None] * a[None, :] + b[None, :]
            ) % _MERSENNE
            sigs[with_sh[ci:cj]] = np.minimum.reduceat(
                block, doc_sh_starts[ci:cj] - lo, axis=0
            )
        out = np.empty(ndocs, dtype=object)
        out[:] = list(sigs)
        return pd.Series(out)

    words = F.split(_normalize(text), " ")
    return mh(words)


def _min_scan_partitions(df: DataFrame) -> DataFrame:
    """Raise partition count to the session's default parallelism when
    the source scan collapsed below it (guide §2.5 "input skew: one
    huge unsplittable file"): the driver's tables are single-row-group
    parquet files, so every per-doc Arrow kernel downstream would run
    in ONE task no matter how many cores the session has. One cheap
    round-robin shuffle of the raw rows buys full-width parallelism for
    the expensive kernels; already-wide inputs pass through untouched
    (never shrinks, so cluster-scale inputs keep their layout)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_POP_M1 = np.uint64(0x5555555555555555)
_POP_M2 = np.uint64(0x3333333333333333)
_POP_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_POP_H01 = np.uint64(0x0101010101010101)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit popcount (SWAR; numpy<2 has no bitwise_count)."""
    one, two, four, s56 = (np.uint64(1), np.uint64(2), np.uint64(4), np.uint64(56))
    with np.errstate(over="ignore"):
        x = x - ((x >> one) & _POP_M1)
        x = (x & _POP_M2) + ((x >> two) & _POP_M2)
        x = (x + (x >> four)) & _POP_M4
        return (x * _POP_H01) >> s56


class _SplitMix:
    """Deterministic 64-bit stream (SplitMix64) for permutation params."""

    def __init__(self, seed: int):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self) -> int:
        self.state = (self.state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = self.state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.7,
    seed: int = 1,
    est_filter: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding, then
    exact signature-similarity filter.

    Output: id_a < id_b, est_jaccard (fraction of matching minhashes).
    The persisted signature frame is attached to the result — release
    with ``cache.release_caches(out)`` after materializing.

    ``est_filter=False`` returns the raw banding candidates
    (id_a, id_b only, no est_jaccard column, ``threshold`` ignored)
    and skips the signature re-attach stage AND the signature cache —
    for callers that re-verify candidates with an exact measure
    anyway (the driver's minhash_dedup gate does exact
    shingle-Jaccard at the same threshold). The estimate is a noisy,
    different measure — a pair with exact Jaccard >= threshold can
    estimate below it — so dropping the filter is not
    output-identical: the candidates form a superset and the exact
    filter is unchanged, so the verified output can only grow toward
    the all-pairs answer, and the two broadcast-attach jobs are
    gone."""
    # widen the scan BEFORE the signature kernel: the driver's corpus
    # is a single-row-group parquet file, which would serialize the
    # Arrow kernel on one core (guide §2.5 "input skew"; measured
    # 9.2s -> 2.4s at 50k docs on local[32])
    with_sig = _min_scan_partitions(df).select(
        F.col(id_col).alias("id"),
        minhash_signature_fast(F.col(text_col), num_hashes, shingle_k, seed).alias(
            "sig"
        ),
    )
    if est_filter:
        # cached only when the attach stage below re-reads it
        with_sig = with_sig.persist()

    banded = lsh_banded(with_sig, num_hashes, bands)

    # Self-join on (id, band, bucket) ONLY — the previous release
    # carried the 64-long signature array on BOTH sides of the join
    # and sort-aggregated pair rows holding two full signatures
    # (guide §2.3 "shuffle keys and metadata instead of payloads").
    # The deduped candidate pair set is tiny (LSH buckets are
    # near-unique away from true near-dups), so signatures re-attach
    # afterwards by broadcasting the PAIRS against the cached
    # signature frame — the corpus-side cache is scanned, never
    # shuffled (the batch-vs-corpus idiom of dedup_incremental.py).
    # pair generation via one groupBy + in-bucket expansion instead of
    # a sort-merge self-join: one exchange of (id, band, bucket) rows,
    # and only buckets with >= 2 members (rare away from true
    # near-dups) expand — measured ~1.15s -> ~0.8s at 50k docs
    bb = banded.select("id", "band", "bucket")
    pair_ids = (
        bb.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .where(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, x -> "
                    "transform(filter(ids, y -> y > x), "
                    "y -> named_struct('id_a', x, 'id_b', y))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if not est_filter:
        return pair_ids
    half = (
        with_sig.withColumnRenamed("sig", "sig_a")
        .join(F.broadcast(pair_ids), F.col("id") == F.col("id_a"))
        .drop("id")
    )
    cand = (
        with_sig.withColumnRenamed("sig", "sig_b")
        .join(F.broadcast(half), F.col("id") == F.col("id_b"))
        .drop("id")
    )
    est = sig_agreement("sig_a", "sig_b", num_hashes).alias("est_jaccard")
    out = cand.select("id_a", "id_b", est).where(F.col("est_jaccard") >= threshold)
    return carry_caches(out, with_sig)


def lsh_banded(
    with_sig: DataFrame,
    num_hashes: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Explode an (id, sig) frame to one row per (id, band) with the
    band's bucket hash: bucket = xxhash64 of that band's signature
    slice. Shared by the one-shot LSH self-join, the persistent
    incremental index (dedup_incremental.py), and the streaming
    near-dup monitor (streaming/neardup_stream.py) — all three must
    band identically for cross-batch candidates to collide.

    ``carry``: extra columns to keep through the explode (the
    streaming caller carries its event-time column for the
    watermark).

    Round 7: the bucket hashes the band's signature longs DIRECTLY
    (multi-argument xxhash64) instead of hashing a comma-joined string
    of them — same collision structure (same tuple in, same bucket
    out), no per-row string materialization (bands strings per doc).
    Bucket VALUES change: an index or streaming state persisted by a
    pre-round-7 release must be rebuilt, as its buckets no longer
    collide with newly banded rows."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at("sig", b * rows_per_band + r + 1)
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
        )
    return with_sig.select(
        "id", "sig", *carry, F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", "sig", *carry, "bb.band", "bb.bucket")


def sig_agreement(sig_a, sig_b, num_hashes: int) -> Column:
    """Estimated Jaccard: fraction of agreeing minhash components."""
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)


def _simhash_fp_fast(text: Column, shingle_k: int) -> Column:
    """64-bit SimHash fingerprint straight from text, in ONE Arrow
    batch kernel (the same shape as ``minhash_signature_fast``).

    Only the whitespace split stays JVM-side; word hashing is one
    vectorized ``pd.util.hash_array`` over the batch's flattened words,
    shingle hashes are a rolling polynomial combine of k consecutive
    word hashes widened back to 64 bits by a SplitMix64 finalizer (the
    per-bit vote needs well-mixed HIGH bits too), DISTINCT shingles via
    np.unique (simhash is a set vote — a repeated shingle must not
    vote twice), and the per-bit majority vote is a numpy popcount-
    style reduction. Replaces interpreted per-shingle HOF lambdas
    (slice/array_join/xxhash64, ~2µs/element) AND the 64 interpreted
    ``F.aggregate`` vote passes the round-1 verdict flagged. Per-doc
    numpy work is a (n_shingles x 64) uint8 matrix — small per row, so
    the batch loop stays allocation-friendly on this host.
    """
    k = shingle_k
    shifts = np.arange(64, dtype=np.uint64)
    C = np.uint64(0x9E3779B97F4A7C15)  # odd multiplier for the rolling poly

    def _mix(z: np.ndarray) -> np.ndarray:
        # SplitMix64 finalizer: full-width avalanche over uint64
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    @pandas_udf("long")
    def fp(wcol: pd.Series) -> pd.Series:
        ndocs = len(wcol)
        out = np.zeros(ndocs, dtype=np.uint64)
        lens = np.array(
            [len(w) if w is not None else 0 for w in wcol], dtype=np.int64
        )
        if lens.sum() == 0:
            return pd.Series(out.view(np.int64))
        flat = np.concatenate(
            [np.asarray(w, dtype=object) for w in wcol if w is not None and len(w)]
        )
        with np.errstate(over="ignore"):
            # unique-then-gather, same trick as minhash_signature_fast
            codes, uniq = pd.factorize(flat)
            wh = pd.util.hash_array(
                np.asarray(uniq, dtype=object).astype("U")
            ).astype(np.uint64)[codes]
            ends = np.cumsum(lens)
            starts = ends - lens
            # FLAT shingle construction, no per-doc loop: shingle s of
            # doc d starts at word starts[d]+s; docs shorter than k get
            # one truncated shingle (mask ends the poly at the doc end,
            # matching the scalar kernel's n<=k branch).
            m = np.maximum(lens - k + 1, (lens > 0).astype(np.int64))
            sh_ends = np.cumsum(m)
            sh_starts = sh_ends - m
            total = int(sh_ends[-1])
            doc_of = np.repeat(np.arange(ndocs), m)
            base = (
                np.repeat(starts, m)
                + np.arange(total)
                - np.repeat(sh_starts, m)
            )
            doc_end = np.repeat(ends, m)
            sh = np.zeros(total, dtype=np.uint64)
            for j in range(k):
                idx = base + j
                valid = idx < doc_end
                contrib = wh[np.minimum(idx, len(wh) - 1)]
                sh = np.where(valid, sh * C + contrib, sh)
            sh = _mix(sh)
            # per-doc DISTINCT shingles (set vote semantics): one
            # lexsort + neighbor mask instead of np.unique per doc
            order = np.lexsort((sh, doc_of))
            sh_s, d_s = sh[order], doc_of[order]
            keep = np.r_[True, (sh_s[1:] != sh_s[:-1]) | (d_s[1:] != d_s[:-1])]
            sh_u, d_u = sh_s[keep], d_s[keep]
            seg_starts = np.r_[0, np.flatnonzero(d_u[1:] != d_u[:-1]) + 1]
            seg_docs = d_u[seg_starts]
            seg_lens = np.diff(np.r_[seg_starts, len(d_u)])
            # per-bit majority votes: unpacked bit matrix + one reduceat
            # per ~256-doc chunk (keeps the fresh bit matrix small; big
            # first-touch allocations are slow on this host)
            CH = 256
            for a in range(0, len(seg_starts), CH):
                b = min(a + CH, len(seg_starts))
                lo = int(seg_starts[a])
                hi = int(seg_starts[b]) if b < len(seg_starts) else len(d_u)
                bits = (
                    np.unpackbits(sh_u[lo:hi].astype(">u8").view(np.uint8))
                    .reshape(-1, 64)
                    .astype(np.int32)
                )
                sums = np.add.reduceat(bits, seg_starts[a:b] - lo, axis=0)
                votes = 2 * sums - seg_lens[a:b, None]
                fpbits = (votes > 0).astype(np.uint64)
                # unpackbits is MSB-first: matrix column j is bit 63-j
                out[seg_docs[a:b]] = np.bitwise_or.reduce(
                    fpbits << shifts[None, ::-1], axis=1
                )
        return pd.Series(out.view(np.int64))

    words = F.split(_normalize(text), " ")
    return fp(words)


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 2,
) -> DataFrame:
    """SimHash (64-bit) near-dup candidates via pigeonhole band blocking.

    Features are distinct ``shingle_k``-word shingles (default bigrams):
    unigram features make every same-vocabulary document hash close —
    on a 500-doc shared-vocab corpus unigrams yielded ~8k "near-dup"
    pairs where bigrams yield only the planted ones. ``shingle_k=1``
    recovers bag-of-words simhash.

    Blocking splits the fingerprint into ``max_hamming + 1`` blocks, so
    any pair within the radius shares at least one whole block
    (pigeonhole) — exact for ANY radius, not just 3. Wider radii mean
    narrower blocks and bigger candidate sets (the scale trade-off:
    at 64/(k+1) bits per block, expect ~n²/2^(64/(k+1)) candidates per
    block at n docs); keep max_hamming <= 3 for web-scale corpora.
    Candidates verify by popcount. Output: id_a < id_b, hamming.
    (No cached intermediates since round 7: the fingerprint frame has a
    single consumer — the per-bucket pair kernel — so nothing needs
    persisting or releasing.)
    """
    # repartition before the fingerprint kernel: the driver's corpus is
    # one unsplittable row group, which would serialize the Arrow
    # kernel on a single core (guide §2.5)
    base = _min_scan_partitions(df).select(
        F.col(id_col).alias("id"),
        _simhash_fp_fast(F.col(text_col), shingle_k).alias("fp"),
    )

    if max_hamming > 15:
        # 16 blocks over 64 bits is the widest split where pigeonhole
        # completeness still holds for max_hamming + 1 blocks; beyond
        # that the blocking would silently miss qualifying pairs.
        raise ValueError(
            f"max_hamming={max_hamming} exceeds 15, the largest radius "
            "for which pigeonhole blocking over 64-bit fingerprints is "
            "complete (needs max_hamming + 1 <= 16 blocks)"
        )
    n_blocks = max_hamming + 1
    base_w, extra = divmod(64, n_blocks)
    widths = [base_w + (1 if i < extra else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def _chunk(i: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("fp"), offsets[i])
        if widths[i] >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << widths[i]) - 1))

    blocks = F.array(
        *[
            F.struct(F.lit(i).alias("block"), _chunk(i).alias("chunk"))
            for i in range(n_blocks)
        ]
    )
    banded = base.select("id", "fp", F.explode(blocks).alias("b")).select(
        "id", "fp", "b.block", "b.chunk"
    )
    # Per-bucket numpy popcount instead of the banded SELF-JOIN the
    # previous release ran (guide §2.3/§8: the join materialized every
    # colliding pair as a JVM row BEFORE the hamming filter — 110M rows
    # at 50k docs under the production radius, 26s — where the same
    # g x g XOR/popcount per bucket is a few hundred M vectorized ops,
    # and only the pairs INSIDE the radius ever become rows). Output is
    # identical: same (id_a < id_b, hamming <= max_hamming) pairs, same
    # popcount, dedup across blocks unchanged.
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("id_a", id_type, True),
            T.StructField("id_b", id_type, True),
            T.StructField("hamming", T.IntegerType(), True),
        ]
    )
    radius = max_hamming

    def emit_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = {"id_a": [], "id_b": [], "hamming": np.array([], np.int32)}
        if n < 2:
            return pd.DataFrame(empty)
        ids = pdf["id"].to_numpy()
        fp = pdf["fp"].to_numpy(dtype=np.int64).view(np.uint64)
        order = np.argsort(ids, kind="stable")
        ids, fp = ids[order], fp[order]
        out_a, out_b, out_h = [], [], []
        # row-block the g x g XOR matrix to a few MB per pass
        ch = max(1, 4_000_000 // n)
        for i0 in range(0, n - 1, ch):
            i1 = min(i0 + ch, n)
            h = _popcount64(fp[i0:i1, None] ^ fp[None, :])
            ii, jj = np.nonzero(h <= radius)
            gi = ii + i0
            keep = jj > gi
            if keep.any():
                gi, jj = gi[keep], jj[keep]
                ia, ib = ids[gi], ids[jj]
                ne = ia != ib  # duplicate ids never self-pair (a.id < b.id)
                out_a.append(ia[ne])
                out_b.append(ib[ne])
                out_h.append(h[ii[keep], jj][ne].astype(np.int32))
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "hamming": np.concatenate(out_h),
            }
        )

    # repartition-by-key + mapInPandas instead of
    # groupBy().applyInPandas: the grouped-map path ships ONE Arrow
    # batch and one Python invocation PER GROUP (~1.3k tiny buckets
    # here — measured ~3s of pure per-group overhead at sf0.1, guide
    # §4.1 "how many columns/batches cross"); hash-partitioning by the
    # key keeps every bucket whole inside one partition, and one
    # Python call then sweeps all of a partition's buckets.
    def emit_partition(batches):
        chunks = [p for p in batches if len(p)]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else chunks[0]
        )
        outs = []
        for _, g in pdf.groupby(["block", "chunk"], sort=False):
            r = emit_pairs(g)
            if len(r):
                outs.append(r)
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return (
        banded.repartition(F.col("block"), F.col("chunk"))
        .mapInPandas(emit_partition, schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact k-word-shingle Jaccard over candidate pairs (or all pairs
    for small inputs — quadratic; pass LSH candidates at scale).

    Output: id_a, id_b, jaccard (double).

    With ``candidates``, only documents that actually appear in a
    candidate pair get shingled (semi-join first): shingling is
    interpreted higher-order functions (~2µs/element), so computing it
    for the whole corpus to verify a handful of pairs dominated the
    minhash-verify path (measured ~5s of a 6s query at sf0.1).
    """
    if candidates is not None:
        wanted = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .dropDuplicates()
        )
        # plain semi-join: AQE broadcasts it when the id set is small,
        # shuffles when a huge candidate set would blow the broadcast
        df = df.join(wanted, id_col, "left_semi")
    sh = df.select(
        F.col(id_col).alias("id"), _shingles(F.col(text_col), k).alias("sh")
    )
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
    else:
        pairs = (
            candidates.select("id_a", "id_b")
            .join(sh.withColumnRenamed("sh", "sh_a"), F.col("id") == F.col("id_a"))
            .drop("id")
            .join(sh.withColumnRenamed("sh", "sh_b"), F.col("id") == F.col("id_b"))
            .drop("id")
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = (inter / union).alias("jaccard")
    return pairs.select("id_a", "id_b", jac).where(F.col("jaccard") >= threshold)
