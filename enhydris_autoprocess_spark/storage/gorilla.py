"""Gorilla compression for tier storage (north-star requirement):
delta-of-delta timestamps + XOR-encoded float values, packed per
(key, chunk) into BinaryType blocks inside Arrow-batched pandas UDFs.

One wire format, the STREAM-SEPARATED layout. A 16-byte header
(count:uint32, t0:int64 micros, flags:uint32 = 1) is followed by
fixed-width control streams grouped apart from their payloads, so every
field offset is one table lookup + cumsum and a whole batch of chunks
decodes as a few segmented numpy gathers (the classic interleaved
Gorilla bitstream makes every field's position depend on all prior
control bits, forcing decode to walk the stream point by point).
Layout after the header, bit-contiguous, MSB-first:
  [n>1]  first delta: 64-bit signed (vs t0)
  [n>2]  dod class stream: 2 bits per dod —
           0: dod == 0 (no payload)   1: 12-bit zigzag payload
           2: 32-bit zigzag payload   3: 64-bit raw payload
  [n>2]  dod payload stream (widths from the class table)
         first value: 64 raw bits
  [n>1]  value control stream: 1 bit per value (1 = xor nonzero)
  [n>1]  lead/sig stream: 11 bits (5 lead + 6 sig, 64 encodes as 0)
         per NONZERO xor — always the explicit-window form
  [n>1]  value payload stream: sig bits per nonzero xor
  pad to byte
Deltas and dods are int64 modulo 2^64 on both sides, and zigzag is a
bijection on uint64, so every timestamp series round-trips, int64
extremes included: a dod whose zigzag needs more than 32 bits is class
3 and stores its raw 64 bits. Any other header ``flags`` is rejected.

NaN encodes naturally (its bit pattern XORs like any other), so the
pipeline's NaN-means-missing convention round-trips exactly.

``encode_chunks_multi`` and ``decode_chunks_batch`` are the one codec
pair, both vectorized over many chunks of many keys at once; a scalar
field-by-field encoder/decoder lives in the tests as their oracle.
Columnar Parquet remains the physical container: a compressed tier is
a normal DataFrame ``(key, chunk_start_us, chunk_end_us, n, blob)``
that any TierTable can append/read. ``chunk_end_us`` (the last point's
timestamp) is the retention/pruning handle: day-partitioning the blobs
by END day means a dropped day directory can only contain chunks whose
every point lies before the cutoff day (keep-side error, like
TimescaleDB ``drop_chunks``), and range readers can skip whole blobs
without decoding.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

CHUNK = 4096

COMPRESSED_SCHEMA = (
    "key string, chunk_start_us long, chunk_end_us long, n int, blob binary"
)

_HEADER = "<IqI"  # count, t0 (micros), flags
_FORMAT = 1  # header flags of the stream-separated layout


def _pack_bits(vals: np.ndarray, widths: np.ndarray) -> bytes:
    """MSB-first concatenation of variable-width fields, vectorized at
    FIELD granularity (not bit granularity): each field lands in at
    most two 64-bit words of the output (offset + width <= 127), so it
    splits into a hi/lo lane pair; lanes sort by word index and one
    ``bitwise_or.reduceat`` merges every word's contributions. ~10
    vector ops over n_fields elements — the previous per-bit
    repeat/shift/packbits pipeline touched ~20x more elements and was
    memory-bandwidth-bound on this host (3.3x measured difference).
    Values are masked to their width first, so dirty high bits in a
    caller's field array cannot corrupt neighboring fields.
    """
    widths = widths.astype(np.int64)
    nz = widths > 0
    v = vals[nz].astype(np.uint64, copy=False)
    w = widths[nz]
    ends = np.cumsum(w)
    total = int(ends[-1]) if len(ends) else 0
    starts = ends - w
    o = starts % 64
    word = starts // 64
    ow = o + w
    full = w >= 64
    mask = np.where(
        full,
        np.uint64(0xFFFFFFFFFFFFFFFF),
        (np.uint64(1) << w.astype(np.uint64)) - np.uint64(1),
    )
    v = v & mask
    spill = ow > 64  # field crosses into the following word
    hi = np.where(
        spill,
        v >> np.where(spill, ow - 64, 0).astype(np.uint64),
        v << np.where(spill, 0, 64 - ow).astype(np.uint64),
    )
    lo = np.where(
        spill, v << np.where(spill, 128 - ow, 0).astype(np.uint64), np.uint64(0)
    )
    out = np.zeros((total + 63) // 64, dtype=np.uint64)

    def _or_into(idx: np.ndarray, lane: np.ndarray) -> None:
        # idx is non-decreasing (fields are stream-ordered), so one
        # reduceat per group suffices — no sort needed
        if not len(idx):
            return
        firsts = np.r_[0, np.flatnonzero(idx[1:] != idx[:-1]) + 1]
        out[idx[firsts]] |= np.bitwise_or.reduceat(lane, firsts)

    _or_into(word, hi)
    _or_into(word[spill] + 1, lo[spill])
    return out.astype(">u8").tobytes()[: (total + 7) // 8]


_DOD_BOUNDS = np.array([1 << 12, 1 << 32], dtype=np.uint64)
_DOD_PAYLOAD_W = np.array([0, 12, 32, 64], dtype=np.int64)


def _seg_starts(counts: np.ndarray) -> np.ndarray:
    """Offset of each segment, for segments of the given lengths laid
    out consecutively."""
    return np.r_[0, np.cumsum(counts)[:-1]].astype(np.int64)


def _seg_positions(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(segment id, within-segment position) per element, for segments
    of the given lengths laid out consecutively."""
    counts = np.asarray(counts, dtype=np.int64)
    seg_ids = np.repeat(np.arange(len(counts)), counts)
    within = np.arange(len(seg_ids)) - np.repeat(_seg_starts(counts), counts)
    return seg_ids, within


def _seg_cumsum_exclusive(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment exclusive prefix sum, vectorized: global cumsum minus
    the segment-start correction."""
    g = np.cumsum(vals)
    starts = _seg_starts(counts)
    base = np.where(starts > 0, g[starts - 1], 0)
    return g - vals - np.repeat(base, counts)


def _pack_uniform_seg(
    vals: np.ndarray, counts: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pack each segment's run of uniform-width symbols (width divides
    64) into 64-bit words plus one partial tail word, all segments in
    one vector pass. The bit layout is identical to feeding the symbols
    to ``_pack_bits`` one by one; this collapses the per-field packer
    cost by 64/width on the control streams.
    Returns (word values, word field widths, word segment ids)."""
    per = 64 // width
    seg_ids, within = _seg_positions(counts)
    w_in_seg = within // per
    slot = within % per
    m = np.minimum(per, counts[seg_ids] - w_in_seg * per)  # symbols in word
    shift = ((m - 1 - slot) * width).astype(np.uint64)
    contrib = vals.astype(np.uint64) << shift
    n_words_seg = (counts + per - 1) // per
    gw = _seg_starts(n_words_seg)[seg_ids] + w_in_seg  # non-decreasing
    words = np.zeros(int(n_words_seg.sum()), dtype=np.uint64)
    if len(gw):
        firsts = np.r_[0, np.flatnonzero(gw[1:] != gw[:-1]) + 1]
        words[gw[firsts]] = np.bitwise_or.reduceat(contrib, firsts)
    wseg, wwithin = _seg_positions(n_words_seg)
    wwidths = np.minimum(counts[wseg] - wwithin * per, per) * width
    return words, wwidths.astype(np.int64), wseg


def encode_chunks_multi(
    ts_us: np.ndarray,
    values: np.ndarray,
    seg_start: np.ndarray,
    seg_len: np.ndarray,
) -> list[tuple[int, int, bytes]]:
    """Encode MANY chunks — across many keys — in ONE vectorized pass.

    ``seg_start``/``seg_len`` delimit each chunk inside the
    concatenated (already key+ts-sorted) arrays; deltas/dods/XORs never
    cross a segment boundary. All per-chunk fields are built by global
    numpy ops with segment-reset indexing (the encode mirror of
    ``decode_chunks_batch``'s segmented decode), ordered per segment by
    one stable argsort, and bit-packed in a single ``_pack_bits`` call;
    segment byte boundaries come from analytic per-segment bit counts.
    One call per Arrow batch is what keeps in-Spark encode throughput at
    the micro-bench level when a tier has thousands of short keys per
    batch (VERDICT r03 #5: per-key encode calls paid ~35 fixed numpy ops
    per key, 3x the whole budget at 250-point keys).

    Returns [(chunk_start_us, n, blob), ...] in segment order.
    """
    t = np.ascontiguousarray(ts_us).astype(np.int64, copy=False)
    vals_f = np.ascontiguousarray(values, dtype=np.float64)
    b = vals_f.view(np.uint64)
    seg_start = np.asarray(seg_start, dtype=np.int64)
    n_s = np.asarray(seg_len, dtype=np.int64)
    S = len(seg_start)
    if S == 0:
        return []
    d_full = np.diff(t)
    dd_full = np.diff(d_full)
    x_full = b[1:] ^ b[:-1]

    nd = np.maximum(n_s - 2, 0)
    nx = np.maximum(n_s - 1, 0)
    dod_seg, dod_within = _seg_positions(nd)
    dods = dd_full[seg_start[dod_seg] + dod_within]
    xor_seg, xor_within = _seg_positions(nx)
    xor = x_full[seg_start[xor_seg] + xor_within]

    # --- dod class + payload streams ---------------------------------
    # class 0: dod==0; classes 1-3 by zigzag magnitude — one
    # searchsorted + table lookups instead of an np.select (select
    # materializes every choice over the full array)
    z = ((dods << 1) ^ (dods >> 63)).view(np.uint64)
    cls = 1 + np.searchsorted(_DOD_BOUNDS, z, side="right")
    cls[dods == 0] = 0
    pay = np.where(cls == 3, dods.view(np.uint64), z)
    pay_w = _DOD_PAYLOAD_W[cls]

    # --- value XOR lead/sig ------------------------------------------
    # trailing zeros exactly: the isolated lowest set bit is a power of
    # two, exactly representable in float64, so log2 is exact. The
    # top-bit index comes from log2 of the full value, which float
    # rounding can put off by one in either direction — two exact
    # shift-checks pin it (numpy has no clz; an unpacked bit matrix +
    # argmax measured ~2x the whole encoder's budget).
    nz = xor != 0
    safe = np.where(nz, xor, np.uint64(1))
    lsb = safe & (~safe + np.uint64(1))
    trail = np.log2(lsb.astype(np.float64)).astype(np.int64)
    k = np.minimum(np.log2(safe.astype(np.float64)).astype(np.int64), 63)
    k = np.where(safe >> k.astype(np.uint64) == 0, k - 1, k)
    k = np.where((k < 63) & (safe >> (k + 1).astype(np.uint64) != 0), k + 1, k)
    lead = np.minimum(63 - k, 31)
    sig = 64 - lead - trail

    # --- streams, ranked by their per-segment order ------------------
    fd_sel = np.flatnonzero(n_s > 1)
    cls_v, cls_w, cls_seg = _pack_uniform_seg(cls, nd, 2)
    ctrl_v, ctrl_w, ctrl_seg = _pack_uniform_seg(nz.astype(np.uint64), nx, 1)
    nz_idx = np.flatnonzero(nz)
    ls_v = (lead[nz_idx].astype(np.uint64) << np.uint64(6)) | (
        sig[nz_idx].astype(np.uint64) & np.uint64(0x3F)
    )
    streams = [
        (d_full[seg_start[fd_sel]].view(np.uint64),
         np.full(len(fd_sel), 64, np.int64), fd_sel),
        (cls_v, cls_w, cls_seg),
        (pay, pay_w, dod_seg),
        (b[seg_start], np.full(S, 64, np.int64), np.arange(S)),
        (ctrl_v, ctrl_w, ctrl_seg),
        (ls_v, np.full(len(nz_idx), 11, np.int64), xor_seg[nz_idx]),
        (xor[nz_idx] >> trail[nz_idx].astype(np.uint64), sig[nz_idx],
         xor_seg[nz_idx]),
    ]
    nbits = np.zeros(S, dtype=np.int64)
    for _, w_, s_ in streams:
        if len(s_):
            nbits += np.bincount(s_, weights=w_, minlength=S).astype(np.int64)
    pad = (-nbits) % 8
    pad_sel = np.flatnonzero(pad)
    streams.append(
        (np.zeros(len(pad_sel), np.uint64), pad[pad_sel], pad_sel)
    )

    all_v = np.concatenate([s[0].astype(np.uint64) for s in streams])
    all_w = np.concatenate([s[1] for s in streams]).astype(np.int64)
    all_seg = np.concatenate([s[2] for s in streams]).astype(np.int64)
    all_rank = np.concatenate(
        [np.full(len(s[0]), r, np.int64) for r, s in enumerate(streams)]
    )
    order = np.argsort(all_seg * 8 + all_rank, kind="stable")
    packed = _pack_bits(all_v[order], all_w[order])

    out: list[tuple[int, int, bytes]] = []
    lo = 0
    for st, n_, hi in zip(
        t[seg_start].tolist(), n_s.tolist(), np.cumsum((nbits + pad) // 8).tolist()
    ):
        out.append((st, n_, struct.pack(_HEADER, n_, st, _FORMAT) + packed[lo:hi]))
        lo = hi
    return out


def _unpack_fields(
    words: np.ndarray, starts: np.ndarray, widths: np.ndarray
) -> np.ndarray:
    """Vectorized variable-width field gather — the exact inverse of
    ``_pack_bits``'s word-lane trick: each field spans at most two
    64-bit words, so one gather of (word, next word), two shifts and a
    mask extract every field at once. ``words`` must carry one zero pad
    word at the end; shift counts are pre-masked to <64 (x86/numpy
    shifts are mod-64, so a raw ``>> 64`` would return the operand).
    """
    j = starts >> 6
    o = (starts & 63).astype(np.uint64)
    w = widths.astype(np.uint64)
    hi = words[j] << o
    lo = np.where(
        o > 0, words[j + 1] >> ((np.uint64(64) - o) & np.uint64(63)), np.uint64(0)
    )
    take = (np.uint64(64) - w) & np.uint64(63)
    return np.where(w > 0, (hi | lo) >> take, np.uint64(0))


def _stream_words(blob: bytes, offset: int = 16) -> np.ndarray:
    raw = blob[offset:]
    pad = (-len(raw)) % 8 + 8  # round up to words + one guard word
    return np.frombuffer(raw + b"\x00" * pad, dtype=">u8").astype(np.uint64)


def decode_chunks_batch(
    blobs: list[bytes],
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blobs in one segmented-vectorized pass; returns
    (ts, values, counts) concatenated in input order.

    All blobs' streams decode together: per-stream field offsets become
    segmented aranges/cumsums over the concatenated word buffer, and
    the two sequential chains use a GLOBAL scan plus per-segment
    correction — cumsum minus the segment-start prefix for timestamps,
    ``bitwise_xor.accumulate`` XOR the pre-segment accumulator for
    values (XOR scans are invertible, so the global scan restricted to
    a segment differs from the per-segment scan only by the constant
    prefix). A per-blob decode paid ~40 numpy calls of fixed cost per
    blob, which dominated tiers whose keys are shorter than the chunk
    size (measured 0.16M pts/s through Spark on ~250-point blobs).

    Raises ``ValueError`` on a blob whose header is not the one wire
    format (``flags`` other than 1, or a zero point count): blobs come
    from storage, so a foreign or corrupt one must not decode to noise.
    """
    k = len(blobs)
    if k == 0:
        return (
            np.empty(0, np.int64),
            np.empty(0, np.float64),
            np.empty(0, np.int64),
        )
    metas = [struct.unpack_from(_HEADER, b, 0) for b in blobs]
    for i, (count, _, flags) in enumerate(metas):
        if flags != _FORMAT or count == 0:
            raise ValueError(
                f"Gorilla blob {i}: header count={count} flags={flags}, "
                f"expected count >= 1 and flags={_FORMAT}"
            )
    n = np.array([m[0] for m in metas], dtype=np.int64)
    t0 = np.array([m[1] for m in metas], dtype=np.int64)

    # concatenated word buffer; each blob keeps its own >=1 guard word
    # (from _stream_words padding), so cross-blob j+1 reads stay inside
    # the owning blob's padded region
    word_chunks = [_stream_words(b) for b in blobs]
    words = np.concatenate(word_chunks)
    pos = _seg_starts(np.array([len(w) for w in word_chunks])) * 64

    # --- timestamp streams ------------------------------------------------
    has_fd = n > 1
    fd = np.zeros(k, dtype=np.int64)
    fd[has_fd] = _unpack_fields(
        words, pos[has_fd], np.full(int(has_fd.sum()), 64, dtype=np.int64)
    ).view(np.int64)
    pos = pos + 64 * has_fd  # per-blob cursor after first_delta

    ncls = np.maximum(n - 2, 0)
    cls_seg, cls_within = _seg_positions(ncls)
    dods = np.zeros(len(cls_seg), dtype=np.int64)
    if len(cls_seg):
        cls = _unpack_fields(
            words,
            pos[cls_seg] + 2 * cls_within,
            np.full(len(cls_seg), 2, dtype=np.int64),
        ).astype(np.int64)
        pos = pos + 2 * ncls
        pw = _DOD_PAYLOAD_W[cls]
        pay = _unpack_fields(
            words, pos[cls_seg] + _seg_cumsum_exclusive(pw, ncls), pw
        )
        pos = pos + np.bincount(cls_seg, weights=pw, minlength=k).astype(np.int64)
        unzig = (
            (pay >> np.uint64(1)) ^ (np.uint64(0) - (pay & np.uint64(1)))
        ).view(np.int64)
        dods = np.where(cls == 3, pay.view(np.int64), unzig)
        dods[cls == 0] = 0

    # deltas per blob = fd + [0, cumsum(dods)]; ts = t0 + [0, cumsum(deltas)]
    nb = np.maximum(n - 1, 0)
    nb_seg, nb_within = _seg_positions(nb)
    deltas = fd[nb_seg]
    if len(cls_seg):
        # within each blob's nb slots, slots 1.. carry the running dod sum
        dod_cum = _seg_cumsum_exclusive(dods, ncls) + dods  # inclusive
        deltas[_seg_starts(nb)[cls_seg] + 1 + cls_within] += dod_cum
    n_starts = _seg_starts(n)
    after_first = n_starts[nb_seg] + 1 + nb_within  # every point but the first
    ts = np.repeat(t0, n)
    if len(nb_seg):
        ts[after_first] += _seg_cumsum_exclusive(deltas, nb) + deltas

    # --- value streams ----------------------------------------------------
    v0 = _unpack_fields(words, pos, np.full(k, 64, dtype=np.int64))
    pos = pos + 64
    xors = np.zeros(len(nb_seg), dtype=np.uint64)
    if len(nb_seg):
        ctrl = _unpack_fields(
            words, pos[nb_seg] + nb_within, np.ones(len(nb_seg), dtype=np.int64)
        ).astype(bool)
        pos = pos + nb
        nz_seg = nb_seg[ctrl]
        if len(nz_seg):
            nnz = np.bincount(nz_seg, minlength=k)
            ls = _unpack_fields(
                words,
                pos[nz_seg] + 11 * _seg_positions(nnz)[1],
                np.full(len(nz_seg), 11, dtype=np.int64),
            )
            pos = pos + 11 * nnz
            lead = (ls >> np.uint64(6)).astype(np.int64)
            sig6 = (ls & np.uint64(0x3F)).astype(np.int64)
            sig = np.where(sig6 == 0, 64, sig6)
            pay = _unpack_fields(
                words, pos[nz_seg] + _seg_cumsum_exclusive(sig, nnz), sig
            )
            xors[ctrl] = pay << (64 - lead - sig).astype(np.uint64)
    # full bit stream per blob: [v0, xors...]; global xor-scan + fixup
    full = np.empty(len(ts), dtype=np.uint64)
    full[n_starts] = v0
    full[after_first] = xors
    g = np.bitwise_xor.accumulate(full)
    fix = np.zeros(k, dtype=np.uint64)
    fix[1:] = g[n_starts[1:] - 1]
    return ts, (g ^ np.repeat(fix, n)).view(np.float64), n


# --- DataFrame-level API ----------------------------------------------------


def compress_series(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    flags_col: str | None = None,
    chunk: int = CHUNK,
) -> DataFrame:
    """(key, ts, value[, flags]) -> (key, chunk_start_us, chunk_end_us,
    n, blob[, flags]).

    One shuffle on the key, then ``mapInPandas`` over (key, ts)-sorted
    partitions with Arrow batches re-split on key boundaries (the
    fill_stream pattern from gap-fill) — the earlier per-key
    ``applyInPandas`` spent ~5 ms of group bookkeeping per key, which
    dominated tier tables with many short keys. Timestamps+values go
    into the Gorilla blob; flags (strings — not Gorilla material) ride
    along as one array<string> per chunk, where an all-empty chunk
    stores NULL instead of 4096 empty strings, so the common unflagged
    case costs nothing. Tier storage stays lossless: decompress zips
    them back positionally.
    """
    with_flags = flags_col is not None
    cols = ["key", "chunk_start_us", "chunk_end_us", "n", "blob"] + (
        ["flags"] if with_flags else []
    )

    def enc_block(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf[key_col].to_numpy(dtype=object)
        bounds = np.r_[
            0, np.flatnonzero(keys[1:] != keys[:-1]) + 1, len(keys)
        ]
        ts_all = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
        vals_all = pdf[value_col].to_numpy(dtype=np.float64)
        fl_all = pdf[flags_col].tolist() if with_flags else None
        # one segment per (key, chunk): ALL keys in the block encode in
        # a single vectorized encode_chunks_multi pass — per-key encode
        # calls paid ~35 fixed numpy ops per key, which dominated tiers
        # with many short keys (VERDICT r03 #5)
        key_lo, key_hi = bounds[:-1], bounds[1:]
        nch = (key_hi - key_lo + chunk - 1) // chunk
        cseg, cwithin = _seg_positions(nch)
        seg_start = key_lo[cseg] + cwithin * chunk
        seg_len = np.minimum(chunk, key_hi[cseg] - seg_start)
        blobs = encode_chunks_multi(ts_all, vals_all, seg_start, seg_len)
        rows = []
        for (start, n, blob), lo in zip(blobs, seg_start.tolist()):
            row = [keys[lo], start, int(ts_all[lo + n - 1]), n, blob]
            if with_flags:
                chunk_fl = fl_all[lo : lo + n]
                row.append(chunk_fl if any(chunk_fl) else None)
            rows.append(tuple(row))
        return pd.DataFrame(rows, columns=cols)

    def enc_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Hold back the possibly-incomplete last key of each Arrow
        # batch as a LIST of fragments, concatenated once when the key
        # completes — re-concatenating a growing tail into every batch
        # would copy a B-batch hot key's rows O(B^2) times.
        pending: list[pd.DataFrame] = []

        def flush() -> pd.DataFrame:
            out = (
                pd.concat(pending, ignore_index=True)
                if len(pending) > 1
                else pending[0]
            )
            pending.clear()
            return out

        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy(dtype=object)
            if pending and pending[-1][key_col].iloc[-1] != keys[0]:
                yield enc_block(flush())  # pending key ended at batch edge
            cut = len(pdf) - int((keys == keys[-1]).sum())
            if cut > 0:
                pending.append(pdf.iloc[:cut])
                yield enc_block(flush())
                pending.append(pdf.iloc[cut:])
            else:
                pending.append(pdf)  # whole batch is one (continuing) key
        if pending:
            yield enc_block(flush())

    schema = COMPRESSED_SCHEMA + (", flags array<string>" if with_flags else "")
    in_cols = [key_col, ts_col, value_col] + ([flags_col] if with_flags else [])
    return (
        df.select(*in_cols)
        .repartition(df.sparkSession.sparkContext.defaultParallelism, key_col)
        .sortWithinPartitions(key_col, ts_col)
        .mapInPandas(enc_stream, schema=schema)
    )


def decompress_series(df: DataFrame) -> DataFrame:
    """(key, chunk_start_us, n, blob[, flags]) -> (key, ts, value[, flags]).

    All of an Arrow batch's blobs decode in ONE segmented-vectorized
    pass (``decode_chunks_batch``) — per-blob decode paid ~40 numpy
    calls of fixed cost per blob, which dominated tiers whose keys are
    shorter than the 4096-point chunk size."""
    with_flags = "flags" in df.columns

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ts, vals, counts = decode_chunks_batch(
                [bytes(x) for x in b["blob"]]
            )
            d = {
                "key": np.repeat(b["key"].to_numpy(dtype=object), counts),
                "ts": pd.to_datetime(ts, unit="us"),
                "value": vals,
            }
            if with_flags:
                fl = np.empty(len(ts), dtype=object)
                pos = 0
                for f, c in zip(b["flags"], counts):
                    fl[pos : pos + c] = list(f) if f is not None else ""
                    pos += c
                d["flags"] = fl
            yield pd.DataFrame(d)

    schema = "key string, ts timestamp, value double" + (
        ", flags string" if with_flags else ""
    )
    return df.mapInPandas(dec, schema=schema)
