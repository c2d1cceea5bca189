"""Scalar Gorilla encoder/decoder: the test oracle of the vectorized
codec pair in ``storage/gorilla.py`` (``encode_chunks_multi`` /
``decode_chunks_batch``). Written field by field with plain Python ints,
straight from the wire layout in that module's docstring, so it shares
no code with the numpy kernels it checks. Deltas and dods wrap to int64
as the numpy kernels do, so blobs are byte-identical at int64 extremes.
"""

import struct

import numpy as np

_M64 = (1 << 64) - 1


def _s64(v: int) -> int:
    """Wrap to int64 (numpy's int64 arithmetic is modulo 2^64)."""
    return ((v + (1 << 63)) & _M64) - (1 << 63)


class BitWriter:
    """MSB-first bit writer flushing whole bytes as they fill."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, width: int) -> None:
        self.acc = (self.acc << width) | (value & ((1 << width) - 1))
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        if self.nbits:
            self.write(0, 8 - self.nbits)  # pad to byte
        return bytes(self.buf)


class BitReader:
    """MSB-first bit reader over a byte string."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, width: int) -> int:
        lo, hi = self.pos // 8, (self.pos + width + 7) // 8
        word = int.from_bytes(self.data[lo:hi], "big")
        self.pos += width
        return (word >> (hi * 8 - self.pos)) & ((1 << width) - 1)


def encode_chunk(ts_us, values) -> bytes:
    """One chunk -> one blob (header flags=1)."""
    ts = [int(t) for t in ts_us]
    bits = np.asarray(values, dtype=np.float64).view(np.uint64).tolist()
    n = len(ts)
    assert n >= 1
    w = BitWriter()
    deltas = [_s64(b - a) for a, b in zip(ts, ts[1:])]
    dods = [_s64(b - a) for a, b in zip(deltas, deltas[1:])]
    if n > 1:
        w.write(deltas[0], 64)
    payloads = []
    for d in dods:
        z = ((d << 1) ^ (d >> 63)) & _M64  # zigzag
        if d == 0:
            w.write(0, 2)
        elif z < 1 << 12:
            w.write(1, 2)
            payloads.append((z, 12))
        elif z < 1 << 32:
            w.write(2, 2)
            payloads.append((z, 32))
        else:
            w.write(3, 2)
            payloads.append((d, 64))
    for p in payloads:
        w.write(*p)
    w.write(bits[0], 64)
    xors = [a ^ b for a, b in zip(bits, bits[1:])]
    for x in xors:
        w.write(x != 0, 1)
    windows = []
    for x in xors:
        if x:
            lead = min(64 - x.bit_length(), 31)
            trail = (x & -x).bit_length() - 1
            windows.append((x >> trail, 64 - lead - trail))
            w.write(lead, 5)
            w.write(64 - lead - trail, 6)  # 64 encodes as 0
    for p in windows:
        w.write(*p)
    return struct.pack("<IqI", n, ts[0], 1) + w.getvalue()


def decode_chunk(blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """One blob -> (ts int64 micros, values float64)."""
    n, t0, flags = struct.unpack_from("<IqI", blob, 0)
    assert flags == 1
    r = BitReader(blob[16:])
    ts = [t0]
    if n > 1:
        delta = _s64(r.read(64))
        classes = [r.read(2) for _ in range(n - 2)]
        ts.append(_s64(t0 + delta))
        for c in classes:
            if c == 3:
                dod = _s64(r.read(64))
            elif c:
                z = r.read(12 if c == 1 else 32)
                dod = (z >> 1) ^ -(z & 1)
            else:
                dod = 0
            delta = _s64(delta + dod)
            ts.append(_s64(ts[-1] + delta))
    prev = r.read(64)
    vals = [prev]
    changed = [r.read(1) for _ in range(n - 1)]
    windows = iter([(r.read(5), r.read(6) or 64) for _ in range(sum(changed))])
    for c in changed:
        if c:
            lead, sig = next(windows)
            prev ^= r.read(sig) << (64 - lead - sig)
        vals.append(prev)
    return np.array(ts, dtype=np.int64), np.array(vals, dtype=np.uint64).view(
        np.float64
    )
