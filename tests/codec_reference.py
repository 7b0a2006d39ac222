"""Reference delta-of-delta encoder: one array at a time.

The byte-identity reference for ``codec.encode_i64_columnar``: the
straightforward formulation of the wire format (``codec.py`` module
docstring), written on its own tables so that an equality test checks
the engine's kernel against an independent encoder.  Bucket selection
is a first-fit loop over the buckets and the codes are bit-expanded
(one ``np.repeat`` per bit) into ``np.packbits``.
"""

from __future__ import annotations

import struct

import numpy as np

# (prefix value, prefix length, payload bits), first fit on zigzag(dod)
DOD_BUCKETS = [(0b0, 1, 0), (0b10, 2, 7), (0b110, 3, 10), (0b1110, 4, 14),
               (0b11110, 5, 22), (0b11111, 5, 36)]
MAX_ZZ = (1 << 36) - 1
MAX_ABS = 1 << 60


def _bitpack(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """Variable-length codes, MSB-first, zero-padded to a whole byte."""
    if len(codes) == 0:
        return b""
    starts = np.cumsum(lens) - lens
    rep_idx = np.repeat(np.arange(len(codes)), lens)
    k = np.arange(int(lens.sum())) - np.repeat(starts, lens)
    shift = (np.repeat(lens, lens) - 1 - k).astype(np.uint64)
    bits = ((codes[rep_idx] >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


def encode_i64(arr) -> bytes:
    """Delta-of-delta encode one integer sequence."""
    a = np.asarray(arr, dtype=np.int64)
    n = len(a)
    head = struct.pack("<BI", 0, n)
    if n == 0:
        return head
    if n == 1:
        return head + struct.pack("<q", int(a[0]))
    if bool((a > MAX_ABS).any()) or bool((a < -MAX_ABS).any()):
        # beyond +/-2^60 the two difference levels can wrap: store raw
        return struct.pack("<BI", 1, n) + a.tobytes()
    deltas = np.diff(a)
    dod = np.diff(deltas) if n > 2 else np.empty(0, dtype=np.int64)
    zz = ((dod << 1) ^ (dod >> 63)).astype(np.uint64)
    if len(zz) and zz.max() > MAX_ZZ:
        return struct.pack("<BI", 1, n) + a.tobytes()
    prefix = struct.pack("<qq", int(a[0]), int(deltas[0]))
    codes = np.zeros(len(zz), dtype=np.uint64)
    lens = np.zeros(len(zz), dtype=np.int64)
    assigned = np.zeros(len(zz), dtype=bool)
    for pval, plen, pay in DOD_BUCKETS:
        fits = ~assigned & (zz < (np.uint64(1) << np.uint64(pay)) if pay else (zz == 0))
        codes[fits] = (np.uint64(pval) << np.uint64(pay)) | zz[fits]
        lens[fits] = plen + pay
        assigned |= fits
    return head + prefix + _bitpack(codes, lens)
