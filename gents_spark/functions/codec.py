"""Gorilla XOR + delta-of-delta payload codec (SURVEY.md §2.10 U3, M4).

GenTS's only compression surface is the netCDF zlib level knob
(``gents/timeseries.py:617-658, 692-710``).  The north_rule replaces it
with a value-level time-series codec:

- integer streams (token arrays, bucket counts/sums): delta-of-delta with
  Gorilla-style variable-width buckets, zigzag-coded;
- float streams (percentile series): Gorilla XOR with explicit
  leading-zero/significant-bit windows.

Implementation notes:

- ENCODING is fully vectorized NumPy: bucket selection, zigzag, and the
  variable-length bit-packing all happen as array ops (the classic
  sequential bit-writer is replaced by a repeat/cumsum scatter into a
  bit array + ``np.packbits``).  No per-element Python in encode.
- The float XOR path writes a fresh (leading, sigbits) window per
  non-zero XOR instead of Gorilla's "reuse previous window" control bit.
  That drops the sequential encode dependency (few % larger output,
  identical information) — the deviation is deliberate and documented.
- DECODING of variable-length prefix codes is inherently sequential; it
  runs per-array over ``np.unpackbits`` output.  Decode sits on the read
  path of *payloads* (small per-bucket streams), not the ingest path.
- Spark surface: pandas UDFs (Arrow-batched) — one Python call per
  ~10k-row batch, never per row.

Wire format (little-endian):
  byte 0: mode (0 = packed, 1 = raw fallback)
  bytes 1-4: uint32 element count n
  mode 1: n * 8 bytes of raw int64/float64
  mode 0 ints:   int64 first, int64 first_delta, then DoD prefix codes
  mode 0 floats: uint64 first bits, then XOR prefix codes
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC_RAW = 1
_MAGIC_PACKED = 0

# DoD buckets: (prefix value, prefix length, payload bits). Payloads are
# zigzag(dod); bucket chosen as the smallest that fits.
_DOD_BUCKETS = [
    (0b0, 1, 0),       # dod == 0
    (0b10, 2, 7),
    (0b110, 3, 10),
    (0b1110, 4, 14),
    (0b11110, 5, 22),
    (0b11111, 5, 36),  # max total 41 bits < 64 (bitpack invariant)
]
_MAX_ZZ = (1 << 36) - 1
#: values beyond +/-2^60 risk silent int64 wrap in the two difference
#: levels -> raw mode (token-count streams never get near this)
_MAX_ABS = 1 << 60


def _zigzag(x: np.ndarray) -> np.ndarray:
    return ((x.astype(np.int64) << 1) ^ (x.astype(np.int64) >> 63)).astype(np.uint64)


def _bitpack(codes: np.ndarray, lens: np.ndarray) -> bytes:
    """Pack variable-length codes (value in ``codes``, bit-length in
    ``lens``, MSB-first) into bytes — fully vectorized."""
    if len(codes) == 0:
        return b""
    total = int(lens.sum())
    starts = np.cumsum(lens) - lens
    rep_idx = np.repeat(np.arange(len(codes)), lens)
    k = np.arange(total) - np.repeat(starts, lens)  # bit index within code
    shift = (np.repeat(lens, lens) - 1 - k).astype(np.uint64)
    bits = ((codes[rep_idx] >> shift) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits).tobytes()


class _BitReader:
    __slots__ = ("bits", "pos")

    def __init__(self, buf: bytes):
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.pos = 0

    def take(self, n: int) -> int:
        v = 0
        b = self.bits
        p = self.pos
        for i in range(n):
            v = (v << 1) | int(b[p + i])
        self.pos = p + n
        return v


def encode_i64(arr) -> bytes:
    """Delta-of-delta encode an integer sequence."""
    a = np.asarray(arr, dtype=np.int64)
    n = len(a)
    head = struct.pack("<BI", _MAGIC_PACKED, n)
    if n == 0:
        return head
    if n == 1:
        return head + struct.pack("<q", int(a[0]))
    if bool((a > _MAX_ABS).any()) or bool((a < -_MAX_ABS).any()):
        # Near-extreme int64 values: np.diff wraps silently, and a wrapped
        # dod can alias to a small zigzag that passes the _MAX_ZZ check
        # while decoding to the wrong value.  |v| <= 2^60 guarantees both
        # difference levels are exact; beyond it, store raw.
        return struct.pack("<BI", _MAGIC_RAW, n) + a.tobytes()
    deltas = np.diff(a)
    dod = np.diff(deltas) if n > 2 else np.empty(0, dtype=np.int64)
    zz = _zigzag(dod)
    if len(zz) and zz.max() > _MAX_ZZ:
        return struct.pack("<BI", _MAGIC_RAW, n) + a.tobytes()
    prefix = struct.pack("<qq", int(a[0]), int(deltas[0]))

    codes = np.zeros(len(zz), dtype=np.uint64)
    lens = np.zeros(len(zz), dtype=np.int64)
    assigned = np.zeros(len(zz), dtype=bool)
    for pval, plen, pay in _DOD_BUCKETS:
        fits = ~assigned & (zz < (np.uint64(1) << np.uint64(pay)) if pay else (zz == 0))
        codes[fits] = (np.uint64(pval) << np.uint64(pay)) | zz[fits]
        lens[fits] = plen + pay
        assigned |= fits
    return head + prefix + _bitpack(codes, lens)


def decode_i64(buf: bytes) -> np.ndarray:
    mode, n = struct.unpack_from("<BI", buf, 0)
    off = 5
    if mode == _MAGIC_RAW:
        return np.frombuffer(buf, dtype=np.int64, count=n, offset=off).copy()
    if n == 0:
        return np.empty(0, dtype=np.int64)
    if n == 1:
        return np.array([struct.unpack_from("<q", buf, off)[0]], dtype=np.int64)
    first, d0 = struct.unpack_from("<qq", buf, off)
    off += 16
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    out[1] = first + d0
    if n == 2:
        return out
    r = _BitReader(buf[off:])
    delta = d0
    val = out[1]
    for i in range(2, n):
        # read unary-ish prefix
        if r.take(1) == 0:
            dod = 0
        else:
            if r.take(1) == 0:
                pay = 7
            elif r.take(1) == 0:
                pay = 10
            elif r.take(1) == 0:
                pay = 14
            elif r.take(1) == 0:
                pay = 22
            else:
                pay = 36
            u = r.take(pay)
            dod = (u >> 1) ^ -(u & 1)
        delta += dod
        val += delta
        out[i] = val
    return out


def encode_i64_batch(arrays: list) -> list[bytes]:
    """Delta-of-delta encode MANY integer sequences in one vectorized
    pass — bit-for-bit identical output to ``encode_i64`` per array.

    Per-array NumPy overhead (~10 small-array ops) dominates encode cost
    on typical token arrays (tens of elements); this batches the bucket
    selection and bit-packing across the whole Arrow batch:

    - concatenate all arrays; compute deltas/dods segment-aware;
    - one global bucket-select + code build;
    - one global bitpack, with per-array byte alignment achieved by a
      zero-length pad code per array (bits padded to the next byte, as
      np.packbits does per array in the scalar path);
    - slice the single packed buffer back into per-array payloads.

    Arrays that need the raw fallback (|zigzag(dod)| >= 2^36) or the
    n<=2 short paths are delegated to ``encode_i64``.
    """
    n_arr = len(arrays)
    if n_arr == 0:
        return []
    arrs = [np.asarray(a, dtype=np.int64) for a in arrays]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)

    out: list = [None] * n_arr
    # the batched path wins ~10x on short arrays (global numpy prep +
    # cheap big-int folds); beyond ~64 elements the scalar per-array
    # numpy packer is faster — measured crossover, not a guess.  A
    # global-bitpack long-array variant was built and measured slower:
    # per-array scalar packing reuses same-size malloc buffers, while
    # one whole-batch bit expansion allocates multi-MB fresh arrays,
    # which this VM faults in at ~400ns/page (np.arange(7.2M) alone
    # takes seconds); scalar encode at 2k tokens is 0.3ms/row and
    # embarrassingly parallel across executor cores anyway
    big_idx = [i for i in range(n_arr) if 2 < lens[i] <= 64]
    for i in range(n_arr):
        if lens[i] <= 2 or lens[i] > 64:
            out[i] = encode_i64(arrs[i])
    if not big_idx:
        return out

    values = np.concatenate([arrs[i] for i in big_idx])
    blens = lens[np.array(big_idx)]
    ends = np.cumsum(blens)
    starts = ends - blens

    # segment-aware dods via explicit positions (no cross-boundary terms)
    seg_id = np.repeat(np.arange(len(big_idx)), blens - 2)
    dod_pos = (
        np.arange(len(seg_id))
        - np.repeat(np.cumsum(blens - 2) - (blens - 2), blens - 2)
        + np.repeat(starts, blens - 2)
    )
    dods = (
        values[dod_pos + 2] - 2 * values[dod_pos + 1] + values[dod_pos]
    )
    zz = _zigzag(dods)

    # arrays needing raw fallback -> scalar path
    if len(zz):
        over = zz > _MAX_ZZ
        bad_segs = set(seg_id[over].tolist()) if over.any() else set()
    else:
        bad_segs = set()
    # near-extreme values wrap in the dods above without tripping _MAX_ZZ;
    # delegate those arrays to encode_i64's raw fallback (same _MAX_ABS
    # rule -> batch stays bit-identical to scalar)
    val_over = (values > _MAX_ABS) | (values < -_MAX_ABS)
    if val_over.any():
        val_seg = np.repeat(np.arange(len(big_idx)), blens)
        bad_segs |= set(val_seg[val_over].tolist())
    if bad_segs:
        keep = [j for j in range(len(big_idx)) if j not in bad_segs]
        for j in bad_segs:
            out[big_idx[j]] = encode_i64(arrs[big_idx[j]])
        if not keep:
            return out
        sub = [arrs[big_idx[j]] for j in keep]
        encoded = encode_i64_batch(sub)
        for j, e in zip(keep, encoded):
            out[big_idx[j]] = e
        return out

    # global bucket select (same buckets as encode_i64)
    codes = np.zeros(len(zz), dtype=np.uint64)
    clens = np.zeros(len(zz), dtype=np.int64)
    assigned = np.zeros(len(zz), dtype=bool)
    for pval, plen, pay in _DOD_BUCKETS:
        fits = ~assigned & (
            zz < (np.uint64(1) << np.uint64(pay)) if pay else (zz == 0)
        )
        codes[fits] = (np.uint64(pval) << np.uint64(pay)) | zz[fits]
        clens[fits] = plen + pay
        assigned |= fits

    # per-array packing: fold each array's codes into one Python int
    # (MSB-first, zero-padded to a byte — identical to np.packbits) —
    # ~18 shift-or ops per array beats any bit-expansion approach
    code_list = codes.tolist()
    len_list = clens.tolist()
    seg_ends = np.cumsum(blens - 2).tolist()
    firsts = values[starts].tolist()
    d0s = (values[starts + 1] - values[starts]).tolist()

    pos = 0
    for j, i in enumerate(big_idx):
        end = seg_ends[j]
        head = struct.pack(
            "<BIqq", _MAGIC_PACKED, int(blens[j]), firsts[j], d0s[j]
        )
        # blocked big-int fold: inner folds stay on small ints (<=64
        # codes ~ <=2.6k bits); outer merges are a handful of linear
        # big-int shifts — avoids both numpy per-bit expansion and the
        # quadratic growth of a single monolithic fold
        acc = 0
        bits = 0
        for b0 in range(pos, end, 64):
            b1 = min(b0 + 64, end)
            a = 0
            nb = 0
            for k in range(b0, b1):
                a = (a << len_list[k]) | code_list[k]
                nb += len_list[k]
            acc = (acc << nb) | a
            bits += nb
        pos = end
        padb = (-bits) % 8
        out[i] = head + (acc << padb).to_bytes((bits + padb) // 8, "big")
    return out


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (binary search)."""
    x = x.astype(np.uint64)
    n = np.full(x.shape, 64, dtype=np.int64)
    sh = np.zeros_like(x)
    for b in (32, 16, 8, 4, 2, 1):
        mask = (x >> np.uint64(b)) != 0
        x = np.where(mask, x >> np.uint64(b), x)
        sh = sh + np.where(mask, np.uint64(b), np.uint64(0))
    nz = sh.astype(np.int64) + (x != 0).astype(np.int64)
    return np.where(nz == 0, n, 64 - nz)


def _ctz64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    lsb = x & (~x + np.uint64(1))
    return np.where(x == 0, 64, 63 - _clz64(lsb))


def encode_f64(arr) -> bytes:
    """Gorilla-XOR encode a float64 sequence (fresh window per value)."""
    a = np.ascontiguousarray(np.asarray(arr, dtype=np.float64))
    n = len(a)
    head = struct.pack("<BI", _MAGIC_PACKED, n)
    if n == 0:
        return head
    bits = a.view(np.uint64)
    prefix = struct.pack("<Q", int(bits[0]))
    if n == 1:
        return head + prefix
    xors = bits[1:] ^ bits[:-1]
    lz = np.minimum(_clz64(xors), 31)  # 5-bit field
    tz = np.minimum(_ctz64(xors), 63)
    sig = np.where(xors == 0, 0, 64 - lz - tz).astype(np.int64)
    zero = xors == 0
    payload = np.where(zero, np.uint64(0), xors >> tz.astype(np.uint64))
    # Two interleaved codes per value so no single code exceeds 64 bits:
    #   control: '0' (xor==0) | '1' + 5b lz + 6b (sig & 63)   [sig 64 -> 0]
    #   payload: sig bits
    ctrl = np.where(
        zero,
        np.uint64(0),
        (np.uint64(1) << np.uint64(11))
        | (lz.astype(np.uint64) << np.uint64(6))
        | (sig.astype(np.uint64) & np.uint64(63)),
    )
    ctrl_len = np.where(zero, 1, 12)
    codes = np.empty(2 * len(xors), dtype=np.uint64)
    lens = np.empty(2 * len(xors), dtype=np.int64)
    codes[0::2], lens[0::2] = ctrl, ctrl_len
    codes[1::2], lens[1::2] = payload, sig
    return head + prefix + _bitpack(codes, lens)


def decode_f64(buf: bytes) -> np.ndarray:
    mode, n = struct.unpack_from("<BI", buf, 0)
    off = 5
    if mode == _MAGIC_RAW:
        return np.frombuffer(buf, dtype=np.float64, count=n, offset=off).copy()
    if n == 0:
        return np.empty(0, dtype=np.float64)
    first = struct.unpack_from("<Q", buf, off)[0]
    off += 8
    out = np.empty(n, dtype=np.uint64)
    out[0] = first
    if n == 1:
        return out.view(np.float64).copy()
    r = _BitReader(buf[off:])
    prev = first
    for i in range(1, n):
        if r.take(1) == 0:
            out[i] = prev
            continue
        lz = r.take(5)
        sig = r.take(6)
        if sig == 0:
            sig = 64  # 6-bit field wraps only when lz==0 and all bits differ
        payload = r.take(sig)
        xor = payload << (64 - lz - sig)
        prev = prev ^ xor
        out[i] = prev
    return out.view(np.float64).copy()
