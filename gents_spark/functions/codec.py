"""Gorilla XOR + delta-of-delta payload codec (SURVEY.md §2.10 U3, M4).

GenTS's only compression surface is the netCDF zlib level knob
(``gents/timeseries.py:617-658, 692-710``).  The north_rule replaces it
with a value-level time-series codec:

- integer streams (token arrays, bucket counts/sums): delta-of-delta with
  Gorilla-style variable-width buckets, zigzag-coded;
- float streams (percentile series): Gorilla XOR with explicit
  leading-zero/significant-bit windows.

Implementation notes:

- ENCODING is columnar NumPy: ``encode_i64_columnar`` takes a flat
  value buffer plus list offsets (an Arrow ``ListArray``'s buffers) and
  returns one byte buffer plus offsets (an Arrow ``BinaryArray``'s),
  bucket selection and bit-packing done once for every array of the
  batch; ``_pack`` ORs the codes into 64-bit words.  No per-array or
  per-element Python in encode.
- The float XOR path writes a fresh (leading, sigbits) window per
  non-zero XOR instead of Gorilla's "reuse previous window" control bit.
  That drops the sequential encode dependency (few % larger output,
  identical information) — the deviation is deliberate and documented.
  The engine has no float stream to encode: every payload it writes is
  an integer ``sum_tok``/``n_tok`` stream, and percentiles are plain
  tier columns.  ``encode_f64``/``decode_f64`` stay as the Gorilla XOR
  half of the codec the design names (BASELINE.json), pinned by their
  round-trip tests, for a float payload column to use.
- DECODING of variable-length prefix codes is inherently sequential; it
  runs per-array over ``np.unpackbits`` output.  Decode sits on the read
  path of *payloads* (small per-bucket streams), not the ingest path.

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
    (0b11111, 5, 36),  # max total 41 bits
]
_MAX_ZZ = (1 << 36) - 1
#: values beyond +/-2^60 risk silent int64 wrap in the two difference
#: levels -> raw mode (token-count streams never get near this)
_MAX_ABS = 1 << 60
#: a zigzag(dod) takes the first bucket whose limit exceeds it
_LIMITS = np.array([1 << pay for _, _, pay in _DOD_BUCKETS[:-1]], np.uint64)
_PREFIX = np.array([p << pay for p, _, pay in _DOD_BUCKETS], np.uint64)
_BITS = np.array([plen + pay for _, plen, pay in _DOD_BUCKETS], np.uint64)


def _pack(codes, lens, counts, head: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Write variable-length codes (uint64 values of 1-64 bits, lengths
    in ``lens``) MSB-first into big-endian 64-bit words.  Consecutive
    runs of ``counts`` codes form segments; each starts with ``head``
    zero bytes (a header for the caller to fill) and is zero-padded to
    a whole byte.  Returns the bytes (uint8) and the segments' offsets.

    A code overlaps at most two words: its head is ORed into its word by
    one ``bitwise_or.reduceat`` over the codes (their words never
    decrease), its spill into the next word by one scatter (a word takes
    the spill of at most one code).
    """
    lens = np.asarray(lens, np.uint64)
    counts = np.asarray(counts, np.int64)
    cum = np.zeros(len(lens) + 1, np.uint64)
    np.cumsum(lens, out=cum[1:])
    ends = np.cumsum(counts)
    seg_bits = (cum[ends] - cum[ends - counts]).astype(np.int64) + 8 * head
    offsets = np.zeros(len(counts) + 1, np.int64)
    np.cumsum((seg_bits + 7) >> 3, out=offsets[1:])
    # each code's bit position, its segment starting on a byte boundary
    pad = 8 * (offsets[:-1] + head) - cum[ends - counts].astype(np.int64)
    bit = cum[:-1] + np.repeat(pad, counts).view(np.uint64)
    words = np.zeros((offsets[-1] + 7) >> 3, np.uint64)
    if len(lens):
        word = bit >> np.uint64(6)
        shift = bit & np.uint64(63)
        aligned = np.asarray(codes, np.uint64) << (np.uint64(64) - lens)
        first = np.empty(len(word), bool)
        first[0] = True
        np.not_equal(word[1:], word[:-1], out=first[1:])
        (first,) = np.nonzero(first)
        words[word[first]] = np.bitwise_or.reduceat(aligned >> shift, first)
        (spill,) = np.nonzero(shift + lens > np.uint64(64))
        words[word[spill] + np.uint64(1)] |= aligned[spill] << (np.uint64(64) - shift[spill])
    return words.astype(">u8").view(np.uint8)[: offsets[-1]], offsets


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


def encode_i64_columnar(values, offsets) -> tuple[np.ndarray, np.ndarray]:
    """Delta-of-delta encode many integer arrays at once: array ``i`` is
    ``values[offsets[i]:offsets[i + 1]]`` (``offsets[0]`` need not be 0,
    as in a sliced Arrow list).  Returns the encodings' bytes (uint8)
    and their offsets, ``len(offsets)`` long and starting at 0.

    Every element becomes one code, all packed by one ``_pack`` call
    behind each array's 5-byte header: each later element of a packed
    array is its DoD's bucket code, the bucket picked by one
    ``searchsorted`` over the bucket limits; the first element, the
    first delta and every element of a raw-mode array are 64-bit codes
    holding their little-endian bytes.
    """
    offsets = np.asarray(offsets, np.int64)
    values = np.asarray(values, np.int64)[offsets[0] : offsets[-1]]
    offsets = offsets - offsets[0]
    n = np.diff(offsets)
    # differences wrap across array edges and beyond +/-2^60, where
    # their codes are overwritten below
    delta = np.empty_like(values)
    np.subtract(values[1:], values[:-1], out=delta[1:])
    dod = np.empty_like(values)
    np.subtract(delta[1:], delta[:-1], out=dod[1:])
    zz = ((dod << 1) ^ (dod >> 63)).view(np.uint64)
    bucket = np.searchsorted(_LIMITS, zz, side="right")
    codes = _PREFIX[bucket] | zz
    lens = _BITS[bucket]

    raw = np.zeros(len(n), bool)
    dod_at = np.ones(len(values), bool)
    dod_at[offsets[:-1][n >= 1]] = False
    dod_at[offsets[:-1][n >= 2] + 1] = False
    # |v| <= 2^60 keeps both difference levels exact; beyond, store raw
    (bad,) = np.nonzero(
        ((values + _MAX_ABS).view(np.uint64) > np.uint64(2 * _MAX_ABS))
        | (dod_at & (zz > np.uint64(_MAX_ZZ)))
    )
    raw[np.searchsorted(offsets, bad, side="right") - 1] = True
    raw &= n >= 2
    whole = offsets[:-1][n >= 1]
    second = offsets[:-1][(n >= 2) & ~raw] + 1
    if raw.any():
        whole = np.r_[whole, np.flatnonzero(np.repeat(raw, n))]
    codes[whole] = values[whole].byteswap().view(np.uint64)
    codes[second] = delta[second].byteswap().view(np.uint64)
    lens[whole] = lens[second] = 64

    data, out = _pack(codes, lens, n, head=5)
    header = np.empty(len(n), [("mode", "u1"), ("n", "<u4")])
    header["mode"], header["n"] = np.where(raw, _MAGIC_RAW, _MAGIC_PACKED), n
    data[out[:-1, None] + np.arange(5)] = header.view(np.uint8).reshape(-1, 5)
    return data, out


def encode_i64(arr) -> bytes:
    """Delta-of-delta encode one integer sequence."""
    a = np.asarray(arr, dtype=np.int64)
    return encode_i64_columnar(a, [0, len(a)])[0].tobytes()


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
    keep = lens > 0  # an unchanged value has no payload code
    return head + prefix + _pack(codes[keep], lens[keep], [keep.sum()])[0].tobytes()


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
