"""Pure-Python implementation of Spark's ``xxhash64`` expression.

Spark's ``F.xxhash64(cols...)`` (catalyst XxHash64, default seed 42) chains
the public XXH64 algorithm over the columns: ``h = seed; for col: h =
XXH64_typed(value, h)`` with NULLs skipped.  The per-type hashing follows
Spark's ``XXH64`` util (spark/sql/catalyst/expressions/XXH64.java):

* int/boolean  -> hashInt  (4-byte block finalization)
* long         -> hashLong (8-byte block finalization)
* float        -> hashInt(floatToIntBits),  double -> hashLong(doubleToLongBits)
* string       -> hashUnsafeBytes over the UTF-8 bytes (32-byte stripes,
                  then 8-byte words, then trailing bytes — little-endian)

Having the exact hash on the driver lets the point-read fast path compute a
key's bucket (``pmod(xxhash64(pk...), n_buckets)``) without launching a
Spark job.  Parity with the JVM expression is pinned by a property test
(tests/test_point_read_fastpath.py) over ints, longs, unicode strings and
multi-column chaining.
"""

from __future__ import annotations

import struct

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    h ^= h >> 32
    return h


def _hash_long(value: int, seed: int) -> int:
    value &= _M
    h = (seed + P5 + 8) & _M
    h ^= _rotl((value * P2) & _M, 31) * P1 & _M
    h = (_rotl(h, 27) * P1 + P4) & _M
    return _fmix(h)


def _hash_int(value: int, seed: int) -> int:
    h = (seed + P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * P1) & _M
    h = (_rotl(h, 23) * P2 + P3) & _M
    return _fmix(h)


def _hash_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    idx = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M
        v2 = (seed + P2) & _M
        v3 = seed & _M
        v4 = (seed - P1) & _M
        while idx <= n - 32:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, idx)
            v1 = (_rotl((v1 + k1 * P2) & _M, 31) * P1) & _M
            v2 = (_rotl((v2 + k2 * P2) & _M, 31) * P1) & _M
            v3 = (_rotl((v3 + k3 * P2) & _M, 31) * P1) & _M
            v4 = (_rotl((v4 + k4 * P2) & _M, 31) * P1) & _M
            idx += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * P2) & _M, 31) * P1) & _M
            h = (h * P1 + P4) & _M
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while idx <= n - 8:
        (k,) = struct.unpack_from("<Q", data, idx)
        h ^= (_rotl((k * P2) & _M, 31) * P1) & _M
        h = (_rotl(h, 27) * P1 + P4) & _M
        idx += 8
    if idx <= n - 4:
        (k,) = struct.unpack_from("<I", data, idx)
        h ^= (k * P1) & _M
        h = (_rotl(h, 23) * P2 + P3) & _M
        idx += 4
    while idx < n:
        h ^= (data[idx] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        idx += 1
    return _fmix(h)


def spark_xxhash64(values, types, seed: int = 42) -> int:
    """``F.xxhash64(*cols)`` for one row: ``values``/``types`` are parallel
    sequences (types use the table-schema names: int/long/float/double/
    boolean/string).  Returns Spark's SIGNED 64-bit result."""
    h = seed & _M
    for v, t in zip(values, types):
        if v is None:
            continue
        if t == "long":
            h = _hash_long(int(v), h)
        elif t == "int":
            h = _hash_int(int(v) & 0xFFFFFFFF, h)
        elif t == "boolean":
            h = _hash_int(1 if v else 0, h)
        elif t == "float":
            f = float(v)
            if f == 0.0:
                f = 0.0  # Spark normalizes -0.0f before hashing
            if f != f:
                bits = 0x7FC00000  # canonical NaN
            else:
                try:
                    (bits,) = struct.unpack("<i", struct.pack("<f", f))
                except OverflowError:  # beyond float32 range: +-inf bits
                    bits = 0x7F800000 if f > 0 else 0xFF800000
            h = _hash_int(bits & 0xFFFFFFFF, h)
        elif t == "double":
            d = float(v)
            if d == 0.0:
                d = 0.0  # Spark normalizes -0.0 before hashing
            if d != d:
                bits = 0x7FF8000000000000  # canonical NaN
            else:
                (bits,) = struct.unpack("<q", struct.pack("<d", d))
            h = _hash_long(bits, h)
        elif t == "string":
            h = _hash_bytes(str(v).encode("utf-8"), h)
        else:
            raise ValueError(f"unhashable type {t!r} for spark_xxhash64")
    return h - (1 << 64) if h >= (1 << 63) else h

