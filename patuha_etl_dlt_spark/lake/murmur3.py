"""Spark's ``hash()`` on the driver, in pure Python.

``F.hash(*cols)`` is Murmur3 x86_32 with seed 42, chained over the columns
(each column's hash is the next column's seed) and skipping NULLs. The
lake places every row in bucket ``pmod(hash(keys), num_buckets)``, so a
point lookup can compute the buckets of its keys here, without a Spark
job. ``tests/test_lake.py::test_partition_id_equals_bucket_expr`` checks
this function against ``F.hash`` for every lake type.

Values are Spark's internal ones: a timestamp is microseconds since the
epoch, a date days since the epoch, a decimal already at its column's
scale. Type names are the lake's (``metadata.spark_type``).
"""

from __future__ import annotations

import decimal
import math
import struct

SEED = 42
_M32 = 0xFFFFFFFF
# Java's floatToIntBits / doubleToLongBits of every NaN
_FLOAT_NAN_BITS = 0x7FC00000
_DOUBLE_NAN_BITS = 0x7FF8000000000000
_MAX_LONG_DIGITS = 18


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    return (_rotl(k1, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 = _rotl(h1 ^ k1, 13)
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _hash_int(v: int, seed: int) -> int:
    return _fmix(_mix_h1(seed, _mix_k1(v & _M32)), 4)


def _hash_long(v: int, seed: int) -> int:
    h1 = _mix_h1(seed, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    return _fmix(h1, 8)


def _hash_bytes(b: bytes, seed: int) -> int:
    """``Murmur3_x86_32.hashUnsafeBytes``: little-endian 4-byte words, then
    each trailing byte mixed on its own as a SIGNED int (Spark's legacy,
    non-standard tail)."""
    aligned = len(b) - len(b) % 4
    h1 = seed
    for (w,) in struct.iter_unpack("<I", b[:aligned]):
        h1 = _mix_h1(h1, _mix_k1(w))
    for x in b[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((x - 256 if x > 127 else x) & _M32))
    return _fmix(h1, len(b))


def _float_bits(v: float, fmt: str, bits_fmt: str, nan_bits: int) -> int:
    """Java's ``floatToIntBits``/``doubleToLongBits`` as Spark hashes them:
    -0.0 as 0.0 and every NaN as the canonical NaN."""
    if v == 0:
        return 0
    if math.isnan(v):
        return nan_bits
    return struct.unpack("<" + bits_fmt, struct.pack("<" + fmt, v))[0]


def _hash_value(v, typ: str, seed: int) -> int:
    if typ in ("int", "date"):
        return _hash_int(v, seed)
    if typ in ("long", "timestamp"):
        return _hash_long(v, seed)
    if typ == "boolean":
        return _hash_int(1 if v else 0, seed)
    if typ == "float":
        return _hash_int(_float_bits(v, "f", "I", _FLOAT_NAN_BITS), seed)
    if typ == "double":
        return _hash_long(_float_bits(v, "d", "Q", _DOUBLE_NAN_BITS), seed)
    if typ == "string":
        return _hash_bytes(v.encode("utf-8"), seed)
    if typ == "binary":
        return _hash_bytes(bytes(v), seed)
    if typ.startswith("decimal("):
        precision, scale = (int(x) for x in typ[8:-1].split(","))
        # the column's precision: decimal(38,s) exceeds the default 28-digit context
        unscaled = int(v.scaleb(scale, decimal.Context(prec=precision)))
        if precision <= _MAX_LONG_DIGITS:
            return _hash_long(unscaled, seed)
        # BigInteger.toByteArray: minimal big-endian two's complement
        bits = unscaled.bit_length() if unscaled >= 0 else (~unscaled).bit_length()
        return _hash_bytes(unscaled.to_bytes(bits // 8 + 1, "big", signed=True), seed)
    raise ValueError(f"no driver-side Spark hash for lake type {typ!r}")


def spark_hash(values, types) -> int:
    """``F.hash(*cols)`` of one row: ``values`` are the row's internal
    values, ``types`` their lake types. Returns a signed 32-bit int."""
    h = SEED
    for v, typ in zip(values, types, strict=True):
        if v is not None:
            h = _hash_value(v, typ, h)
    return h - (1 << 32) if h >= 1 << 31 else h
