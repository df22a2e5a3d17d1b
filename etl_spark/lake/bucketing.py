"""Driver-side bucket routing: Spark's ``pmod(xxhash64(key), n)`` in pure
Python, so finding a key's bucket costs microseconds instead of a Spark
job.

``LakeTable.bucket_expr`` routes rows on the write path with Spark's
``xxhash64`` (XXH64, seed 42). This module reproduces that hash for the
key types a point read is asked for:

* strings hash their UTF-8 bytes;
* 32-bit integer columns (``int``, ``smallint``, ``tinyint``) hash the
  value as 4 little-endian bytes, ``bigint`` as 8;
* NULL leaves the seed unchanged, as Spark does.

Any other key type returns None and the caller asks Spark. Stdlib only;
tens of microseconds per key.
"""

from __future__ import annotations

import struct

SEED = 42

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

# Spark hashes these column types with hashInt (4 bytes), bigint with
# hashLong (8 bytes)
_INT32_TYPES = {"int", "smallint", "tinyint"}


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int = SEED) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit integer."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl(h ^ ((k * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def spark_xxhash64(value, key_type: str) -> int | None:
    """``F.xxhash64`` of one value of a column typed ``key_type`` (Spark
    DDL name), as Spark's signed long; None when the type is not covered."""
    if value is None:
        return SEED
    if isinstance(value, str):
        h = xxh64(value.encode("utf-8"))
    elif isinstance(value, int) and not isinstance(value, bool):
        if key_type in _INT32_TYPES and -(1 << 31) <= value < (1 << 31):
            h = xxh64(struct.pack("<i", value))
        elif key_type == "bigint" and -(1 << 63) <= value < (1 << 63):
            h = xxh64(struct.pack("<q", value))
        else:
            return None
    else:
        return None
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(value, num_buckets: int, key_type: str) -> int | None:
    """``pmod(xxhash64(value), num_buckets)`` — the bucket the write path
    puts ``value`` in — or None when the type is not covered."""
    h = spark_xxhash64(value, key_type)
    # Python's % of a positive modulus is already Spark's pmod
    return None if h is None else h % num_buckets
