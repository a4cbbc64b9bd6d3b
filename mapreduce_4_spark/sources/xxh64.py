"""Pure-Python twin of Spark's XxHash64 expression — for the bloom
probes that pick chain dirs: the ``mr4ver`` DataSource front door's
planning, and the Spark-side bloom-pruned reads and copy-on-write
classification (``versioned._bloom_positions``), where hashing in
Python saves a Spark job per probe.

Why this exists: a Python DataSource's ``pushFilters``/``partitions()``
run in a planning worker with NO SparkSession, so the dir-skipping
bloom probe there cannot evaluate the JVM ``_bloom_positions_col``
expression the filters were BUILT with (sources/versioned.py). The
probe must still hash bit-identically to the writer — a drifted hash
would skip dirs that hold matches — so this module reimplements the
exact algorithm (the reference XXH64 as Spark's
``catalyst.expressions.XXH64`` implements it, seed chaining included)
and ``tests/test_pyds_versioned.py`` pins every supported type
bit-equal to the JVM expression. Types without a pinned twin are
simply not probed (the caller degrades to window-only pruning —
conservative, never wrong).

All arithmetic is in unsigned-64 space (``& _M``); Spark's signed
long semantics only matter at the ``pmod`` boundary, handled in
:func:`bloom_positions`.
"""

from __future__ import annotations

import struct

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

#: Spark's XxHash64 expression seed (HashExpression default)
SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def hash_int(value: int, seed: int) -> int:
    """XXH64 of one 32-bit int (Spark hashes byte/short/int this way)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def hash_long(value: int, seed: int) -> int:
    """XXH64 of one 64-bit long."""
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((value & _M) * _P2 & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string (Spark hashes UTF8String/binary this way:
    32-byte stripes, then 8-byte words, then a 4-byte word, then
    bytes)."""
    length = len(data)
    offset = 0
    if length >= 32:
        limit = length - 32
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while offset <= limit:
            w = struct.unpack_from("<4Q", data, offset)
            v1 = (_rotl((v1 + w[0] * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + w[1] * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + w[2] * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + w[3] * _P2) & _M, 31) * _P1) & _M
            offset += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h ^= v
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while offset + 8 <= length:
        (k1,) = struct.unpack_from("<Q", data, offset)
        h ^= (_rotl((k1 * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        offset += 8
    if offset + 4 <= length:
        (k1,) = struct.unpack_from("<I", data, offset)
        h ^= (k1 * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        offset += 4
    while offset < length:
        h ^= (data[offset] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        offset += 1
    return _fmix(h)


#: manifest-schema type names (simpleString) this twin can hash with
#: pinned JVM parity; anything else degrades to window-only pruning
SUPPORTED_TYPES = frozenset({
    "tinyint", "smallint", "int", "integer", "bigint", "long", "string",
})


def _hash_value(value, sql_type: str, seed: int) -> int:
    if sql_type in ("tinyint", "smallint", "int", "integer"):
        return hash_int(int(value), seed)
    if sql_type in ("bigint", "long"):
        return hash_long(int(value), seed)
    if sql_type == "string":
        return hash_bytes(str(value).encode("utf-8"), seed)
    raise TypeError(f"no pinned xxh64 twin for type {sql_type!r}")


def bloom_positions(value, sql_type: str, bits: int, k: int) -> list[int]:
    """The ``k`` bloom bit positions for ``value`` — bit-identical to
    ``versioned._bloom_positions_col`` (``pmod(xxhash64(lit(seed),
    col), bits)`` per seed): Spark chains multi-arg xxhash64 by using
    each child's hash as the next child's seed, starting from 42, and
    ``pmod`` interprets the result as a SIGNED long."""
    out = []
    for s in range(k):
        h = hash_int(s, SPARK_SEED)          # the lit(seed) int child
        h = _hash_value(value, sql_type, h)  # the column child
        signed = h - (1 << 64) if h >= (1 << 63) else h
        out.append(signed % bits)            # == Spark pmod for bits>0
    return out


def positions_for(sql_type: str | None):
    """The ``positions(vals, bits, k)`` bloom hash the dir planner
    (``versioned._plan_dirs``) takes, for a column of ``sql_type``:
    each value's bit positions, or None — no bloom proof — for a type
    without a pinned twin."""
    def positions(vals: list, bits: int, k: int) -> list[list[int]] | None:
        if sql_type not in SUPPORTED_TYPES:
            return None
        return [bloom_positions(v, sql_type, bits, k) for v in vals]

    return positions
