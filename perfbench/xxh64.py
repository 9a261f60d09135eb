"""Pure-Python XXH64, bit-compatible with Spark's ``xxhash64`` expression.

Spark hashes each column's bytes with XXH64 and chains the columns through
the seed (``xxhash64(a, b)`` = XXH64(b, seed=XXH64(a, seed=42))), returning a
signed long. The oracles use this to recompute vertex ids and simhash token
hashes without going through the engine.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    return ((acc ^ _round(0, val)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Unsigned 64-bit XXH64 digest of ``data``."""
    seed &= _M
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = _merge(h, lane)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def spark_xxhash64(*strings: str) -> int:
    """``F.xxhash64(*string_columns)`` for one row, as a signed long."""
    h = SPARK_SEED
    for s in strings:
        h = xxh64(s.encode("utf-8"), h)
    return h - (1 << 64) if h >= 1 << 63 else h
