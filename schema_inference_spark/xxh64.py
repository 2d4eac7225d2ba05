"""Pure-Python XXH64 matching Spark's `xxhash64` expression bit-for-bit.

Spark's `XxHash64` (seed 42) folds its children left-to-right: the
running hash seeds the next child's hash. A string child hashes its
UTF-8 bytes with the full streaming algorithm; an int child hashes as
the standard <32-byte tail's single 4-byte step (Spark's `hashInt` IS
`XXH64(le4(i), seed)` — same constants, same finalization), a long as
the single 8-byte step. This module implements the public XXH64 spec
(https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md) so
Python code can reproduce the SAME signature values the JVM fold
produces — verified bit-for-bit against `F.xxhash64` in
tests/test_streaming_minhash.py.

`hash_int32_vec` vectorizes the int step over a seed-shared value
vector (the 64 MinHash seeds hash the same shingle hash);
`hash_int32_seedvec` is its seed-vector twin used by the MinHash
index build.
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string; returns the UNSIGNED 64-bit hash.
    `to_signed` converts to Spark's LongType two's-complement view."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
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
    return _fmix(h)


def to_signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64_str_int(s: str, i: int, seed: int = 42) -> int:
    """Spark's `xxhash64(string_col, lit(int32))`: the string's hash
    seeds the int step. Returns the signed LongType value."""
    h = xxh64(s.encode("utf-8"), seed)
    return to_signed(xxh64((i & 0xFFFFFFFF).to_bytes(4, "little"), h))


_U = np.uint64


def hash_int32_seedvec(value: int, seeds: np.ndarray) -> np.ndarray:
    """Vectorized `XXH64(le4(value), seed)` over a SEED vector with one
    shared int32 value — the transpose of ``hash_int32_vec``: here the
    per-shingle base hashes (`F.xxhash64(shingle)`, Spark LongType) are
    the seeds and the MinHash seed index is the hashed value, exactly
    Spark's `xxhash64(shingle, lit(i))` composition. ``seeds`` is signed
    int64 (as the JVM emits); returns SIGNED int64."""
    with np.errstate(over="ignore"):
        h = seeds.astype(np.int64).view(_U) + _U((_P5 + 4) & _M)
        h = h ^ _U((value * _P1) & _M)
        h = ((h << _U(23)) | (h >> _U(41))) * _U(_P2) + _U(_P3)
        h ^= h >> _U(33)
        h *= _U(_P2)
        h ^= h >> _U(29)
        h *= _U(_P3)
        h ^= h >> _U(32)
    return h.view(np.int64)


def hash_int32_vec(values: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized `XXH64(le4(v), seed)` over an int32-value vector with
    one shared seed — Spark's `hashInt` for every MinHash seed index at
    once. Returns SIGNED int64 (Spark LongType)."""
    with np.errstate(over="ignore"):
        v = values.astype(_U)
        h = np.full(v.shape, _U((seed + _P5 + 4) & _M), dtype=_U)
        h ^= v * _U(_P1)
        h = ((h << _U(23)) | (h >> _U(41))) * _U(_P2) + _U(_P3)
        h ^= h >> _U(33)
        h *= _U(_P2)
        h ^= h >> _U(29)
        h *= _U(_P3)
        h ^= h >> _U(32)
    return h.view(np.int64)
