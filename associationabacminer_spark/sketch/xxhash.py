"""XXH64 compatible with Spark's ``F.xxhash64`` (seed 42).

Why: the dominant cost of a pandas-UDAF sketch build is the Arrow
JVM->Python transfer of wide string key columns.  Pre-hashing keys
JVM-side with the codegen'd ``xxhash64`` shrinks every key to 8 bytes and
moves the hashing into whole-stage codegen.  The kernels then consume
int64 *pre-hashed* keys; point queries (CMS/Bloom) hash their probe keys
driver-side with this module, which reproduces Spark's values bit-for-bit
(parity-tested in tests/test_sketch_kernels.py).

XXH64 is a public algorithm (Yann Collet, BSD); this is an independent
implementation from the published spec.

Spark semantics reproduced here:
- LongType column  -> XXH64 of the 8-byte little-endian value
- StringType column -> XXH64 of the UTF-8 bytes
- seed = 42 (Spark's fixed default for ``xxhash64``)
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

SPARK_SEED = 42


def _u64(b: bytes, i: int) -> int:
    return int.from_bytes(b[i : i + 8], "little")


def _u32(b: bytes, i: int) -> int:
    return int.from_bytes(b[i : i + 4], "little")


def xxh64_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Reference XXH64 over arbitrary bytes (query-side key hashing —
    small batches, driver-side only)."""
    M = 0xFFFFFFFFFFFFFFFF
    P1, P2, P3, P4, P5 = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & M

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 32 <= n:
            v1 = (rotl((v1 + _u64(data, i) * P2) & M, 31) * P1) & M
            v2 = (rotl((v2 + _u64(data, i + 8) * P2) & M, 31) * P1) & M
            v3 = (rotl((v3 + _u64(data, i + 16) * P2) & M, 31) * P1) & M
            v4 = (rotl((v4 + _u64(data, i + 24) * P2) & M, 31) * P1) & M
            i += 32
        acc = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            acc ^= (rotl((v * P2) & M, 31) * P1) & M
            acc = (acc * P1 + P4) & M
    else:
        acc = (seed + P5) & M
    acc = (acc + n) & M
    while i + 8 <= n:
        acc ^= (rotl((_u64(data, i) * P2) & M, 31) * P1) & M
        acc = (rotl(acc, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        acc ^= (_u32(data, i) * P1) & M
        acc = (rotl(acc, 23) * P2 + P3) & M
        i += 4
    while i < n:
        acc ^= (data[i] * P5) & M
        acc = (rotl(acc, 11) * P1) & M
        i += 1
    acc ^= acc >> 33
    acc = (acc * P2) & M
    acc ^= acc >> 29
    acc = (acc * P3) & M
    acc ^= acc >> 32
    return acc


def xxh64_pair_keys(values) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) per key where h1 = Spark ``xxhash64(key)`` and
    h2 = Spark ``xxhash64(key, lit(1))``.  Spark chains multi-argument
    xxhash64 by feeding the running hash as the next argument's seed, so
    h2 = XXH64(bytes(1 as little-endian long), seed=h1)."""
    h1 = xxh64_keys(values)
    one = (1).to_bytes(8, "little", signed=True)
    h2 = np.array([xxh64_bytes(one, int(h)) for h in h1], dtype=np.uint64)
    return h1, h2


def xxh64_keys(values, seed: int = SPARK_SEED) -> np.ndarray:
    """Hash a small batch of query keys exactly as Spark's xxhash64 would
    hash the source column: ints -> 8-byte LE, str -> UTF-8, bytes raw."""
    out = np.empty(len(values), dtype=np.uint64)
    for j, v in enumerate(values):
        if isinstance(v, (int, np.integer)):
            b = int(v).to_bytes(8, "little", signed=True)
        elif isinstance(v, str):
            b = v.encode("utf-8")
        else:
            b = bytes(v)
        out[j] = xxh64_bytes(b, seed)
    return out
