"""Bloom filter — mergeable approximate-membership sketch (Bloom, CACM 1970).

Replaces the reference's membership test of an event hash against the
in-memory allowed-hash set
(/root/reference/src/eval/EnvPolicyEvaluator.py:192-199,210-215) with a
fixed-size bit array: zero false negatives, false-positive rate
~(1 - e^{-kn/m})^k.

Bit array is stored as uint64 words; inserts and probes are fully
vectorized (one ``hash64_multi`` pass for all k probes of a batch).
Merging is bitwise OR (same (m, k) family).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from associationabacminer_spark.sketch.hashing import hash64_multi

_MAGIC = b"BLM1"


class BloomFilter:
    __slots__ = ("m", "k", "words", "n_inserted")

    def __init__(self, m_bits: int, k: int):
        self.m = int(m_bits)
        self.k = int(k)
        self.words = np.zeros((self.m + 63) // 64, dtype=np.uint64)
        self.n_inserted = 0

    @classmethod
    def from_capacity(cls, n: int, fpp: float = 0.01) -> "BloomFilter":
        """Optimal sizing: m = -n ln p / ln^2 2, k = m/n ln 2."""
        m = max(64, math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2))) if n > 0 else 1
        return cls(m, k)

    def _positions(self, values, prehashed: bool = False) -> np.ndarray:
        # double hashing: pos_i = (h1 + i*h2) mod m  (Kirsch-Mitzenmacher)
        hm = hash64_multi(values, np.array([0, 1], dtype=np.uint64), prehashed=prehashed)
        h1, h2 = hm[0], hm[1] | np.uint64(1)
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + i * h2[None, :]) % np.uint64(self.m)).astype(
                np.int64
            )

    def _positions_pairs(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Positions from externally supplied (h1, h2) 64-bit hashes —
        the overflow-free formula shared bit-for-bit with the Spark SQL
        reduction (operators/sql_sketch.bloom_from_sql):
        pos_i = (pmod(h1, m) + i * pmod(h2|1, m)) mod m."""
        m = np.int64(self.m)
        h1m = np.asarray(h1, dtype=np.int64) % m  # numpy % is pmod for m>0
        h2m = (np.asarray(h2, dtype=np.int64) | np.int64(1)) % m
        i = np.arange(self.k, dtype=np.int64)[:, None]
        return (h1m[None, :] + i * h2m[None, :]) % m

    def update_pairs(self, h1: np.ndarray, h2: np.ndarray) -> "BloomFilter":
        """Insert keys given their (xxhash64(key), xxhash64(key, 1))
        hash pair (the SQL-parity scheme)."""
        if len(h1) == 0:
            return self
        pos = self._positions_pairs(h1, h2).ravel()
        np.bitwise_or.at(
            self.words, pos >> 6, np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63))
        )
        self.n_inserted += len(h1)
        return self

    def contains_pairs(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.empty(0, dtype=bool)
        pos = self._positions_pairs(h1, h2)
        bits = (
            self.words[pos >> 6] >> (pos.astype(np.uint64) & np.uint64(63))
        ) & np.uint64(1)
        return bits.all(axis=0)

    def update_batch(self, values, prehashed: bool = False) -> "BloomFilter":
        if len(values) == 0:
            return self
        pos = self._positions(values, prehashed=prehashed).ravel()
        np.bitwise_or.at(
            self.words, pos >> 6, np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63))
        )
        self.n_inserted += len(values)
        return self

    def contains(self, values, prehashed: bool = False) -> np.ndarray:
        """Vectorized membership probe -> bool array."""
        if len(values) == 0:
            return np.empty(0, dtype=bool)
        pos = self._positions(values, prehashed=prehashed)  # (k, n)
        bits = (
            self.words[pos >> 6] >> (pos.astype(np.uint64) & np.uint64(63))
        ) & np.uint64(1)
        return bits.all(axis=0)

    @property
    def expected_fpp(self) -> float:
        return (1.0 - math.exp(-self.k * self.n_inserted / self.m)) ** self.k

    @staticmethod
    def merge(a: "BloomFilter", b: "BloomFilter") -> "BloomFilter":
        if (a.m, a.k) != (b.m, b.k):
            raise ValueError("cannot merge Bloom filters of different families")
        out = BloomFilter(a.m, a.k)
        np.bitwise_or(a.words, b.words, out=out.words)
        out.n_inserted = a.n_inserted + b.n_inserted
        return out

    def serialize(self) -> bytes:
        """Dense (raw words) or sparse (set-bit positions) — whichever is
        smaller.  Partial per-partition states are mostly-zero bit arrays;
        sparse encoding shrinks the shuffle payload of the tree merge by
        orders of magnitude at high partition counts (the 100 TB path)."""
        nz = np.flatnonzero(self.words)
        # bit j of a word is bit j % 8 of its little-endian byte j // 8
        bits = np.unpackbits(
            self.words[nz].astype("<u8").view(np.uint8), bitorder="little"
        )
        if np.count_nonzero(bits) < len(self.words):  # 8 bytes per position vs per word
            idx = np.flatnonzero(bits)
            set_bits = (nz[idx >> 6] << 6) | (idx & 63)
            head = _MAGIC + struct.pack(
                "<qIqBq", self.m, self.k, self.n_inserted, 1, len(set_bits)
            )
            return head + set_bits.astype("<i8").tobytes()
        head = _MAGIC + struct.pack(
            "<qIqBq", self.m, self.k, self.n_inserted, 0, len(self.words)
        )
        return head + self.words.astype("<u8").tobytes()

    @staticmethod
    def deserialize(data: bytes) -> "BloomFilter":
        if data[:4] != _MAGIC:
            raise ValueError("not a Bloom blob")
        m, k, n, mode, cnt = struct.unpack("<qIqBq", data[4:33])
        out = BloomFilter(m, k)
        out.n_inserted = n
        payload = data[33:]
        if mode == 1:
            pos = np.frombuffer(payload, dtype="<i8", count=cnt).astype(np.int64)
            if len(pos):
                np.bitwise_or.at(
                    out.words,
                    pos >> 6,
                    np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63)),
                )
        else:
            out.words = np.frombuffer(payload, dtype="<u8", count=cnt).astype(
                np.uint64
            )
        return out
