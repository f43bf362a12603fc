"""Bottom-k (k-minimum-values) sketch — a mergeable DISTINCT-uniform
sample + cardinality estimator (Bar-Yossef et al. 2002; Beyer et al.
SIGMOD 2007 "KMV synopses").

State is the k smallest distinct 64-bit hashes seen (plus an optional
int64 payload per kept hash, e.g. the pre-hashed key or a doc id), so:

* merge = concat, dedupe by hash, sort, truncate — associative,
  commutative, idempotent (re-absorbing the same keys is a no-op),
  byte-deterministic: no RNG anywhere, unlike a classic reservoir
  sample, which is why this is the mergeable uniform sample that fits
  the engine's resume/lineage story.
* the kept hashes are a uniform sample of the DISTINCT keys (each
  distinct key's hash is an iid uniform draw; keeping the k smallest is
  order- and duplication-invariant).
* distinct estimate (KMV): n < k -> exact n; else (k-1) / U_(k) with
  U_(k) = h_(k) / 2^64, relative error ~ 1/sqrt(k-2).

Payload validity is tracked out-of-band in a boolean mask rather than an
in-band sentinel: in the prehashed path the payload IS the xxhash64 key,
so every int64 value — including int64 min — is a legal payload.

Reference analog: the exact SHA-256 hash-set distinct counting of
/root/reference/src/eval/EnvPolicyEvaluator.py:106-169 — bottom-k keeps
a bounded subset of exactly that hash set and still answers both "how
many distinct" and "show me a uniform sample of them".
"""

from __future__ import annotations

import struct

import numpy as np

from associationabacminer_spark.sketch.hashing import hash64

# v2 appends a per-entry payload-validity byte mask; v1 used the in-band
# sentinel int64 min, which collides with the hash domain in the
# prehashed path (a key hashing to -2^63 would vanish from sample()).
_MAGIC = b"BTK2"
_MAGIC_V1 = b"BTK1"
_V1_NO_PAYLOAD = np.int64(-(2**63))


class BottomK:
    __slots__ = ("k", "hashes", "payloads", "has_payload")

    def __init__(self, k: int = 256):
        self.k = int(k)
        self.hashes = np.empty(0, dtype=np.uint64)
        self.payloads = np.empty(0, dtype=np.int64)
        self.has_payload = np.empty(0, dtype=bool)

    # -- updates ----------------------------------------------------------
    def update_batch(self, values, prehashed: bool = False) -> "BottomK":
        """Absorb raw values (hashed with the library splitmix hash), or
        pre-hashed int64 keys (``prehashed=True`` — the harness/SQL path;
        payload rides along so the sample stays joinable)."""
        if prehashed:
            h = np.asarray(values, dtype=np.int64)
            return self.update_hashes(h.astype(np.uint64), payloads=h)
        return self.update_hashes(hash64(values))

    def update_hashes(self, h: np.ndarray, payloads=None) -> "BottomK":
        """Absorb pre-hashed keys (uint64 view of e.g. Spark xxhash64).
        ``payloads`` rides along with each kept hash (int64)."""
        h = np.asarray(h).astype(np.uint64, copy=False)
        if payloads is None:
            p = np.zeros(h.shape, dtype=np.int64)
            m = np.zeros(h.shape, dtype=bool)
        else:
            p = np.asarray(payloads, dtype=np.int64)
            m = np.ones(h.shape, dtype=bool)
        self._absorb(h, p, m)
        return self

    def _absorb(self, h: np.ndarray, p: np.ndarray, m: np.ndarray) -> None:
        ah = np.concatenate([self.hashes, h])
        ap = np.concatenate([self.payloads, p])
        am = np.concatenate([self.has_payload, m])
        # dedupe by hash (payload of the first occurrence wins — payloads
        # are a pure function of the key in every sane use, so any wins)
        uh, idx = np.unique(ah, return_index=True)
        up, um = ap[idx], am[idx]
        if len(uh) > self.k:
            uh, up, um = uh[: self.k], up[: self.k], um[: self.k]  # np.unique sorts
        self.hashes, self.payloads, self.has_payload = uh, up, um

    # -- merge / serde ------------------------------------------------------
    @staticmethod
    def merge(a: "BottomK", b: "BottomK") -> "BottomK":
        assert a.k == b.k, "bottom-k merge requires equal k"
        out = BottomK(a.k)
        out._absorb(
            np.concatenate([a.hashes, b.hashes]),
            np.concatenate([a.payloads, b.payloads]),
            np.concatenate([a.has_payload, b.has_payload]),
        )
        return out

    def serialize(self) -> bytes:
        head = _MAGIC + struct.pack("<ii", self.k, len(self.hashes))
        return (
            head
            + self.hashes.tobytes()
            + self.payloads.tobytes()
            + self.has_payload.astype(np.uint8).tobytes()
        )

    @classmethod
    def deserialize(cls, buf: bytes) -> "BottomK":
        magic = buf[:4]
        k, n = struct.unpack("<ii", buf[4:12])
        s = cls(k)
        off = 12
        s.hashes = np.frombuffer(buf[off : off + 8 * n], dtype=np.uint64).copy()
        off += 8 * n
        s.payloads = np.frombuffer(buf[off : off + 8 * n], dtype=np.int64).copy()
        off += 8 * n
        if magic == _MAGIC:
            s.has_payload = (
                np.frombuffer(buf[off : off + n], dtype=np.uint8).astype(bool).copy()
            )
        elif magic == _MAGIC_V1:
            # legacy blobs used the sentinel; best-effort reconstruction
            s.has_payload = s.payloads != _V1_NO_PAYLOAD
        else:
            raise AssertionError("not a bottom-k sketch")
        return s

    # -- queries ------------------------------------------------------------
    def estimate_distinct(self) -> float:
        n = len(self.hashes)
        if n < self.k:
            return float(n)
        u_k = float(self.hashes[-1]) / 2.0**64
        return (self.k - 1) / u_k if u_k > 0 else float(n)

    def relative_error(self) -> float:
        """~1/sqrt(k-2) standard error of the KMV estimator."""
        return 1.0 / np.sqrt(max(self.k - 2, 1))

    def sample(self) -> np.ndarray:
        """The kept payloads (a uniform sample of distinct keys); entries
        without payloads are excluded via the out-of-band mask."""
        return self.payloads[self.has_payload]
