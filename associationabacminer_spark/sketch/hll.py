"""HyperLogLog (p=14, sparse/dense) — mergeable distinct-count sketch.

Replaces the reference's exact distinct count of the allowed-event universe,
which enumerates a 3-way Cartesian product and SHA-256-hashes every event
into an in-memory Python set, chunked 10x10 just to fit in memory
(/root/reference/src/eval/EnvPolicyEvaluator.py:106-169,
/root/reference/src/model/EnvParamGenerators.py:87-110).  HLL answers the
same query in 16 KiB of fixed state with relative standard error
1.04/sqrt(m) (Flajolet et al., AofA 2007).

Representation
--------------
* sparse: uint32 array of ``(idx << 6) | rho`` pairs, deduplicated by max
  rho per idx; promoted to dense when it would outgrow dense size.
* dense: uint8[m] register array (one byte per 6-bit register — byte-per-
  register trades 25% space for branch-free vectorized max updates).

Estimator: original HLL bias-corrected estimate with linear-counting small
range correction; 64-bit hashing means no large-range correction is needed.
"""

from __future__ import annotations

import struct

import numpy as np

from associationabacminer_spark.sketch.hashing import hash64

_MAGIC = b"HLL1"
_MODE_SPARSE = 0
_MODE_DENSE = 1


class HyperLogLog:
    __slots__ = ("p", "m", "_dense", "_sparse")

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError(f"p must be in [4,18], got {p}")
        self.p = p
        self.m = 1 << p
        self._dense: np.ndarray | None = None
        self._sparse: np.ndarray = np.empty(0, dtype=np.uint32)

    # -- properties ---------------------------------------------------------
    @property
    def is_sparse(self) -> bool:
        return self._dense is None

    @property
    def _sparse_limit(self) -> int:
        # promote when sparse encoding (4 B/entry) would exceed dense (1 B/reg)
        return self.m // 4

    # -- update -------------------------------------------------------------
    def update_batch(
        self, values, seed: int = 0, prehashed: bool = False
    ) -> "HyperLogLog":
        """Absorb a batch of values (vectorized, no per-row Python).

        ``prehashed=True`` treats ``values`` as 64-bit hashes computed
        upstream (e.g. Spark ``xxhash64`` JVM-side — the scale path)."""
        h = hash64(values, seed=seed, prehashed=prehashed)
        return self.update_hashes(h)

    def update_hashes(self, h: np.ndarray) -> "HyperLogLog":
        p64 = np.uint64(self.p)
        idx = (h >> (np.uint64(64) - p64)).astype(np.uint32)
        rest = h & ((np.uint64(1) << (np.uint64(64) - p64)) - np.uint64(1))
        # rho = (64-p) - bit_length(rest) + 1, vectorized via frexp
        # (rest < 2^50 for p=14, exact in float64)
        exponents = np.frexp(rest.astype(np.float64))[1]
        rho = ((64 - self.p) - exponents + 1).astype(np.uint8)
        if self._dense is not None:
            np.maximum.at(self._dense, idx, rho)
        else:
            enc = (idx.astype(np.uint32) << np.uint32(6)) | rho.astype(np.uint32)
            self._absorb_sparse(enc)
        return self

    def _absorb_sparse(self, enc: np.ndarray) -> None:
        merged = np.concatenate([self._sparse, enc])
        merged.sort()
        ids = merged >> np.uint32(6)
        # keep the last (max-rho) entry of each idx run
        keep = np.empty(len(merged), dtype=bool)
        if len(merged):
            keep[:-1] = ids[1:] != ids[:-1]
            keep[-1] = True
        self._sparse = merged[keep]
        if len(self._sparse) > self._sparse_limit:
            self._promote()

    def _promote(self) -> None:
        dense = np.zeros(self.m, dtype=np.uint8)
        ids = (self._sparse >> np.uint32(6)).astype(np.int64)
        rhos = (self._sparse & np.uint32(0x3F)).astype(np.uint8)
        np.maximum.at(dense, ids, rhos)
        self._dense = dense
        self._sparse = np.empty(0, dtype=np.uint32)

    # -- merge --------------------------------------------------------------
    @staticmethod
    def merge(a: "HyperLogLog", b: "HyperLogLog") -> "HyperLogLog":
        if a.p != b.p:
            raise ValueError("cannot merge HLLs with different precision")
        out = HyperLogLog(a.p)
        if a.is_sparse and b.is_sparse:
            out._absorb_sparse(np.concatenate([a._sparse, b._sparse]))
            return out
        out._dense = np.zeros(out.m, dtype=np.uint8)
        for s in (a, b):
            if s.is_sparse:
                ids = (s._sparse >> np.uint32(6)).astype(np.int64)
                rhos = (s._sparse & np.uint32(0x3F)).astype(np.uint8)
                np.maximum.at(out._dense, ids, rhos)
            else:
                np.maximum(out._dense, s._dense, out=out._dense)
        return out

    # -- estimate -----------------------------------------------------------
    def _registers(self) -> np.ndarray:
        if self._dense is not None:
            return self._dense
        dense = np.zeros(self.m, dtype=np.uint8)
        if len(self._sparse):
            ids = (self._sparse >> np.uint32(6)).astype(np.int64)
            rhos = (self._sparse & np.uint32(0x3F)).astype(np.uint8)
            dense[ids] = rhos  # sparse is already max-deduped per idx
        return dense

    def estimate(self) -> float:
        regs = self._registers()
        m = float(self.m)
        alpha = 0.7213 / (1.0 + 1.079 / m)
        inv_sum = np.sum(np.exp2(-regs.astype(np.float64)))
        raw = alpha * m * m / inv_sum
        if raw <= 2.5 * m:
            zeros = int(np.count_nonzero(regs == 0))
            if zeros > 0:
                return m * np.log(m / zeros)  # linear counting
        return float(raw)

    @property
    def relative_error(self) -> float:
        """Published one-sigma relative standard error."""
        return 1.04 / np.sqrt(self.m)

    # -- serde --------------------------------------------------------------
    def serialize(self) -> bytes:
        if self.is_sparse:
            head = _MAGIC + struct.pack("<BBI", self.p, _MODE_SPARSE, len(self._sparse))
            return head + self._sparse.astype("<u4").tobytes()
        head = _MAGIC + struct.pack("<BBI", self.p, _MODE_DENSE, self.m)
        return head + self._dense.tobytes()

    @staticmethod
    def deserialize(data: bytes) -> "HyperLogLog":
        if data[:4] != _MAGIC:
            raise ValueError("not an HLL blob")
        p, mode, n = struct.unpack("<BBI", data[4:10])
        out = HyperLogLog(p)
        payload = data[10:]
        if mode == _MODE_SPARSE:
            out._sparse = np.frombuffer(payload, dtype="<u4", count=n).astype(np.uint32)
        else:
            out._dense = np.frombuffer(payload, dtype=np.uint8, count=n).copy()
            out._sparse = np.empty(0, dtype=np.uint32)
        return out
