"""Kernel-tier tests: pure numpy, no SparkSession — published-bound and
merge-law property tests (SURVEY.md §5 items 1-3)."""

from __future__ import annotations

import numpy as np
import pytest

from associationabacminer_spark.sketch import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLL,
    TDigest,
    hash64,
)

from associationabacminer_spark.sketch.xxhash import SPARK_SEED, _P1, _P2, _P3, _P4, _P5

RNG = np.random.default_rng(42)
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    return ((x << r_) | (x >> (np.uint64(64) - r_))) & _MASK


def xxh64_int64(values, seed: int = SPARK_SEED) -> np.ndarray:
    """Vectorized XXH64 of int64 values (8-byte LE), matching Spark's
    ``xxhash64(bigint_col)``: builds the pre-hashed key arrays these
    tests feed the kernels, checked against the package's scalar
    ``xxh64_bytes`` in ``test_xxh64_reference_vectors``."""
    with np.errstate(over="ignore"):
        inp = np.asarray(values).astype(np.int64).view(np.uint64)
        acc = (np.uint64(seed) + _P5 + np.uint64(8)) & _MASK
        k1 = _rotl((inp * _P2) & _MASK, 31)
        k1 = (k1 * _P1) & _MASK
        acc = np.full(len(inp), acc, dtype=np.uint64) ^ k1
        acc = (_rotl(acc, 27) * _P1 + _P4) & _MASK
        # avalanche
        acc ^= acc >> np.uint64(33)
        acc = (acc * _P2) & _MASK
        acc ^= acc >> np.uint64(29)
        acc = (acc * _P3) & _MASK
        acc ^= acc >> np.uint64(32)
        return acc


def split_random(arr: np.ndarray, k: int, seed: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    assignment = rng.integers(0, k, size=len(arr))
    return [arr[assignment == i] for i in range(k)]


# ---------------------------------------------------------------- hashing
class TestHash:
    def test_deterministic_and_seeded(self):
        vals = np.array(["a", "b", "c", "a"], dtype=object)
        h0 = hash64(vals, seed=0)
        h0b = hash64(vals, seed=0)
        h1 = hash64(vals, seed=1)
        assert (h0 == h0b).all()
        assert (h0 != h1).any()
        assert h0[0] == h0[3]  # same value -> same hash

    def test_int_path_uniformity(self):
        h = hash64(np.arange(100_000, dtype=np.int64))
        # top bit should be ~50/50
        frac = (h >> np.uint64(63)).mean()
        assert 0.49 < frac < 0.51


# ---------------------------------------------------------------- HLL
class TestHLL:
    @pytest.mark.parametrize("true_d", [1, 10, 1000, 100_000])
    def test_error_within_published_bound(self, true_d):
        h = HyperLogLog(p=14)
        vals = np.arange(true_d, dtype=np.int64)
        # feed with duplicates in several batches
        for batch in np.array_split(np.tile(vals, 3), 7):
            h.update_batch(batch)
        est = h.estimate()
        bound = 3 * h.relative_error  # 3 sigma of 1.04/sqrt(m)
        assert abs(est - true_d) <= max(1.0, bound * true_d)

    def test_sparse_to_dense_promotion(self):
        h = HyperLogLog(p=14)
        h.update_batch(np.arange(100))
        assert h.is_sparse
        h.update_batch(np.arange(100_000))
        assert not h.is_sparse

    def test_serde_roundtrip_both_modes(self):
        for n in (50, 100_000):
            h = HyperLogLog(p=14).update_batch(np.arange(n))
            h2 = HyperLogLog.deserialize(h.serialize())
            assert h2.estimate() == h.estimate()
            assert h2.is_sparse == h.is_sparse

    def test_merge_equals_single_pass(self):
        vals = RNG.integers(0, 50_000, size=200_000)
        single = HyperLogLog(p=14).update_batch(vals)
        parts = split_random(vals, 8, seed=1)
        sketches = [HyperLogLog(p=14).update_batch(p) for p in parts]
        merged = sketches[0]
        for s in sketches[1:]:
            merged = HyperLogLog.merge(merged, s)
        # HLL merge is exactly register-max: identical estimate
        assert merged.estimate() == single.estimate()

    def test_merge_commutative_associative(self):
        vals = RNG.integers(0, 10_000, size=30_000)
        a, b, c = [
            HyperLogLog(p=14).update_batch(p) for p in split_random(vals, 3, seed=2)
        ]
        ab_c = HyperLogLog.merge(HyperLogLog.merge(a, b), c)
        a_bc = HyperLogLog.merge(a, HyperLogLog.merge(b, c))
        ba_c = HyperLogLog.merge(HyperLogLog.merge(b, a), c)
        assert ab_c.estimate() == a_bc.estimate() == ba_c.estimate()

    def test_string_values(self):
        vals = np.array([f"conv-{i % 5000}" for i in range(40_000)], dtype=object)
        h = HyperLogLog(p=14).update_batch(vals)
        assert abs(h.estimate() - 5000) <= 3 * h.relative_error * 5000


# ---------------------------------------------------------------- CMS
class TestCMS:
    def test_overestimate_only_and_bound(self):
        # fixed frequency vector incl. one key at 40% mass (FIXTURES.md F3)
        keys = np.concatenate(
            [
                np.zeros(40_000, dtype=np.int64),
                RNG.integers(1, 5000, size=60_000),
            ]
        )
        cms = CountMinSketch(width=2048, depth=5)
        for batch in np.array_split(keys, 5):
            cms.update_batch(batch)
        uniq, true_counts = np.unique(keys, return_counts=True)
        est = cms.query(uniq)
        assert (est >= true_counts).all()  # never underestimates
        n = cms.total
        viol = (est - true_counts > cms.eps * n).mean()
        assert viol <= cms.delta + 0.01

    def test_weighted_updates(self):
        cms = CountMinSketch(width=1024, depth=4)
        cms.update_batch(np.array([1, 2, 3]), counts=np.array([10, 20, 30]))
        assert cms.total == 60
        assert (cms.query(np.array([1, 2, 3])) >= np.array([10, 20, 30])).all()

    def test_merge_equals_single_pass(self):
        keys = RNG.integers(0, 1000, size=50_000)
        single = CountMinSketch(width=2048, depth=5).update_batch(keys)
        parts = split_random(keys, 6, seed=3)
        merged = CountMinSketch(width=2048, depth=5)
        for p in parts:
            merged = CountMinSketch.merge(
                merged, CountMinSketch(width=2048, depth=5).update_batch(p)
            )
        assert merged.total == single.total
        assert (merged.table == single.table).all()

    def test_serde(self):
        cms = CountMinSketch(width=512, depth=3).update_batch(np.arange(100))
        cms2 = CountMinSketch.deserialize(cms.serialize())
        assert cms2.total == cms.total
        assert (cms2.table == cms.table).all()

    def test_from_error_sizing(self):
        cms = CountMinSketch.from_error(eps=0.001, delta=0.01)
        assert cms.eps <= 0.001
        assert cms.delta <= 0.01


# ---------------------------------------------------------------- Bloom
class TestBloom:
    def test_no_false_negatives(self):
        present = np.array([f"in-{i}" for i in range(10_000)], dtype=object)
        bf = BloomFilter.from_capacity(10_000, fpp=0.01)
        for batch in np.array_split(present, 4):
            bf.update_batch(batch)
        assert bf.contains(present).all()

    def test_fpp_within_target(self):
        present = np.array([f"in-{i}" for i in range(10_000)], dtype=object)
        absent = np.array([f"out-{i}" for i in range(50_000)], dtype=object)
        bf = BloomFilter.from_capacity(10_000, fpp=0.01)
        bf.update_batch(present)
        fp_rate = bf.contains(absent).mean()
        assert fp_rate <= 0.02  # 2x configured target as headroom

    def test_merge_is_union(self):
        a_vals = np.array([f"a-{i}" for i in range(500)], dtype=object)
        b_vals = np.array([f"b-{i}" for i in range(500)], dtype=object)
        a = BloomFilter.from_capacity(2000, 0.01).update_batch(a_vals)
        b = BloomFilter.from_capacity(2000, 0.01).update_batch(b_vals)
        u = BloomFilter.merge(a, b)
        assert u.contains(a_vals).all() and u.contains(b_vals).all()
        single = BloomFilter.from_capacity(2000, 0.01)
        single.update_batch(a_vals).update_batch(b_vals)
        assert (u.words == single.words).all()

    def test_serde(self):
        bf = BloomFilter.from_capacity(1000, 0.01)
        bf.update_batch(np.arange(100))
        bf2 = BloomFilter.deserialize(bf.serialize())
        assert (bf2.words == bf.words).all()
        assert bf2.contains(np.arange(100)).all()

    def test_serialize_bytes_match_shift_matrix_encoding(self):
        """``serialize()`` bytes equal the encoding built from the
        (non-zero words x 64) shift matrix: sparse set-bit positions when
        they take fewer bytes than the words, else the raw words."""
        import struct

        def reference(bf):
            nz = np.flatnonzero(bf.words)
            if len(nz) == 0:
                pos = np.empty(0, dtype=np.int64)
            else:
                bits = (
                    bf.words[nz][:, None] >> np.arange(64, dtype=np.uint64)[None, :]
                ) & np.uint64(1)
                word_idx, bit_idx = np.nonzero(bits)
                pos = (nz[word_idx].astype(np.int64) << 6) | bit_idx.astype(np.int64)
            if len(pos) * 8 < len(bf.words) * 8:
                mode, payload = (1, len(pos)), pos.astype("<i8").tobytes()
            else:
                mode, payload = (0, len(bf.words)), bf.words.astype("<u8").tobytes()
            head = struct.pack("<qIqBq", bf.m, bf.k, bf.n_inserted, *mode)
            return b"BLM1" + head + payload

        modes = []
        for n in (0, 300, 5_000):  # empty, sparse, dense
            bf = BloomFilter.from_capacity(20_000, 0.01).update_batch(np.arange(n))
            blob = bf.serialize()
            assert blob == reference(bf), n
            assert (BloomFilter.deserialize(blob).words == bf.words).all()
            modes.append(blob[24])
        assert modes == [1, 1, 0]


# ---------------------------------------------------------------- KLL
class TestKLL:
    def test_rank_error_bound(self):
        # values 1..N shuffled (FIXTURES.md F3 quantile_known)
        n = 200_000
        vals = RNG.permutation(np.arange(1, n + 1)).astype(np.float64)
        sk = KLL(k=200)
        for batch in np.array_split(vals, 13):
            sk.update_batch(batch)
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = sk.quantile(q)
            true_rank = est / n  # values are 1..N so rank is value/N
            assert abs(true_rank - q) <= sk.rank_error, (q, est)

    def test_merge_respects_bound(self):
        n = 100_000
        vals = RNG.normal(size=n)
        parts = split_random(vals, 8, seed=5)
        sketches = [KLL(k=200, seed=i).update_batch(p) for i, p in enumerate(parts)]
        merged = sketches[0]
        for s in sketches[1:]:
            merged = KLL.merge(merged, s)
        assert merged.n == n
        svals = np.sort(vals)
        for q in (0.05, 0.5, 0.95):
            est = merged.quantile(q)
            true_rank = np.searchsorted(svals, est) / n
            assert abs(true_rank - q) <= 2 * merged.rank_error

    def test_serde_byte_identical(self):
        sk = KLL(k=200).update_batch(RNG.normal(size=50_000))
        blob = sk.serialize()
        sk2 = KLL.deserialize(blob)
        assert sk2.serialize() == blob
        assert sk2.quantile(0.5) == sk.quantile(0.5)

    def test_deterministic_given_op_sequence(self):
        vals = RNG.normal(size=30_000)
        a = KLL(k=200, seed=7).update_batch(vals[:15_000]).update_batch(vals[15_000:])
        b = KLL(k=200, seed=7).update_batch(vals[:15_000]).update_batch(vals[15_000:])
        assert a.serialize() == b.serialize()


# ---------------------------------------------------------------- t-digest
class TestTDigest:
    def test_quantiles_tight_at_tails(self):
        n = 300_000
        vals = RNG.lognormal(mean=4.0, sigma=1.0, size=n)
        td = TDigest(delta=200)
        for batch in np.array_split(vals, 17):
            td.update_batch(batch)
        svals = np.sort(vals)
        for q, tol in [(0.001, 0.002), (0.01, 0.005), (0.5, 0.02), (0.99, 0.005), (0.999, 0.002)]:
            est = td.quantile(q)
            true_rank = np.searchsorted(svals, est) / n
            assert abs(true_rank - q) <= tol, (q, est, true_rank)

    def test_bounded_centroids(self):
        td = TDigest(delta=200).update_batch(RNG.normal(size=500_000))
        assert td.n_centroids() <= 2 * 200

    def test_merge_respects_bound(self):
        n = 120_000
        vals = RNG.exponential(scale=3.0, size=n)
        parts = split_random(vals, 10, seed=6)
        digs = [TDigest(delta=200).update_batch(p) for p in parts]
        merged = digs[0]
        for d in digs[1:]:
            merged = TDigest.merge(merged, d)
        assert merged.n == n
        svals = np.sort(vals)
        for q in (0.01, 0.5, 0.99):
            est = merged.quantile(q)
            true_rank = np.searchsorted(svals, est) / n
            assert abs(true_rank - q) <= 0.02

    def test_serde_deterministic(self):
        td = TDigest(delta=100).update_batch(RNG.normal(size=40_000))
        blob = td.serialize()
        td2 = TDigest.deserialize(blob)
        assert td2.serialize() == blob
        assert td2.quantile(0.5) == td.quantile(0.5)


# ---------------------------------------------------------------- xxhash / prehash
class TestXXHashAndPrehash:
    def test_xxh64_reference_vectors(self):
        from associationabacminer_spark.sketch.xxhash import xxh64_bytes, xxh64_keys

        # Spark-produced values (verified live against F.xxhash64, seed 42)
        assert xxh64_bytes(b"", 42) == (-7444071767201028348 % 2**64)
        assert xxh64_bytes(b"a", 42) == (-8582455328737087284 % 2**64)
        assert xxh64_int64(np.array([0]))[0] == xxh64_bytes(
            (0).to_bytes(8, "little"), 42
        )
        ints = np.array([1, -1, 2**62, -(2**62), 123456789], dtype=np.int64)
        vec = xxh64_int64(ints)
        ref = xxh64_keys(list(ints))
        assert (vec == ref).all()

    def test_prehashed_kernels_match_bounds(self):
        keys = RNG.integers(0, 20_000, size=100_000)
        hashes = xxh64_int64(keys)

        h = HyperLogLog(p=14).update_batch(hashes, prehashed=True)
        exact = len(np.unique(keys))
        assert abs(h.estimate() - exact) <= 3 * h.relative_error * exact

        cms = CountMinSketch(width=4096, depth=5).update_batch(hashes, prehashed=True)
        uniq, cnts = np.unique(keys, return_counts=True)
        est = cms.query(xxh64_int64(uniq), prehashed=True)
        assert (est >= cnts).all()
        assert (est - cnts <= cms.eps * cms.total).all()

        bf = BloomFilter.from_capacity(40_000, 0.01).update_batch(
            hashes, prehashed=True
        )
        assert bf.contains(xxh64_int64(uniq), prehashed=True).all()
        absent = xxh64_int64(np.arange(1_000_000, 1_020_000))
        assert bf.contains(absent, prehashed=True).mean() <= 0.02

    def test_prehashed_merge_matches_single_pass(self):
        keys = RNG.integers(0, 5_000, size=50_000)
        hashes = xxh64_int64(keys)
        single = HyperLogLog(p=14).update_batch(hashes, prehashed=True)
        parts = split_random(hashes, 6, seed=9)
        merged = HyperLogLog(p=14)
        for p_ in parts:
            merged = HyperLogLog.merge(
                merged, HyperLogLog(p=14).update_batch(p_, prehashed=True)
            )
        assert merged.estimate() == single.estimate()


class TestWeightedKLL:
    def test_weighted_equals_repeated_within_bound(self):
        from associationabacminer_spark.sketch import KLL

        rng = np.random.default_rng(5)
        vals = np.round(rng.lognormal(3, 1, 2000), 0)
        uniq, cnt = np.unique(vals, return_counts=True)
        kw = KLL(k=200).update_weighted(uniq, cnt)
        assert kw.n == len(vals)
        exact = np.sort(vals)
        for q in (0.05, 0.5, 0.95):
            est = kw.quantile(q)
            true_rank = np.searchsorted(exact, est, side="right") / len(exact)
            assert abs(true_rank - q) <= kw.rank_error + 1e-9

    def test_weight_one_degenerates_to_plain_update(self):
        from associationabacminer_spark.sketch import KLL

        vals = np.arange(100, dtype=np.float64)
        kw = KLL(k=200).update_weighted(vals, np.ones(100, dtype=np.int64))
        kp = KLL(k=200).update_batch(vals)
        assert kw.n == kp.n == 100
        assert np.allclose(kw.quantile([0.1, 0.5, 0.9]), kp.quantile([0.1, 0.5, 0.9]))

    def test_huge_weights_binary_decomposition(self):
        from associationabacminer_spark.sketch import KLL

        # two values, wildly unequal weights: median must be the heavy one
        k = KLL(k=200).update_weighted(
            np.array([1.0, 1000.0]), np.array([1, 1_000_000])
        )
        assert k.n == 1_000_001
        assert k.quantile(0.5) == 1000.0
        assert k.rank(1.5) <= 0.01


class TestBottomK:
    def test_exact_below_k_and_estimate_above(self):
        from associationabacminer_spark.sketch import BottomK

        s = BottomK(k=128)
        s.update_batch([f"key{i}" for i in range(50)])
        assert s.estimate_distinct() == 50.0
        s2 = BottomK(k=128)
        n = 20000
        s2.update_batch([f"key{i}" for i in range(n)])
        err = abs(s2.estimate_distinct() - n) / n
        assert err < 5 * s2.relative_error()

    def test_duplicates_are_noops(self):
        from associationabacminer_spark.sketch import BottomK

        a = BottomK(k=64).update_batch(["x", "y", "z"] * 100)
        assert a.estimate_distinct() == 3.0

    def test_merge_laws_and_serde(self):
        import numpy as np

        from associationabacminer_spark.sketch import BottomK

        rng = np.random.default_rng(1)
        parts = [
            [f"v{rng.integers(0, 5000)}" for _ in range(800)] for _ in range(4)
        ]
        sk = [BottomK(k=96).update_batch(p) for p in parts]
        ab = BottomK.merge(sk[0], sk[1])
        ba = BottomK.merge(sk[1], sk[0])
        assert ab.serialize() == ba.serialize()  # commutative
        l = BottomK.merge(BottomK.merge(sk[0], sk[1]), sk[2])
        r = BottomK.merge(sk[0], BottomK.merge(sk[1], sk[2]))
        assert l.serialize() == r.serialize()  # associative
        rt = BottomK.deserialize(l.serialize())
        assert rt.estimate_distinct() == l.estimate_distinct()
        # merged sketch == single-pass sketch over the union (idempotent dedupe)
        allv = [v for p in parts for v in p]
        one = BottomK(k=96).update_batch(allv)
        merged = sk[0]
        for x in sk[1:]:
            merged = BottomK.merge(merged, x)
        assert merged.serialize() == one.serialize()

    def test_payload_sample_uniformity_smoke(self):
        import numpy as np

        from associationabacminer_spark.sketch import BottomK
        from associationabacminer_spark.sketch.hashing import hash64

        ids = np.arange(100000, dtype=np.int64)
        h = hash64(ids.astype("U10"))
        s = BottomK(k=500).update_hashes(h, payloads=ids)
        samp = s.sample()
        assert len(samp) == 500
        # a uniform sample's mean id should be near the population mean
        assert abs(samp.mean() - ids.mean()) < 6 * ids.std() / np.sqrt(500)


class TestSerdeCompat:
    """Round-3 ADVICE regressions: layout changes must not silently
    misread persisted state (lineage ledgers, grouped_sketch_states)."""

    def test_tdigest_v1_blob_decodes_via_legacy_layout(self):
        import struct

        import numpy as np

        from associationabacminer_spark.sketch.tdigest import TDigest

        means = np.array([1.0, 2.0, 3.0])
        weights = np.array([400.0, 300.0, 300.0])
        # v1 layout: magic TDG1, n packed as int64 ('<dqI')
        blob = (
            b"TDG1"
            + struct.pack("<dqI", 200.0, 1000, 3)
            + means.astype("<f8").tobytes()
            + weights.astype("<f8").tobytes()
        )
        td = TDigest.deserialize(blob)
        assert td.n == 1000  # NOT ~5e-321 (the int64 bits read as double)
        assert abs(td.quantile(0.5) - 2.0) < 1.0

    def test_tdigest_v1_double_era_blob_decodes(self):
        """Round-4 ADVICE: TDG1 blobs written by the double-era code
        ('<ddI' under the old magic, everything since 1aecc9d before the
        TDG2 bump) must decode with the correct n, not int64-reinterpreted
        garbage (100.0 bits -> ~4.6e18)."""
        import struct

        import numpy as np

        from associationabacminer_spark.sketch.tdigest import TDigest

        means = np.array([1.0, 2.0, 3.0])
        weights = np.array([400.0, 300.0, 300.0])
        blob = (
            b"TDG1"
            + struct.pack("<ddI", 200.0, 1000.0, 3)
            + means.astype("<f8").tobytes()
            + weights.astype("<f8").tobytes()
        )
        td = TDigest.deserialize(blob)
        assert td.n == 1000
        # fractional n (weighted updates) survives too
        blob_f = (
            b"TDG1"
            + struct.pack("<ddI", 200.0, 999.5, 3)
            + means.astype("<f8").tobytes()
            + np.array([400.0, 300.0, 299.5]).astype("<f8").tobytes()
        )
        assert TDigest.deserialize(blob_f).n == 999.5
        # empty digest (tie case): prefers the double read, n == 0
        empty = b"TDG1" + struct.pack("<ddI", 200.0, 0.0, 0)
        assert TDigest.deserialize(empty).n == 0

    def test_tdigest_truncated_blob_raises_loudly(self):
        """Round-5 ADVICE: a truncated blob must raise the explicit
        'truncated t-digest blob' error — both eras, both the 8-byte-
        aligned tail (which would silently sum too few weights in the
        TDG1 heuristic) and a ragged tail (which used to surface as a
        confusing np.frombuffer ValueError)."""
        import struct

        import numpy as np
        import pytest

        from associationabacminer_spark.sketch.tdigest import TDigest

        means = np.array([1.0, 2.0, 3.0])
        weights = np.array([400.0, 300.0, 300.0])
        for magic, head in (
            (b"TDG1", struct.pack("<ddI", 200.0, 1000.0, 3)),
            (b"TDG1", struct.pack("<dqI", 200.0, 1000, 3)),
        ):
            full = magic + head + means.astype("<f8").tobytes() + weights.astype(
                "<f8"
            ).tobytes()
            for cut in (len(full) - 8, len(full) - 3, 24, 30):
                with pytest.raises(ValueError, match="truncated t-digest blob"):
                    TDigest.deserialize(full[:cut])
        td = TDigest(200.0)
        td.update_batch(np.arange(100.0))
        full = td.serialize()
        assert TDigest.deserialize(full).n == 100  # intact still decodes
        with pytest.raises(ValueError, match="truncated t-digest blob"):
            TDigest.deserialize(full[:-8])

    def test_tdigest_v2_magic_and_roundtrip(self):
        import numpy as np

        from associationabacminer_spark.sketch.tdigest import TDigest

        td = TDigest(delta=100).update_batch(np.arange(5000, dtype=float))
        blob = td.serialize()
        assert blob[:4] == b"TDG2"
        rt = TDigest.deserialize(blob)
        assert rt.n == td.n and rt.quantile(0.5) == td.quantile(0.5)

    def test_bottomk_int64_min_payload_survives(self):
        import numpy as np

        from associationabacminer_spark.sketch import BottomK

        lo = -(2**63)
        s = BottomK(k=16).update_batch(
            np.array([lo, 1, 2], dtype=np.int64), prehashed=True
        )
        assert lo in set(int(x) for x in s.sample())
        rt = BottomK.deserialize(s.serialize())
        assert lo in set(int(x) for x in rt.sample())
        # hashes-only entries still excluded from the sample
        t = BottomK(k=16).update_hashes(np.array([5, 6], dtype=np.uint64))
        assert len(t.sample()) == 0 and len(t.hashes) == 2


class TestCmsInnerProduct:
    def test_overestimate_only_and_bound(self):
        import numpy as np

        from associationabacminer_spark.sketch import CountMinSketch
        from associationabacminer_spark.sketch.cms import inner_product_estimate

        rng = np.random.default_rng(5)
        # zipf-ish keys: the skewed case join-size estimation exists for
        ka = [f"k{int(v)}" for v in rng.zipf(1.3, size=20000) % 500]
        kb = [f"k{int(v)}" for v in rng.zipf(1.5, size=15000) % 500]
        from collections import Counter

        ca, cb = Counter(ka), Counter(kb)
        true = sum(ca[k] * cb.get(k, 0) for k in ca)
        a = CountMinSketch(width=4096, depth=5).update_batch(np.array(ka, dtype=object))
        b = CountMinSketch(width=4096, depth=5).update_batch(np.array(kb, dtype=object))
        est = inner_product_estimate(a, b)
        assert est >= true  # never underestimates
        assert est - true <= a.eps * a.total * b.total  # published bound

    def test_mismatched_shapes_rejected(self):
        from associationabacminer_spark.sketch import CountMinSketch
        from associationabacminer_spark.sketch.cms import inner_product_estimate

        with pytest.raises(ValueError):
            inner_product_estimate(
                CountMinSketch(width=1024, depth=5), CountMinSketch(width=2048, depth=5)
            )

    def test_merge_then_inner_product_consistent(self):
        """Building each side from merged partials must give the same
        estimate as a single-pass build (the distributed path)."""
        import numpy as np

        from associationabacminer_spark.sketch import CountMinSketch
        from associationabacminer_spark.sketch.cms import inner_product_estimate

        rng = np.random.default_rng(7)
        ka = [f"u{int(v)}" for v in rng.integers(0, 300, size=9000)]
        kb = [f"u{int(v)}" for v in rng.integers(0, 300, size=7000)]
        one_a = CountMinSketch(width=2048, depth=5).update_batch(np.array(ka, dtype=object))
        parts = np.array_split(np.array(ka, dtype=object), 4)
        merged_a = CountMinSketch(width=2048, depth=5)
        for p in parts:
            merged_a = CountMinSketch.merge(
                merged_a, CountMinSketch(width=2048, depth=5).update_batch(p)
            )
        sb = CountMinSketch(width=2048, depth=5).update_batch(np.array(kb, dtype=object))
        assert inner_product_estimate(one_a, sb) == inner_product_estimate(merged_a, sb)


class TestMisraGries:
    def test_no_heavy_hitter_lost_and_bracket_with_cms(self):
        import numpy as np
        from collections import Counter

        from associationabacminer_spark.sketch import MisraGries

        rng = np.random.default_rng(3)
        vals = [f"k{int(v)}" for v in rng.zipf(1.4, size=50000) % 2000]
        truth = Counter(vals)
        mg = MisraGries(k=128)
        for chunk in np.array_split(np.array(vals, dtype=object), 9):
            mg.update_batch(chunk)
        n = len(vals)
        assert mg.error_bound() <= n // (128 + 1) + 1
        tracked_lb = dict(zip(mg.keys.tolist(), mg.counts.tolist()))
        from associationabacminer_spark.sketch.hashing import hash64

        for key, f in truth.items():
            if f > n / (128 + 1):  # guaranteed present
                h = int(hash64(np.array([key], dtype=object))[0])
                assert h in tracked_lb, key
            est = int(mg.query(np.array([key], dtype=object))[0])
            assert est <= f <= est + mg.error_bound(), (key, est, f)

    def test_merge_equals_stream_error_and_serde(self):
        import numpy as np

        from associationabacminer_spark.sketch import MisraGries

        rng = np.random.default_rng(11)
        parts = [
            [f"v{int(x)}" for x in rng.zipf(1.5, size=8000) % 400]
            for _ in range(4)
        ]
        sketches = [
            MisraGries(k=64).update_batch(np.array(p, dtype=object)) for p in parts
        ]
        merged = sketches[0]
        for s in sketches[1:]:
            merged = MisraGries.merge(merged, s)
        n = sum(len(p) for p in parts)
        assert merged.total == n
        # mergeable-summaries bound: err <= N/(k+1)
        assert merged.error_bound() <= n // (64 + 1) + 1
        rt = MisraGries.deserialize(merged.serialize())
        assert (rt.keys == merged.keys).all() and (rt.counts == merged.counts).all()
        assert rt.err == merged.err and rt.total == merged.total
        # underestimate-only vs the exact union counts
        from collections import Counter

        truth = Counter(v for p in parts for v in p)
        for key, f in truth.most_common(20):
            est = int(merged.query(np.array([key], dtype=object))[0])
            assert est <= f <= est + merged.error_bound()

    def test_nonpositive_counts_dropped(self):
        """Round-4 ADVICE: explicit zero/negative counts must not corrupt
        total/err accounting or leave non-positive counters in state."""
        import numpy as np

        from associationabacminer_spark.sketch import MisraGries

        s = MisraGries(k=8).update_batch(
            np.array(["a", "b", "c", "d"], dtype=object),
            counts=np.array([5, 0, -3, 2]),
        )
        assert s.total == 7  # only the positive mass
        assert (s.counts > 0).all()
        assert int(s.query(np.array(["a"], dtype=object))[0]) == 5
        assert int(s.query(np.array(["c"], dtype=object))[0]) == 0
        # an all-non-positive batch is a no-op
        t = MisraGries(k=8).update_batch(
            np.array(["x"], dtype=object), counts=np.array([0])
        )
        assert t.total == 0 and len(t.keys) == 0
