"""Operator-tier tests: dedup recall, ANN recall, scalar functions,
multimodal plumbing, rule mining."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from associationabacminer_spark.functions import normalize as N
from associationabacminer_spark.functions import text as TX
from associationabacminer_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
        (2, "spark query engines compile logical plans into physical operators"),
        (3, "spark query engines compile logical plans into physical operators"),  # exact dup of 2
        (4, "Spark Query engines, compile logical plans into physical operators!"),  # fp-dup of 2
        (5, "completely unrelated text about cooking pasta with tomato sauce"),
        (6, "der hund ist nicht in der küche und die katze ist da"),
        (7, "the cat and the dog and the bird is in the house you see"),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def semdedup_survivors(df, threshold, n_clusters):
    """SemDeDup survivor ids, composed as q70 composes them: coarse
    clusters, within-cluster cosine pairs, connected components, and the
    minimum id of each duplicate group."""
    from associationabacminer_spark.operators import semdedup as SD
    from associationabacminer_spark.operators.components import assign_components

    clustered = SD.cluster_assign(df, "embedding", n_clusters)
    pairs = SD.semdedup_pairs(clustered, "vec_id", "embedding", threshold)
    comp = assign_components(
        df, pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")), "vec_id"
    )
    return {r["vec_id"] for r in comp.filter(F.col("vec_id") == F.col("component")).collect()}


class TestDedup:
    def test_exact_dedup_keeps_min_id(self, docs):
        kept = dedup.exact_dedup(docs, "text", "doc_id")
        ids = {r["doc_id"] for r in kept.collect()}
        assert 2 in ids and 3 not in ids
        assert len(ids) == 7

    def test_fingerprint_groups_catch_case_punct(self, docs):
        groups = (
            docs.groupBy(TX.fingerprint(F.col("text")))
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .collect()
        )
        grouped_ids = {tuple(r["ids"]) for r in groups}
        assert (2, 3, 4) in grouped_ids

    def test_jaccard_pairs_find_near_dup(self, docs):
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in got and (2, 3) in got

    def test_recheck_agrees_with_jaccard_pairs(self, docs):
        """The LSH re-check and the n-gram pair operator score pairs the
        same way: over every candidate pair the shingle join finds, the
        re-check at threshold 0 returns the same rows and values."""
        pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.0)
        rechecked = dedup.exact_jaccard_recheck(
            docs, pairs.select("id_a", "id_b"), "text", "doc_id", n=3, threshold=0.0
        )
        expect = sorted(tuple(r) for r in pairs.collect())
        assert sorted(tuple(r) for r in rechecked.collect()) == expect
        assert len(expect) > 3 and any(0 < j < 1 for _, _, j in expect)

    def test_lsh_bands_must_divide_num_perm(self, docs):
        # 30 = 8 * 3 + 6: six signature slots would sit in no band
        with pytest.raises(ValueError, match="divide"):
            dedup.minhash_lsh_dedup(
                docs, "text", "doc_id", num_perm=30, bands=8, method="classic"
            )

    def test_containment_catches_quote_jaccard_misses(self, spark):
        """A short doc embedded verbatim in a long page: containment = 1
        while Jaccard ~ |quote|/|page| stays below any useful threshold —
        the asymmetric case ngram_containment_pairs exists for."""
        quote = "the quick brown fox jumps over the lazy dog"
        page = " ".join(
            f"filler{i} token{i} pad{i}" for i in range(30)
        ) + " " + quote + " " + " ".join(f"tail{i} end{i} more{i}" for i in range(30))
        docs = spark.createDataFrame(
            [(0, quote), (1, page), (2, "an unrelated document about spark joins")],
            "doc_id long, text string",
        )
        cont = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.ngram_containment_pairs(
                docs, "text", "doc_id", n=3, threshold=0.9
            ).collect()
        }
        assert cont == {(0, 1): 1.0}
        jac = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=0.2
            ).collect()
        }
        assert (0, 1) not in jac  # symmetric measure misses it

    def test_containment_cap_keeps_asymmetric_pair(self, spark):
        """max_shingle_df drops hot shingles from candidate generation
        only; the pair survives via its non-hot shared keys and the
        reported containment is still computed from FULL shingle sets."""
        quote = "alpha beta gamma delta epsilon zeta eta theta"
        boiler = " ".join(["common boilerplate line"] * 3)
        rows = [(0, quote), (1, boiler + " " + quote + " unique trailer here")]
        rows += [(i + 10, boiler + f" distinct page {i} body text") for i in range(6)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        capped = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.ngram_containment_pairs(
                docs, "text", "doc_id", n=3, threshold=0.9, max_shingle_df=3
            ).collect()
        }
        assert (0, 1) in capped and capped[(0, 1)] == 1.0

    def test_minhash_lsh_recall(self, docs):
        exact = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=0.5
            ).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_dedup(
                docs, "text", "doc_id", num_perm=32, bands=16, n=3, threshold=0.5
            ).collect()
        }
        # LSH re-checks exact jaccard on candidates: no false positives,
        # and high-similarity pairs must be recalled
        assert lsh <= exact
        assert (2, 3) in lsh  # identical docs always collide

    def test_minhash_signatures_zero_shuffle_and_parity(self, docs, spark):
        """Round-4 rewrite: signatures are computed per-row (array_min of
        transform) with NO exchange in the plan, and are byte-identical
        to the old explode+groupBy formulation."""
        from pyspark.sql import functions as F

        from associationabacminer_spark.functions.text import word_ngrams

        new = dedup.minhash_signatures(docs, "text", "doc_id", num_perm=16, n=3)
        plan = new._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # old formulation, inlined: explode + groupBy(min) per permutation
        exploded = docs.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(word_ngrams(F.col("text"), 3))).alias("sh"),
        )
        old = (
            exploded.groupBy("doc_id")
            .agg(*[
                F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
                for i in range(16)
            ])
            .select(
                "doc_id", F.array(*[F.col(f"h{i}") for i in range(16)]).alias("sig")
            )
        )
        a = {r["doc_id"]: list(r["sig"]) for r in new.collect()}
        b = {r["doc_id"]: list(r["sig"]) for r in old.collect()}
        assert a == b
        # word_ngrams edge semantics carry over: short text yields one
        # whole-text shingle; null text yields a single [null] shingle
        # (xxhash64 skips nulls -> seed-only hash) — both kept, exactly
        # as the old explode path kept them
        tiny = spark.createDataFrame(
            [(99, "one two"), (100, None)], "doc_id long, text string"
        )
        out = dedup.minhash_signatures(tiny, "text", "doc_id", num_perm=4, n=3)
        rows = {r["doc_id"]: list(r["sig"]) for r in out.collect()}
        assert set(rows) == {99, 100}
        assert all(v is not None for sig in rows.values() for v in sig)

    def test_lsh_candidate_pairs_bucket_parity_and_cap(self, docs, spark):
        """Round-4 rewrite: bucket-expansion pairs (one shuffle) must
        equal the old two-sided band self-join, and the hot-bucket cap
        must drop oversized buckets."""
        from pyspark.sql import functions as F

        sigs = dedup.minhash_signatures(docs, "text", "doc_id", num_perm=16, n=3)
        new = {
            (r["id_a"], r["id_b"])
            for r in dedup.lsh_candidate_pairs(
                sigs, bands=8, rows_per_band=2, max_bucket_size=None
            ).collect()
        }
        banded = sigs.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[F.element_at("sig", b * 2 + r + 1) for r in range(2)],
                            )
                        )
                        for b in range(8)
                    ]
                )
            ).alias("band", "band_hash"),
        )
        a = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
        b = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
        old = {
            (r["id_a"], r["id_b"])
            for r in a.join(b, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .collect()
        }
        assert new == old and len(new) > 0
        # one Exchange for the window/groupBy bucket key (shared — the
        # groupBy reuses the window's partitioning, so the signature map
        # runs once) + one for the final pair distinct, nothing else
        cand_plan = (
            dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert cand_plan.count("Exchange") == 2, cand_plan
        # identical texts agree on EVERY band: a cap below the bucket size
        # must drop those pairs entirely (all their buckets are the same set)
        ident = spark.createDataFrame(
            [(i, "the same text repeated here") for i in range(5)],
            "doc_id long, text string",
        )
        isigs = dedup.minhash_signatures(ident, "text", "doc_id", num_perm=16, n=3)
        assert dedup.lsh_candidate_pairs(isigs, 8, 2, max_bucket_size=4).count() == 0
        assert dedup.lsh_candidate_pairs(isigs, 8, 2, max_bucket_size=5).count() == 10

    def test_oph_signatures_estimate_jaccard(self, spark):
        """One-permutation MinHash (round 4): per-slot agreement rate of
        the OPH signature estimates Jaccard, identical docs collide on
        every slot, and docs with fewer shingles than buckets densify
        deterministically (no sentinel values leak)."""
        import numpy as np

        base = [f"tok{i}" for i in range(400)]
        # two docs sharing 50% of tokens -> 3-gram jaccard is lower but
        # stable; compute truth from the exact operator
        d_a = " ".join(base)
        d_b = " ".join(base[:200] + [f"alt{i}" for i in range(200)])
        df = spark.createDataFrame(
            [(0, d_a), (1, d_b), (2, d_a)], "doc_id long, text string"
        )
        truth = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", n=3, threshold=0.0
            ).collect()
        }
        sigs = {
            r["doc_id"]: np.array(r["sig"])
            for r in dedup.minhash_signatures_oph(
                df, "text", "doc_id", num_buckets=256, n=3
            ).collect()
        }
        assert (sigs[0] == sigs[2]).all()  # identical docs, all slots
        agree = float((sigs[0] == sigs[1]).mean())
        j = truth[(0, 1)]
        # binomial 3-sigma band around the true jaccard at 256 slots
        assert abs(agree - j) < 3 * np.sqrt(j * (1 - j) / 256) + 0.02, (agree, j)
        # short doc: fewer shingles than buckets -> densified, no MAX
        short = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
        s1 = dedup.minhash_signatures_oph(short, "text", "doc_id", 64, n=3)
        s2 = dedup.minhash_signatures_oph(short, "text", "doc_id", 64, n=3)
        a1 = np.array(s1.collect()[0]["sig"], dtype=np.int64)
        a2 = np.array(s2.collect()[0]["sig"], dtype=np.int64)
        assert (a1 == a2).all()  # deterministic
        assert len(set(a1.tolist())) > 1  # fills vary by bucket index
        with pytest.raises(ValueError, match="power of two"):
            dedup.minhash_signatures_oph(short, "text", "doc_id", 48)

    def test_oph_lsh_dedup_end_to_end(self, docs):
        """minhash_lsh_dedup(method='oph') through banding + the exact
        re-check: identical docs always collide; reported pairs are a
        subset of the exact-Jaccard pairs (no false positives)."""
        exact = {
            (r["id_a"], r["id_b"])
            for r in dedup.ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=0.5
            ).collect()
        }
        oph = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_dedup(
                docs, "text", "doc_id", num_perm=32, bands=16, n=3,
                threshold=0.5, method="oph",
            ).collect()
        }
        assert oph <= exact
        assert (2, 3) in oph  # identical docs

    def test_oph_drops_null_and_empty_docs(self, spark):
        """Round-5 ADVICE: null/empty/whitespace-only texts must get NO
        signature (they have no shingles and would otherwise all share
        the whole-text-fallback signature — one giant LSH bucket)."""
        d = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, None),
                (3, ""),
                (4, "   "),
            ],
            "doc_id long, text string",
        )
        sigs = dedup.minhash_signatures_oph(d, "text", "doc_id", 16, n=3)
        assert [r["doc_id"] for r in sigs.collect()] == [1]
        # end-to-end: empty docs never pair with each other
        many_empty = d.union(
            spark.createDataFrame(
                [(i, "") for i in range(10, 20)], "doc_id long, text string"
            )
        )
        pairs = dedup.minhash_lsh_dedup(
            many_empty, "text", "doc_id", num_perm=16, bands=4, n=3,
            threshold=0.5, method="oph",
        ).collect()
        assert pairs == []

    def test_lsh_dedup_bucket_cap_passthrough(self, docs):
        """max_bucket_size forwards from the pipeline wrapper to
        lsh_candidate_pairs: cap=1 kills every bucket (pairs need n>1),
        None disables the cap and recovers the identical-doc pair."""
        none_found = dedup.minhash_lsh_dedup(
            docs, "text", "doc_id", num_perm=32, bands=16, n=3,
            threshold=0.5, method="oph", max_bucket_size=1,
        ).collect()
        assert none_found == []
        uncapped = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_dedup(
                docs, "text", "doc_id", num_perm=32, bands=16, n=3,
                threshold=0.5, method="oph", max_bucket_size=None,
            ).collect()
        }
        assert (2, 3) in uncapped  # identical docs survive uncapped

    def test_simhash_identical_and_near(self, docs):
        sim = dedup.simhash64(docs, "text", "doc_id")
        vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
        assert vals[2] == vals[3]  # identical text -> identical simhash
        # near-dup 0/1 differ in one word -> small hamming distance
        h = bin((vals[0] ^ vals[1]) & ((1 << 64) - 1)).count("1")
        assert h <= 12


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(3)
        base = rng.standard_normal((60, 16))
        # make 5 clusters by repeating + jitter
        rows = []
        for i in range(60):
            rows.append((i, [float(x) for x in base[i % 12] + 0.05 * base[i]]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_cosine_matches_numpy(self, emb, spark):
        rows = emb.orderBy("vec_id").limit(2).collect()
        a, b = np.array(rows[0]["embedding"]), np.array(rows[1]["embedding"])
        expected = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        got = (
            emb.alias("x")
            .crossJoin(emb.alias("y"))
            .filter((F.col("x.vec_id") == 0) & (F.col("y.vec_id") == 1))
            .select(
                similarity.cosine(F.col("x.embedding"), F.col("y.embedding")).alias("c")
            )
            .collect()[0]["c"]
        )
        assert abs(got - expected) < 1e-9

    def test_ann_recall_vs_brute_force(self, emb):
        qs = emb.filter(F.col("vec_id") < 6)
        bf = similarity.brute_force_topk(emb, qs, k=3)
        ann = similarity.ann_lsh_topk(emb, qs, k=3, planes=3)
        bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
        ann_set = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
        recall = len(bf_set & ann_set) / len(bf_set)
        assert recall >= 0.5  # 3 planes -> 8 buckets over clustered data


class TestFunctions:
    def test_crud_weekday_hourbin(self, spark):
        df = spark.createDataFrame(
            [
                ("CreateUser", "2024-01-06 13:30:00"),  # saturday
                ("DescribeInstances", "2024-01-08 05:00:00"),  # monday
                ("DeleteBucket", "2024-01-10 23:10:00"),
            ],
            "name string, ts_s string",
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        out = df.select(
            N.crud_verb("name").alias("verb"),
            N.weekday("ts").alias("wd"),
            N.is_weekend("ts").alias("we"),
            N.hour_bin_simple("ts", 4).alias("hb"),
            N.bin_by_bounds(F.hour("ts"), [6, 13, 20]).alias("hbb"),
        ).collect()
        assert [r["verb"] for r in out] == ["Create", "Read", "Delete"]
        assert [r["wd"] for r in out] == [5, 0, 2]
        assert [r["we"] for r in out] == [True, False, False]
        assert [r["hb"] for r in out] == [2, 0, 3]
        # hour 13 is not below bound 13: bins are [0,6) [6,13) [13,20) [20,24)
        assert [r["hbb"] for r in out] == [2, 0, 3]

    def test_ip_and_arn(self, spark):
        df = spark.createDataFrame(
            [("10.1.2.3", "arn:aws:s3:us-east-1:123:bucket/key")],
            "ip string, arn string",
        )
        r = df.select(
            N.ip_normalize("ip").alias("ip"),
            N.arn_resource_type("arn").alias("rt"),
        ).collect()[0]
        assert r["ip"] == "vpc.internal"
        assert r["rt"] == "bucket"

    def test_text_functions(self, spark):
        df = spark.createDataFrame(
            [(1, "The quick brown fox."), (2, ""), (3, "el que y los de")],
            "id long, text string",
        )
        rows = {
            r["id"]: r
            for r in df.select(
                "id",
                TX.token_count("text").alias("tc"),
                TX.lang_guess("text").alias("lg"),
                TX.fingerprint("text").alias("fp"),
            ).collect()
        }
        assert rows[1]["tc"] == 4
        assert rows[2]["tc"] == 0
        assert rows[1]["lg"] == "en"
        assert rows[3]["lg"] == "es"
        assert rows[2]["lg"] == "und"
        assert len(rows[1]["fp"]) == 32

    def test_constraint_predicate(self, spark):
        df = spark.createDataFrame(
            [("a", "x"), ("a", "y"), ("b", "x")], "k1 string, k2 string"
        )
        pred = N.constraint_predicate({"k1": ["a"], "k2": ["x", "y"]})
        assert df.filter(pred).count() == 2


class TestMultimodal:
    def test_pack_decode_frame_sample(self, docs):
        packed = multimodal.pack_media(docs, "doc_id", "text")
        assert dict(packed.dtypes)["payload"] == "binary"
        decoded = multimodal.decode_media(packed)
        rows = decoded.collect()
        assert len(rows) == docs.count()
        for r in rows:
            assert r["width"] == r["n_bytes"] % 640 + 16
            assert len(r["feature"]) == 8
        frames = multimodal.frame_sample(decoded, every_n=5)
        assert frames.count() >= 0  # only video rows explode

class TestRuleMining:
    def test_mine_and_score(self, spark):
        from associationabacminer_spark.operators.rulemine import mine_rules

        rows = []
        for i in range(400):
            et = "view" if i % 2 == 0 else ("purchase" if i % 4 == 1 else "error")
            rows.append((et, str(i % 3)))
        df = spark.createDataFrame(rows, "event_type string, bucket string")
        policy = mine_rules(df, ["event_type", "bucket"], min_support=0.2, max_rules=4)
        assert policy.rules, "should mine at least one rule"
        covered = df.filter(policy.allows()).count()
        assert covered >= 0.5 * df.count()

class TestWindowedSketches:
    def test_per_window_hll_vs_exact_and_rollup(self, spark):
        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            rollup_windows,
            windowed_sketches,
        )
        from associationabacminer_spark.sketch import HyperLogLog

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        specs = [
            SketchSpec(
                "hll_user", HyperLogLog, "user_id", kernel_cls=HyperLogLog, prehash=True
            )
        ]
        lineage = windowed_sketches(ev, specs, "ts", "1 day", "1 day").cache()
        rows = lineage.collect()
        exact = {
            str(r["d"]): r["n"]
            for r in ev.groupBy(F.date_trunc("day", "ts").alias("d"))
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert len(rows) == len(exact)
        for r in rows:
            h = HyperLogLog.deserialize(bytes(r["sketch"]))
            want = exact[str(r["window_start"])]
            assert abs(h.estimate() - want) <= max(1.0, 3 * h.relative_error * want)

        # rollup daily partials into 10-day windows without re-reading rows
        rolled = rollup_windows(lineage, specs, group_days=10).collect()
        total_est = 0.0
        merged = None
        for r in rolled:
            k = HyperLogLog.deserialize(bytes(r["sketch"]))
            merged = k if merged is None else HyperLogLog.merge(merged, k)
        exact_total = ev.select(F.countDistinct("user_id")).collect()[0][0]
        assert abs(merged.estimate() - exact_total) <= max(
            1.0, 3 * merged.relative_error * exact_total
        )
        lineage.unpersist()


class TestRuleUtilities:
    def test_auc_trapezoid(self):
        from associationabacminer_spark.operators.rulemine import auc_from_points

        # perfect classifier: (0,1) then (1,1) -> area 1
        assert auc_from_points([0.0, 0.0, 1.0], [0.0, 1.0, 1.0]) == 1.0
        # diagonal -> 0.5
        assert auc_from_points([0.0, 0.5, 1.0], [0.0, 0.5, 1.0]) == 0.5

class TestMetricSuite:
    def test_all_13_formulas_on_hand_computed_fixture(self):
        """Each formula checked against hand-arithmetic for
        ULE=10, ALE=40, allowed=(4,5)->AEC=20, OT=10, wsc=2, beta=0.5,
        total_possible=100, covR=0.4, UA=60
        (EnvOverassignmentCalculator.py:108-166)."""
        from associationabacminer_spark.operators.rulemine import metric_suite

        s = metric_suite(
            unique_log_entries=10,
            all_log_entries=40,
            allowed_counts=[4, 5],
            wsc=2,
            beta=0.5,
            total_possible=100,
            coverage_rate=0.4,
            under_assignments=60,
        )
        ot = 20 - 10  # aec - ule
        over_r = 1 - ot / 100  # 0.9
        assert s["overassignment_total"] == ot
        assert s["harmonic_mean"] == pytest.approx(
            (1 + 0.25) * (over_r * 0.4) / (0.25 * over_r + 0.4)
        )
        assert s["arithmetic_mean"] == pytest.approx((0.5 * 0.4 + over_r) / 2)
        assert s["arithmetic_mean_wsc"] == pytest.approx((0.5 * (40 / 2) + over_r) / 2)
        assert s["product"] == pytest.approx(10 * 0.5 / 10)
        assert s["Qrul_count1"] == pytest.approx(10 * (1 - 0.5 * 10 / 20))
        assert s["Qrul_count1_i"] == pytest.approx(10 * (1 - 0.5 * 10 / 10))
        assert s["Qrul_freq1"] == pytest.approx(40 * (1 - 0.5 * 10 / 20))
        assert s["Qrul_freq1_i"] == pytest.approx(40 * (1 - 0.5 * 10 / 40))
        assert s["l_dist"] == pytest.approx(60 + 0.5 * 10)
        assert s["Qrul_count"] == pytest.approx((10 / 2) * (1 - 0.5 * 10 / 20))
        assert s["Qrul_count_i"] == pytest.approx((10 / 2) * (1 - 0.5 * 10 / 10))
        assert s["Qrul_freq"] == pytest.approx((40 / 2) * (1 - 0.5 * 10 / 20))
        assert s["Qrul_freq_i"] == pytest.approx((40 / 2) * (1 - 0.5 * 10 / 40))

    def test_allowed_counts_clamp_and_product_guard(self):
        """Zero allowed counts clamp to 1 (the reference's 'if total > 0
        else 1'); product's divisor clamps when OT <= 0."""
        from associationabacminer_spark.operators.rulemine import metric_suite

        s = metric_suite(5, 5, [0, 0], wsc=1, beta=1.0, coverage_rate=1.0)
        assert s["overassignment_total"] == 1 - 5  # aec=1, ot=-4
        assert s["product"] == 5.0  # divisor clamped to 1


class TestTotalCoverFallbacks:
    def test_stranded_remainder_still_fully_covered(self, spark):
        """F5 (EnvAbacRuleMiner.py:249-266): min_support high enough to
        strand a long tail -> fallback rules must cover every row."""
        from associationabacminer_spark.operators.rulemine import mine_rules

        rows = [("common", "x") for _ in range(90)] + [
            (f"rare{i}", f"y{i}") for i in range(10)
        ]
        df = spark.createDataFrame(rows, "et string, b string")
        policy = mine_rules(df, ["et", "b"], min_support=0.5, max_rules=3)
        uncovered = df.filter(~policy.allows()).count()
        assert uncovered == 0, "total_cover must leave no row uncovered"
        # and the fallback can be disabled for the pure greedy loop
        partial = mine_rules(
            df, ["et", "b"], min_support=0.5, max_rules=3, total_cover=False
        )
        assert df.filter(~partial.allows()).count() > 0

    def test_single_remaining_row_rule(self, spark):
        from associationabacminer_spark.operators.rulemine import mine_rules

        rows = [("a", "1") for _ in range(50)] + [("z", "9")]
        df = spark.createDataFrame(rows, "et string, b string")
        policy = mine_rules(df, ["et", "b"], min_support=0.4, max_rules=5)
        assert df.filter(~policy.allows()).count() == 0
        assert any(r.constraints == {"et": "z", "b": "9"} for r in policy.rules)


class TestNormalizerAnchors:
    def test_invoked_by_collapse(self, spark):
        from associationabacminer_spark.functions.normalize import invoked_by_collapse

        df = spark.createDataFrame(
            [
                ("signin.amazonaws.com",),
                ("ec2.amazonaws.com",),
                ("LAMBDA-INTERNAL.svc",),
                ("arn:aws:iam::1:user/alice",),
            ],
            "v string",
        )
        got = [r[0] for r in df.select(invoked_by_collapse("v")).collect()]
        assert got == [
            "signin.amazonaws.com",
            "internal",
            "internal",
            "arn:aws:iam::1:user/alice",
        ]

    def test_negation_predicate(self, spark):
        from associationabacminer_spark.functions.normalize import (
            constraint_predicate_with_negation,
        )

        df = spark.createDataFrame(
            [("view", 1), ("view", 9), ("click", 2), ("error", 9)], "et string, u int"
        )
        pred = constraint_predicate_with_negation(
            {"et": ["view", "click"]}, {"u": [1, 2]}
        )
        assert [tuple(r) for r in df.filter(pred).collect()] == [("view", 9)]


class TestRuntimeMetrics:
    def test_observe_counts_rows_and_volume(self, spark):
        from associationabacminer_spark.plans.metrics import observed

        df = spark.range(100).withColumn("v", F.col("id") * 2)
        df, obs = observed(
            df, rows=F.count(F.lit(1)), vol=F.sum("v"), mx=F.max("id")
        )
        df.write.format("noop").mode("overwrite").save()
        got = obs.get
        assert got["rows"] == 100 and got["vol"] == 9900 and got["mx"] == 99

class TestSummaryUtilities:
    def test_dedup_by_beta_keeps_first_per_beta(self, spark):
        from associationabacminer_spark.operators.stats import dedup_summaries_by_beta

        rows = [
            (0.5, 3, 10),
            (0.5, 1, 11),
            (0.5, 1, 12),  # tie on itemset_limit -> summary_id breaks it
            (1.0, 7, 13),
        ]
        df = spark.createDataFrame(rows, "beta double, itemset_limit int, summary_id int")
        got = sorted(
            tuple(r)
            for r in dedup_summaries_by_beta(
                df, "beta", ("itemset_limit", "summary_id")
            ).collect()
        )
        assert got == [(0.5, 1, 11), (1.0, 7, 13)]

    def test_multi_resource_type_counts(self, spark):
        from associationabacminer_spark.operators.stats import (
            multi_resource_type_counts,
        )

        rows = [
            (["arn:aws:s3:r:1:bucket/a", "arn:aws:s3:r:1:bucket/b"],),  # dup type
            (["arn:aws:s3:r:1:bucket/a", "arn:aws:ec2:r:1:instance/i"],),
            ([],),
        ]
        df = spark.createDataFrame(rows, "arns array<string>")
        row = multi_resource_type_counts(df, "arns").collect()[0]
        assert row["events"] == 3
        assert row["events_w_resources"] == 2
        assert row["multiple_same_type"] == 1


class TestWindowedSketchSalting:
    def test_skewed_window_builds_multiple_partials(self, spark):
        """A hot window must split into >1 (window, salt) partial task —
        no single pandas group ever holds a whole window (VERDICT.md
        round 1, scale-killer #1)."""
        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            windowed_sketch_partials,
            windowed_sketches,
        )
        from associationabacminer_spark.sketch import HyperLogLog

        # 10k rows, ALL in one day: maximal window skew
        df = spark.range(10_000).select(
            F.lit("2024-01-01 12:00:00").cast("timestamp").alias("ts"),
            F.col("id").alias("user_id"),
        )
        specs = [
            SketchSpec(
                "hll_user", HyperLogLog, "user_id", kernel_cls=HyperLogLog, prehash=True
            )
        ]
        partials = windowed_sketch_partials(
            df, specs, "ts", "1 day", "1 day", salts=8
        ).collect()
        assert len(partials) == 8, "hot window must fan out to all salts"
        assert {r["salt"] for r in partials} == set(range(8))
        # and the merged result still estimates correctly
        merged = windowed_sketches(df, specs, "ts", "1 day", "1 day", salts=8).collect()
        assert len(merged) == 1
        h = HyperLogLog.deserialize(bytes(merged[0]["sketch"]))
        assert merged[0]["row_count"] == 10_000
        assert abs(h.estimate() - 10_000) <= 3 * h.relative_error * 10_000


class TestSimhashPigeonhole:
    def test_full_recall_vs_brute_force(self, spark):
        """Pigeonhole banding must find EVERY pair at hamming <= k —
        including pairs whose differing bits would all fall inside the
        old 16-bit prefix block (the round-1 recall gap)."""
        import random

        rng = random.Random(7)
        base = rng.getrandbits(64)
        vals = [base]
        # pairs differing ONLY in the top bits (the old prefix), only in
        # the bottom bits, and scattered
        for bits in [(63, 62), (1, 2, 3), (0, 21, 42), (60,), (5, 25, 45)]:
            v = base
            for b in bits:
                v ^= 1 << b
            vals.append(v)
        # plus random far-away values
        vals += [rng.getrandbits(64) for _ in range(40)]
        to_signed = lambda v: v - (1 << 64) if v >= (1 << 63) else v
        df = spark.createDataFrame(
            [(i, to_signed(v)) for i, v in enumerate(vals)],
            "doc_id long, simhash long",
        )
        k = 3
        got = {
            (r["id_a"], r["id_b"])
            for r in __import__(
                "associationabacminer_spark.operators.dedup", fromlist=["x"]
            ).simhash_near_pairs(df, max_hamming=k).collect()
        }
        expect = set()
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                if bin(vals[i] ^ vals[j]).count("1") <= k:
                    expect.add((i, j))
        assert got == expect, f"missing={expect - got} extra={got - expect}"
        assert len(expect) >= 5  # the crafted near pairs are all present


class TestAsofSalted:
    def test_hot_key_matches_unsalted(self, spark):
        """One key holding 90% of rows: the salted plan must return
        exactly what the single-partition sweep returns, including
        cross-bucket carry (left rows in buckets with no right rows)."""
        from associationabacminer_spark.operators.asof import (
            asof_join,
            asof_join_salted,
        )

        rows_l, rows_r = [], []
        for i in range(500):
            k = 1 if i % 10 else 2  # key 1 is hot
            rows_l.append((i, k, f"2024-01-{(i % 27) + 1:02d} {i % 24:02d}:30:00"))
        for j in range(80):
            k = 1 if j % 10 else 2
            rows_r.append((1000 + j, k, f"2024-01-{(j % 9) + 1:02d} {j % 24:02d}:{j % 60:02d}:00"))
        left = spark.createDataFrame(rows_l, "lid long, k long, ts_s string").withColumn(
            "ts", F.col("ts_s").cast("timestamp")
        ).drop("ts_s")
        right = spark.createDataFrame(rows_r, "rid long, k long, ts_s string").withColumn(
            "ts", F.col("ts_s").cast("timestamp")
        ).drop("ts_s")
        base = {
            (r["lid"], r["rid_asof"])
            for r in asof_join(left, right, "k", "ts", "ts", ["rid"]).collect()
        }
        for bucket_s in (3600, 86_400, 7 * 86_400):
            salted = {
                (r["lid"], r["rid_asof"])
                for r in asof_join_salted(
                    left, right, "k", "ts", "ts", ["rid"], bucket_seconds=bucket_s
                ).collect()
            }
            assert salted == base, f"bucket={bucket_s}"


class TestBandedNearDup:
    def test_banded_matches_exact_all_pairs(self, spark):
        """Banded LSH + re-check must reproduce the exact all-pairs result
        on clustered vectors (near-dups present) at t=0.99."""
        from associationabacminer_spark.operators.similarity import (
            embedding_near_dup_pairs_banded,
        )

        rng = np.random.default_rng(11)
        base = rng.standard_normal((8, 24))
        vecs = base[np.arange(80) % 8] + 0.01 * rng.standard_normal((80, 24))
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        ii, jj = np.nonzero(np.triu(unit @ unit.T >= 0.99, k=1))
        exact = set(zip(ii.tolist(), jj.tolist()))
        banded = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dup_pairs_banded(df, threshold=0.99).collect()
        }
        assert len(exact) > 50  # clusters really produce near-dups
        assert banded == exact


class TestIvfTopk:
    def test_recall_vs_brute_force_on_clusters(self, spark):
        from associationabacminer_spark.operators import similarity

        rng = np.random.default_rng(21)
        base = rng.standard_normal((10, 24))
        rows = [
            (i, [float(x) for x in base[i % 10] + 0.05 * rng.standard_normal(24)])
            for i in range(120)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qs = emb.filter(F.col("vec_id") < 10)
        bf = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(emb, qs, k=3).collect()
        }
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(
                emb, qs, k=3, n_centroids=10, nprobe=3
            ).collect()
        }
        recall = len(bf & ivf) / len(bf)
        assert recall >= 0.9, recall

    def test_probe_dial_trades_recall(self, spark):
        """nprobe = n_centroids degenerates to (almost) exact search."""
        from associationabacminer_spark.operators import similarity

        rng = np.random.default_rng(22)
        rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(80)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qs = emb.filter(F.col("vec_id") < 5)
        bf = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.brute_force_topk(emb, qs, k=3).collect()
        }
        full = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(
                emb, qs, k=3, n_centroids=8, nprobe=8
            ).collect()
        }
        assert full == bf


class TestShingleDfCap:
    def test_cap_prunes_stop_shingle_but_keeps_near_dups(self, spark):
        """A stop-shingle shared by every doc must not force all-pairs
        candidates; near-dups sharing rare shingles survive the cap."""
        from associationabacminer_spark.operators.dedup import ngram_jaccard_pairs

        rows = [
            (i, f"common stop phrase here plus unique{i} words{i} tail{i}")
            for i in range(30)
        ]
        # docs 40/41 are near-dups sharing rare shingles
        rows += [
            (40, "a very distinctive rare sentence about spark engines okay"),
            (41, "a very distinctive rare sentence about spark engines fine"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.5).collect()
        }
        capped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                df, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=5
            ).collect()
        }
        assert (40, 41) in uncapped and (40, 41) in capped
        # the 30 stop-phrase docs share ONLY sub-threshold shingles; both
        # forms exclude them from results, and the capped form also
        # excludes them from the candidate join
        assert capped == uncapped


class TestWinnowing:
    def test_identical_docs_share_all_prints(self, spark, docs):
        from associationabacminer_spark.operators.dedup import (
            winnow_fingerprints,
            winnow_overlap_pairs,
        )

        fp = winnow_fingerprints(docs, "text", "doc_id")
        vals = {r["doc_id"]: tuple(r["prints"]) for r in fp.collect()}
        assert vals[2] == vals[3]  # identical texts
        assert vals[2] == vals[4]  # case/punct normalize away
        pairs = {
            (r["id_a"], r["id_b"]): r["overlap"]
            for r in winnow_overlap_pairs(fp, min_overlap=0.3).collect()
        }
        assert pairs[(2, 3)] == 1.0
        assert (0, 1) in pairs  # one-word near-dups share most prints

    def test_substring_guarantee(self, spark):
        """Any shared substring of length >= k + window - 1 yields a
        shared print (the winnowing theorem, SIGMOD'03 §3)."""
        from associationabacminer_spark.operators.dedup import winnow_fingerprints

        shared = "xxdistinctivesharedrunxx"  # 24 alnum chars >= 8+4-1
        df = spark.createDataFrame(
            [(0, f"alpha {shared} omega"), (1, f"zulu {shared} yankee")],
            "doc_id long, text string",
        )
        fp = {r["doc_id"]: set(r["prints"]) for r in
              winnow_fingerprints(df, "text", "doc_id", k=8, window=4).collect()}
        assert fp[0] & fp[1], "winnowing guarantee violated"


class TestConnectedComponents:
    """Alternating large-star/small-star closure vs a union-find truth."""

    def _truth(self, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for n in list(parent):
            comps.setdefault(find(n), set()).add(n)
        label = {}
        for members in comps.values():
            m = min(members)
            for n in members:
                label[n] = m
        return label

    def test_matches_union_find_on_random_graph(self, spark):
        import random

        from associationabacminer_spark.operators.components import (
            connected_components,
        )

        rng = random.Random(11)
        edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        truth = self._truth(edges)
        for node, comp in got.items():
            assert truth[node] == comp
        # every non-root member of a >1 component must be present
        for node, comp in truth.items():
            if node != comp:
                assert got[node] == comp

    def test_long_chain_converges(self, spark):
        """A 200-node path graph has diameter 199 — label propagation
        would need ~200 rounds; star-contraction must finish well inside
        max_rounds=25 and still produce one component."""
        from associationabacminer_spark.operators.components import (
            connected_components,
        )

        edges = [(i, i + 1) for i in range(200)]
        df = spark.createDataFrame(edges, "src: long, dst: long")
        out = connected_components(df).collect()
        assert {r["component"] for r in out} == {0}
        assert {r["node"] for r in out} == set(range(1, 201))

    def test_assign_components_covers_isolated(self, spark):
        from associationabacminer_spark.operators.components import (
            assign_components,
        )

        nodes = spark.createDataFrame([(i,) for i in range(6)], "id: long")
        edges = spark.createDataFrame([(0, 1), (1, 2)], "src: long, dst: long")
        got = {
            r["id"]: r["component"]
            for r in assign_components(nodes, edges, "id").collect()
        }
        assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5}

    def test_keep_best_picks_top_score_tie_min_id(self, spark):
        from associationabacminer_spark.operators.components import (
            near_dedup_keep_best,
        )

        # groups: {0,1,2} scores 5,9,9 -> keep 1 (tie 9 at ids 1,2 ->
        # min id); {3,4} scores 2,7 -> keep 4; {5} singleton -> kept
        docs = spark.createDataFrame(
            [(0, 5.0), (1, 9.0), (2, 9.0), (3, 2.0), (4, 7.0), (5, 1.0)],
            "id: long, score: double",
        )
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (3, 4)], "src: long, dst: long"
        )
        kept = {
            r["id"] for r in near_dedup_keep_best(docs, pairs, "id", "score").collect()
        }
        assert kept == {1, 4, 5}

    def test_keep_best_null_scores_lose(self, spark):
        from associationabacminer_spark.operators.components import (
            near_dedup_keep_best,
        )

        # {0,1}: 1 has the only real score -> wins despite higher id;
        # {2,3}: all-null group still keeps exactly one (min id)
        docs = spark.createDataFrame(
            [(0, None), (1, 3.0), (2, None), (3, None)],
            "id: long, score: double",
        )
        pairs = spark.createDataFrame([(0, 1), (2, 3)], "src: long, dst: long")
        kept = {
            r["id"] for r in near_dedup_keep_best(docs, pairs, "id", "score").collect()
        }
        assert kept == {1, 2}


class TestFeatureRanking:
    """Laplacian score / variance ranking vs dense numpy truth."""

    def _data(self, spark, n=100, d=5, seed=9):
        rng = np.random.default_rng(seed)
        X = rng.normal(size=(n, d))
        labels = rng.integers(0, 3, n)
        rows = [
            (int(i), [float(v) for v in X[i]], int(labels[i])) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "id: long, embedding: array<double>, label: long"
        )
        return X, labels, df

    def _lap_truth(self, X, S):
        D = S.sum(1)
        out = []
        for r in range(X.shape[1]):
            f = X[:, r]
            num = 0.5 * np.sum(S * (f[:, None] - f[None, :]) ** 2)
            ft = f - (f @ D) / D.sum()
            out.append(num / (ft @ (D * ft)))
        return out

    def test_label_affinity_matches_numpy(self, spark):
        from associationabacminer_spark.operators.featsel import laplacian_score

        X, labels, df = self._data(spark)
        S = (labels[:, None] == labels[None, :]).astype(float)
        np.fill_diagonal(S, 0)
        truth = self._lap_truth(X, S)
        got = {
            r["dim"]: r["lap_score"]
            for r in laplacian_score(df, "id", "embedding", label_col="label").collect()
        }
        for r, t in enumerate(truth):
            assert abs(got[r] - t) < 1e-5

    def test_variance_ranking(self, spark):
        from associationabacminer_spark.operators.featsel import variance_ranking

        X, _, df = self._data(spark)
        got = {
            r["dim"]: r["variance"]
            for r in variance_ranking(df, "id", "embedding").collect()
        }
        for r in range(X.shape[1]):
            assert abs(got[r] - X[:, r].var()) < 1e-5

class TestSemDeDup:
    def test_exact_dups_collapse_and_survivors_clean(self, spark):
        rng = np.random.default_rng(5)
        X = rng.normal(size=(80, 16))
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(80)]
        # clones of vec 0..9 under new ids: guaranteed cos = 1.0
        rows += [(100 + i, [float(v) for v in X[i]]) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

        kept = semdedup_survivors(df, threshold=0.999, n_clusters=4)
        # every clone pair collapsed to the original (min id)
        assert len(kept) == 80
        assert all(100 + i not in kept for i in range(10))
        assert all(i in kept for i in range(10))

    def test_pairs_exact_within_cluster(self, spark):
        from associationabacminer_spark.operators import semdedup as SD

        rng = np.random.default_rng(6)
        X = rng.normal(size=(60, 8))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        clustered = SD.cluster_assign(df, "embedding", n_clusters=3)
        got = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in SD.semdedup_pairs(clustered, "vec_id", "embedding", 0.5).collect()
        }
        # brute-force truth restricted to same-cluster pairs
        assign = {r["vec_id"]: r["cluster"] for r in clustered.collect()}
        want = {}
        for i in range(60):
            for j in range(i + 1, 60):
                if assign[i] == assign[j]:
                    c = float(X[i] @ X[j])
                    if c >= 0.5:
                        want[(i, j)] = round(c, 6)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-5


class TestTfidfAndSampling:
    def test_tfidf_matches_hand_computed(self, spark):
        import math

        from associationabacminer_spark.operators.tfidf import tfidf_top_terms

        docs = [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry date"),
        ]
        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        out = {
            (r["doc_id"], r["token"]): (r["tfidf"], r["rank"])
            for r in tfidf_top_terms(df, "text", "doc_id", k=2).collect()
        }
        # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
        assert out[(1, "apple")] == (round(2 * math.log(3), 6), 1)
        assert out[(1, "banana")] == (round(math.log(1.5), 6), 2)
        # doc 3: cherry tf=2 df=2 -> 2*ln(1.5); date tf=1 df=1 -> ln(3)
        assert out[(3, "date")][1] == 1  # ln(3) > 2*ln(1.5)
        assert out[(3, "cherry")][1] == 2

    def test_quota_sample_cap_and_determinism(self, spark):
        from associationabacminer_spark.operators.sampling import quota_sample

        rows = [(i, f"g{i % 3}") for i in range(50)]
        df = spark.createDataFrame(rows, "id: long, grp: string")
        a = quota_sample(df, "grp", "id", 4)
        counts = {r["grp"]: r["n"] for r in a.groupBy("grp").agg(
            F.count("*").alias("n")).collect()}
        assert all(v == 4 for v in counts.values())
        b = quota_sample(df, "grp", "id", 4)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        # different salt -> (almost surely) different pick
        c = quota_sample(df, "grp", "id", 4, salt="v2")
        assert sorted(map(tuple, a.collect())) != sorted(map(tuple, c.collect()))

    def test_hash_split_deterministic_and_disjoint(self, spark):
        from associationabacminer_spark.operators.sampling import hash_split

        df = spark.createDataFrame([(i,) for i in range(2000)], "id: long")
        s = hash_split(df, "id", test_frac=0.2)
        frac = s.filter(F.col("split") == "test").count() / 2000
        assert 0.14 < frac < 0.26  # binomial 5-sigma-ish band
        again = hash_split(df, "id", test_frac=0.2)
        assert sorted(map(tuple, s.collect())) == sorted(map(tuple, again.collect()))


class TestDependencyMap:
    def test_fd_derivation(self, spark):
        from associationabacminer_spark.operators.stats import relation_fd_strength

        rows = [
            ("n1", "r1", "big"), ("n1", "r1", "big"), ("n2", "r1", "small"),
            ("n3", "r2", "big"), ("n3", "r2", "small"),
        ]
        df = spark.createDataFrame(rows, "nation: string, region: string, size: string")
        # nation -> region is exactly functional
        s = relation_fd_strength(df, "nation", "region").collect()[0]
        assert s["strength"] == 1.0
        # region -> nation is not (r1 maps to n1 x2 / n2 x1 -> 2/3; r2 -> 1.0 over 2 rows)
        s2 = relation_fd_strength(df, "region", "nation").collect()[0]
        assert abs(s2["strength"] - 0.8) < 1e-9  # (2 + 2) / 5


class TestNullTextShingles:
    """A NULL text has no shingles: two NULL-text docs are not a near-dup
    pair, and a NULL-text test doc is not contaminated by a NULL-text
    train doc."""

    @pytest.fixture(scope="class")
    def null_docs(self, spark):
        return spark.createDataFrame(
            [(1, None), (2, None), (3, "some real text here")], "doc_id long, text string"
        )

    def test_null_texts_are_not_a_pair(self, null_docs):
        for pairs in (
            dedup.ngram_jaccard_pairs(null_docs, "text", "doc_id"),
            dedup.ngram_containment_pairs(null_docs, "text", "doc_id"),
        ):
            assert (1, 2) not in {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        hashes = {
            r["doc_id"]: r["h"]
            for r in null_docs.select("doc_id", TX.word_ngram_hashes("text").alias("h")).collect()
        }
        assert hashes[1] is None and hashes[2] is None and len(hashes[3]) == 2

    def test_null_text_is_not_contaminated(self, null_docs):
        from associationabacminer_spark.operators.decontaminate import contaminated_ids

        train = null_docs.filter(F.col("doc_id") == 1)
        test = null_docs.filter(F.col("doc_id").isin(2, 3))
        assert contaminated_ids(train, test, "text", "doc_id").count() == 0


class TestDecontaminate:
    def test_overlap_detection_and_clean_passthrough(self, spark):
        from associationabacminer_spark.operators.decontaminate import (
            contaminated_ids,
        )

        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "pack my box with five dozen liquor jugs")],
            "doc_id: long, text: string",
        )
        test = spark.createDataFrame(
            [(10, "intro text then the quick brown fox jumps over something"),
             (11, "completely novel content with no shared phrasing at all"),
             (12, "pack my box with five dozen liquor jugs verbatim copy")],
            "doc_id: long, text: string",
        )
        hit_df = contaminated_ids(train, test, "text", "doc_id", n=5)
        hits = {r["doc_id"] for r in hit_df.collect()}
        assert hits == {10, 12}
        clean = {r["doc_id"] for r in test.join(hit_df, "doc_id", "left_anti").collect()}
        assert clean == {11}

    def test_df_cap_keeps_rare_shingle_hits(self, spark):
        from associationabacminer_spark.operators.decontaminate import (
            contaminated_ids,
        )

        boiler = "standard header line repeated in every single document here"
        train = spark.createDataFrame(
            [(i, boiler) for i in range(20)]
            + [(100, "a very unusual phrase that appears exactly once only")],
            "doc_id: long, text: string",
        )
        test = spark.createDataFrame(
            [(200, "prefix a very unusual phrase that appears exactly once only"),
             (201, boiler)],
            "doc_id: long, text: string",
        )
        # cap drops the boilerplate shingle (df=20 > 5) but the rare hit stays
        hits = {r["doc_id"] for r in contaminated_ids(
            train, test, "text", "doc_id", n=5, max_shingle_df=5).collect()}
        assert 200 in hits and 201 not in hits
        # without the cap both are flagged
        all_hits = {r["doc_id"] for r in contaminated_ids(
            train, test, "text", "doc_id", n=5).collect()}
        assert all_hits == {200, 201}

    def test_bloom_prefilter_no_false_negatives(self, spark):
        """Round 5: the Bloom prefilter is candidate-safe — the result
        set with the prefilter is IDENTICAL to the plain semi-join on a
        corpus with planted overlaps, for every fpp including an
        absurdly lossy one (false positives only cost join input, never
        change the output)."""
        from associationabacminer_spark.operators.decontaminate import (
            contaminated_ids,
        )

        words = "alpha bravo charlie delta echo foxtrot golf hotel".split()
        train = spark.createDataFrame(
            [(i, " ".join(words[j % 8] for j in range(i, i + 9)))
             for i in range(40)],
            "doc_id: long, text: string",
        )
        # half the test docs embed a train 5-gram, half are novel
        test = spark.createDataFrame(
            [(100 + i, "zz%d " % i + " ".join(words[j % 8] for j in range(i, i + 5)))
             for i in range(20)]
            + [(200 + i, " ".join("nov%d_%d" % (i, j) for j in range(9)))
               for i in range(20)],
            "doc_id: long, text: string",
        )
        plain = {r["doc_id"] for r in contaminated_ids(
            train, test, "text", "doc_id", n=5, bloom_fpp=None).collect()}
        assert plain  # the planted overlaps are real
        for fpp in (0.5, 0.01):
            with_bloom = {r["doc_id"] for r in contaminated_ids(
                train, test, "text", "doc_id", n=5, bloom_fpp=fpp).collect()}
            assert with_bloom == plain
        # and with the df cap in the same pipeline (the gated q42 shape)
        plain_cap = {r["doc_id"] for r in contaminated_ids(
            train, test, "text", "doc_id", n=5, max_shingle_df=3,
            bloom_fpp=None).collect()}
        bloom_cap = {r["doc_id"] for r in contaminated_ids(
            train, test, "text", "doc_id", n=5, max_shingle_df=3,
            bloom_fpp=0.01).collect()}
        assert bloom_cap == plain_cap

    def test_bloom_semi_filter_drops_non_members(self, spark):
        """The prefilter actually filters: with fpp tight and disjoint
        key sets, (almost) nothing survives to the join input."""
        from associationabacminer_spark.operators.sql_sketch import (
            bloom_semi_filter,
        )

        big = spark.range(0, 2000).select(F.col("id").alias("k"))
        keys = spark.createDataFrame(
            [(10_000 + i,) for i in range(50)], "k: long"
        )
        kept = bloom_semi_filter(big, "k", keys, "k", fpp=0.001).count()
        assert kept <= 10  # ~2000 * 0.001 expected false positives
        # members always survive
        hits = bloom_semi_filter(big, "k", big.limit(100), "k", fpp=0.001)
        assert hits.count() >= 100


class TestMgByGroup:
    def test_single_salt_matches_global_kernel(self, spark):
        """salt_buckets=1: each group's top-k comes from ONE kernel build
        over its exact histogram — the same (key, count, err, rank) rows
        as mg_from_sql's kernel over the group's rows."""
        import collections

        from associationabacminer_spark.operators.sql_sketch import (
            mg_from_sql,
            mg_topk_by_group,
        )
        from associationabacminer_spark.sketch.xxhash import xxh64_keys

        df = spark.createDataFrame(
            [(g, "k%d" % (i % (3 + g)))
             for g in range(3) for i in range(50 + 10 * g)],
            "grp: int, key: string",
        )
        got = collections.defaultdict(set)
        for r in mg_topk_by_group(
            df, ["grp"], "key", k=8, capacity=8, salt_buckets=1
        ).collect():
            got[r["grp"]].add((r["key"], r["count_lb"], r["err"], r["rank"]))
        for g in range(3):
            direct = mg_from_sql(df.filter(F.col("grp") == g), "key", k=8)
            values = ["k%d" % i for i in range(3 + g)]
            value_of = dict(zip(xxh64_keys(values).astype(np.int64).tolist(), values))
            order = np.lexsort((direct.keys, -direct.counts))
            want = {
                (value_of[h], c, direct.err, rank)
                for rank, (h, c) in enumerate(
                    zip(direct.keys[order].astype(np.int64).tolist(),
                        direct.counts[order].tolist()), 1)
            }
            assert got[g] == want, g

    def test_salted_topk_guarantees(self, spark):
        """Salted build on skewed data: every true heavy hitter is
        present, each reported count is a lower bound within err of the
        truth, and the top-1 per group is correct."""
        import collections

        from associationabacminer_spark.operators.sql_sketch import (
            mg_topk_by_group,
        )

        rng = np.random.default_rng(7)
        rows, truth = [], collections.defaultdict(collections.Counter)
        for g in ("a", "b"):
            # zipf-ish: key0 dominates, long tail of singletons
            for i in range(400):
                k = "hot" if i % 2 == 0 else "k%d" % rng.integers(0, 150)
                rows.append((g, k))
                truth[g][k] += 1
        df = spark.createDataFrame(rows, "grp: string, key: string")
        out = mg_topk_by_group(
            df, ["grp"], "key", k=5, capacity=16, salt_buckets=4
        ).collect()
        by_grp = collections.defaultdict(list)
        for r in out:
            by_grp[r["grp"]].append(r)
        for g in ("a", "b"):
            top = by_grp[g]
            assert top[0]["key"] == "hot"  # rank 1 = true heavy hitter
            for r in top:
                f = truth[g][r["key"]]
                assert r["count_lb"] <= f <= r["count_lb"] + r["err"], r

    def test_build_is_sql_reduced(self, spark):
        """Plan shape: the JVM hash aggregate (groups, key-hash count)
        sits BELOW every MapInPandas fold and no per-group pandas frame
        is built — Python sees distinct (group, key) pairs, never raw
        rows."""
        from associationabacminer_spark.operators.sql_sketch import (
            mg_topk_by_group,
        )

        df = spark.createDataFrame(
            [(1, "x")], "grp: int, key: string"
        )
        plan = mg_topk_by_group(df, ["grp"], "key")._jdf.queryExecution(
        ).executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan
        last_py = plan.rindex("MapInPandas")
        assert "HashAggregate" in plan[last_py:]  # the count runs below
        assert "xxhash64" in plan


class TestDiversitySample:
    def test_quota_and_determinism(self, spark):
        from associationabacminer_spark.operators import semdedup as SD

        rng = np.random.default_rng(2)
        # 3 well-separated DIRECTIONS of different density (the quantizer
        # normalizes vectors, so blobs must differ in angle, not radius)
        dirs = np.zeros((3, 8))
        dirs[0, 0] = 5.0
        dirs[1, 1] = 5.0
        dirs[2, 2] = -5.0
        blobs = [dirs[j] + rng.normal(scale=0.05, size=(n, 8))
                 for j, n in ((0, 60), (1, 25), (2, 8))]
        X = np.vstack(blobs)
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(len(X))]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        kept = SD.diversity_sample(df, "vec_id", "embedding", 10, n_clusters=3)
        ids = sorted(r["vec_id"] for r in kept.collect())
        # contract: per-cluster min(size, quota), so kept count equals the
        # independently-computed expectation and every cluster stays capped
        clustered = SD.cluster_assign(df, "embedding", n_clusters=3)
        sizes = [
            r["n"]
            for r in clustered.groupBy("cluster")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        assert len(ids) == sum(min(s, 10) for s in sizes)
        assert len(ids) < 93  # downsampling actually happened
        per_cluster = (
            clustered.join(
                spark.createDataFrame([(i,) for i in ids], "vec_id: long"),
                "vec_id",
                "left_semi",
            )
            .groupBy("cluster")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        assert all(r["n"] <= 10 for r in per_cluster)
        assert len(per_cluster) == len(sizes)  # every cluster represented
        again = SD.diversity_sample(df, "vec_id", "embedding", 10, n_clusters=3)
        assert ids == sorted(r["vec_id"] for r in again.collect())

    def test_quota_pre_buckets_equivalent(self, spark):
        """Two-phase (hot-group) quota must return the identical row set
        as the single-window form."""
        from associationabacminer_spark.operators.sampling import quota_sample

        rows = [(i, f"g{i % 2}") for i in range(400)]
        df = spark.createDataFrame(rows, "id: long, grp: string")
        plain = sorted(map(tuple, quota_sample(df, "grp", "id", 7).collect()))
        pre = sorted(
            map(tuple, quota_sample(df, "grp", "id", 7, pre_buckets=8).collect())
        )
        assert plain == pre


class TestPacking:
    def test_pack_assignment_hand_computed(self, spark):
        from associationabacminer_spark.operators.packing import pack_sequences

        # one shard (n_buckets=1), budget 10; token counts 4,4,4,7,3
        docs = [
            (1, "a b c d"),
            (2, "e f g h"),
            (3, "i j k l"),
            (4, "m n o p q r s"),
            (5, "t u v"),
        ]
        df = spark.createDataFrame(docs, "doc_id: long, text: string")
        got = {
            r["doc_id"]: (r["pack_id"], r["offset"], r["n_tokens"])
            for r in pack_sequences(df, "doc_id", "text", budget=10,
                                    n_buckets=1).collect()
        }
        # prev sums: 0,4,8,12,19 -> packs 0,0,0,1,1; offsets 0,4,8,2,9
        assert got == {
            1: (0, 0, 4), 2: (0, 4, 4), 3: (0, 8, 4), 4: (1, 2, 7), 5: (1, 9, 3)
        }
        stats = {
            r["pack_id"]: (r["n_docs"], r["used_tokens"])
            for r in pack_sequences(df, "doc_id", "text", budget=10, n_buckets=1)
            .groupBy("pack_id")
            .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("used_tokens"))
            .collect()
        }
        assert stats == {0: (3, 12), 1: (2, 10)}

    def test_sharding_is_deterministic_and_bounded(self, spark):
        from associationabacminer_spark.operators.packing import pack_sequences

        rows = [(i, "w " * (i % 9 + 1)) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        a = sorted(map(tuple, pack_sequences(df, "doc_id", "text", 32, 8).collect()))
        b = sorted(map(tuple, pack_sequences(df, "doc_id", "text", 32, 8).collect()))
        assert a == b
        shards = {pid // 1_000_000_000 for (_, _, pid, _) in a}
        assert shards == set(range(8))


class TestRepetitionRatio:
    def test_values(self, spark):
        from associationabacminer_spark.functions.text import repetition_ratio

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a a a a"), (3, "a b a b"), (4, "")],
            "id: long, text: string",
        )
        got = {
            r["id"]: r["v"]
            for r in df.select(
                "id", F.round(repetition_ratio("text"), 6).alias("v")
            ).collect()
        }
        assert got == {1: 0.0, 2: 0.75, 3: 0.5, 4: 0.0}


class TestMultiProbeLsh:
    def test_multiprobe_recall_dominates_single(self, spark):
        rng = np.random.default_rng(13)
        base = rng.standard_normal((80, 16))
        rows = [(i, [float(x) for x in base[i % 16] + 0.05 * base[i]])
                for i in range(80)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qs = emb.filter(F.col("vec_id") < 10)
        bf = {(r["query_id"], r["neighbor_id"])
              for r in similarity.brute_force_topk(emb, qs, k=3).collect()}

        def recall(nprobe):
            got = {(r["query_id"], r["neighbor_id"])
                   for r in similarity.ann_lsh_topk(
                       emb, qs, k=3, planes=5, nprobe=nprobe).collect()}
            return len(got & bf) / len(bf)

        r1, r4 = recall(1), recall(4)
        assert r4 >= r1
        assert r4 >= 0.6

    def test_probe_list_shape_and_dedup(self, spark):
        """nprobe buckets per query, all distinct, base bucket included;
        no duplicate (query, neighbor) pairs leak into the ranking."""
        import numpy as np

        from associationabacminer_spark.operators.similarity import (
            hyperplanes,
            probe_buckets_expr,
        )

        rng = np.random.default_rng(3)
        rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        hp = hyperplanes(8, 5, 42)
        got = df.select(
            probe_buckets_expr("embedding", hp, 4).alias("bs")
        ).collect()
        for r in got:
            bs = r["bs"]
            assert len(bs) == 4
            assert len(set(bs)) == 4  # flips are distinct planes -> distinct buckets
            assert all(0 <= b < 32 for b in bs)
        out = similarity.ann_lsh_topk(df, df.limit(5), k=3, planes=5, nprobe=8)
        rows_out = out.collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows_out]
        assert len(pairs) == len(set(pairs))


class TestReviewRegressions:
    """Regressions for the round-2 self-review findings."""

    def test_tdigest_fractional_weights_roundtrip(self):
        from associationabacminer_spark.sketch import TDigest

        t = TDigest(delta=100).update_batch(
            np.array([1.0, 2.0, 3.0]), weights=np.array([0.5, 0.7, 0.3])
        )
        rt = TDigest.deserialize(t.serialize())
        assert abs(rt.n - 1.5) < 1e-12
        assert rt.quantile(0.5) == t.quantile(0.5)

    def test_simhash_pairs_max_hamming_zero(self, spark, docs):
        """k=0 (exact simhash match) must work — the single 64-bit block
        needs no mask."""
        sim = dedup.simhash64(docs, "text", "doc_id")
        pairs = {(r["id_a"], r["id_b"])
                 for r in dedup.simhash_near_pairs(sim, max_hamming=0).collect()}
        assert (2, 3) in pairs  # identical docs
        assert all(a < b for a, b in pairs)

    def test_hash_split_frac_edges(self, spark):
        from associationabacminer_spark.operators.sampling import hash_split

        df = spark.createDataFrame([(i,) for i in range(64)], "id: long")
        all_test = hash_split(df, "id", test_frac=1.0)
        assert all_test.filter(F.col("split") == "test").count() == 64
        none_test = hash_split(df, "id", test_frac=0.0)
        assert none_test.filter(F.col("split") == "test").count() == 0

    def test_total_cover_bounds_distinct_combos_not_rows(self, spark):
        """limit must apply AFTER distinct: many duplicate rows above the
        limit must not bypass the tail guard or lose combos."""
        from associationabacminer_spark.operators.rulemine import mine_rules

        rows = [(f"t{i % 6}", f"b{(i // 6) % 3}") for i in range(600)]
        df = spark.createDataFrame(rows, "event_type: string, bucket: string")
        # min_support=0.9 strands everything in the tail: 6x3=18 combos
        # over 600 rows; with a row-based limit of 20 the guard would
        # sample 20 rows (~<18 combos) and silently under-cover
        policy = mine_rules(
            df, ["event_type", "bucket"], min_support=0.9,
            total_cover=True, tail_rule_limit=20,
        )
        combos = {
            (r.constraints["event_type"], r.constraints["bucket"])
            for r in policy.rules
        }
        assert len(combos) == 18

    def test_winnow_print_df_cap(self, spark):
        boiler = "exactsameboilerplatecontenteverywhere" * 2
        docs2 = spark.createDataFrame(
            [(i, boiler) for i in range(12)]
            + [(100, "totally unique snowflake content right here okay"),
               (101, "totally unique snowflake content right here okay")],
            "doc_id: long, text: string",
        )
        fp = dedup.winnow_fingerprints(docs2, "text", "doc_id", k=8, window=4)
        capped = dedup.winnow_overlap_pairs(fp, 0.5, max_print_df=5)
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert (100, 101) in got  # rare pair survives
        assert not any(a < 12 and b < 12 for a, b in got)  # boiler capped out


    def test_salt_cols_spread_hot_value(self, spark):
        """A single hot key value occupies ONE salt by default (content
        hash) but spreads across salts with salt_cols."""
        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import salt_expr
        from associationabacminer_spark.sketch import HyperLogLog

        rows = [(7, i) for i in range(1000)]  # one hot user, distinct event ids
        df = spark.createDataFrame(rows, "user_id: long, event_id: long")
        specs = [SketchSpec("h", HyperLogLog, "user_id", kernel_cls=HyperLogLog)]
        default = df.select(salt_expr(specs, 8).alias("s")).distinct().count()
        spread = (
            df.select(salt_expr(specs, 8, ["event_id"]).alias("s"))
            .distinct()
            .count()
        )
        assert default == 1
        assert spread == 8


class TestRocAucParity:
    def test_q92_sql_equals_trapezoid(self, spark):
        """The distributed window-function AUC (q92) must equal the
        reference-parity driver-side trapezoid (auc_from_points, M5,
        /root/reference/src/job/AUCPrinter.py:22-37) on the same ROC
        points."""
        import duckdb

        from associationabacminer_spark.operators.rulemine import auc_from_points
        from associationabacminer_spark.queries import QUERIES

        sf_dir = "/root/testdata/sf0.001"
        got = QUERIES["q44_roc_auc"](spark, sf_dir).collect()[0]["auc"]

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
        )
        pts = con.execute(
            """
            WITH pts AS (
              SELECT ROUND(o_totalprice, 0) AS score,
                     CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
              FROM orders
            ), agg AS (
              SELECT score, SUM(y) AS tp_at, COUNT(*) - SUM(y) AS fp_at
              FROM pts GROUP BY score
            ), tot AS (
              SELECT SUM(y) AS p, COUNT(*) - SUM(y) AS n FROM pts
            ), cum AS (
              SELECT score,
                     SUM(tp_at) OVER (ORDER BY score DESC) AS tp,
                     SUM(fp_at) OVER (ORDER BY score DESC) AS fp
              FROM agg
            )
            SELECT CAST(fp AS DOUBLE) / n AS fpr,
                   CAST(tp AS DOUBLE) / p AS tpr
            FROM cum, tot ORDER BY score DESC
            """
        ).fetchall()
        con.close()
        fpr = [0.0] + [r[0] for r in pts]
        tpr = [0.0] + [r[1] for r in pts]
        assert abs(got - auc_from_points(fpr, tpr)) <= 1e-6


class TestPiiAndShuffleShard:
    def test_redact_pii_fixtures(self, spark):
        from associationabacminer_spark.functions.text import redact_pii

        df = spark.createDataFrame(
            [
                ("mail bob.smith+x@sub.example.co.uk now", "mail <EMAIL> now"),
                ("from 192.168.1.254 port", "from <IP> port"),
                ("a@b.io and 10.0.0.1 both", "<EMAIL> and <IP> both"),
                ("no pii here", "no pii here"),
            ],
            "text string, expect string",
        )
        out = df.select(redact_pii("text").alias("got"), "expect").collect()
        for r in out:
            assert r["got"] == r["expect"]

    def test_shuffle_shard_reproducible_and_balanced(self, spark):
        from associationabacminer_spark.operators.sampling import shuffle_shard

        df = spark.createDataFrame([(i,) for i in range(4096)], "id: long")
        a = sorted(map(tuple, shuffle_shard(df, "id").collect()))
        b = sorted(map(tuple, shuffle_shard(df, "id").collect()))
        assert a == b  # byte-identical rerun
        c = sorted(map(tuple, shuffle_shard(df, "id", seed="other").collect()))
        assert a != c  # seed changes the permutation
        by_shard = {}
        for _, shard, pos in a:
            by_shard.setdefault(shard, []).append(pos)
        assert len(by_shard) == 16
        # positions are a contiguous 1..n ranking within every shard
        for poss in by_shard.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
            # no shard hogs the corpus (uniform md5 nibble)
            assert len(poss) < 2 * 4096 / 16

    def test_shuffle_shard_general_width(self, spark):
        from associationabacminer_spark.operators.sampling import shuffle_shard

        df = spark.createDataFrame([(i,) for i in range(1000)], "id: long")
        out = shuffle_shard(df, "id", n_shards=7).collect()
        shards = {r["shard"] for r in out}
        assert shards == {str(i) for i in range(7)}


class TestAdviceRegressions:
    """Round-3 ADVICE fixes (components convergence, winnow denominator,
    packing shard derivation)."""

    def test_components_raises_when_rounds_exhausted(self, spark):
        from associationabacminer_spark.operators.components import (
            connected_components,
        )

        df = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_rounds=0)

    def test_winnow_overlap_denominator_post_exclusion(self, spark):
        """With a DF cap, the overlap coefficient must be computed over
        the post-exclusion print sets: two docs whose only non-boilerplate
        prints coincide score 1.0, not 2/num_total_prints."""
        rows = [(i, [999]) for i in range(12)]  # 999 is boilerplate (df=14)
        rows += [(100, [999, 1, 2]), (101, [999, 1, 2])]
        fp = spark.createDataFrame(rows, "doc_id: long, prints: array<long>")
        out = {
            (r["id_a"], r["id_b"]): r["overlap"]
            for r in dedup.winnow_overlap_pairs(fp, 0.9, max_print_df=5).collect()
        }
        assert out.get((100, 101)) == 1.0

    def test_packing_default_shard_handles_string_and_negative_ids(self, spark):
        from associationabacminer_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [("a", "one two three"), ("b", "four five"), ("c", "six")],
            "doc_id: string, text: string",
        )
        out = pack_sequences(df, "doc_id", "text", budget=4, n_buckets=8).collect()
        assert len(out) == 3 and all(r["pack_id"] >= 0 for r in out)

        neg = spark.createDataFrame(
            [(-5, "one two"), (-6, "three four"), (7, "five")],
            "doc_id: long, text: string",
        )
        outn = pack_sequences(neg, "doc_id", "text", budget=4, n_buckets=8).collect()
        assert all(r["pack_id"] >= 0 and r["offset"] >= 0 for r in outn)


class TestDeterminismAndGuards:
    """Round-3 VERDICT items: centroid-sample reproducibility and the
    SemDeDup hot-cluster guard."""

    @staticmethod
    def _emb_df(spark, n=40, d=8, seed=3):
        rng = np.random.default_rng(seed)
        X = rng.normal(size=(n, d))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")

    def test_centroids_invariant_to_repartitioning(self, spark):
        from associationabacminer_spark.operators.similarity import (
            train_ivf_centroids,
        )

        df = self._emb_df(spark)
        c7 = train_ivf_centroids(df.repartition(7), "embedding", 4, sample_rows=30)
        c3 = train_ivf_centroids(df.repartition(3), "embedding", 4, sample_rows=30)
        assert np.array_equal(c7, c3)

    def test_ivf_and_semdedup_invariant_to_repartitioning(self, spark):
        from associationabacminer_spark.operators.similarity import ivf_topk

        df = self._emb_df(spark, n=60)
        q = df.filter(F.col("vec_id") < 5)
        a = sorted(
            map(tuple, ivf_topk(df.repartition(7), q, k=3, n_centroids=4).collect())
        )
        b = sorted(
            map(tuple, ivf_topk(df.repartition(3), q, k=3, n_centroids=4).collect())
        )
        assert a == b
        sa = semdedup_survivors(df.repartition(7), 0.9, n_clusters=4)
        sb = semdedup_survivors(df.repartition(3), 0.9, n_clusters=4)
        assert sa == sb

    def test_semdedup_hot_cluster_guard(self, spark):
        """80% of rows share one identical embedding: the collapsed pair
        path must stay linear in the identical group (star edges) and
        keep the same survivors as the uncollapsed all-pairs path."""
        from associationabacminer_spark.operators import semdedup as SD

        rng = np.random.default_rng(11)
        hot = rng.normal(size=8)
        hot /= np.linalg.norm(hot)
        rows = [(int(i), [float(v) for v in hot]) for i in range(80)]
        X = rng.normal(size=(20, 8))
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        rows += [(100 + int(i), [float(v) for v in X[i]]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
        clustered = SD.cluster_assign(df, "embedding", n_clusters=4)

        collapsed = SD.semdedup_pairs(clustered, "vec_id", "embedding", 0.95)
        full = SD.semdedup_pairs(
            clustered, "vec_id", "embedding", 0.95, collapse_identical=False
        )
        n_collapsed, n_full = collapsed.count(), full.count()
        # all-pairs on the 80-identical cluster is 3160 pairs; the star
        # is 79 edges + pairs among distinct vectors only
        assert n_full >= 80 * 79 / 2
        assert n_collapsed < n_full / 5
        # identical survivors either way
        ka = sorted(semdedup_survivors(df, 0.95, n_clusters=4))
        comp_pairs = full.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        from associationabacminer_spark.operators.components import (
            assign_components,
        )

        comp = assign_components(df, comp_pairs, "vec_id")
        kb = sorted(
            r["vec_id"]
            for r in comp.filter(F.col("vec_id") == F.col("component")).collect()
        )
        assert ka == kb


class TestWindowedSaltDefault:
    def test_hot_value_spreads_without_explicit_salt_cols(self, spark):
        """Round-3 VERDICT item 5: the safe salt is now the default — a
        single hot sketched value must spread across salts with NO
        salt_cols argument (ts varies per row)."""
        import datetime as dt

        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            windowed_sketch_partials,
        )
        from associationabacminer_spark.sketch import HyperLogLog

        base = dt.datetime(2024, 1, 1)
        rows = [(7, base + dt.timedelta(seconds=i)) for i in range(2000)]
        df = spark.createDataFrame(rows, "user_id: long, ts: timestamp")
        specs = [SketchSpec("h", HyperLogLog, "user_id", kernel_cls=HyperLogLog)]
        partials = windowed_sketch_partials(
            df, specs, "ts", "1 day", "1 day", salts=8
        )
        assert partials.select("salt").distinct().count() == 8


class TestTopkPlanShape:
    def test_topk_is_take_ordered_not_global_window(self, spark):
        """q12's global top-k must compile to TakeOrderedAndProject, not
        a single-partition WindowExec."""
        import associationabacminer_spark.queries as Q

        plan = Q.QUERIES["q12_topk_parts"](
            spark, "/root/testdata/sf0.001"
        )._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan

    def test_topk_keep_ties_keeps_kth_count_ties(self, spark):
        from associationabacminer_spark.operators.topk import topk_by_count

        df = spark.createDataFrame(
            [("a", 5), ("b", 3), ("c", 3), ("d", 1)], "key: string, cnt: long"
        )
        got = sorted(
            r["key"] for r in topk_by_count(df, ["key"], 2, "cnt", True).collect()
        )
        assert got == ["a", "b", "c"]  # both 3-count rows survive


class TestFisherScore:
    def test_matches_dense_numpy(self, spark):
        from associationabacminer_spark.operators.featsel import fisher_score

        rng = np.random.default_rng(9)
        n, d = 300, 6
        labels = rng.integers(0, 3, size=n)
        X = rng.normal(size=(n, d))
        X[:, 2] += labels * 2.0  # dim 2 separates classes strongly
        rows = [
            (int(i), [float(v) for v in X[i]], int(labels[i])) for i in range(n)
        ]
        df = spark.createDataFrame(
            rows, "vec_id: long, embedding: array<double>, label: int"
        )
        got = {
            r["dim"]: r["fisher"]
            for r in fisher_score(df, "vec_id", "embedding", "label").collect()
        }
        # dense truth
        mu = X.mean(axis=0)
        want = {}
        for j in range(d):
            between = within = 0.0
            for c in range(3):
                xc = X[labels == c, j]
                between += len(xc) * (xc.mean() - mu[j]) ** 2
                within += len(xc) * xc.var()
            want[j] = between / within
        for j in range(d):
            assert got[j] == pytest.approx(want[j], abs=1e-5), j
        assert max(got, key=got.get) == 2  # the planted dimension wins


class TestWeightedSample:
    def test_deterministic_and_weight_proportional(self, spark):
        from associationabacminer_spark.operators.sampling import weighted_sample

        rows = [(i, 100 if i < 50 else 1) for i in range(1050)]
        df = spark.createDataFrame(rows, "id: long, w: long")
        a = sorted(r["id"] for r in weighted_sample(df, "id", "w", 200).collect())
        b = sorted(
            r["id"]
            for r in weighted_sample(df.repartition(7), "id", "w", 200).collect()
        )
        assert a == b and len(a) == 200
        # the 50 heavy rows (weight 100 vs 1) should nearly all be drawn
        heavy = sum(1 for i in a if i < 50)
        assert heavy >= 45

    def test_zero_weight_excluded_and_plan_is_take_ordered(self, spark):
        from associationabacminer_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(1, 0), (2, 5), (3, 5)], "id: long, w: long"
        )
        out = weighted_sample(df, "id", "w", 10)
        assert sorted(r["id"] for r in out.collect()) == [2, 3]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan


class TestDuplicatedSpans:
    """Substring-level duplicate-span detection + scrub (Lee et al. 2021
    exact-substring dedup building block)."""

    K = 4

    @pytest.fixture(scope="class")
    def span_docs(self, spark):
        passage = " ".join(f"p{i}" for i in range(12))
        rows = [
            # planted 12-token passage at offset 5 (A) and 3 (B)
            (0, " ".join(f"a{i}" for i in range(5)) + " " + passage + " "
                + " ".join(f"a{i}" for i in range(5, 9))),
            (1, " ".join(f"b{i}" for i in range(3)) + " " + passage + " "
                + " ".join(f"b{i}" for i in range(3, 9))),
            # all-unique doc, punctuation + caps to check verbatim passthrough
            (2, "Unique, UNTOUCHED text; stays Verbatim!"),
            # self-repetition: r-block at offsets 2 and 7 (gap 5 > k -> two spans)
            (3, "c0 c1 r0 r1 r2 r3 c2 r0 r1 r2 r3 c3"),
            # adjacent repeat: s-block twice back-to-back (gap == k -> one span)
            (4, "d0 d1 s0 s1 s2 s3 s0 s1 s2 s3 d2 d3"),
            # shorter than k tokens
            (5, "tiny doc"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.fixture(scope="class")
    def spans(self, span_docs):
        out = dedup.duplicated_spans(span_docs, "text", "doc_id", k=self.K)
        return {
            (r["doc_id"], r["span_start"]): (r["span_end"], r["n_windows"])
            for r in out.collect()
        }

    def test_planted_passage_recovered_at_both_offsets(self, spans):
        # 12-token passage, k=4: 9 duplicated windows, merged to one span
        assert spans[(0, 5)] == (17, 9)
        assert spans[(1, 3)] == (15, 9)

    def test_unique_and_short_docs_have_no_spans(self, spans):
        assert not any(d in (2, 5) for d, _ in spans)

    def test_self_repetition_counts_and_gap_splits(self, spans):
        # same-doc repeat is duplication; gap 5 > k keeps two spans
        assert spans[(3, 2)] == (6, 1)
        assert spans[(3, 7)] == (11, 1)

    def test_adjacent_windows_merge_to_one_maximal_span(self, spans):
        assert spans[(4, 2)] == (10, 2)
        assert (4, 6) not in spans

    def test_boundary_windows_not_flagged(self, spans):
        # windows straddling the passage boundary differ between docs —
        # only windows fully inside the planted passage may be flagged
        assert all(s >= 5 for d, s in spans if d == 0)
        assert all(e <= 17 for (d, _), (e, _) in spans.items() if d == 0)

    def test_no_python_udf_in_plan(self, span_docs):
        out = dedup.duplicated_spans(span_docs, "text", "doc_id", k=self.K)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestTokenBudgetMix:
    """Deterministic per-source token-budget mixture sampling."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        import random

        rng = random.Random(7)
        rows = []
        for i in range(3000):
            src = "web" if i % 10 < 7 else ("code" if i % 10 < 9 else "books")
            rows.append((i, src, rng.randint(5, 400)))
        return spark.createDataFrame(rows, "doc_id long, source string, n_tok long")

    def test_prebucket_path_identical_to_single_phase(self, corpus):
        from associationabacminer_spark.operators.sampling import token_budget_mix

        w = {"web": 0.6, "code": 0.3, "books": 0.1}
        a = sorted(
            r["doc_id"]
            for r in token_budget_mix(
                corpus, "source", "doc_id", "n_tok", 100_000, weights=w
            ).collect()
        )
        b = sorted(
            r["doc_id"]
            for r in token_budget_mix(
                corpus.repartition(13), "source", "doc_id", "n_tok",
                100_000, weights=w, pre_buckets=8,
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_budget_respected_and_maximal(self, corpus):
        import hashlib

        from associationabacminer_spark.operators.sampling import token_budget_mix

        w = {"web": 2.0, "code": 1.0, "books": 1.0}
        budget = 60_000
        out = token_budget_mix(
            corpus, "source", "doc_id", "n_tok", budget, weights=w
        ).collect()
        total_w = sum(w.values())
        allocs = {s: int(budget * wt / total_w) for s, wt in w.items()}
        rows = [(r["source"], r["doc_id"], r["n_tok"]) for r in corpus.collect()]
        kept = {(r["source"], r["doc_id"]) for r in out}
        for src in w:
            used = sum(r["n_tok"] for r in out if r["source"] == src)
            assert used <= allocs[src]
            # maximality + prefix semantics vs a local reference walk
            ordered = sorted(
                (r for r in rows if r[0] == src),
                key=lambda r: hashlib.md5(str(r[1]).encode()).hexdigest(),
            )
            ref, cum = set(), 0
            for _, did, nt in ordered:
                if cum + nt > allocs[src]:
                    break
                cum += nt
                ref.add((src, did))
            assert {k for k in kept if k[0] == src} == ref

    def test_unweighted_sources_dropped_and_equal_default(self, corpus):
        from associationabacminer_spark.operators.sampling import token_budget_mix

        out = token_budget_mix(
            corpus, "source", "doc_id", "n_tok", 30_000, weights={"code": 1.0}
        )
        assert out.filter(out.source != "code").count() == 0
        # weights=None -> equal shares over observed sources
        eq = token_budget_mix(corpus, "source", "doc_id", "n_tok", 30_000)
        per = {
            r["source"]: r["t"]
            for r in eq.groupBy("source").agg(F.sum("n_tok").alias("t")).collect()
        }
        assert set(per) == {"web", "code", "books"}
        assert all(v <= 10_000 for v in per.values())


class TestBigramLmScores:
    """CCNet-style add-k bigram cross-entropy screen."""

    @pytest.fixture(scope="class")
    def lm_docs(self, spark):
        rows = [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the hat"),
            (2, "zx qv zx qv zx"),
            (3, "one"),          # < 2 tokens -> no row
            (4, "the the the the"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @staticmethod
    def _ref_scores(texts, model_texts, add_k=0.5):
        import math
        from collections import Counter

        def pairs(t):
            toks = t.strip().lower().split()
            return list(zip(toks, toks[1:]))

        cb, cu, vocab = Counter(), Counter(), set()
        for t in model_texts:
            for p, w in pairs(t):
                cb[(p, w)] += 1
                cu[p] += 1
                vocab.update((p, w))
        v = len(vocab)
        out = {}
        for i, t in texts:
            ps = pairs(t)
            if not ps:
                continue
            nll = [
                -math.log((cb[(p, w)] + add_k) / (cu[p] + add_k * v))
                for p, w in ps
            ]
            out[i] = (len(ps), round(sum(nll) / len(nll), 6))
        return out

    def test_matches_local_reference_self_model(self, spark, lm_docs):
        from associationabacminer_spark.operators.lm import bigram_lm_scores

        rows = [(r["doc_id"], r["text"]) for r in lm_docs.collect()]
        ref = self._ref_scores(rows, [t for _, t in rows])
        got = {
            r["doc_id"]: (r["n_bigrams"], r["xent"])
            for r in bigram_lm_scores(lm_docs, "text", "doc_id").collect()
        }
        assert set(got) == set(ref) and 3 not in got
        for k in ref:
            assert got[k][0] == ref[k][0]
            assert abs(got[k][1] - ref[k][1]) <= 1e-6

    def test_empty_model_raises(self, spark):
        from associationabacminer_spark.operators.lm import bigram_lm_scores

        df = spark.createDataFrame([(0, "only"), (1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="no bigrams"):
            bigram_lm_scores(df, "text", "doc_id")

    def test_no_python_udf_and_no_cartesian(self, lm_docs):
        from associationabacminer_spark.operators.lm import bigram_lm_scores

        out = bigram_lm_scores(lm_docs, "text", "doc_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestGopherRepetition:
    """Within-doc duplicate n-gram fractions (Gopher repetition rules)."""

    def test_known_fractions_and_edges(self, spark):
        from associationabacminer_spark.operators.lm import gopher_repetition

        rows = [
            (0, "a b a b a b"),       # 2g: 5 tot/2 dist; 3g: 4/2; 4g: 3/2
            (1, "u v w x y z"),       # all unique
            (2, "one"),               # shorter than every n
            (3, "p q"),               # exactly 2 tokens -> one 2-gram
            (4, ""),                  # empty text
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r.asDict()
            for r in gopher_repetition(df, "text", "doc_id").collect()
        }
        assert out[0]["dup_2gram_frac"] == round(1 - 2 / 5, 6)
        assert out[0]["dup_3gram_frac"] == round(1 - 2 / 4, 6)
        assert out[0]["dup_4gram_frac"] == round(1 - 2 / 3, 6)
        assert all(out[1][f"dup_{n}gram_frac"] == 0.0 for n in (2, 3, 4))
        assert all(out[2][f"dup_{n}gram_frac"] == 0.0 for n in (2, 3, 4))
        assert out[3]["dup_2gram_frac"] == 0.0
        assert out[4]["dup_2gram_frac"] == 0.0
        assert out[0]["n_tokens"] == 6

    def test_alternating_doc_beats_token_repetition_signal(self, spark):
        from associationabacminer_spark.operators.lm import gopher_repetition

        df = spark.createDataFrame(
            [(0, "the cat sat here " * 30)], "doc_id long, text string"
        )
        out = gopher_repetition(df, "text", "doc_id").first()
        assert out["dup_4gram_frac"] > 0.95

    def test_zero_shuffle_plan(self, spark):
        from associationabacminer_spark.operators.lm import gopher_repetition

        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        plan = (
            gopher_repetition(df, "text", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestNewOperatorEdges:
    """Round-5 self-review regressions for the new curation operators."""

    def test_mix_exact_boundary_keeps_zero_token_head(self, spark):
        # a bucket whose carry EQUALS the allocation must still keep
        # zero-token rows the single-phase cut keeps (boundary uses <=)
        import hashlib

        from associationabacminer_spark.operators.sampling import token_budget_mix

        ids = list(range(21))
        order = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
        zero_ids = set(order[:3])  # md5-first rows are the zero-token ones
        rows = [(i, "s", 0 if i in zero_ids else 5) for i in ids]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
        single = sorted(
            r["doc_id"]
            for r in token_budget_mix(
                df, "source", "doc_id", "n_tok", 0, weights={"s": 1.0}
            ).collect()
        )
        two = sorted(
            r["doc_id"]
            for r in token_budget_mix(
                df, "source", "doc_id", "n_tok", 0, weights={"s": 1.0},
                pre_buckets=1,
            ).collect()
        )
        assert single == sorted(zero_ids)
        assert two == single


class TestSpanFuzzParity:
    """Randomized duplicated_spans parity vs a brute-force local
    reference — tiny alphabet forces dense duplication and exercises
    every island-merge boundary (overlap, exact adjacency, gaps)."""

    def test_random_corpus_matches_reference(self, spark):
        import random

        K = 3
        rng = random.Random(1234)
        docs = [
            (i, " ".join(rng.choice("abcd") for _ in range(rng.randint(1, 30))))
            for i in range(120)
        ]

        # reference: window fingerprints by actual text, corpus counts,
        # per-doc sorted merge with gap > K splitting
        from collections import Counter

        wins = {}
        counts = Counter()
        for i, t in docs:
            toks = t.strip().lower().split()
            ws = [
                (s, " ".join(toks[s : s + K]))
                for s in range(len(toks) - K + 1)
            ]
            wins[i] = ws
            counts.update(w for _, w in ws)
        want = set()
        for i, _ in docs:
            starts = [s for s, w in wins[i] if counts[w] >= 2]
            run = []
            for s in sorted(starts):
                if run and s - run[-1] > K:
                    want.add((i, run[0], run[-1] + K, len(run)))
                    run = []
                run.append(s)
            if run:
                want.add((i, run[0], run[-1] + K, len(run)))

        from associationabacminer_spark.operators import dedup

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
            for r in dedup.duplicated_spans(df, "text", "doc_id", k=K).collect()
        }
        assert got == want and len(want) > 50


class TestParagraphScrub:
    """Corpus-wide duplicate-paragraph scrub (CCNet/RefinedWeb
    boilerplate removal): drop-all and keep-one policies."""

    @pytest.fixture(scope="class")
    def pdocs(self, spark):
        rows = [
            ("a", "boiler\nunique a1\nunique a2"),
            ("b", "boiler\nunique b1"),
            ("c", "unique c1\nboiler\nboiler"),  # dup within one doc too
            ("d", ""),  # no paragraphs at all
            ("e", "solo"),
            ("f", "  \n x \n"),  # separator-edge empties are not paragraphs
        ]
        return spark.createDataFrame(rows, "doc_id string, text string")

    def test_drop_all(self, pdocs):
        from associationabacminer_spark.operators.dedup import (
            scrub_common_paragraphs,
        )

        got = {
            r["doc_id"]: (r["text"], r["n_paras"], r["n_scrubbed"])
            for r in scrub_common_paragraphs(pdocs, "text", "doc_id").collect()
        }
        assert got == {
            "a": ("unique a1\nunique a2", 3, 1),
            "b": ("unique b1", 2, 1),
            "c": ("unique c1", 3, 2),
            "d": ("", 0, 0),
            "e": ("solo", 1, 0),
            "f": ("x", 1, 0),
        }

    def test_min_df_and_partition_invariance(self, pdocs):
        from associationabacminer_spark.operators.dedup import (
            scrub_common_paragraphs,
        )

        # min_df above the max occurrence count scrubs nothing
        none = scrub_common_paragraphs(pdocs, "text", "doc_id", min_df=5)
        assert all(r["n_scrubbed"] == 0 for r in none.collect())
        base = sorted(
            map(tuple, scrub_common_paragraphs(pdocs, "text", "doc_id").collect())
        )
        repart = sorted(
            map(
                tuple,
                scrub_common_paragraphs(
                    pdocs.repartition(7), "text", "doc_id"
                ).collect(),
            )
        )
        assert base == repart

    def test_null_text_treated_as_empty(self, spark):
        from associationabacminer_spark.operators.dedup import (
            scrub_common_paragraphs,
        )

        df = spark.createDataFrame(
            [("a", None), ("b", "dup\ndup")], "doc_id string, text string"
        )
        got = {
            r["doc_id"]: (r["text"], r["n_paras"], r["n_scrubbed"])
            for r in scrub_common_paragraphs(df, "text", "doc_id").collect()
        }
        assert got["a"] == ("", 0, 0)  # not (None, -1, ...)
        assert got["b"] == ("", 2, 2)  # within-doc dup counts toward min_df

    def test_no_python_udf(self, pdocs):
        from associationabacminer_spark.operators.dedup import (
            scrub_common_paragraphs,
        )

        plan = (
            scrub_common_paragraphs(pdocs, "text", "doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestDsir:
    """DSIR importance weights + derandomized Gumbel top-k selection."""

    @pytest.fixture(scope="class")
    def pool(self, spark):
        rows = [
            (0, "en", "the cat sat on the mat"),
            (1, "en", "the cat sat on the hat"),
            (2, "xx", "zx qv zx qv zx"),
            (3, "xx", "the cat sat on the mat"),  # target-like raw doc
            (4, "xx", "one"),  # no bigrams -> no row
        ]
        return spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def test_logratio_matches_reference(self, spark, pool):
        from associationabacminer_spark.operators.lm import dsir_logratio

        tgt = pool.filter(pool.lang == "en")
        got = {
            r["doc_id"]: r
            for r in dsir_logratio(pool, "text", "doc_id", tgt).collect()
        }
        assert 4 not in got
        rows = [(r["doc_id"], r["text"]) for r in pool.collect()]
        ref_t = TestBigramLmScores._ref_scores(
            rows, [t for i, t in rows if i in (0, 1)]
        )
        ref_r = TestBigramLmScores._ref_scores(rows, [t for _, t in rows])
        for k, r in got.items():
            n, xr = ref_r[k]
            _, xt = ref_t[k]
            assert r["n_bigrams"] == n
            assert abs(r["xent_raw"] - xr) <= 1e-6
            assert abs(r["xent_target"] - xt) <= 1e-6
            # the reference rounds each xent to 1e-6 BEFORE the product
            # (the operator multiplies unrounded), so the comparison
            # tolerance scales with n
            assert abs(r["logw"] - round((xr - xt) * n, 6)) <= 1e-6 * (n + 1)
        # the target-like raw doc weighs toward the target; the
        # gibberish doc away from it
        assert got[3]["logw"] > got[2]["logw"]

    def test_gumbel_key_formula_and_determinism(self, spark, pool):
        import hashlib
        import math

        from associationabacminer_spark.operators.lm import dsir_logratio
        from associationabacminer_spark.operators.sampling import dsir_sample

        tgt = pool.filter(pool.lang == "en")
        scored = dsir_logratio(pool, "text", "doc_id", tgt)
        got = {
            r["doc_id"]: r["gumbel_key"]
            for r in dsir_sample(scored, "doc_id", "logw", 10).collect()
        }
        exact = {r["doc_id"]: r["logw"] for r in scored.collect()}
        for i, k in got.items():
            u = (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) + 0.5
            ) / float(1 << 32)
            expect = exact[i] - math.log(-math.log(u))
            assert abs(k - round(expect, 6)) <= 2e-6
        # deterministic across partitionings
        a = sorted(map(tuple, dsir_sample(scored, "doc_id", "logw", 2).collect()))
        b = sorted(
            map(
                tuple,
                dsir_sample(scored.repartition(5), "doc_id", "logw", 2).collect(),
            )
        )
        assert a == b

    def test_dominant_weight_always_selected(self, spark):
        from associationabacminer_spark.operators.sampling import dsir_sample

        rows = [(i, 0.0) for i in range(20)] + [(99, 50.0)]
        df = spark.createDataFrame(rows, "doc_id long, logw double")
        for salt in ("", "s1", "s2"):
            top = dsir_sample(df, "doc_id", "logw", 1, salt=salt).collect()
            assert [r["doc_id"] for r in top] == [99]


class TestSourceOverlapMatrix:
    """Cross-source n-gram overlap diagnostic."""

    def test_hand_computed_pair(self, spark):
        from associationabacminer_spark.operators.decontaminate import (
            source_overlap_matrix,
        )

        rows = [
            (0, "A", "a b c d e f"),       # shingles: abcde, bcdef
            (1, "B", "a b c d e x"),       # shingles: abcde, bcdex
            (2, "C", "q r s t u"),         # shingle:  qrstu
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        got = {
            (r["src_a"], r["src_b"]): (r["n_shared"], r["jaccard"])
            for r in source_overlap_matrix(df, "text", "source", n=5).collect()
        }
        # A∩B = {abcde}; |A∪B| = 3 -> jaccard 1/3; C shares nothing
        assert got == {("A", "B"): (1, round(1 / 3, 6))}

    def test_no_cartesian_and_no_udf(self, spark):
        from associationabacminer_spark.operators.decontaminate import (
            source_overlap_matrix,
        )

        df = spark.createDataFrame(
            [(0, "A", "a b c d e"), (1, "B", "a b c d e")],
            "doc_id long, source string, text string",
        )
        plan = (
            source_overlap_matrix(df, "text", "source")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestIncrementalIngest:
    """operators/ingest.py: dedup a new batch against a fingerprint
    store without rescanning historical text."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        long_a = " ".join(f"tok{i}" for i in range(40))
        long_a_mut = " ".join(
            f"tok{i}" if i != 37 else "changed" for i in range(40)
        )
        base = [
            (1, "the quick brown fox jumps over the lazy dog by the river"),
            (2, long_a),
            (3, "a third document with its own distinctive words entirely"),
        ]
        batch = [
            (10, "the quick brown fox jumps over the lazy dog by the river"),
            (11, long_a_mut),  # near-dup of store doc 2, J ~ 0.85
            (12, "duplicate inside the batch duplicate inside the batch ok"),
            (13, "duplicate inside the batch duplicate inside the batch ok"),
            (14, "a genuinely new document matching nothing else anywhere"),
        ]
        return (
            spark.createDataFrame(base, "doc_id long, text string"),
            spark.createDataFrame(batch, "doc_id long, text string"),
        )

    def test_drops_exact_near_and_within_keeps_new(self, corpus):
        from associationabacminer_spark.operators import ingest

        store_docs, batch = corpus
        store = ingest.dedup_store_build(store_docs, "text", "doc_id")
        surv = ingest.incremental_ingest(
            batch, store, "text", "doc_id", threshold=0.5
        )
        ids = sorted(r["doc_id"] for r in surv.collect())
        # 10 exact-matches store, 11 near-dups store doc 2 (caught by the
        # band probe + signature agreement), 13 loses to 12 within batch
        assert ids == [12, 14]

    def test_empty_store_equals_within_batch_dedup(self, spark, corpus):
        """With an empty store, ingest reduces to exact + MinHash-LSH
        dedup of the batch alone (same pipeline minhash_lsh_dedup runs,
        min id kept)."""
        from associationabacminer_spark.operators import dedup, ingest

        _, batch = corpus
        empty = spark.createDataFrame([], "doc_id long, text string")
        store = ingest.dedup_store_build(empty, "text", "doc_id")
        surv = ingest.incremental_ingest(
            batch, store, "text", "doc_id", threshold=0.5
        )
        got = sorted(r["doc_id"] for r in surv.collect())

        kept = dedup.exact_dedup(batch, "text", "doc_id")
        pairs = dedup.minhash_lsh_dedup(
            kept, "text", "doc_id", num_perm=32, bands=8, threshold=0.5
        )
        losers = {r["id_b"] for r in pairs.collect()}
        want = sorted(
            r["doc_id"] for r in kept.collect() if r["doc_id"] not in losers
        )
        assert got == want

    def test_reingest_idempotent_and_seen_semantics(self, corpus):
        """After absorbing the delta, re-ingesting the same batch yields
        ZERO survivors — deterministically, because ingest_delta records
        the digest of EVERY batch doc (seen set), not just survivors:
        a near-dup-dropped doc must not resurface when the signature
        estimate undershoots the exact re-check that dropped it."""
        from associationabacminer_spark.operators import ingest

        store_docs, batch = corpus
        store = ingest.dedup_store_build(store_docs, "text", "doc_id")
        surv = ingest.incremental_ingest(
            batch, store, "text", "doc_id", threshold=0.5
        ).localCheckpoint()
        delta = ingest.ingest_delta(batch, surv, "text", "doc_id")
        # seen semantics: the exact delta covers the whole batch,
        # sigs/bands only the survivors
        assert delta["exact"].count() == 4  # 5 batch docs, 12/13 share text
        assert delta["sigs"].count() == surv.count()
        store2 = ingest.dedup_store_append(store, delta)
        again = ingest.incremental_ingest(
            batch, store2, "text", "doc_id", threshold=0.5
        )
        assert again.count() == 0

    def test_store_probe_plan_no_cartesian_no_python(self, corpus):
        """The whole ingest plan is equi-joins on bounded keys: no
        CartesianProduct anywhere, and the only Python stage is the OPH
        signature scatter (mapInPandas) — checked with checkpoint=False
        so the FULL lineage is in one plan."""
        from associationabacminer_spark.operators import ingest

        store_docs, batch = corpus
        store = ingest.dedup_store_build(store_docs, "text", "doc_id")
        plan = (
            ingest.incremental_ingest(
                batch, store, "text", "doc_id", threshold=0.5,
                checkpoint=False,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python


class TestOperatorsLeaveNoCache:
    def test_lm_ingest_and_bloom_decontaminate_leave_no_cache(self, spark):
        """A table an operator materializes for its own reuse (the bigram
        counts, the store signatures, the Bloom path's reference
        shingles) lives as long as the DataFrames that read it: nothing
        stays in the session's cache once the result is collected.  A
        leftover entry logs "Asked to cache already cached data" when
        the same plan runs again."""
        from associationabacminer_spark.operators import decontaminate, ingest, lm

        spark.catalog.clearCache()  # entries earlier tests left behind
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the lazy dog sleeps under the quick brown tree"),
                (3, "a third document about something else entirely"),
            ],
            "doc_id long, text string",
        )
        lm.bigram_lm_scores(docs, "text", "doc_id").collect()
        store = ingest.dedup_store_build(docs, "text", "doc_id")
        ingest.incremental_ingest(docs, store, "text", "doc_id").collect()
        decontaminate.contaminated_ids(
            docs, docs, "text", "doc_id", n=3, bloom_fpp=0.01
        ).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestOphOptimalDensification:
    def test_slot_agreement_tracks_jaccard_on_short_docs(self, spark):
        """Optimal densification (Shrivastava, ICML 2017) restores
        P[slot agrees] = Jaccard for docs with far fewer shingles than
        buckets; min-rehash collapses toward 0 there unless the global
        minima coincide.  Deterministic values (xxhash64/splitmix64),
        loose bands so a testdata tweak doesn't flake."""
        from associationabacminer_spark.functions.text import word_ngrams

        pairs = [
            ("a brand new crawl document with fresh content nothing like before",
             "a brand new crawl document with fresh content nothing like beforehand"),
            ("short doc one two three four five six seven eight nine ten",
             "short doc one two three four five six seven eight nine eleven"),
        ]
        rows = []
        for i, (a, b) in enumerate(pairs):
            rows += [(2 * i, a), (2 * i + 1, b)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sh = {
            r["doc_id"]: set(r["s"])
            for r in df.select(
                "doc_id", F.array_distinct(word_ngrams(F.col("text"), 3)).alias("s")
            ).collect()
        }

        def agreements(mode):
            sigs = {
                r["doc_id"]: r["sig"]
                for r in dedup.minhash_signatures_oph(
                    df, "text", "doc_id", num_buckets=32, n=3, densify=mode
                ).collect()
            }
            return [
                sum(x == y for x, y in zip(sigs[2 * i], sigs[2 * i + 1])) / 32
                for i in range(len(pairs))
            ]

        opt, mrh = agreements("optimal"), agreements("minrehash")
        for i in range(len(pairs)):
            a, b = sh[2 * i], sh[2 * i + 1]
            j = len(a & b) / len(a | b)
            assert abs(opt[i] - j) <= 0.25, (i, opt[i], j)
            assert mrh[i] <= j - 0.4, (i, mrh[i], j)  # the gap optimal closes

    def test_optimal_deterministic_filled_slots_unchanged(self, spark):
        """Densification only touches EMPTY buckets: slots occupied by a
        real shingle min are byte-identical across modes, and repeated
        builds are deterministic."""
        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(200)))],  # fills most of 32
            "doc_id long, text string",
        )
        a = dedup.minhash_signatures_oph(
            df, "text", "doc_id", num_buckets=32, densify="optimal"
        ).collect()[0]["sig"]
        b = dedup.minhash_signatures_oph(
            df, "text", "doc_id", num_buckets=32, densify="minrehash"
        ).collect()[0]["sig"]
        a2 = dedup.minhash_signatures_oph(
            df, "text", "doc_id", num_buckets=32, densify="optimal"
        ).collect()[0]["sig"]
        assert a == a2
        # 200 distinct tokens -> essentially every bucket occupied; the
        # two modes agree wherever a real min exists
        diff = sum(x != y for x, y in zip(a, b))
        assert diff <= 2

    def test_invalid_densify_raises(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            dedup.minhash_signatures_oph(df, "text", "doc_id", densify="nope")
