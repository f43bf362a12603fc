"""Spark-tier tests for the two-stage sketch harness: exact-oracle
reconciliation (the reference's validate_possible_privs pattern,
/root/reference/src/EnvAbacRuleMiner.py:79-88, generalized per
SURVEY.md §5), partition-invariance, row fidelity, and resume."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from associationabacminer_spark.operators.agg import (
    SketchSpec,
    build_sketches,
    sketch_aggregate,
)
from associationabacminer_spark.plans.lineage import run_with_lineage
from associationabacminer_spark.sketch import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLL,
    TDigest,
)


def specs_all():
    return [
        SketchSpec("hll_conv", HyperLogLog, "conv_id", kernel_cls=HyperLogLog),
        SketchSpec(
            "cms_tool",
            lambda: CountMinSketch(width=4096, depth=5),
            "tool",
            kernel_cls=CountMinSketch,
        ),
        SketchSpec(
            "kll_len",
            lambda: KLL(k=200),
            "text_len",
            kernel_cls=KLL,
        ),
        SketchSpec(
            "td_latency",
            lambda: TDigest(delta=200),
            "latency_s",
            kernel_cls=TDigest,
        ),
        SketchSpec(
            "bloom_conv",
            lambda: BloomFilter.from_capacity(20_000, 0.01),
            "conv_id",
            kernel_cls=BloomFilter,
        ),
    ]


@pytest.fixture(scope="module")
def prepared(transcripts):
    """Transcripts + derived columns (JVM-side exprs, SURVEY.md §2.9 W2)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    df = (
        transcripts.withColumn("text_len", F.length("text").cast("double"))
        .withColumn(
            "latency_s",
            (
                F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
            ),
        )
    ).cache()
    df.count()
    return df


class TestSketchAggregate:
    def test_hll_vs_exact_countdistinct(self, prepared):
        sketches = sketch_aggregate(prepared, specs_all())
        est = sketches["hll_conv"].estimate()
        exact = prepared.select(F.countDistinct("conv_id")).collect()[0][0]
        bound = 3 * sketches["hll_conv"].relative_error
        assert abs(est - exact) <= bound * exact

        # CMS vs exact groupBy counts on heavy hitters
        cms = sketches["cms_tool"]
        top = (
            prepared.filter(F.col("tool").isNotNull())
            .groupBy("tool")
            .count()
            .orderBy(F.desc("count"))
            .limit(5)
            .collect()
        )
        keys = np.array([r["tool"] for r in top], dtype=object)
        true = np.array([r["count"] for r in top])
        est_counts = cms.query(keys)
        assert (est_counts >= true).all()
        assert (est_counts - true <= cms.eps * cms.total).all()

        # KLL vs exact quantiles of text_len. text_len has heavy ties
        # (atoms at small lengths) so the true rank of a value is an
        # interval [count(<v), count(<=v)]/n — the estimate passes if q
        # lands within the interval widened by the rank-error bound.
        kll = sketches["kll_len"]
        n = prepared.count()
        tol = 2 * kll.rank_error + 0.005
        for q in (0.1, 0.5, 0.9):
            v = kll.quantile(q)
            lo = prepared.filter(F.col("text_len") < v).count() / n
            hi = prepared.filter(F.col("text_len") <= v).count() / n
            assert lo - tol <= q <= hi + tol, (q, v, lo, hi)

        # t-digest latency quantiles vs exact (continuous — ties rare)
        td = sketches["td_latency"]
        lat = prepared.filter(F.col("latency_s").isNotNull())
        nlat = lat.count()
        for q in (0.5, 0.99):
            v = td.quantile(q)
            lo = lat.filter(F.col("latency_s") < v).count() / nlat
            hi = lat.filter(F.col("latency_s") <= v).count() / nlat
            assert lo - 0.02 <= q <= hi + 0.02, (q, v, lo, hi)

        # Bloom: no false negatives on a sample, low FP on absent keys
        bloom = sketches["bloom_conv"]
        sample = np.array(
            [r["conv_id"] for r in prepared.select("conv_id").distinct().limit(500).collect()],
            dtype=object,
        )
        assert bloom.contains(sample).all()
        absent = np.array([f"absent-{i}" for i in range(20_000)], dtype=object)
        assert bloom.contains(absent).mean() <= 0.05

    def test_partition_invariance(self, prepared):
        """Merge-law at the Spark level: a map build over 16 vs 96 input
        partitions gives register-identical HLL and CMS states.  96
        partial states also take the merge step into 64 buckets."""
        specs = [
            SketchSpec("hll_conv", HyperLogLog, "conv_id", kernel_cls=HyperLogLog),
            SketchSpec(
                "cms_tool",
                lambda: CountMinSketch(width=2048, depth=5),
                "tool",
                kernel_cls=CountMinSketch,
            ),
        ]
        a = sketch_aggregate(prepared.repartition(16), specs)
        b = sketch_aggregate(prepared.repartition(96), specs)
        assert (a["hll_conv"]._registers() == b["hll_conv"]._registers()).all()
        assert (a["cms_tool"].table == b["cms_tool"].table).all()
        assert a["cms_tool"].total == b["cms_tool"].total > 0

    def test_lineage_schema_and_wall_time(self, prepared):
        lineage = build_sketches(prepared, specs_all())
        rows = lineage.collect()
        assert {r["sketch_name"] for r in rows} == {
            "hll_conv",
            "cms_tool",
            "kll_len",
            "td_latency",
            "bloom_conv",
        }
        assert all(r["wall_time_s"] >= 0 for r in rows)
        # row_count totals match the source (per-sketch, modulo dropna)
        total = sum(r["row_count"] for r in rows if r["sketch_name"] == "hll_conv")
        assert total == prepared.count()


class TestRowFidelity:
    def test_per_turn_text_equality_under_stable_ordering(self, spark, transcripts):
        """input_hint invariant: per-turn text equality under stable
        (conv_id, turn_idx) ordering, row-for-row vs the source."""
        from associationabacminer_spark.sources.transcripts import (
            generate_transcripts,
        )

        regen = generate_transcripts(spark, n_convs=8000, seed=42, num_partitions=4)
        a = transcripts.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
        b = regen.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
        mismatches = (
            a.withColumnRenamed("text", "ta")
            .join(
                b.withColumnRenamed("text", "tb"),
                ["conv_id", "turn_idx"],
                "full_outer",
            )
            .filter(
                F.col("ta").isNull()
                | F.col("tb").isNull()
                | (F.col("ta") != F.col("tb"))
            )
            .count()
        )
        assert mismatches == 0


class TestResume:
    def test_kill_and_resume_identical_estimates(self, prepared, spark):
        """A resumed ledger merges to the same bytes as an uninterrupted
        run for every kernel, KLL and t-digest included, under small
        Arrow batches: each group's rows reach a kernel in one update."""
        tmp = tempfile.mkdtemp(prefix="ledger-")
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "500")
        try:
            specs = specs_all()
            full = run_with_lineage(
                prepared, specs, tmp + "/full", num_groups=32, run_id="r1"
            )

            # simulate executor loss: a partial ledger holding only half
            # the groups, then resume
            partial_path = tmp + "/partial"
            kept = spark.read.parquet(tmp + "/full/build").filter(F.col("group_id") < 16)
            kept.write.mode("overwrite").parquet(partial_path + "/build")

            resumed = run_with_lineage(
                prepared, specs, partial_path, num_groups=32, run_id="r2"
            )
            assert set(resumed) == set(full) == {s.name for s in specs}
            for name in full:
                assert resumed[name].serialize() == full[name].serialize(), name
        finally:
            spark.conf.set(key, old)
            shutil.rmtree(tmp, ignore_errors=True)

    def test_completed_ledger_short_circuits(self, prepared, spark):
        tmp = tempfile.mkdtemp(prefix="ledger-")
        try:
            specs = [
                SketchSpec("hll_conv", HyperLogLog, "conv_id", kernel_cls=HyperLogLog)
            ]
            first = run_with_lineage(prepared, specs, tmp, num_groups=16, run_id="a")
            # resume over an empty input: everything must come from the ledger
            empty = prepared.limit(0)
            second = run_with_lineage(empty, specs, tmp, num_groups=16, run_id="b")
            assert second["hll_conv"].estimate() == first["hll_conv"].estimate()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestSqlSketch:
    def test_hll_sql_matches_prehashed_kernel(self, spark):
        from associationabacminer_spark.operators.sql_sketch import hll_from_sql
        from associationabacminer_spark.sketch import HyperLogLog

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sql_hll = hll_from_sql(ev, "user_id", p=14)
        hashes = np.array(
            [r["h"] for r in ev.select(F.xxhash64("user_id").alias("h")).collect()],
            dtype=np.int64,
        )
        kern = HyperLogLog(p=14).update_batch(hashes, prehashed=True)
        assert (sql_hll._registers() == kern._registers()).all()
        exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
        assert abs(sql_hll.estimate() - exact) <= max(
            1.0, 3 * sql_hll.relative_error * exact
        )

    def test_cms_sql_matches_streaming_kernel(self, spark):
        from associationabacminer_spark.operators.sql_sketch import cms_from_sql
        from associationabacminer_spark.sketch import CountMinSketch

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sql_cms = cms_from_sql(ev, "event_type", width=2048, depth=5)
        hashes = np.array(
            [r["h"] for r in ev.select(F.xxhash64("event_type").alias("h")).collect()],
            dtype=np.int64,
        )
        kern = CountMinSketch(width=2048, depth=5).update_batch(hashes, prehashed=True)
        assert sql_cms.total == kern.total
        assert (sql_cms.table == kern.table).all()

    def test_bloom_sql_matches_pair_kernel(self, spark):
        from associationabacminer_spark.operators.sql_sketch import bloom_from_sql
        from associationabacminer_spark.sketch import BloomFilter
        from associationabacminer_spark.sketch.xxhash import xxh64_pair_keys

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sql_bloom = bloom_from_sql(ev, "user_id", 200_000, 7)
        keys = [int(r["user_id"]) for r in ev.select("user_id").distinct().collect()]
        h1, h2 = xxh64_pair_keys(keys)
        kern = BloomFilter(200_000, 7).update_pairs(h1, h2)
        assert (sql_bloom.words == kern.words).all()
        assert sql_bloom.contains_pairs(h1, h2).all()  # no false negatives
        ah1, ah2 = xxh64_pair_keys(list(range(10_000_000, 10_050_000)))
        assert sql_bloom.contains_pairs(ah1, ah2).mean() <= 0.02


class TestSqlQuantileSketches:
    def test_kll_sql_rank_error_within_bound(self, spark):
        """kll_from_sql consumes the exact value multiset (histogram ->
        binary-weighted insertion), so the published rank bound applies."""
        from associationabacminer_spark.operators.sql_sketch import kll_from_sql

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        lens = docs.select(F.length("text").cast("double").alias("L"))
        kll = kll_from_sql(lens, "L", k=200)
        exact = np.sort(
            np.array([r["L"] for r in lens.collect()], dtype=np.float64)
        )
        assert kll.n == len(exact)
        for q in (0.1, 0.5, 0.9, 0.99):
            est = kll.quantile(q)
            true_rank = np.searchsorted(exact, est, side="right") / len(exact)
            assert abs(true_rank - q) <= kll.rank_error + 1e-9, (q, est, true_rank)

    def test_kll_sql_merges_with_arrow_built_kll(self, spark):
        """SQL-built and stream-built KLLs are the same kind of kernel:
        merging them must keep the bound on the union."""
        from associationabacminer_spark.operators.sql_sketch import kll_from_sql
        from associationabacminer_spark.sketch import KLL

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        lens = np.array(
            [r[0] for r in docs.select(F.length("text").cast("double")).collect()],
            dtype=np.float64,
        )
        half = len(lens) // 2
        a = kll_from_sql(
            spark.createDataFrame([(float(x),) for x in lens[:half]], "L double"),
            "L",
        )
        b = KLL(k=200).update_batch(lens[half:])
        m = KLL.merge(a, b)
        exact = np.sort(lens)
        assert m.n == len(exact)
        for q in (0.25, 0.5, 0.75):
            est = m.quantile(q)
            true_rank = np.searchsorted(exact, est, side="right") / len(exact)
            assert abs(true_rank - q) <= m.rank_error + 1e-9

    def test_tdigest_sql_rank_error_within_bound(self, spark):
        """Log-binned t-digest build: rank error within the delta bound
        plus one bin's mass (documented tolerance)."""
        from associationabacminer_spark.operators.sql_sketch import tdigest_from_sql

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        vals = ev.select(F.col("value").cast("double").alias("v")).filter(
            F.col("v").isNotNull()
        )
        td = tdigest_from_sql(vals, "v", delta=200)
        exact = np.sort(np.array([r["v"] for r in vals.collect()], dtype=np.float64))
        assert int(td.n) == len(exact)
        for q in (0.1, 0.5, 0.9):
            est = td.quantile(q)
            true_rank = np.searchsorted(exact, est, side="right") / len(exact)
            # delta=200 mid-quantile bound ~ 4/delta = 0.02 (+ bin mass)
            assert abs(true_rank - q) <= 0.03, (q, est, true_rank)


class TestLedgerProbe:
    def test_read_ledger_missing_path_is_none(self, spark, tmp_path):
        from associationabacminer_spark.plans.lineage import read_ledger

        assert read_ledger(spark, str(tmp_path / "absent")) is None
        # a crashed first write leaves only hidden files: still absent
        (tmp_path / "crashed" / "build" / "_temporary").mkdir(parents=True)
        assert read_ledger(spark, str(tmp_path / "crashed")) is None


class TestLineageMetrics:
    def test_observe_metrics_from_build_and_resume(self, spark, tmp_path):
        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.plans.lineage import run_with_lineage
        from associationabacminer_spark.sketch import HyperLogLog

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        specs = [
            SketchSpec(
                "hll_user", HyperLogLog, "user_id", kernel_cls=HyperLogLog, prehash=True
            )
        ]
        n = ev.count()
        m: dict = {}
        run_with_lineage(ev, specs, str(tmp_path / "ledger"), num_groups=4,
                         metrics_out=m)
        assert m["rows_processed"] == n
        assert m["lineage_rows"] == 4  # groups x 1 sketch
        assert m["wall_time_s"] > 0
        # idempotent re-run: ledger complete -> nothing folded
        m2: dict = {}
        run_with_lineage(ev, specs, str(tmp_path / "ledger"), num_groups=4,
                         metrics_out=m2)
        assert m2["rows_processed"] == 0 and m2["lineage_rows"] == 0


class TestWindowedResume:
    def test_resume_rebuilds_only_missing_windows(self, spark, tmp_path):
        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            run_windowed_with_lineage,
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
        ledger = str(tmp_path / "wledger")
        cutoff = ev.agg(F.max("ts")).collect()[0][0]
        early = ev.filter(F.col("ts") < F.lit(cutoff) - F.expr("INTERVAL 3 DAYS"))
        # crash simulation: partial run covered only the early windows
        m1: dict = {}
        run_windowed_with_lineage(early, specs, ledger, "ts", "1 day", metrics_out=m1)
        assert m1["rows_processed"] == early.count()
        # resume with the full input: only the tail windows rebuild
        m2: dict = {}
        merged = run_windowed_with_lineage(ev, specs, ledger, "ts", "1 day",
                                           metrics_out=m2).collect()
        assert 0 < m2["rows_processed"] < ev.count()
        # estimates match a fresh, uninterrupted build window-for-window
        fresh = {
            (r["window_start"], r["sketch_name"]): HyperLogLog.deserialize(
                bytes(r["sketch"])
            ).estimate()
            for r in run_windowed_with_lineage(
                ev, specs, str(tmp_path / "wledger2"), "ts", "1 day"
            ).collect()
        }
        got = {
            (r["window_start"], r["sketch_name"]): HyperLogLog.deserialize(
                bytes(r["sketch"])
            ).estimate()
            for r in merged
        }
        assert got == fresh
        # idempotent third run: nothing to rebuild
        m3: dict = {}
        run_windowed_with_lineage(ev, specs, ledger, "ts", "1 day", metrics_out=m3)
        assert m3["rows_processed"] == 0

    def test_resume_over_whole_days_is_byte_identical(self, spark, sf_dir, tmp_path):
        """Same-input contract: a ledger cut on a window boundary, resumed
        over the full input, merges to the bytes of a fresh build for
        every kernel, and folds exactly the rows after the cut."""
        from associationabacminer_spark.operators.windowed_sketch import (
            run_windowed_with_lineage,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        specs = [
            SketchSpec("hll_user", HyperLogLog, "user_id", kernel_cls=HyperLogLog,
                       prehash=True),
            SketchSpec("cms_type", lambda: CountMinSketch(width=512, depth=4),
                       "event_type", kernel_cls=CountMinSketch, prehash=True),
            SketchSpec("kll_value", lambda: KLL(k=64), "value", kernel_cls=KLL),
            SketchSpec("td_value", lambda: TDigest(delta=50), "value",
                       kernel_cls=TDigest),
            SketchSpec("bloom_user", lambda: BloomFilter.from_capacity(2_000, 0.01),
                       "user_id", kernel_cls=BloomFilter, prehash=True),
        ]
        last = ev.agg(F.max("ts")).collect()[0][0]
        cut = F.date_trunc("day", F.lit(last)) - F.expr("INTERVAL 5 DAYS")
        ledger = str(tmp_path / "wledger")
        run_windowed_with_lineage(ev.filter(F.col("ts") < cut), specs, ledger, "ts", "1 day")
        m: dict = {}
        resumed = run_windowed_with_lineage(ev, specs, ledger, "ts", "1 day",
                                            metrics_out=m).collect()
        # every spec folds every row after the cut (no nulls to drop)
        assert m["rows_processed"] == len(specs) * ev.filter(F.col("ts") >= cut).count()
        fresh = run_windowed_with_lineage(
            ev, specs, str(tmp_path / "fresh"), "ts", "1 day"
        ).collect()

        def states(rows):
            return {
                (r["window_start"], r["sketch_name"]): (r["row_count"], bytes(r["sketch"]))
                for r in rows
            }

        assert len(fresh) == 30 * len(specs)
        assert states(resumed) == states(fresh)

    def test_fresh_build_over_empty_input(self, spark, tmp_path):
        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            run_windowed_with_lineage,
        )
        from associationabacminer_spark.sketch import HyperLogLog

        empty = spark.createDataFrame([], "ts timestamp, user_id long")
        specs = [
            SketchSpec(
                "hll_user", HyperLogLog, "user_id", kernel_cls=HyperLogLog, prehash=True
            )
        ]
        m: dict = {}
        merged = run_windowed_with_lineage(
            empty, specs, str(tmp_path / "wledger"), "ts", "1 day", metrics_out=m
        )
        assert merged.collect() == []
        assert m["rows_processed"] == 0


def _jobs(spark, fn) -> int:
    """The Spark jobs ``fn()`` runs, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestLedgerJobBudget:
    """A resume over a partial ledger runs at most one job more than a
    fresh build of the same input: the broadcast of the ledger's keys.
    Reading a ledger with its declared schema runs no footer job."""

    @staticmethod
    def _events(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )

    @staticmethod
    def _specs():
        return [SketchSpec("hll_user", HyperLogLog, "user_id",
                           kernel_cls=HyperLogLog, prehash=True)]

    def test_group_ledger_resume_budget(self, spark, sf_dir, tmp_path):
        ev, specs = self._events(spark, sf_dir), self._specs()
        full, partial = str(tmp_path / "full"), str(tmp_path / "partial")
        fresh = _jobs(spark, lambda: run_with_lineage(ev, specs, full, num_groups=8))
        spark.read.parquet(full + "/build").filter(F.col("group_id") < 4).write.parquet(
            partial + "/build"
        )
        resume = _jobs(spark, lambda: run_with_lineage(ev, specs, partial, num_groups=8))
        assert resume <= fresh + 1, (fresh, resume)

    def test_windowed_ledger_resume_budget(self, spark, sf_dir, tmp_path):
        from associationabacminer_spark.operators.windowed_sketch import (
            run_windowed_with_lineage,
        )

        ev, specs = self._events(spark, sf_dir), self._specs()
        full, partial = str(tmp_path / "full"), str(tmp_path / "partial")

        def build(df, path):
            return lambda: run_windowed_with_lineage(df, specs, path, "ts", "1 day").collect()

        fresh = _jobs(spark, build(ev, full))
        last = ev.agg(F.max("ts")).collect()[0][0]
        build(ev.filter(F.col("ts") < F.lit(last) - F.expr("INTERVAL 5 DAYS")), partial)()
        resume = _jobs(spark, build(ev, partial))
        assert resume <= fresh + 1, (fresh, resume)


class TestSortedStreamFold:
    """The window and group builds fold key-sorted Arrow batches run by
    run; a key may straddle batches, and null keys keep the semantics of
    a groupBy.  Each key reaches a kernel in one update, so even the
    order-sensitive KLL and t-digest states ignore the Arrow batch size."""

    @staticmethod
    def _specs():
        return [
            SketchSpec("hll_user", HyperLogLog, "user_id",
                       kernel_cls=HyperLogLog, prehash=True),
            SketchSpec("cms_type", lambda: CountMinSketch(width=256, depth=4),
                       "event_type", kernel_cls=CountMinSketch, prehash=True),
            SketchSpec("kll_value", lambda: KLL(k=8), "value", kernel_cls=KLL),
            SketchSpec("td_value", lambda: TDigest(delta=20), "value",
                       kernel_cls=TDigest),
        ]

    def test_tiny_arrow_batches_match_default(self, spark, sf_dir):
        from associationabacminer_spark.operators.windowed_sketch import (
            grouped_sketch_states,
            windowed_sketches,
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        specs = self._specs()

        def states():
            win = windowed_sketches(ev, specs, "ts", "1 day", "1 day").collect()
            grp = grouped_sketch_states(ev, "event_type", specs, salts=4).collect()
            return (
                {(r["window_start"], r["sketch_name"]): (r["row_count"], bytes(r["sketch"]))
                 for r in win},
                {(r["group"], r["sketch_name"]): (r["row_count"], bytes(r["sketch"]))
                 for r in grp},
            )

        default = states()
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "7")
        try:
            tiny = states()
        finally:
            spark.conf.set(key, old)
        assert tiny == default
        assert len(default[0]) > 2 and len(default[1]) > 2

    def test_null_keys_keep_groupby_semantics(self, spark):
        import datetime as dt

        from associationabacminer_spark.operators.windowed_sketch import (
            grouped_sketch_states,
            windowed_sketches,
        )

        base = dt.datetime(2024, 1, 1)
        rows = [(i, "view", base + dt.timedelta(hours=i)) for i in range(50)]
        rows += [(50, "view", None), (51, None, None), (52, None, base)]
        df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
        specs = [self._specs()[0]]
        win = windowed_sketches(df, specs, "ts", "1 day", "1 day").collect()
        # rows with a null ts fall in no window
        assert len(win) == 3
        assert sum(r["row_count"] for r in win) == 51
        grp = grouped_sketch_states(df, "event_type", specs, salts=4).collect()
        # null groups form one group, as in groupBy
        assert sorted((r["group"] or "", r["row_count"]) for r in grp) == [
            ("", 2), ("view", 51)
        ]


class TestBottomKSql:
    def test_sql_reduction_register_identical(self, spark):
        """bottomk_from_sql must equal a kernel fed the same xxhash64
        pre-hashed keys — byte-identical serialized state."""
        import numpy as np
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.sql_sketch import bottomk_from_sql
        from associationabacminer_spark.sketch import BottomK

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sql_sketch = bottomk_from_sql(ev, "user_id", k=64)
        h = np.array(
            [r["h"] for r in ev.select(F.xxhash64("user_id").alias("h")).collect()],
            dtype=np.int64,
        )
        kernel = BottomK(k=64).update_hashes(h.astype(np.uint64), payloads=h)
        assert sql_sketch.serialize() == kernel.serialize()
        exact = ev.select("user_id").distinct().count()
        est = sql_sketch.estimate_distinct()
        assert abs(est - exact) / exact < 5 * sql_sketch.relative_error()


class TestHllByGroup:
    def test_matches_kernel_and_bound_per_group(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.sql_sketch import (
            hll_estimate_by_group,
        )
        from associationabacminer_spark.sketch import HyperLogLog

        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        got = {
            r["event_type"]: r["approx_distinct"]
            for r in hll_estimate_by_group(ev, ["event_type"], "user_id").collect()
        }
        for et, est in got.items():
            # kernel parity on the same rows
            h = np.array(
                [
                    r["h"]
                    for r in ev.filter(F.col("event_type") == et)
                    .select(F.xxhash64("user_id").alias("h"))
                    .collect()
                ],
                dtype=np.int64,
            )
            k = HyperLogLog(14).update_hashes(h.astype(np.uint64))
            assert abs(est - k.estimate()) <= 1e-9 * max(1.0, k.estimate()), et
            exact = (
                ev.filter(F.col("event_type") == et)
                .select("user_id")
                .distinct()
                .count()
            )
            assert abs(est - exact) / max(exact, 1) < 5 * k.relative_error


class TestQuantilesByGroup:
    def test_exact_on_integer_values(self, spark):
        """With every distinct integer in its own log bin (values far
        below 1/rel_width) the binned quantile IS the exact discrete
        rank-ceil(q*n) quantile — the property the oracled q72 pins."""
        import math

        import numpy as np

        from associationabacminer_spark.operators.sql_sketch import (
            quantiles_by_group,
        )

        rng = np.random.default_rng(7)
        rows = [
            (int(g), int(v))
            for g in range(3)
            for v in rng.integers(1, 200, size=500)
        ]
        df = spark.createDataFrame(rows, "g int, v int")
        got = {
            r["g"]: (r["p50"], r["p90"], r["p99"])
            for r in quantiles_by_group(df, ["g"], "v").collect()
        }
        for g in range(3):
            vs = sorted(v for gg, v in rows if gg == g)
            n = len(vs)
            for q, have in zip((0.5, 0.9, 0.99), got[g]):
                assert have == vs[math.ceil(q * n) - 1], (g, q)

    def test_continuous_within_bin_width_and_no_python(self, spark):
        """Continuous values: the selected bin holds the exact discrete
        quantile x (rank is exact, the value snaps to the in-bin mean), so
        the result is within one bin's width of it: expm1(w)*(1+|x|), or
        2*expm1(w) in the zero bin, which spans both signs.  Checked on
        positive values and on signed values with exact zeros; the plan
        is pure Catalyst."""
        import math

        import numpy as np

        from associationabacminer_spark.operators.sql_sketch import (
            quantiles_by_group,
        )

        rng = np.random.default_rng(11)
        positive = rng.lognormal(mean=3.0, sigma=1.2, size=4000)
        # dense enough that bins wider than rel_width break the bound
        signed = rng.uniform(-1.0, 1.0, size=4000)
        signed[rng.random(4000) < 0.2] = 0.0
        w = 1e-3
        qs = (0.05, 0.5, 0.95)
        for vals in (positive, signed):
            df = spark.createDataFrame(
                [(int(i % 2), float(v)) for i, v in enumerate(vals)],
                "g int, v double",
            )
            out = quantiles_by_group(df, ["g"], "v", qs, rel_width=w)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "Python" not in plan  # no BatchEvalPython/ArrowEvalPython
            got = {r["g"]: (r["p5"], r["p50"], r["p95"]) for r in out.collect()}
            for g in (0, 1):
                vs = sorted(v for i, v in enumerate(vals) if i % 2 == g)
                n = len(vs)
                for q, have in zip(qs, got[g]):
                    exact = vs[math.ceil(q * n) - 1]
                    if abs(exact) < math.expm1(w):  # the zero bin
                        bound = 2.0 * math.expm1(w)
                    else:
                        bound = math.expm1(w) * (1.0 + abs(exact))
                    assert abs(have - exact) <= bound, (g, q, have, exact)


class TestPercentileByGroup:
    def test_exact_percent_rank_on_integers(self, spark):
        """On integral scores (distinct value == distinct bin) the binned
        percentile IS SQL percent_rank — the property the oracled q9k
        pins.  Compared against Spark's own window percent_rank, ties
        and single-row groups included."""
        import numpy as np
        from pyspark.sql import Window

        from associationabacminer_spark.operators.sql_sketch import (
            percentile_by_group,
        )

        rng = np.random.default_rng(13)
        rows = [
            (i, int(g), int(v))
            for i, (g, v) in enumerate(
                zip(rng.integers(0, 3, size=600), rng.integers(1, 40, size=600))
            )
        ]
        rows.append((600, 9, 7))  # single-row group -> percent_rank 0.0
        df = spark.createDataFrame(rows, "id int, g int, v int")
        got = {
            r["id"]: r["pctl"]
            for r in percentile_by_group(df, ["g"], "v").collect()
        }
        want = {
            r["id"]: r["pr"]
            for r in df.withColumn(
                "pr", F.percent_rank().over(Window.partitionBy("g").orderBy("v"))
            ).collect()
        }
        assert got == want

    def test_no_fact_side_shuffle_and_null_exclusion(self, spark):
        """The fact side reaches the join without an Exchange (bin
        recomputed map-side, bin table broadcast); NULL scores drop out."""
        df = spark.createDataFrame(
            [(1, "a", 5), (2, "a", 9), (3, "a", None), (4, "b", 2)],
            "id int, g string, v int",
        )
        from associationabacminer_spark.operators.sql_sketch import (
            percentile_by_group,
        )

        out = percentile_by_group(df, ["g"], "v")
        rows = {r["id"]: r["pctl"] for r in out.collect()}
        assert rows == {1: 0.0, 2: 1.0, 4: 0.0}  # id=3 (NULL) excluded
        # round 6 (ADVICE): the bin table is no longer FORCE-broadcast
        # (it can exceed broadcast limits at high group cardinality), so
        # assert on the AQE FINAL plan after execution: the planner still
        # broadcasts the tiny side here, keeping the fact side
        # exchange-free, and no Python stage appears anywhere
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Python" not in plan


class TestBottomKHarness:
    def test_bottomk_through_applyinpandas_harness(self, spark, transcripts):
        """BottomK slots into the generic SketchSpec harness: the
        distributed build (prehashed conv keys, tree merge) must be
        byte-identical to one kernel absorbing every key."""
        import numpy as np
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.agg import (
            SketchSpec,
            sketch_aggregate,
        )
        from associationabacminer_spark.sketch import BottomK

        got = sketch_aggregate(
            transcripts.select("conv_id"),
            [SketchSpec(
                "btk", lambda: BottomK(k=64), "conv_id",
                kernel_cls=BottomK, prehash=True,
            )],
            method="map",
        )["btk"]
        h = np.array(
            [
                r["h"]
                for r in transcripts.select(
                    F.xxhash64("conv_id").alias("h")
                ).distinct().collect()
            ],
            dtype=np.int64,
        )
        one = BottomK(k=64).update_batch(h, prehashed=True)
        assert got.serialize() == one.serialize()


class TestGroupedSketchStates:
    def test_per_group_states_estimate_and_partition_invariance(self, spark):
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            grouped_sketch_states,
        )
        from associationabacminer_spark.sketch import HyperLogLog

        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        specs = [SketchSpec("hll_user", HyperLogLog, "user_id",
                            kernel_cls=HyperLogLog, prehash=True)]
        states = grouped_sketch_states(ev, "event_type", specs, salts=4)
        rows = {r["group"]: r for r in states.collect()}
        exacts = {
            r["event_type"]: r["x"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("x"))
            .collect()
        }
        assert set(rows) == set(exacts)
        for g, r in rows.items():
            k = HyperLogLog.deserialize(bytes(r["sketch"]))
            assert abs(k.estimate() - exacts[g]) <= 5 * k.relative_error * exacts[g]
        # different salting/partitioning -> identical registers (max-merge)
        again = grouped_sketch_states(ev.repartition(7), "event_type", specs,
                                      salts=2)
        for r in again.collect():
            a = HyperLogLog.deserialize(bytes(r["sketch"]))
            b = HyperLogLog.deserialize(bytes(rows[r["group"]]["sketch"]))
            assert (a._registers() == b._registers()).all()

    def test_bottomk_and_cms_through_grouped_states(self, spark):
        """Kernel generality: grouped_sketch_states works for ANY kernel
        implementing the lifecycle — bottom-k distinct samples and CMS
        counts per group, states deserializable and within bounds."""
        import numpy as np
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            grouped_sketch_states,
        )
        from associationabacminer_spark.sketch import BottomK, CountMinSketch
        from associationabacminer_spark.sketch.xxhash import xxh64_keys

        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        specs = [
            SketchSpec("btk_user", lambda: BottomK(k=32), "user_id",
                       kernel_cls=BottomK, prehash=True),
            SketchSpec("cms_type", lambda: CountMinSketch(width=1024, depth=4),
                       "event_type", kernel_cls=CountMinSketch, prehash=True),
        ]
        states = grouped_sketch_states(ev, "event_type", specs, salts=4)
        rows = states.collect()
        by = {(r["group"], r["sketch_name"]): r for r in rows}
        for et in ("view", "click"):
            exact = (
                ev.filter(F.col("event_type") == et)
                .select("user_id").distinct().count()
            )
            b = BottomK.deserialize(bytes(by[(et, "btk_user")]["sketch"]))
            est = b.estimate_distinct()
            assert abs(est - exact) / max(exact, 1) < 5 * b.relative_error()
            c = CountMinSketch.deserialize(bytes(by[(et, "cms_type")]["sketch"]))
            n = ev.filter(F.col("event_type") == et).count()
            probe = xxh64_keys(np.array([et], dtype=object))
            got = int(c.query(probe, prehashed=True)[0])
            assert got >= n  # CMS overestimates only


class TestLedgerOrdering:
    """T3 (job-queue ordering): the resume path must claim exactly the
    missing group ids, deterministically, and the ledger must end up a
    complete one-row-per-(group, sketch) partition of the work — the
    Spark analog of the reference's ordered job-queue claim
    (/root/reference/src/job/job_executor.py:93-130)."""

    def test_resume_claims_exactly_missing_groups_once(self, prepared, spark):
        tmp = tempfile.mkdtemp(prefix="ledger-order-")
        try:
            specs = [
                SketchSpec("hll_conv", HyperLogLog, "conv_id", kernel_cls=HyperLogLog)
            ]
            run_with_lineage(prepared, specs, tmp + "/fresh", num_groups=32, run_id="r1")
            kept = spark.read.parquet(tmp + "/fresh/build").filter(F.col("group_id") < 16)
            kept.write.mode("overwrite").parquet(tmp + "/build")

            run_with_lineage(prepared, specs, tmp, num_groups=32, run_id="r2")
            ledger = spark.read.parquet(tmp + "/build").collect()

            # r2 claimed exactly the missing half, nothing it already had
            r2_groups = sorted(r["group_id"] for r in ledger if r["run_id"] == "r2")
            assert r2_groups == list(range(16, 32))
            # the finished ledger is a complete, duplicate-free partition
            # of the work: one row per (group_id, sketch_name)
            keys = [(r["group_id"], r["sketch_name"]) for r in ledger]
            assert len(keys) == len(set(keys)) == 32
            assert sorted({g for g, _ in keys}) == list(range(32))
            # a third run over the complete ledger claims nothing (T3's
            # "don't re-claim finished jobs")
            run_with_lineage(prepared, specs, tmp, num_groups=32, run_id="r3")
            ledger3 = spark.read.parquet(tmp + "/build").collect()
            assert not any(r["run_id"] == "r3" for r in ledger3)
            assert len(ledger3) == 32
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class TestMisraGriesThroughHarness:
    def test_mg_through_grouped_states_matches_exact(self, spark):
        """7th-kernel lifecycle check: Misra-Gries per-group summaries
        through grouped_sketch_states — deserialized lower bounds within
        the tracked error of exact counts, partition-invariant."""
        import numpy as np
        from pyspark.sql import functions as F

        from associationabacminer_spark.operators.agg import SketchSpec
        from associationabacminer_spark.operators.windowed_sketch import (
            grouped_sketch_states,
        )
        from associationabacminer_spark.sketch import MisraGries
        from associationabacminer_spark.sketch.xxhash import xxh64_keys

        ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        specs = [
            SketchSpec("mg_user", lambda: MisraGries(k=64), "user_id",
                       kernel_cls=MisraGries, prehash=True),
        ]
        states = grouped_sketch_states(ev, "event_type", specs, salts=4)
        by = {r["group"]: r for r in states.collect()}
        for et in ("view", "error"):
            mg = MisraGries.deserialize(bytes(by[et]["sketch"]))
            top = (
                ev.filter(F.col("event_type") == et)
                .groupBy("user_id").count()
                .orderBy(F.desc("count")).limit(3).collect()
            )
            for r in top:
                probe = np.array(
                    [int(xxh64_keys(np.array([r["user_id"]], dtype="int64"))[0])]
                )
                lb = int(mg.query(probe, prehashed=True)[0])
                assert lb <= r["count"] <= lb + mg.error_bound()
        # partition invariance (merge order must not change the summary)
        again = grouped_sketch_states(ev.repartition(7), "event_type", specs, salts=4)
        a = {r["group"]: bytes(r["sketch"]) for r in states.collect()}
        b = {r["group"]: bytes(r["sketch"]) for r in again.collect()}
        assert a == b


class TestWorkerDaemon:
    """Python workers fork from ``worker_daemon``, whose guard stops every
    task's ``importlib.invalidate_caches()`` from re-reading unchanged zips
    (pyspark.zip, the spark-core jar) on CPython < 3.13."""

    def test_session_names_the_daemon(self, spark):
        import os

        import associationabacminer_spark

        assert (
            spark.conf.get("spark.python.daemon.module")
            == "associationabacminer_spark.worker_daemon"
        )
        root = os.path.dirname(os.path.dirname(associationabacminer_spark.__file__))
        assert spark.conf.get("spark.executorEnv.PYTHONPATH") == root

    def test_task_rereads_no_archive(self, spark):
        def count_reads(batches):
            import importlib
            import zipimport

            import pandas as pd

            reads = []
            read_directory = zipimport._read_directory

            def counting(archive):
                reads.append(archive)
                return read_directory(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            for _ in batches:
                pass
            yield pd.DataFrame({"reads": [len(reads)]})

        rows = spark.range(100).coalesce(1).mapInPandas(count_reads, "reads long").collect()
        assert [r["reads"] for r in rows] == [0]

    def test_guard_rereads_only_changed_zip(self, tmp_path):
        import os
        import subprocess
        import sys

        import associationabacminer_spark

        script = """
import importlib, sys, zipfile, zipimport
from associationabacminer_spark.worker_daemon import install_zip_guard

install_zip_guard()
path = sys.argv[1]
with zipfile.ZipFile(path, "w") as z:
    z.writestr("zg_first.py", "X = 1")
sys.path.insert(0, path)
import zg_first
importlib.invalidate_caches()  # an importer's first call reads its archive

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
importlib.invalidate_caches()
unchanged = len(reads)
with zipfile.ZipFile(path, "a") as z:
    z.writestr("zg_second.py", "Y = 2")
importlib.invalidate_caches()
import zg_second
print(unchanged, len(reads), zg_first.X + zg_second.Y)
"""
        root = os.path.dirname(os.path.dirname(associationabacminer_spark.__file__))
        out = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path / "mods.zip")],
            env=dict(os.environ, PYTHONPATH=root),
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        unchanged, after_change, total = (int(v) for v in out)
        assert total == 3  # the module added to the rewritten zip imports
        if sys.version_info < (3, 13):  # 3.13+ re-reads lazily, unguarded
            assert (unchanged, after_change) == (0, 1)
