"""The transcript-table side of the benchmark: seeded inputs, exact
answers, the Arrow/SQL sketch builds, the resumable ledger and windowed
builds, their output checks, and the per-layer decomposition
(sources, suite, operators.agg, sketch, operators.sql_sketch,
plans.lineage, operators.windowed_sketch)."""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from associationabacminer_spark.operators.agg import (
    LINEAGE_SCHEMA,
    NULL_SENTINEL,
    build_sketches,
    sketch_aggregate,
    tree_merge,
)
from associationabacminer_spark.operators.sql_sketch import (
    bloom_from_sql,
    bloom_word_table,
    cms_from_sql,
    hll_from_sql,
    hll_register_table,
    key_counts,
    kll_from_sql,
    tdigest_bin_table,
    tdigest_from_sql,
    value_counts,
)
from associationabacminer_spark.operators.windowed_sketch import (
    WINDOW_LINEAGE_SCHEMA,
    rollup_windows,
    run_windowed_with_lineage,
    windowed_sketch_partials,
)
from associationabacminer_spark.plans.lineage import read_ledger, run_with_lineage
from associationabacminer_spark.sketch import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLL,
    TDigest,
)
from associationabacminer_spark.sketch.xxhash import xxh64_keys, xxh64_pair_keys
from associationabacminer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    transcripts_pdf,
    turns_per_conv,
)
from associationabacminer_spark.suite import (
    prepare_transcripts,
    sql_sketch_suite,
    transcript_specs,
)

from harness import median

# the ledger iteration is mostly fixed per-job cost: at 50k turns a run
# holds four or five of them, at 100k two or three
TARGET_TURNS = {"sketch_build": 100_000, "ledger_windowed": 50_000}
MAX_CONV_TURNS = 2_000
N_ABSENT = 20_000  # seeded keys that are not in the table (Bloom FPR)
NUM_GROUPS = 32
LOST_GROUPS = 8
WINDOW_SPECS = ("hll_conv", "cms_tool", "kll_len")
SALTS = 8
BLOOM_CAPACITY = 2_000_000  # the capacity transcript_specs and sql_sketch_suite use
QS = (0.01, 0.1, 0.5, 0.9, 0.99)
HLL_BOUND = 3 * 1.04 / np.sqrt(2**14)
TD_BOUND = 0.02  # merged t-digest rank bound (tests/test_sketch_kernels.py)
MICRO_ITEMS = 1_000_000
MICRO_REPEATS = 5
SKETCHES = ("hll", "cms", "kll", "tdigest", "bloom")


def _dir_mb_files(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size / 2**20, files


def _rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance of q from the exact rank interval of ``est`` (ties give
    an interval, not a point)."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def _imported() -> None:
    pass


def exact_answers(path: str, seed: int) -> dict:
    """Exact answers with pyarrow/numpy and the package's driver-side
    xxhash64 (bit-for-bit Spark parity), independent of Spark, and
    single-process reference states over the same key multisets: the
    distributed builds must reproduce them exactly.  The Arrow specs
    re-hash the xxhash64 key columns; the SQL builders use the xxhash64
    values directly (prehashed) / the (h1, h2) pairs."""
    tbl = pq.read_table(path)
    pdf = tbl.select(["conv_id", "turn_idx", "ts", "tool"]).to_pandas()
    conv_ids = pdf["conv_id"].unique().tolist()
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    ts_s = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6
    same = pdf["conv_id"].to_numpy()[1:] == pdf["conv_id"].to_numpy()[:-1]

    # Spark's xxhash64 is a signed long: keep the int64 view
    h1, h2 = (h.view(np.int64) for h in xxh64_pair_keys(conv_ids))
    a1, a2 = (h.view(np.int64) for h in xxh64_pair_keys([f"absent-{seed}-{i}" for i in range(N_ABSENT)]))
    keep = ~np.isin(a1, h1)
    tools = pdf["tool"].dropna().value_counts()
    tool_h = xxh64_keys(tools.index.tolist()).view(np.int64)
    tool_cnt = tools.to_numpy().astype(np.int64)

    bloom = BloomFilter.from_capacity(BLOOM_CAPACITY, 0.01)
    return {
        "turns": tbl.num_rows,
        "n_conv": len(conv_ids),
        "text_len": np.sort(pc.utf8_length(tbl["text"]).to_numpy().astype(np.float64)),
        "latency": np.sort((ts_s[1:] - ts_s[:-1])[same]),
        "h1": h1,
        "h2": h2,
        "a1": a1[keep],
        "a2": a2[keep],
        "tool_h": tool_h,
        "tool_cnt": tool_cnt,
        "ref": {
            "arrow": {
                "hll": HyperLogLog(14).update_batch(h1)._registers().copy(),
                "cms": CountMinSketch(4096, 5).update_batch(tool_h, counts=tool_cnt).table,
                "bloom": BloomFilter(bloom.m, bloom.k).update_batch(h1).words,
            },
            "sql": {
                "hll": HyperLogLog(14).update_batch(h1, prehashed=True)._registers().copy(),
                "cms": CountMinSketch(4096, 5).update_batch(tool_h, counts=tool_cnt, prehashed=True).table,
                "bloom": BloomFilter(bloom.m, bloom.k).update_pairs(h1, h2).words,
            },
        },
    }


class TranscriptBench:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.specs = transcript_specs(BLOOM_CAPACITY)
        self.wspecs = [s for s in self.specs if s.name in WINDOW_SPECS]
        rng = np.random.default_rng(ctx.seed)
        self.lost = sorted(int(g) for g in rng.choice(NUM_GROUPS, LOST_GROUPS, replace=False))

    # -- inputs and exact answers ---------------------------------------
    def conv_indices(self) -> np.ndarray:
        """Conversation indices for this seed: the first conversations of
        the seeded stream, skipping any longer than ``MAX_CONV_TURNS``,
        until the table holds the workload's ``TARGET_TURNS`` turns.  Pareto turn counts
        otherwise make the table size swing by +-20% between seeds and one
        20k-turn conversation dominate a partition."""
        target = TARGET_TURNS[self.ctx.workload]
        ids = np.arange(4 * target // 10)
        turns = turns_per_conv(ids, self.ctx.seed)
        keep = turns <= MAX_CONV_TURNS
        n = int(np.searchsorted(np.cumsum(turns[keep]), target)) + 1
        return ids[keep][:n]

    def setup_inputs(self) -> None:
        """Write the seeded transcript table the way ``generate_transcripts``
        does (a range of conversation indices mapped in pandas batches
        through ``transcripts_pdf``), over this seed's conversations.  The
        exact answers are computed in a child process, so none of their
        buffers count toward the driver's peak RSS."""
        seed = self.ctx.seed
        pool = ProcessPoolExecutor(1, mp_context=get_context("spawn"))
        # the child imports this module while Spark writes the table
        pool.submit(_imported)
        self.path = os.path.join(self.ctx.work, "transcripts")
        shutil.rmtree(self.path, ignore_errors=True)
        convs = self.conv_indices()

        def gen(batches):
            for pdf in batches:
                yield transcripts_pdf(convs[pdf["id"].to_numpy()], seed=seed)

        n_parts = self.spark.sparkContext.defaultParallelism * 2
        self.gen_df = self.spark.range(0, len(convs), numPartitions=n_parts).mapInPandas(
            gen, schema=TRANSCRIPT_SCHEMA
        )
        self.gen_df.write.parquet(self.path)
        self.df = self.spark.read.parquet(self.path)
        self.prepared = prepare_transcripts(self.df)
        self.wdf = self.df.select(
            F.xxhash64("conv_id").alias("conv_h"),
            F.when(F.col("tool").isNotNull(), F.xxhash64("tool"))
            .otherwise(F.lit(NULL_SENTINEL))
            .alias("tool_h"),
            F.length("text").cast("double").alias("text_len"),
            "ts",
        )
        with pool:
            vars(self).update(pool.submit(exact_answers, self.path, seed).result())

    # -- output checks ---------------------------------------------------
    def check(self, label: str, sk: dict, mode: str) -> None:
        """Bound and state checks on one build's merged sketches; ``mode``
        is the key-hashing convention ('arrow' or 'sql')."""
        ops, ref = self.ctx.ops, self.ref[mode]
        prehashed = mode == "sql"
        if "hll_conv" in sk:
            hll = sk["hll_conv"]
            err = abs(hll.estimate() - self.n_conv) / self.n_conv
            ops.check(f"{label}.hll_bound", err <= HLL_BOUND, f"rel err {err:.4f}")
            ops.check(f"{label}.hll_state", np.array_equal(hll._registers(), ref["hll"]))
        if "cms_tool" in sk:
            cms = sk["cms_tool"]
            est = cms.query(self.tool_h, prehashed=prehashed)
            over = est - self.tool_cnt
            ops.check(f"{label}.cms_no_under", bool((over >= 0).all()), f"min {over.min()}")
            limit = cms.eps * self.tool_cnt.sum()
            ops.check(f"{label}.cms_eps_n", bool((over <= limit).all()), f"max {over.max()} > {limit:.1f}")
            ops.check(f"{label}.cms_state", np.array_equal(cms.table, ref["cms"]))
        if "kll_len" in sk:
            kll = sk["kll_len"]
            worst = max(_rank_error(self.text_len, kll.quantile(q), q) for q in QS)
            ops.check(f"{label}.kll_rank", worst <= 2 * kll.rank_error, f"{worst:.4f}")
        if "td_latency" in sk:
            td = sk["td_latency"]
            worst = max(_rank_error(self.latency, td.quantile(q), q) for q in QS)
            ops.check(f"{label}.td_rank", worst <= TD_BOUND, f"{worst:.4f}")
        if "bloom_conv" in sk:
            bf = sk["bloom_conv"]
            if prehashed:
                present, absent = bf.contains_pairs(self.h1, self.h2), bf.contains_pairs(self.a1, self.a2)
            else:
                present, absent = bf.contains(self.h1), bf.contains(self.a1)
            ops.check(f"{label}.bloom_no_fn", bool(present.all()), f"{(~present).sum()} FN")
            fpr = float(absent.mean())
            ops.check(f"{label}.bloom_fpr", fpr <= 0.01, f"fpr {fpr:.4f}")
            ops.check(f"{label}.bloom_state", np.array_equal(bf.words, ref["bloom"]))

    def check_rolled(self, label: str, rows) -> None:
        """The 30-day rollup merged over its windows must equal the whole
        table's sketches: row counts, HLL/CMS state, KLL rank bound."""
        ops = self.ctx.ops
        merged, counts = {}, {}
        deser = {s.name: s.kernel_cls.deserialize for s in self.wspecs}
        for r in sorted(rows, key=lambda r: (r["sketch_name"], r["window_start"])):
            k = deser[r["sketch_name"]](bytes(r["sketch"]))
            name = r["sketch_name"]
            merged[name] = type(k).merge(merged[name], k) if name in merged else k
            counts[name] = counts.get(name, 0) + r["row_count"]
        want = {"hll_conv": self.turns, "kll_len": self.turns, "cms_tool": int(self.tool_cnt.sum())}
        ops.check(f"{label}.row_counts", counts == want, f"{counts} vs {want}")
        self.check(label, merged, "arrow")

    # -- composite calls -------------------------------------------------
    def arrow_build(self) -> dict:
        return sketch_aggregate(self.prepared, self.specs, method="map")

    def sql_build(self) -> dict:
        return sql_sketch_suite(self.df, self.prepared, warm=False)[0]

    def ledger_path(self, tag: str) -> str:
        return os.path.join(self.ctx.work, f"ledger-{tag}")

    def run_ledger(self, tag: str, metrics: dict | None = None) -> dict:
        """Build the ledger, or resume it when one exists."""
        return run_with_lineage(
            self.prepared, self.specs, self.ledger_path(tag), NUM_GROUPS, metrics_out=metrics
        )

    def fresh_ledger(self, tag: str) -> dict:
        shutil.rmtree(self.ledger_path(tag), ignore_errors=True)
        return self.run_ledger(tag)

    def lose_groups(self, tag: str) -> int:
        """Rewrite the ledger without the seeded lost groups; returns the
        rows those groups had folded."""
        build = os.path.join(self.ledger_path(tag), "build")
        tbl = pq.read_table(build)
        lost = pc.is_in(tbl["group_id"], value_set=pc.cast(self.lost, tbl.schema.field("group_id").type))
        removed = int(pc.sum(tbl.filter(lost)["row_count"]).as_py())
        shutil.rmtree(build)
        os.makedirs(build)
        pq.write_table(tbl.filter(pc.invert(lost)), os.path.join(build, "part-00000.parquet"))
        return removed

    def windowed_build(self, tag: str) -> list:
        path = os.path.join(self.ctx.work, f"windowed-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        daily = run_windowed_with_lineage(self.wdf, self.wspecs, path, salts=SALTS)
        return rollup_windows(daily, self.wspecs, 30).collect()

    def check_resume(self, label: str, fresh: dict, resumed: dict) -> None:
        for name in fresh:
            self.ctx.ops.check(
                f"{label}.resume_bytes.{name}",
                fresh[name].serialize() == resumed[name].serialize(),
            )

    # -- per-layer decomposition (traced runs) ---------------------------
    def layers(self) -> dict[str, float]:
        ctx, spark = self.ctx, self.spark
        span, ops = ctx.tracer.span, ctx.ops
        m: dict[str, float] = {}

        def timed(name, fn):
            with span(name):
                out, dt = ops.call(name, fn)
            if dt is not None:
                m[name] = dt
            return out

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        timed(
            "sources.generate_s",
            lambda: noop(self.gen_df),
        )
        timed("sources.scan_s", lambda: noop(spark.read.parquet(self.path)))
        timed("suite.prepare_s", lambda: noop(self.prepared))

        # operators.agg: the map build collected, then the merge over the
        # materialized lineage
        rows = timed("agg.build_s", lambda: build_sketches(self.prepared, self.specs, method="map").collect())
        if rows is not None:
            lineage = spark.createDataFrame(rows, LINEAGE_SCHEMA)
            lineage.count()
            merged = timed("agg.merge_s", lambda: tree_merge(lineage, self.specs))
            if merged is not None:
                self.check("agg", merged, "arrow")
            m["agg.partials"] = len(rows)
            for s in self.specs:
                mine = [r for r in rows if r["sketch_name"] == s.name]
                m[f"agg.kernel_s.{s.name}"] = sum(r["wall_time_s"] for r in mine)
                m[f"agg.state_kb.{s.name}"] = sum(len(r["sketch"]) for r in mine) / 1024

        m.update(self.kernel_micro())

        # operators.sql_sketch: each builder alone, serially, in this thread
        lens = self.df.select(F.length("text").cast("double").alias("text_len"))
        lat = self.prepared.select("latency_s")
        bloom = BloomFilter.from_capacity(BLOOM_CAPACITY, 0.01)
        solo = {
            "hll": (lambda: hll_from_sql(self.df, "conv_id", 14), lambda: hll_register_table(self.df, "conv_id", 14)),
            "cms": (lambda: cms_from_sql(self.df, "tool", 4096, 5), lambda: key_counts(self.df, "tool")),
            "kll": (lambda: kll_from_sql(lens, "text_len", 200), lambda: value_counts(lens, "text_len")),
            "tdigest": (lambda: tdigest_from_sql(lat, "latency_s", 200.0), lambda: tdigest_bin_table(lat, "latency_s")),
            "bloom": (
                lambda: bloom_from_sql(self.df, "conv_id", bloom.m, bloom.k),
                lambda: bloom_word_table(self.df, "conv_id", bloom.m, bloom.k),
            ),
        }
        names = {"hll": "hll_conv", "cms": "cms_tool", "kll": "kll_len", "tdigest": "td_latency", "bloom": "bloom_conv"}
        for key, (build, table) in solo.items():
            sk = timed(f"sql_sketch.{key}_s", build)
            if sk is not None:
                self.check(f"sql_sketch.{key}", {names[key]: sk}, "sql")
            m[f"sql_sketch.{key}_rows_out"] = table().count()
        sk = timed("sql_sketch.suite_s", self.sql_build)
        if sk is not None and all(f"sql_sketch.{k}_s" in m for k in solo):
            self.check("sql_sketch.suite", sk, "sql")
            m["sql_sketch.overlap"] = sum(m[f"sql_sketch.{k}_s"] for k in solo) / m["sql_sketch.suite_s"]

        # plans.lineage
        tag = "layers"
        fresh = timed("lineage.build_s", lambda: self.fresh_ledger(tag))
        m["lineage.ledger_mb"], m["lineage.ledger_files"] = _dir_mb_files(self.ledger_path(tag))
        removed = self.lose_groups(tag)
        res_metrics: dict = {}
        resumed = timed("lineage.resume_s", lambda: self.run_ledger(tag, res_metrics))
        if fresh is not None and resumed is not None:
            self.check_resume("lineage", fresh, resumed)
            m["lineage.refold_ratio"] = res_metrics["rows_processed"] / removed
            m["lineage.resume_cost_ratio"] = m["lineage.resume_s"] / m["lineage.build_s"]
        timed(
            "lineage.merge_s",
            lambda: tree_merge(read_ledger(spark, self.ledger_path(tag)).drop("run_id"), self.specs, n_states=NUM_GROUPS),
        )

        # operators.windowed_sketch
        parts = windowed_sketch_partials(self.wdf, self.wspecs, "ts", "1 day", "1 day", SALTS)
        timed("windowed.partials_s", lambda: noop(parts))
        path = os.path.join(ctx.work, "windowed-layers")
        shutil.rmtree(path, ignore_errors=True)
        daily = timed(
            "windowed.build_s",
            lambda: run_windowed_with_lineage(self.wdf, self.wspecs, path, salts=SALTS).collect(),
        )
        wl = os.path.join(path, "windowed_build")
        m["windowed.ledger_mb"] = _dir_mb_files(wl)[0]
        m["windowed.partials"] = pq.read_table(wl, columns=["salt"]).num_rows
        if daily is not None:
            daily_df = spark.createDataFrame(daily, WINDOW_LINEAGE_SCHEMA)
            daily_df.count()
            rolled = timed("windowed.rollup_s", lambda: rollup_windows(daily_df, self.wspecs, 30).collect())
            if rolled is not None:
                self.check_rolled("windowed", rolled)
        return m

    def kernel_micro(self) -> dict[str, float]:
        """Driver-side kernel costs on one seeded 1M-item array drawn from
        the workload's own columns: update per item, merge, serde."""
        rng = np.random.default_rng(self.ctx.seed)
        cols = {
            "hll": self.h1,
            "cms": np.repeat(self.tool_h, self.tool_cnt),
            "kll": self.text_len,
            "tdigest": self.latency,
            "bloom": self.h1,
        }
        make = {
            "hll": lambda: HyperLogLog(14),
            "cms": lambda: CountMinSketch(4096, 5),
            "kll": lambda: KLL(k=200),
            "tdigest": lambda: TDigest(delta=200),
            "bloom": lambda: BloomFilter.from_capacity(BLOOM_CAPACITY, 0.01),
        }
        m: dict[str, float] = {}
        for name in SKETCHES:
            vals = rng.choice(cols[name], MICRO_ITEMS)
            with self.ctx.tracer.span(f"sketch.{name}"):
                t0 = time.perf_counter()
                whole = make[name]().update_batch(vals)
                m[f"sketch.{name}.update_ns"] = (time.perf_counter() - t0) / MICRO_ITEMS * 1e9
                a = make[name]().update_batch(vals[::2])
                b = make[name]().update_batch(vals[1::2])
                cls = type(whole)
                merge_t, serde_t = [], []
                for _ in range(MICRO_REPEATS):
                    t0 = time.perf_counter()
                    cls.merge(a, b)
                    merge_t.append(time.perf_counter() - t0)
                    t0 = time.perf_counter()
                    cls.deserialize(whole.serialize())
                    serde_t.append(time.perf_counter() - t0)
                m[f"sketch.{name}.merge_us"] = median(merge_t) * 1e6
                m[f"sketch.{name}.serde_us"] = median(serde_t) * 1e6
        return m
