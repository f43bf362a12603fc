"""The flagship transcript sketch suite: the five north-star sketches over
the input_hint table, with the measured at-scale plan shape
(slim-before-shuffle, JVM-side key hashing, zero-shuffle map build).
Shared by bench.py, perfbench and tests."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from associationabacminer_spark.operators.agg import NULL_SENTINEL, SketchSpec
from associationabacminer_spark.sketch import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLL,
    TDigest,
)


def prepare_transcripts(df: DataFrame) -> DataFrame:
    """Slim the transcript table BEFORE the conv window exchange: keys
    hashed JVM-side (xxhash64), text reduced to its length — the shuffle
    then moves ~36 B/row instead of raw text (~200 B/row)."""
    slim = df.select(
        F.xxhash64("conv_id").alias("conv_h"),
        F.when(F.col("tool").isNotNull(), F.xxhash64("tool"))
        .otherwise(F.lit(NULL_SENTINEL))
        .alias("tool_h"),
        F.length("text").cast("double").alias("text_len"),
        "turn_idx",
        F.col("ts").cast("timestamp").cast("double").alias("ts_s"),
    )
    w = Window.partitionBy("conv_h").orderBy("turn_idx")
    return slim.withColumn(
        "latency_s", F.col("ts_s") - F.lag("ts_s").over(w)
    ).select("conv_h", "tool_h", "text_len", "latency_s")


def transcript_specs(bloom_capacity: int = 2_000_000) -> list[SketchSpec]:
    """HLL distinct conv, CMS tool frequencies, KLL turn-length quantiles,
    t-digest inter-turn latency quantiles, Bloom conv membership.  Key
    columns are already xxhash64 values from ``prepare_transcripts``;
    driver-side query keys go through sketch.xxhash.xxh64_keys."""
    return [
        SketchSpec("hll_conv", HyperLogLog, "conv_h", kernel_cls=HyperLogLog),
        SketchSpec(
            "cms_tool",
            lambda: CountMinSketch(width=4096, depth=5),
            "tool_h",
            kernel_cls=CountMinSketch,
            null_value=NULL_SENTINEL,
        ),
        SketchSpec("kll_len", lambda: KLL(k=200), "text_len", kernel_cls=KLL),
        SketchSpec(
            "td_latency", lambda: TDigest(delta=200), "latency_s", kernel_cls=TDigest
        ),
        SketchSpec(
            "bloom_conv",
            lambda: BloomFilter.from_capacity(bloom_capacity, 0.01),
            "conv_h",
            kernel_cls=BloomFilter,
        ),
    ]


def sql_sketch_suite(df: DataFrame, prepared: DataFrame, warm: bool = True):
    """The five-sketch FULL-SQL build (every kernel reduced JVM-side;
    zero Python in the row path), shared by bench.py and perfbench so the
    two benchmarks can never desynchronize.  Returns (sketches dict,
    seconds of the timed build).

    ``warm`` pre-runs every pipeline on a 100k slice so whole-stage
    codegen/JIT compile (a per-pipeline constant) stays out of the timed
    section, and the t-digest latency window — the critical path — is
    submitted first so its queueing delay is not the makespan tail."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from associationabacminer_spark.operators.sql_sketch import (
        bloom_from_sql,
        cms_from_sql,
        hll_from_sql,
        kll_from_sql,
        tdigest_from_sql,
    )

    bloom_shape = BloomFilter.from_capacity(2_000_000, 0.01)
    lens = df.select(F.length("text").cast("double").alias("text_len"))
    lat = prepared.select("latency_s")
    if warm:
        sample = df.limit(100_000)
        sample_prep = prepare_transcripts(sample).select("latency_s")
        kll_from_sql(
            sample.select(F.length("text").cast("double").alias("text_len")),
            "text_len",
        )
        tdigest_from_sql(sample_prep, "latency_s", 200.0)
        hll_from_sql(sample, "conv_id", 14)
        cms_from_sql(sample, "tool", 4096, 5)
        bloom_from_sql(sample, "conv_id", bloom_shape.m, bloom_shape.k)
    t0 = _time.perf_counter()
    with ThreadPoolExecutor(5) as pool:
        f_td = pool.submit(tdigest_from_sql, lat, "latency_s", 200.0)
        f_bloom = pool.submit(
            bloom_from_sql, df, "conv_id", bloom_shape.m, bloom_shape.k
        )
        f_kll = pool.submit(kll_from_sql, lens, "text_len", 200)
        f_hll = pool.submit(hll_from_sql, df, "conv_id", 14)
        f_cms = pool.submit(cms_from_sql, df, "tool", 4096, 5)
        sketches = {
            "hll_conv": f_hll.result(),
            "cms_tool": f_cms.result(),
            "bloom_conv": f_bloom.result(),
            "kll_len": f_kll.result(),
            "td_latency": f_td.result(),
        }
    return sketches, _time.perf_counter() - t0
