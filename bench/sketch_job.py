"""Standalone sketch-build job for spark-submit — the scaling-efficiency
workload (BASELINE.json north_rule: same job at two parallelism levels).

Usage:
    zip -r /tmp/pkg.zip associationabacminer_spark
    spark-submit --master local[8] --py-files /tmp/pkg.zip \
        bench/sketch_job.py --data /root/repo/.synth/bench_transcripts \
        --groups 64 --out /tmp/result8.json

Builds the full five-sketch suite (HLL conv_id, CMS tool, KLL text_len,
t-digest inter-turn latency, Bloom conv_id) over the transcript table via
the sorted-stream fold (mapInPandas partial builds, then a tree merge),
and reports turns/sec.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--groups", type=int, default=64)
    ap.add_argument("--mode", choices=["arrow", "hybrid", "sql"], default="sql")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession, Window
    from pyspark.sql import functions as F

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from associationabacminer_spark.operators.agg import sketch_aggregate
    from associationabacminer_spark.operators.sql_sketch import (
        bloom_from_sql,
        cms_from_sql,
        hll_from_sql,
        kll_from_sql,
        tdigest_from_sql,
    )
    from associationabacminer_spark.sketch import BloomFilter
    from associationabacminer_spark.suite import (
        prepare_transcripts,
        transcript_specs,
    )

    df = spark.read.parquet(args.data)
    prepared = prepare_transcripts(df)

    n_rows = df.count()  # warms the file-listing/footer caches
    if args.mode == "sql":
        # EVERY sketch reduces JVM-side in whole-stage codegen — shared
        # implementation with bench.py (suite.sql_sketch_suite) so the
        # headline and scaling benchmarks cannot desynchronize.
        from associationabacminer_spark.suite import sql_sketch_suite

        sketches, elapsed = sql_sketch_suite(df, prepared)
    elif args.mode == "hybrid":
        # every key sketch (HLL, CMS, Bloom) reduces JVM-side in
        # whole-stage codegen; the Arrow boundary carries ONLY the two
        # float columns (text_len, latency_s) for KLL/t-digest.
        arrow_specs = [
            s for s in transcript_specs() if s.name in ("kll_len", "td_latency")
        ]
        bloom_shape = BloomFilter.from_capacity(2_000_000, 0.01)
        sketch_aggregate(prepared.limit(500_000), arrow_specs, method="map")  # warm
        # the builds are independent Spark jobs: submit from threads so
        # the scheduler overlaps their stages
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.perf_counter()
        with ThreadPoolExecutor(4) as pool:
            f_arrow = pool.submit(
                sketch_aggregate, prepared, arrow_specs, method="map"
            )
            f_hll = pool.submit(hll_from_sql, df, "conv_id", 14)
            f_cms = pool.submit(cms_from_sql, df, "tool", 4096, 5)
            f_bloom = pool.submit(
                bloom_from_sql, df, "conv_id", bloom_shape.m, bloom_shape.k
            )
            sketches = f_arrow.result()
            sketches["hll_conv"] = f_hll.result()
            sketches["cms_tool"] = f_cms.result()
            sketches["bloom_conv"] = f_bloom.result()
        elapsed = time.perf_counter() - t0
    else:
        specs = transcript_specs()
        # steady-state: warm Python workers / JIT / codegen on a LIMIT
        # sample (different plan — nothing reusable), then time the build
        sketch_aggregate(prepared.limit(500_000), specs, method="map")
        t0 = time.perf_counter()
        sketches = sketch_aggregate(prepared, specs, method="map")
        elapsed = time.perf_counter() - t0

    result = {
        "rows": n_rows,
        "seconds": round(elapsed, 3),
        "turns_per_sec": round(n_rows / elapsed, 1),
        "parallelism": spark.sparkContext.defaultParallelism,
        "hll_estimate": round(sketches["hll_conv"].estimate(), 1),
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f)
    spark.stop()


if __name__ == "__main__":
    main()
