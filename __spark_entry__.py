"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The implementation lives in ``associationabacminer_spark`` (see
SURVEY.md §2 for the operator inventory each query exercises).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full distributed
    sketch suite (HLL distinct, CMS heavy hitters, KLL/t-digest
    quantiles, Bloom membership) built by the sorted-stream fold
    (mapInPandas partial builds, then a tree merge), each estimate
    self-checked against its exact answer and published bound."""
    import associationabacminer_spark.queries as Q

    sf_dir = "/root/testdata/sf0.001"
    parts = [
        Q.QUERIES["q53_transcript_flagship"](spark, sf_dir),
        Q.QUERIES["s38_hll_distinct"](spark, sf_dir),
        Q.QUERIES["s39_cms_heavy_hitters"](spark, sf_dir),
        Q.QUERIES["s40_kll_quantiles"](spark, sf_dir),
        Q.QUERIES["s41_tdigest_latency"](spark, sf_dir),
        Q.QUERIES["s42_bloom_membership"](spark, sf_dir),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import associationabacminer_spark.queries as Q

    return Q.queries()


def oracle_sql() -> dict[str, str]:
    import associationabacminer_spark.queries as Q

    return Q.oracle_sql()
