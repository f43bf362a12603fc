"""Statistics / feature-selection operators (SURVEY.md §2.12 E-family).

The reference runs these offline with sklearn/skfeature over collected
matrices (/root/reference/src/experiment/FeatureSelector.py,
SeparatedVarianceSelector.py); here they are distributed DataFrame
programs (crosstab, functional-dependency strength) that never collect
raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.functions.normalize import arn_resource_type


def value_crosstab(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Co-occurrence counts (E5 functional-dependency mining input,
    /root/reference/src/experiment/SeparatedVarianceSelector.py:134-252).
    A plain groupBy — scales where ``df.stat.crosstab``'s wide pivot
    would not (output rows = observed pairs, not |A| x |B|)."""
    return df.groupBy(col_a, col_b).agg(F.count("*").alias("cnt"))


def functional_dependency_strength(
    df: DataFrame, det: str, dep: str
) -> DataFrame:
    """For each determinant value: does it imply a single dependent value?
    strength = max per-group count / group total (1.0 = functional)."""
    pair = df.groupBy(det, dep).agg(F.count("*").alias("cnt"))
    agg = pair.groupBy(det).agg(
        F.max("cnt").alias("mx"), F.sum("cnt").alias("total")
    )
    return agg.select(
        det,
        F.round(F.col("mx") / F.col("total"), 6).alias("strength"),
        F.col("total").alias("n_rows"),
    )


def dedup_summaries_by_beta(
    df: DataFrame,
    beta_col: str = "beta",
    order_cols: tuple[str, ...] = ("itemset_limit",),
) -> DataFrame:
    """T7: deduplicate experiment summaries keeping one row per beta —
    the reference stable-sorts by itemset_limit then beta and keeps the
    first summary seen per beta (/root/reference/src/job/AUCPrinter.py:9-19).
    Distributed equivalent: row_number over (beta) ordered by the same
    keys; ``order_cols`` must end in a unique tiebreaker for determinism."""
    from pyspark.sql import Window

    w = Window.partitionBy(beta_col).orderBy(*[F.asc(c) for c in order_cols])
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def multi_resource_type_counts(df: DataFrame, arns_col: str) -> DataFrame:
    """E8: events-with-multiple-resources-of-same-type counting
    (/root/reference/src/experiment/MultipleResourceCounter.py:14-33).
    ``arns_col`` is an array<string> of ARNs; the resource type is
    parsed per element with the N10 codec (``normalize.arn_resource_type``).
    Pure Catalyst (transform/array_distinct) — one pass, one 1-row
    aggregate, no Python in the row path."""
    types = F.transform(F.col(arns_col), arn_resource_type)
    n_res = F.size(F.col(arns_col))
    n_types = F.size(F.array_distinct(types))
    return df.select(
        n_res.alias("n_res"), (n_res - n_types).alias("n_dup_type")
    ).agg(
        F.count("*").cast("bigint").alias("events"),
        F.sum((F.col("n_res") > 0).cast("int")).cast("bigint").alias("events_w_resources"),
        F.sum("n_dup_type").cast("bigint").alias("multiple_same_type"),
    )


def deterministic_mask(df: DataFrame, cols: list[str], salt: str = "") -> DataFrame:
    """S8 anonymizer: deterministic masking rewrite — uuid/IP mapping in
    the reference (/root/reference/src/event_anonymizer.py:54-108) becomes
    a keyed sha2 rewrite (same input -> same pseudonym, no lookup table)."""
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.sha2(F.concat_ws("\x1f", F.lit(salt), F.col(c).cast("string")), 256)
        )
    return out


def relation_fd_strength(df: DataFrame, det: str, dep: str) -> DataFrame:
    """Whole-relation functional-dependency strength of det -> dep:
    sum over determinant values of the majority dependent count, divided
    by total rows (1.0 = exactly functional).  One row out."""
    pair = df.groupBy(det, dep).agg(F.count("*").alias("cnt"))
    per_det = pair.groupBy(det).agg(
        F.max("cnt").alias("mx"), F.sum("cnt").alias("total")
    )
    return per_det.agg(
        F.lit(det).alias("det"),
        F.lit(dep).alias("dep"),
        F.round(F.sum("mx") / F.sum("total").cast("double"), 6).alias("strength"),
    )


def service_op_resource_types(
    df: DataFrame,
    source_col: str,
    op_col: str,
    arns_col: str,
    error_col: str | None = None,
) -> DataFrame:
    """A14: the service -> operation -> resource-type-combination map
    (ResourceTypePopulator.py:13-47): skip error events, service is the
    first dot-segment of the event source, each event contributes the
    '_'-joined sorted set of distinct ARN resource types ('None' when
    the event carries no resources), and the output is the DISTINCT
    (service, op, type_combo) triples.

    The reference builds this as a driver-side nested dict over a full
    Mongo scan; here it is one projection + distinct — the combo string
    is computed per row with Catalyst array lambdas (no Python), and the
    only shuffle is the distinct on the (tiny) triple space."""
    base = df if error_col is None else df.filter(F.col(error_col).isNull())
    types = F.transform(
        F.col(arns_col), lambda a: F.split(F.split(a, ":")[5], "/")[0]
    )
    combo = F.when(
        F.size(F.col(arns_col)) > 0,
        F.array_join(F.array_sort(F.array_distinct(types)), "_"),
    ).otherwise(F.lit("None"))
    return base.select(
        F.split(F.col(source_col), r"\.")[0].alias("service"),
        F.col(op_col).alias("op"),
        combo.alias("type_combo"),
    ).distinct()
