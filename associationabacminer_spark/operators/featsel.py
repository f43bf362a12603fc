"""Distributed per-dimension feature ranking over an embedding column —
the E2 family the reference runs driver-side with skfeature over a
collected sample (/root/reference/src/experiment/FeatureSelector.py:128-237:
lap_score / SPEC / UDFS / MCFS / NDFS / low_variance rankings).

The reference's approach (collect a matrix, call a single-node library)
cannot move to 100 TB; these are the same published scores re-derived as
pure DataFrame aggregations:

* ``variance_ranking`` — skfeature's low_variance: per-dimension
  population variance, one aggregation pass.
* ``laplacian_score`` — He, Cai & Niyogi, "Laplacian Score for Feature
  Selection" (NIPS 2005).  For feature r over affinity S:

      L_r = f̃_rᵀ L f̃_r / f̃_rᵀ D f̃_r,   f̃_r = f_r − (f_rᵀD·1)/(1ᵀD·1)

  with f̃ᵀLf̃ = ½·Σ_ij S_ij (f_ri − f_rj)².  The affinity is supervised,
  S_ij = 1 iff ``label_col`` matches: the pair term collapses
  algebraically per class C to n_C·Σf² − (Σf)², so the WHOLE score is
  one groupBy(class) pass + one global agg — no pair join exists at any
  scale.  (With this S, ranking by 1−L_r is the Fisher criterion — the
  paper's §4 connection.)

All math is posexplode + groupBy on (dim) — 64 output rows per ranking,
JVM-side throughout, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dims(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dim, val) — one row per vector element, dim 0-based."""
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(vec_col).alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))


def variance_ranking(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(dim, variance) per embedding dimension, descending = most
    informative under the low_variance criterion."""
    return (
        _dims(df, id_col, vec_col)
        .groupBy("dim")
        .agg(F.round(F.var_pop("val"), 6).alias("variance"))
    )


def laplacian_score(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """(dim, lap_score) per embedding dimension; smaller = better
    locality preservation (select ascending)."""
    lab = df.select(F.col(id_col).alias("id"), F.col(label_col).alias("lab"))
    vals = _dims(df, id_col, vec_col).join(lab, "id")
    # per (class, dim): n, sum f, sum f^2  ->  pair term & degrees
    cls = vals.groupBy("lab", "dim").agg(
        F.count("*").alias("n"),
        F.sum("val").alias("s1"),
        F.sum(F.col("val") * F.col("val")).alias("s2"),
    )
    per_dim = cls.groupBy("dim").agg(
        # Σ_C [ n_C Σf² − (Σf)² ]  == Σ_{i<j, same C} (f_i − f_j)²
        F.sum(F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")).alias("num"),
        # degree-weighted sums with D_i = (n_C − 1)
        F.sum((F.col("n") - 1) * F.col("s1")).alias("d1"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("d2"),
        F.sum((F.col("n") - 1) * F.col("n")).alias("dtot"),
    )
    return per_dim.select(
        "dim",
        F.round(
            F.col("num") / (F.col("d2") - F.col("d1") * F.col("d1") / F.col("dtot")),
            6,
        ).alias("lap_score"),
    )


def fisher_score(
    df: DataFrame, id_col: str, vec_col: str, label_col: str
) -> DataFrame:
    """(dim, fisher) per embedding dimension — the supervised Fisher
    criterion Σ_c n_c (μ_c − μ)² / Σ_c n_c σ_c², larger = better class
    separation (skfeature's fisher_score, the third data-parallel member
    of the E2 ranking family after lap_score/low_variance;
    /root/reference/src/experiment/FeatureSelector.py:128-237 is the
    reference's offline analog).

    One posexplode + two hash aggregations — per-(class, dim) moments
    then a per-dim combine; nothing driver-side, no n x n structures."""
    dims = _dims(df, id_col, vec_col)
    lab = df.select(F.col(id_col).alias("id"), F.col(label_col).alias("lab"))
    cls = (
        dims.join(lab, "id")
        .groupBy("lab", "dim")
        .agg(
            F.count("*").alias("n"),
            F.avg("val").alias("mu"),
            F.var_pop("val").alias("var"),
        )
    )
    per_dim = cls.groupBy("dim").agg(
        F.sum(F.col("n") * F.col("mu")).alias("sw_mu"),
        F.sum("n").alias("n_tot"),
        F.sum(F.col("n") * F.col("mu") * F.col("mu")).alias("sw_mu2"),
        F.sum(F.col("n") * F.col("var")).alias("within"),
    )
    # between-class scatter: Σ n_c μ_c² − n μ²  (μ = Σ n_c μ_c / n)
    return per_dim.select(
        "dim",
        F.round(
            (F.col("sw_mu2") - F.col("sw_mu") * F.col("sw_mu") / F.col("n_tot"))
            / F.col("within"),
            6,
        ).alias("fisher"),
    )
