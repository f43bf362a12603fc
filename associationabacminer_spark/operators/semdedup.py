"""SemDeDup-style semantic deduplication: coarse k-means clustering over
an embedding column, exact cosine pairs WITHIN each cluster only, then a
connected-components pass so each semantic-duplicate group keeps exactly
one representative (Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", 2023 — public method).

Reference analog: the exact-duplicate collapse of the sha1-keyed 'unique
logs' index (/root/reference/src/model/EnvLogUniverseGenerator.py:84-104),
generalized from byte equality to embedding-cosine equality.

Scale shape:
  * Clustering reuses the IVF coarse quantizer
    (similarity.train_ivf_centroids): a bounded driver-side sample trains
    a tiny (k x d) centroid matrix; assignment is one numpy matmul per
    Arrow batch — no Spark ML fit over the full corpus, no iterative
    distributed job.
  * The pair join is an equi-join on cluster id, so candidate pairs are
    sum(c_i^2) over cluster sizes, never n^2.  n_clusters is the cost
    dial: at N vectors pick n_clusters ~ N / target_cluster_size; the
    paper uses ~100k clusters at web scale.
  * The caller closes duplicate groups transitively with the
    large-star/small-star components operator
    (components.assign_components, as q70 does) — a group spanning
    many rows never materializes in one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.operators.similarity import (
    _nearest_centroids_udf,
    cosine,
    train_ivf_centroids,
)


def cluster_assign(
    df: DataFrame,
    vec_col: str,
    n_clusters: int = 16,
    seed: int = 42,
) -> DataFrame:
    """df + ``cluster`` column: nearest coarse centroid by cosine."""
    centers = train_ivf_centroids(df, vec_col, n_clusters, seed)
    assign1 = _nearest_centroids_udf(centers, 1)
    return df.withColumn("cluster", assign1(F.col(vec_col))[0])


def semdedup_pairs(
    clustered: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    collapse_identical: bool = True,
) -> DataFrame:
    """(id_a, id_b, cos) semantic-duplicate pairs within clusters
    (id_a < id_b, cos >= threshold).

    ``collapse_identical`` (default on) is the hot-cluster guard: the
    degenerate cluster a dup-heavy corpus actually produces is "most
    rows are byte-identical embeddings", and byte-identical vectors in
    one cluster would otherwise emit c^2 pairs in a single task.  With
    the guard, rows are first grouped by the exact vector value (an
    equi-groupBy, no hashing collision risk), each identical group links
    to its min-id representative with linear star edges (cos exactly
    1.0 >= any threshold), and the quadratic pair join runs over the
    DISTINCT vectors only.  Transitive closure through the
    representative reaches every pair the all-pairs join would have
    found, so downstream components/survivors are unchanged.  Clusters
    that are hot with genuinely distinct near-dup vectors remain the
    documented n_clusters cost dial."""
    if collapse_identical:
        reps = clustered.groupBy("cluster", vec_col).agg(
            F.min(id_col).alias("_rep")
        )
        withrep = clustered.join(reps, ["cluster", vec_col])
        # rep is the group min, so rep < member for every non-rep member
        star = (
            withrep.filter(F.col(id_col) != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(1.0).alias("cos"),
            )
        )
        distinct_rows = reps.select(
            "cluster", F.col("_rep").alias(id_col), F.col(vec_col)
        )
        a = distinct_rows.select(
            "cluster", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        )
        b = distinct_rows.select(
            "cluster", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        )
    else:
        star = None
        a = clustered.select(
            "cluster", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        )
        b = clustered.select(
            "cluster", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
    return pairs if star is None else pairs.unionByName(star)


def diversity_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_per_cluster: int,
    n_clusters: int = 16,
    seed: int = 42,
    salt: str = "",
) -> DataFrame:
    """Embedding-diversity downsampling: cluster the corpus with the
    coarse quantizer, then keep a deterministic md5-order quota per
    cluster — a cheap, fully-distributed stand-in for k-center selection
    that guarantees every region of embedding space keeps representation
    instead of letting dense regions dominate a uniform sample."""
    from associationabacminer_spark.operators.sampling import quota_sample

    clustered = cluster_assign(df, vec_col, n_clusters, seed)
    return quota_sample(clustered, "cluster", id_col, n_per_cluster, salt).drop(
        "cluster"
    )
