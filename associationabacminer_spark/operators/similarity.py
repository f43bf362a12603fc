"""Similarity search over an embedding column (array<float>):
brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH-bucketed variant as the scale path.

All vector math is built-in higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, no Python UDFs.  The LSH hyperplanes are a
deterministic seeded numpy matrix shipped as column literals (they are
tiny: planes x dims), so bucketing is also pure Spark.

Scale notes: brute-force is a broadcast nested-loop join — fine when the
query side is small and the corpus is scanned once; for corpus x corpus
at 10^9+ vectors use ``ann_lsh_topk`` whose only wide op is an equi-join
on the bucket key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from associationabacminer_spark.operators.dedup import bucket_pairs


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    queries is broadcast (small side); ties break on neighbor id for
    determinism.  Self-matches (same id) are excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cos"),
            F.col("rk").alias("rank"),
        )
    )


def hyperplanes(dims: int, planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplane matrix (planes x dims)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dims))


def bucket_expr(vec_col: str, hp: np.ndarray) -> Column:
    """Sign-bit bucket id: bit j = 1 iff dot(vec, hp[j]) >= 0."""
    bucket = F.lit(0).cast("long")
    for j in range(hp.shape[0]):
        plane = F.array(*[F.lit(float(v)) for v in hp[j]])
        bit = F.when(dot(F.col(vec_col), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        bucket = bucket * 2 + bit
    return bucket


def probe_buckets_expr(vec_col: str, hp: np.ndarray, nprobe: int) -> Column:
    """Multi-probe bucket list (Lv et al., VLDB 2007): the base sign-bit
    bucket plus the buckets reached by flipping the ``nprobe - 1``
    LOWEST-MARGIN hyperplane bits — the planes the vector is nearest to,
    i.e. where a true neighbor most plausibly lands on the other side.
    Pure Catalyst expressions: per-plane dots -> (|margin|, plane)
    structs -> array_sort -> XOR flips."""
    planes = hp.shape[0]
    dots = [
        dot(F.col(vec_col), F.array(*[F.lit(float(v)) for v in hp[j]]))
        for j in range(planes)
    ]
    base = F.lit(0).cast("long")
    for j in range(planes):
        base = base * 2 + F.when(dots[j] >= 0, F.lit(1)).otherwise(F.lit(0))
    if nprobe <= 1:
        return F.array(base)
    margins = F.array_sort(
        F.array(*[
            F.struct(F.abs(dots[j]).alias("m"), F.lit(j).alias("j"))
            for j in range(planes)
        ])
    )
    flips = F.slice(margins, 1, min(nprobe - 1, planes))
    flipped = F.transform(
        flips,
        # shiftleft() needs a literal shift; 2^(planes-1-j) is exact in
        # double for any sane plane count
        lambda s: base.bitwiseXOR(
            F.pow(F.lit(2.0), (F.lit(planes - 1) - s["j"]).cast("double"))
            .cast("long")
        ),
    )
    return F.concat(F.array(base), flipped)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 6,
    seed: int = 42,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane bucket
    (or one of its ``nprobe`` multi-probe buckets), then exact cosine
    re-rank.  Recall is tested against ``brute_force_topk``
    (tests/test_operators.py); nprobe is the recall/cost dial — each
    extra probe scans ~1/2^planes more of the corpus per query."""
    dims = len(corpus.select(vec_col).first()[0])
    hp = hyperplanes(dims, planes, seed)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        bucket_expr(vec_col, hp).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_buckets_expr(vec_col, hp, nprobe)).alias("bucket"),
    )
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # multi-probe can surface the same candidate via several buckets
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    sample_rows: int = 50_000,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a bounded sample (numpy
    Lloyd's, deterministic seed), centroids L2-normalized so nearest-
    centroid-by-dot equals nearest-by-cosine.  The sample bound makes
    training O(sample x k x iters) on the driver regardless of corpus
    size — the centroids are a tiny (k x d) model shipped back into the
    plan as literals.

    The sample is taken in content-hash order (xxhash64 of the vector),
    NOT a bare ``limit()``: limit without ordering is partition-order-
    dependent, so the trained centroids — and every IVF/SemDeDup result
    downstream — would change when the input is repartitioned.  The
    ordered limit compiles to TakeOrderedAndProject (per-task top-n +
    driver merge), not a full sort shuffle."""
    sample = df.select(vec_col)
    if sample_rows:
        sample = sample.orderBy(
            F.xxhash64(F.col(vec_col).cast("string")), F.col(vec_col).cast("string")
        ).limit(sample_rows)
    rows = sample.collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(20):
        sims = x @ centers.T
        assign = np.argmax(sims, axis=1)
        new = np.stack(
            [
                x[assign == c].mean(axis=0) if (assign == c).any() else centers[c]
                for c in range(len(centers))
            ]
        )
        new /= np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        if np.allclose(new, centers, atol=1e-9):
            break
        centers = new
    return centers


def _nearest_centroids_udf(centers: np.ndarray, m: int):
    """pandas_udf returning the ``m`` nearest centroid ids (descending
    cosine; ties broken by lower id via stable argsort) — one numpy
    matmul per Arrow batch.  Centroids are normalized, so argmax of the
    raw dot equals argmax of cosine.  Per-centroid Catalyst lambdas are
    interpreted per element (the q36 lesson) — at 10^9 corpus rows the
    vectorized path is the only sane assignment stage."""
    from pyspark.sql.functions import pandas_udf

    ct = centers.T.copy()

    @pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())
        sims = x @ ct
        order = np.argsort(-sims, axis=1, kind="stable")[:, :m].astype("int32")
        return pd.Series(list(order))

    return nearest


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors hash to their nearest coarse
    centroid (the inverted list); each query probes its ``nprobe``
    nearest centroids and re-ranks by exact cosine inside them.  The only
    wide op is the equi-join on centroid id — candidates per query ~
    nprobe/n_centroids of the corpus, the classic recall/cost dial.
    Recall vs brute force is asserted in tests."""
    centers = train_ivf_centroids(corpus, vec_col, n_centroids, seed)
    assign1 = _nearest_centroids_udf(centers, 1)
    probe_n = _nearest_centroids_udf(centers, nprobe)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        assign1(F.col(vec_col))[0].alias("cid"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probe_n(F.col(vec_col))).alias("cid"),
    )
    scored = (
        cb.join(qb, "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"))
    )


def embedding_near_dup_pairs_banded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int = 16,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs via BANDED hyperplane LSH + exact
    re-check: candidates are pairs agreeing on all ``planes_per_band``
    sign bits in at least one band (an equi-join on (band, bucket) — no
    CartesianProduct anywhere, VERDICT.md round 1 scale-killer #5); the
    exact cosine filter then removes false positives, so precision is 1.

    Recall: a pair at cos >= t agrees on one plane w.p. 1 - arccos(t)/pi;
    at t=0.99 with 16 bands x 8 planes the per-pair miss probability is
    (1 - 0.955^8)^16 ~ 6e-9 — statistically exact.  For lower thresholds
    raise ``bands``/lower ``planes_per_band`` (the usual S-curve trade)."""
    dims = len(df.select(vec_col).first()[0])
    hp = hyperplanes(dims, bands * planes_per_band, seed)
    # ALL band buckets in one Arrow-vectorized matmul: 128 hyperplane
    # dots as Catalyst higher-order functions are INTERPRETED per element
    # (no codegen for lambda expressions) — measured 4.5 s for just 2000
    # rows; the numpy path is one (n x d) @ (d x 128) product per batch.
    # This is the documented "built-ins genuinely can't express it
    # efficiently" exception; bucket_expr stays for small plane counts.
    from pyspark.sql.functions import pandas_udf

    hp_t = hp.T.copy()
    weights = (1 << np.arange(planes_per_band - 1, -1, -1)).astype(np.int64)

    @pandas_udf("array<long>")
    def band_bucket_ids(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy())
        bits = (x @ hp_t >= 0).reshape(len(x), bands, planes_per_band)
        ids = bits.astype(np.int64) @ weights
        return pd.Series(list(ids))

    # candidates carry IDS ONLY through the band grouping + dedup —
    # clustered data puts whole clusters in one bucket, so candidate
    # volume is the cost center and every extra byte per pair multiplies
    # the shuffle.  Round 6: pairs come from a single groupBy bucket
    # (the lsh_candidate_pairs shape) instead of a two-sided self-join —
    # the join evaluated the Python banding UDF twice (two Arrow round
    # trips over every vector) and shuffled the banded table twice.
    cands = bucket_pairs(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(band_bucket_ids(F.col(vec_col))).alias("band", "bucket"),
        )
    )
    # per-doc norms precomputed map-side: norm() is an interpreted
    # higher-order aggregate, so paying it once per DOC instead of once
    # per PAIR cuts the re-check cost ~3x on clustered candidates.
    # cos = dot/(na*nb) is the same expression tree as cosine() —
    # bit-identical values, same rounding.
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
