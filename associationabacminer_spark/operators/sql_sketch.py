"""SQL-reduced sketch builds: let Catalyst/Tungsten do the heavy
reduction JVM-side, then materialize the kernel from the tiny aggregate.

The Arrow map build (operators/agg.py, one ``mapInPandas`` fold) ships
every row's key through Arrow.  For HLL and CMS the per-row work is
algebraic, so it can be expressed as pure Spark SQL:

- HLL: register index = top p bits of xxhash64(key); rho = rank of the
  highest set bit of the remaining 50 bits.  ``groupBy(idx).max(rho)``
  computes EXACTLY the kernel's register array — at most 2^p = 16384
  rows leave the cluster no matter the input size, and the whole
  reduction runs in whole-stage codegen with map-side partial max.
- CMS / heavy keys: ``groupBy(key).count()`` (map-side combine) then a
  weighted kernel update over the aggregated (distinct-key, count)
  pairs — Arrow transfer proportional to distinct keys, not rows.

Both produce registers numerically identical to the prehashed
Arrow-path kernels (asserted in tests), so estimates and merge
semantics are unchanged; only the physical strategy differs.  This is
the 'let Catalyst pick the physical plan' option for the 100 TB path
where even int64-per-row Arrow transfer is the bottleneck.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.sketch import (
    KLL,
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    TDigest,
)



def _arrow_cols(df: DataFrame, *cols: str) -> list[np.ndarray]:
    """Collect a small aggregate to the driver over ARROW (``toArrow``)
    instead of py4j row objects — the register/word tables can reach
    10^5-10^6 rows (Bloom words), where row-at-a-time collect() costs
    seconds of pure driver time and caps scaling (serial component)."""
    tbl = df.toArrow()
    return [tbl.column(c).to_numpy(zero_copy_only=False) for c in cols]

def hll_register_table(
    df: DataFrame, col: str, p: int = 14, group_cols=()
) -> DataFrame:
    """(group_cols..., idx, rho) register table via pure SQL — <= 2^p
    rows per group."""
    h = F.xxhash64(col)
    idx = F.shiftrightunsigned(h, 64 - p)
    rest = h.bitwiseAND(F.lit((1 << (64 - p)) - 1))
    # rho = (64-p) - floor(log2(rest)); rest < 2^50 is exact in double
    rho = F.when(rest == 0, F.lit(64 - p + 1)).otherwise(
        F.lit(64 - p) - F.floor(F.log2(rest.cast("double")))
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(*group_cols, idx.alias("idx"), rho.cast("int").alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_from_sql(df: DataFrame, col: str, p: int = 14) -> HyperLogLog:
    """HLL built from the SQL register table — register-identical to
    ``HyperLogLog().update_batch(xxhash64 values, prehashed=True)``."""
    idx, rho = _arrow_cols(hll_register_table(df, col, p), "idx", "rho")
    out = HyperLogLog(p)
    if len(idx):
        out._absorb_sparse(
            (idx.astype(np.uint32) << np.uint32(6)) | rho.astype(np.uint32)
        )
    return out


def key_counts(df: DataFrame, col: str) -> DataFrame:
    """(xxhash64(key), count) pairs — the map-side-combined reduction
    feeding weighted CMS / exact heavy-hitter updates."""
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.xxhash64(col).alias("key_hash"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_from_sql(
    df: DataFrame, col: str, width: int = 4096, depth: int = 5
) -> CountMinSketch:
    """CMS from aggregated counts: identical table to streaming every row
    through the prehashed kernel (addition is associative)."""
    hashes, counts = _arrow_cols(key_counts(df, col), "key_hash", "cnt")
    cms = CountMinSketch(width=width, depth=depth)
    if len(hashes):
        cms.update_batch(
            hashes.astype(np.int64), counts=counts.astype(np.int64), prehashed=True
        )
    return cms


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """(value, count) histogram via ``groupBy(value).count()`` — map-side
    combined, whole-stage codegen; rows leaving the cluster = distinct
    values, not input rows.  The quantile-sketch analog of
    ``key_counts``; intended for DISCRETE columns (integer lengths,
    pre-binned values) where |distinct| is bounded."""
    c = F.col(col)
    return (
        df.filter(c.isNotNull() & ~F.isnan(c.cast("double")))
        .groupBy(c.cast("double").alias("v"))
        .agg(F.count("*").alias("cnt"))
    )


def kll_from_sql(df: DataFrame, col: str, k: int = 200) -> KLL:
    """KLL built from the JVM-side value histogram via binary-weighted
    insertion (KLL.update_weighted) — the same multiset as streaming
    every row, so the published rank bound applies unchanged; Arrow/driver
    transfer is |distinct values| rows instead of |input| rows.

    For continuous columns whose distinct count approaches the row count,
    use ``tdigest_from_sql``'s log-binning instead (or the Arrow path)."""
    vals, cnts = _arrow_cols(value_counts(df, col), "v", "cnt")
    out = KLL(k=k)
    if len(vals):
        out.update_weighted(vals.astype(np.float64), cnts.astype(np.int64))
    return out


def log_bin(c, rel_width: float):
    """Symmetric-log bin index ``signum(c)·floor(log1p(|c|)/rel_width)``
    of a double column.  Odd and increasing in ``c``, so bin order is
    value order.  Bin k > 0 spans ``[expm1(k·w), expm1((k+1)·w))``, a
    width of ``expm1(w)·(1 + lower edge)``; negative bins mirror it, and
    bin 0 spans ``(-expm1(w), expm1(w))``, both signs."""
    return (
        F.signum(c) * F.floor(F.log1p(F.abs(c)) / F.lit(float(rel_width)))
    ).cast("long")


def log_bins(
    df: DataFrame, group_cols, col: str, rel_width: float = 5e-4
) -> DataFrame:
    """(group_cols..., __bin, __cnt, __sum): the occupied ``log_bin``
    table of ``col`` per group, NULL/NaN dropped — one map-side combined
    hash aggregation; rows out = occupied bins (~ ln(max/min)/rel_width
    per group), not input rows.  Every SQL quantile path reads it."""
    c = F.col(col).cast("double")
    return (
        df.filter(c.isNotNull() & ~F.isnan(c))
        .groupBy(*group_cols, log_bin(c, rel_width).alias("__bin"))
        .agg(F.count("*").alias("__cnt"), F.sum(c).alias("__sum"))
    )


def _cumulative(bins: DataFrame, group_cols) -> DataFrame:
    """``log_bins`` rows plus ``__cum`` (the group's count up to and
    including the bin) and ``__tot`` (the group's count).  Both windows
    run over the log-bounded bin table, never input rows."""
    from pyspark.sql import Window

    run = Window.partitionBy(*group_cols).orderBy("__bin")
    return bins.withColumn("__cum", F.sum("__cnt").over(run)).withColumn(
        "__tot", F.sum("__cnt").over(Window.partitionBy(*group_cols))
    )


def _quantile_alias(q: float) -> str:
    return "p" + ("%g" % (q * 100)).replace(".", "_")


def bin_quantiles(bins: DataFrame, group_cols, qs) -> DataFrame:
    """(group_cols..., p50, ...) from a ``log_bins`` table: for each q,
    the in-bin mean of the first bin whose cumulative count reaches rank
    ``ceil(q·n)``.  That bin holds the exact rank-``ceil(q·n)`` value x,
    so the answer is within one bin's width of it:
    ``|est − x| ≤ expm1(rel_width)·(1 + |x|)``, or ``2·expm1(rel_width)``
    in the zero bin — a relative value error, not a rank error."""
    v = F.col("__sum") / F.col("__cnt")
    return _cumulative(bins, group_cols).groupBy(*group_cols).agg(
        *[
            F.min(
                F.when(F.col("__cum") >= F.ceil(F.lit(float(q)) * F.col("__tot")), v)
            ).alias(_quantile_alias(q))
            for q in qs
        ]
    )


def tdigest_bin_table(
    df: DataFrame, col: str, rel_width: float = 5e-4
) -> DataFrame:
    """(bin mean, count) table of a CONTINUOUS column: ``log_bins`` at
    relative width ``rel_width``, exact mean + count per occupied bin."""
    return log_bins(df, [], col, rel_width).select(
        (F.col("__sum") / F.col("__cnt")).alias("v"), F.col("__cnt").alias("cnt")
    )


def tdigest_from_sql(
    df: DataFrame, col: str, delta: float = 200.0, rel_width: float = 5e-4
) -> TDigest:
    """t-digest from the JVM-side log-binned histogram: each occupied bin
    contributes one weighted point at its EXACT in-bin mean — i.e. the
    bins are pre-clustered centroids, which is precisely what a t-digest
    merge consumes.  Beyond the sketch's own rank bound this adds at most
    the mass of one bin (relative value width ``rel_width`` ~ 5e-4) to
    any quantile's rank error — negligible against the delta=200 bound.
    Zero Arrow transfer proportional to rows."""
    vals, cnts = _arrow_cols(tdigest_bin_table(df, col, rel_width), "v", "cnt")
    out = TDigest(delta=delta)
    if len(vals):
        vals = vals.astype(np.float64)
        cnts = cnts.astype(np.float64)
        order = np.argsort(vals, kind="stable")
        out.update_batch(vals[order], weights=cnts[order])
    return out


def bloom_word_table(df: DataFrame, col: str, m_bits: int, k: int) -> DataFrame:
    """(word_idx, word) table of the Bloom bit array via pure SQL:
    distinct keys -> k probe positions (overflow-free double hashing:
    pos_i = (pmod(h1,m) + i*pmod(h2|1,m)) mod m) -> word grouping with a
    ``bit_or`` aggregate.  At most m/64 rows leave the cluster."""
    m = int(m_bits)
    # NO distinct before the probes: Bloom insertion is idempotent (the
    # bit_or absorbs duplicate keys), so deduplicating first bought
    # nothing except a full exchange of every (h1, h2) pair — ~950 MB at
    # the 59M-turn rung.  Probing duplicates costs only map-side codegen
    # arithmetic; the partial bit_or collapses each task's output to at
    # most m/64 word rows before the single remaining exchange (round 6,
    # guide §2.4).  lit must be BIGINT: Spark hashes IntegerType as
    # 4 bytes, and the driver-side twin (xxh64_pair_keys) chains an
    # 8-byte long.
    keys = df.filter(F.col(col).isNotNull()).select(
        F.xxhash64(col).alias("h1r"),
        F.xxhash64(col, F.lit(1).cast("long")).alias("h2r"),
    )
    h1 = F.pmod(F.col("h1r"), F.lit(m))
    h2 = F.pmod(F.col("h2r").bitwiseOR(F.lit(1)), F.lit(m))
    probes = keys.select(
        h1.alias("h1m"),
        h2.alias("h2m"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
    ).select(
        F.pmod(F.col("h1m") + F.col("i") * F.col("h2m"), F.lit(m)).alias("pos")
    )
    return (
        probes.select(
            F.expr("pos DIV 64").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_from_sql(df: DataFrame, col: str, m_bits: int, k: int) -> BloomFilter:
    """Bloom filter whose bit array was reduced JVM-side — word-identical
    to ``BloomFilter.update_pairs`` over (xxhash64(key), xxhash64(key,1))
    pairs (asserted in tests).  Query with ``contains_pairs`` +
    ``sketch.xxhash.xxh64_pair_keys``."""
    idx, words = _arrow_cols(bloom_word_table(df, col, m_bits, k), "word_idx", "word")
    out = BloomFilter(m_bits, k)
    if len(idx):
        out.words[idx.astype(np.int64)] = words.astype(np.int64).view(np.uint64)
    # n_inserted is informational; recover it cheaply if needed
    return out


def mg_topk_by_group(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    k: int = 5,
    capacity: int = 256,
    salt_buckets: int = 32,
) -> DataFrame:
    """Per-group approximate top-k of ``col`` by frequency: (group_cols
    ..., <col>, count_lb, err, rank) — the "top tools per role" query a
    100-TB pipeline runs without materializing the full (group, value)
    histogram downstream.  ``count_lb`` is the MG lower bound (true
    frequency is within [count_lb, count_lb + err], underestimate-only);
    ranking is by the lower bound with the key hash as a deterministic
    tiebreak, emitted by the same fold that merges the states.

    Misra-Gries runs in two sorted-stream folds (``agg.sorted_fold``)
    over the JVM-side (group, key-hash) histogram.  The raw rows are
    collapsed by ``groupBy(groups, xxhash64(col)).count()`` — map-side
    partial aggregation, Arrow transfer proportional to DISTINCT (group,
    key) pairs, never rows — and the histogram is salted on
    ``pmod(key_hash, salt_buckets)`` so a hot group's keys spread over
    ``salt_buckets`` bounded kernel builds (MG over exact counts equals
    the streaming build — mergeable summaries subsume streams, PODS'12).
    The first fold builds each (group, salt) run into one kernel of at
    most ``capacity`` pairs; the second merges a group's partials in
    sorted-blob order (Spark's binary order is unsigned lexicographic,
    so the bytes do not depend on task scheduling) and emits its top k.
    Original values are recovered by one probe of the corpus's
    (hash, value) pairs against the broadcast (groups x k)-row top
    table, then a distinct over the output rows."""
    from associationabacminer_spark.operators.agg import sorted_fold
    from associationabacminer_spark.sketch.misragries import MisraGries

    cnts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*group_cols, F.xxhash64(col).alias("__kh"))
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__salt", F.pmod(F.col("__kh"), F.lit(salt_buckets)))
    )

    def build(key, cols):
        mg = MisraGries(capacity)
        mg.update_batch(cols["__kh"], counts=cols["__cnt"], prehashed=True)
        return [(mg.serialize(),)]

    def topk(key, cols):
        mg = reduce(MisraGries.merge, map(MisraGries.deserialize, map(bytes, cols["state"])))
        order = np.lexsort((mg.keys, -mg.counts))[:k]
        keys, counts = mg.keys[order].astype(np.int64).tolist(), mg.counts[order].tolist()
        return [(h, c, mg.err, rank) for rank, (h, c) in enumerate(zip(keys, counts), 1)]

    partials = sorted_fold(cnts, [*group_cols, "__salt"], [], "state binary", build)
    top = sorted_fold(
        partials.select(*group_cols, "state"), list(group_cols), ["state"],
        "__kh long, count_lb long, err long, rank int", topk,
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.xxhash64(col).alias("__kh"), F.col(col).alias("__val"))
        .join(F.broadcast(top), "__kh")
        .select(*group_cols, F.col("__val").alias(col), "count_lb", "err", "rank")
        .distinct()
        .orderBy(*group_cols, "rank")
    )


def bloom_semi_filter(
    big: DataFrame,
    col: str,
    keys: DataFrame,
    key_col: str,
    fpp: float = 0.01,
    n_keys: int | None = None,
) -> DataFrame:
    """Candidate-safe approximate semi-join: rows of ``big`` whose
    ``col`` MIGHT appear in ``keys[key_col]``.  Bloom filters have zero
    false negatives, so ``bloom_semi_filter(big, c, keys, k).join(keys,
    ..., "left_semi")`` returns exactly the same rows as the plain
    semi-join — the Bloom only pre-drops rows that cannot match, before
    they reach the join's shuffle.

    Physical shape (the 100-TB path): the filter's bit array is reduced
    ENTIRELY JVM-side (:func:`bloom_word_table` — at most m/64 rows
    leave the cluster), broadcast to executors as serialized kernel
    bytes, and probed with the kernel's vectorized ``contains_pairs``
    over Arrow batches (``mapInPandas``; the two probe hashes are
    computed JVM-side with ``xxhash64`` so Python does only the bit
    lookups).  Against a shuffle-heavy sort-merge semi-join this trades
    a narrow Arrow round-trip for shuffling + sorting + spilling the
    full big side; the small side is scanned once extra to size and
    build the filter (cache it upstream when that scan is expensive).

    Replaces the reference's in-memory allowed-hash membership set
    (/root/reference/src/eval/EnvPolicyEvaluator.py:192-199) with a
    distributed build + broadcast probe."""
    spark = big.sparkSession
    if n_keys is None:
        n_keys = keys.select(key_col).distinct().count()
    proto = BloomFilter.from_capacity(max(1, int(n_keys)), fpp)
    bf = bloom_from_sql(keys, key_col, proto.m, proto.k)
    blob = spark.sparkContext.broadcast(bf.serialize())
    one = F.lit(1).cast("long")
    with_hashes = big.withColumn("__h1", F.xxhash64(col)).withColumn(
        "__h2", F.xxhash64(col, one)
    )
    out_schema = big.schema
    out_cols = [f.name for f in out_schema.fields]

    def probe(batches):
        filt = BloomFilter.deserialize(blob.value)  # once per partition
        for pdf in batches:
            mask = filt.contains_pairs(
                pdf["__h1"].to_numpy(), pdf["__h2"].to_numpy()
            )
            hit = pdf.loc[mask, out_cols]
            if len(hit):
                yield hit

    return with_hashes.mapInPandas(probe, schema=out_schema)


def bottomk_from_sql(df: DataFrame, col: str, k: int = 256) -> "BottomK":
    """Bottom-k build with the reduction JVM-side: the k smallest
    distinct xxhash64 values compute as sort_agg/TakeOrdered over a
    distinct — only k (hash, payload) pairs cross to Python.  Payload is
    the same hash (join back on it to recover rows); register-identical
    to a kernel fed the same pre-hashed keys."""
    from associationabacminer_spark.sketch.bottomk import BottomK

    rows = (
        df.select(F.xxhash64(col).alias("h"))
        .distinct()
        # unsigned order == signed order after flipping the sign bit
        .orderBy(F.col("h").bitwiseXOR(F.lit(-(2**63)).cast("long")))
        .limit(k)
    )
    (h,) = _arrow_cols(rows, "h")
    s = BottomK(k)
    s.update_hashes(h.astype(np.uint64), payloads=h)
    return s


def hll_estimate_by_group(
    df: DataFrame, group_cols: list[str], col: str, p: int = 14
) -> DataFrame:
    """(group_cols..., approx_distinct): per-group HLL estimates computed
    ENTIRELY JVM-side — two hash aggregations ((groups, idx) max-rho,
    then the harmonic sum per group), zero Python in the path and no
    collect.  Implements the kernel's exact estimator (alpha * m^2 /
    harmonic sum, linear counting below 2.5m with zero registers), so a
    group's estimate equals HyperLogLog.estimate() on the same rows up
    to float summation order.  The built-in approx_count_distinct would
    also work; this variant exists so per-group numbers are consistent
    with the engine's mergeable kernel states (same register semantics,
    same corrections) across batch, windowed, and resumed builds."""
    m = float(1 << p)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    regs = hll_register_table(df, col, p, group_cols)
    agg = regs.groupBy(*group_cols).agg(
        F.count("*").alias("nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
    )
    raw = F.lit(alpha * m * m) / (F.col("s") + (F.lit(m) - F.col("nz")))
    zeros = F.lit(m) - F.col("nz")
    return agg.select(
        *group_cols,
        F.when((raw <= 2.5 * m) & (zeros > 0), F.lit(m) * F.log(F.lit(m) / zeros))
        .otherwise(raw)
        .alias("approx_distinct"),
    )


def mg_from_sql(df: DataFrame, col: str, k: int = 256) -> "MisraGries":
    """Misra-Gries heavy-hitters summary from aggregated counts: the
    groupBy(key).count() table IS an exact frequency vector, and MG over
    exact (key, count) pairs equals the streaming build (mergeable
    summaries subsume streaming).  Only the distinct-key histogram
    leaves the cluster, pre-hashed to int64."""
    from associationabacminer_spark.sketch.misragries import MisraGries

    hashes, counts = _arrow_cols(key_counts(df, col), "key_hash", "cnt")
    mg = MisraGries(k)
    if len(hashes):
        mg.update_batch(
            hashes.astype(np.int64), counts=counts.astype(np.int64), prehashed=True
        )
    return mg

def quantiles_by_group(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    qs: tuple = (0.5, 0.9, 0.99),
    rel_width: float = 5e-4,
) -> DataFrame:
    """(group_cols..., p50, p90, ...): per-group approximate quantiles
    computed ENTIRELY JVM-side — no Python, no collect, no sort of raw
    rows.  ``log_bins`` collapses the input to (groups, bin) centroids
    (state per group = occupied bins, ~ ln(max/min)/rel_width) and
    ``bin_quantiles`` selects, for each q, the first bin whose cumulative
    count reaches rank ceil(q*n).  The returned value is that bin's exact
    in-bin mean, within one bin's width of the exact discrete quantile
    (``bin_quantiles`` states the bound) — and when every distinct value
    occupies its own bin (integer-valued columns below ~1/rel_width) it
    IS the exact discrete quantile, which is what the oracled q72 pins.

    Completes the per-group bounded-state family next to
    ``hll_estimate_by_group`` (distincts) and ``mg_topk_by_group``
    (heavy hitters): p95-per-service over 100 TB without
    percentile_approx's per-group QuantileSummaries state or a global
    sort."""
    return bin_quantiles(log_bins(df, group_cols, col, rel_width), group_cols, qs)


def percentile_by_group(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    rel_width: float = 5e-4,
    out_col: str = "pctl",
) -> DataFrame:
    """Per-row percentile rank of ``col`` WITHIN its group — the
    score-calibration primitive (normalize a per-doc quality score within
    each source before applying one global cut, the RefinedWeb/FineWeb
    heterogeneous-corpus recipe) — without the per-group SORT of raw rows
    that ``percent_rank() OVER (PARTITION BY g ORDER BY v)`` costs at
    100 TB.

    Plan: ``log_bins`` collapses the input to (group, bin) counts (state
    = occupied bins per group, ~ln(max/min)/rel_width, never rows); a
    window cum-sum over that tiny table yields each bin's
    count-strictly-below; the bin table is then joined back onto the
    fact rows (``log_bin`` recomputed map-side, no fact-side shuffle
    when the planner broadcasts the bin table).  Total: ONE Exchange over
    slim (group, bin) pairs vs the window's full-data Exchange +
    per-group sort.  The price is a second read of ``df``: the fact side
    and the ``log_bins`` side each scan it (two scans in the plan,
    budgeted in ``tests/test_plans.py``), so cache an expensive input
    (a join, a UDF) before calling.

    ``out_col`` = (# group rows with a strictly smaller bin) /
    (group_count - 1), i.e. exactly SQL ``percent_rank`` whenever every
    distinct value occupies its own bin — guaranteed for non-negative
    integers below ~1/rel_width (bin boundaries then fall between
    consecutive ints), which the oracled q9k pins.  In the approximate
    regime (wide-range doubles) ties within one bin share the bin's
    lower percentile — an error of at most one bin's mass.  Rows with
    NULL/NaN ``col`` are excluded (mirror the filter in any oracle).
    Single-row groups get 0.0, matching percent_rank."""
    c = F.col(col).cast("double")
    facts = df.filter(c.isNotNull() & ~F.isnan(c)).withColumn(
        "__bin", log_bin(c, rel_width)
    )
    below = (F.col("__cum") - F.col("__cnt")).alias("__below")
    ranked = _cumulative(log_bins(df, group_cols, col, rel_width), group_cols)
    pct = F.when(
        F.col("__tot") > 1, F.col("__below") / (F.col("__tot") - F.lit(1))
    ).otherwise(F.lit(0.0))
    # no broadcast hint: occupied bins per group reach ~log1p(max)/
    # rel_width (~40k at the default 5e-4), so a high-cardinality group
    # column can push the bin table past broadcast limits — let the
    # planner decide from its size estimate instead of forcing it
    return (
        facts.join(
            ranked.select(*group_cols, "__bin", below, "__tot"),
            [*group_cols, "__bin"],
        )
        .withColumn(out_col, pct)
        .drop("__bin", "__below", "__tot")
    )
