"""Train/test decontamination: flag evaluation documents that share a
long word n-gram with any training document (the GPT-3-style 13-gram
overlap rule — public method, Brown et al. 2020 App. C).

Reference analog: the anti-join deletion pattern (J2,
/root/reference/src/EnvAbacRuleMiner.py uncovered-remainder loop) applied
across two corpora instead of within one.

Plan shape: explode both sides to (shingle, id), equi-join on the
shingle, distinct the hit ids (a caller left_anti-joins them to keep the
clean test rows) — no pair join of documents ever exists.  A document-frequency
cap on the TRAIN side drops boilerplate shingles that would fan out the
join (a shingle in 10^6 train docs produces 10^6 join rows per test hit
while adding no signal — any genuinely contaminated pair shares many
rarer shingles too).  Unlike dedup, the cap here only bounds the
candidate fan-out per shingle; contamination is decided by ANY surviving
shared shingle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.functions.text import word_ngram_hashes

# "auto" engages the Bloom prefilter only when Catalyst's size estimate
# of the probe (test) side is at least this many bytes.  Measured
# crossover: at 5k docs (sf0.1) the prefilter's fixed cost — an extra
# count job on the reference shingle set plus the Arrow probe round-trip
# of the full test-side shingle stream — ADDS ~1.5-2 s to a ~3.5 s
# stage, while at the 10-49M-doc rungs it cuts shuffle bytes 30% and
# wall 9-29% (BENCH/BASELINE.md round-5 A/B).  256 MB of input sits
# safely between those regimes.
BLOOM_AUTO_MIN_BYTES = 256 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate (file-size based for
    scans), computed WITHOUT running a job.  None when the estimate is
    unavailable (e.g. Spark Connect, where the JVM plan is remote)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, sh): shingles carried as xxhash64 int64, not strings — the
    distinct and the train/test equi-join shuffle 8 bytes per shingle
    instead of ~6n bytes.  A 64-bit collision could flag one clean doc
    (P ~ |shingles|^2 / 2^64); acceptable for a contamination screen.
    Hashes come from the token-hash chain (``word_ngram_hashes``) — no
    n-gram string is ever built."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("sh"),
    )


def contaminated_ids(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    max_shingle_df: int | None = None,
    bloom_fpp: float | str | None = "auto",
) -> DataFrame:
    """Distinct test ids sharing at least one word n-gram with train.

    ``bloom_fpp`` (round 5) turns on a Bloom prefilter built from the
    engine's own kernel: the reference-side (``train``) shingle-hash set
    is reduced into a bit array JVM-side, broadcast, and the big
    ``test``-side shingle stream is probed vectorized BEFORE the
    semi-join — so the join's shuffle sees only real hits plus an
    ``fpp`` fraction of false positives instead of the entire exploded
    corpus (the stage was spill-bound at 59M rows without it).  Bloom
    filters have no false negatives, so the result set is IDENTICAL to
    the plain semi-join (property-tested); ``None`` disables it.

    The default ``"auto"`` engages the prefilter (fpp=0.01) only when
    Catalyst estimates the test side at >= ``BLOOM_AUTO_MIN_BYTES`` —
    below the crossover the prefilter's fixed costs exceed its shuffle
    savings (measured both ways, see the constant's comment)."""
    if bloom_fpp == "auto":
        size = _plan_size_bytes(test)
        bloom_fpp = (
            0.01 if size is not None and size >= BLOOM_AUTO_MIN_BYTES else None
        )
    if max_shingle_df is not None:
        # one pass over train: the doc-frequency count IS the distinct
        # shingle set, so the cap never costs a second corpus scan
        tr = (
            _shingles(train, text_col, id_col, n)
            .groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("sh")
        )
    else:
        tr = _shingles(train, text_col, id_col, n).select("sh").distinct()
    te = _shingles(test, text_col, id_col, n)
    if bloom_fpp is not None:
        from associationabacminer_spark.operators.sql_sketch import bloom_semi_filter

        # checkpoint the reference shingle set (lazily: the count below
        # materializes it, and its blocks live as long as the result
        # does): the Bloom build (sizing count + word-table reduction)
        # and the final semi-join all consume it.  tr is distinct by
        # construction, so its count IS n_keys — pass it through to
        # spare bloom_semi_filter a redundant distinct shuffle over the
        # full shingle set
        tr = tr.localCheckpoint(eager=False)
        te = bloom_semi_filter(
            te, "sh", tr, "sh", fpp=bloom_fpp, n_keys=tr.count()
        )
    return (
        te.join(tr, "sh", "left_semi")
        .select(F.col("doc").alias(id_col))
        .distinct()
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str,
    source_col: str,
    n: int = 5,
) -> DataFrame:
    """Pairwise n-gram overlap between sources — the corpus-intake
    diagnostic run before mixing: which feeds share boilerplate or
    mirror each other's content (a high-overlap pair is a dedup /
    provenance problem; a near-zero pair is safe to weight
    independently).  The same public overlap rule as ``decontaminate``
    (Brown et al. 2020 App. C), lifted from doc-level flags to a
    source x source summary.

    Plan shape (ONE real Exchange): the corpus scan explodes to hashed
    shingles map-side and hash-aggregates ``collect_set(source)`` on
    the uniform 8-byte key — per-key state bounded by |sources|, never
    by document counts (the A4 multimap pattern).  Source-pair
    combinations and per-source totals are then EMITTED MAP-SIDE from
    that table (array lambdas over the sorted set, worst case
    |sources|^2/2 pair rows per shingle) into two tiny aggregates whose
    partials collapse to <= |sources|^2 rows per task.  No self-join —
    the earlier join formulation shuffled the distinct set twice and
    read 21.1 s at 1.2M docs vs 14.3 s for this plan (same-window
    controls), same output.

    Returns (src_a, src_b, n_shared, jaccard) per unordered source
    pair with at least one shared shingle: n_shared = distinct shared
    shingles, jaccard = n_shared / |union of the pair's shingles|,
    rounded to 6."""
    # shingles carry the source directly (no doc-key join — the doc id
    # is irrelevant to the matrix, so it never enters a shuffle); hashed
    # via the token-hash chain, no n-gram string allocation
    sh_src = df.select(
        F.col(source_col).alias("src"),
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("sh"),
    )
    sets = sh_src.groupBy("sh").agg(
        F.array_sort(F.collect_set("src")).alias("__srcs__")
    )
    # i is the 0-based element index (the intended two-arg transform
    # use); the inner slice starts at 1-based position i+2 = the
    # elements AFTER x, so every emitted pair has src_a < src_b.  The
    # per-source totals ride along as (x, x) self-pairs, so ONE
    # aggregate pass over the big table produces both counts.
    pairs = F.flatten(
        F.transform(
            F.col("__srcs__"),
            lambda x, i: F.concat(
                F.array(F.struct(x.alias("src_a"), x.alias("src_b"))),
                F.transform(
                    F.slice(F.col("__srcs__"), i + 2, F.size("__srcs__")),
                    lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
                ),
            ),
        )
    )
    counts = (
        sets.select(F.explode(pairs).alias("__p__"))
        .groupBy(
            F.col("__p__.src_a").alias("src_a"),
            F.col("__p__.src_b").alias("src_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    # Attach the per-source totals (the (x, x) self-pair rows) to every
    # shared pair with ONE single-partition window over the tiny counts
    # table (<= |sources|^2 rows): a collect_list of the self-pair
    # entries becomes a map looked up in place.  The previous
    # formulation persisted counts and ran two broadcast joins — three
    # extra jobs (cache materialization + two broadcast builds) for the
    # same arithmetic.  |sources| is small by the operator's contract
    # (per-key state is bounded by it), so the one-task window is bounded
    # the same way the broadcast relation was.
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(1))
    tot = F.map_from_entries(
        F.collect_list(
            F.when(
                F.col("src_a") == F.col("src_b"),
                F.struct(F.col("src_a").alias("k"), F.col("n_shared").alias("v")),
            )
        ).over(w)
    )
    return (
        counts.withColumn("__tot__", tot)
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (
                    F.element_at("__tot__", F.col("src_a"))
                    + F.element_at("__tot__", F.col("src_b"))
                    - F.col("n_shared")
                ),
                6,
            ).alias("jaccard"),
        )
    )
