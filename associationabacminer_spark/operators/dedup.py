"""Deduplication operators for training-data pipelines: exact content-hash
dedup, n-gram Jaccard/containment near-dup, MinHash+LSH, SimHash,
winnowing, and span/paragraph-level duplicate removal.

Reference analog: the 'unique logs' index — one doc per distinct content,
keyed by sha1-of-sorted-json
(/root/reference/src/model/EnvLogUniverseGenerator.py:84-104).  Everything
here is expressed with built-in DataFrame ops (no Python UDFs); the
MinHash family uses ``xxhash64`` so signatures are computed JVM-side.

Scale notes: exact dedup is one hash-partitioned groupBy on the digest
(uniform key — no skew).  MinHash-LSH replaces the O(n^2) pair join
with an equi-join on hashed band buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from associationabacminer_spark.functions.text import (
    bind_once,
    tokens,
    word_ngram_hash_chain,
    word_ngram_hashes,
    word_ngrams,
)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content (min id wins, deterministic).
    The content key is md5(text) so comparison cost is O(digest), like
    the reference's sha1 _id.

    Round 6: ONE ``min_by`` hash aggregate (map-side partial) instead of
    groupBy-min + semi-join — the join formulation referenced ``df``
    twice, so an upstream pipeline (q9l's batch is itself a join) was
    evaluated and shuffled twice for the same winners.  Null-id and
    null-text rows are filtered first, reproducing the old semantics
    exactly: the semi-join's null-safe-less equality dropped any row
    whose digest (null text) or id was null — without the text filter
    the aggregate would emit one winner for the null-digest group that
    the old path (and the q9l oracle's NOT IN) never produced, caught
    by the round-6 sf0.1 sweep."""
    rows = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    winner = F.min_by(F.struct(*[F.col(c) for c in df.columns]), F.col(id_col))
    return (
        rows.groupBy(F.md5(F.col(text_col)).alias("__digest__"))
        .agg(winner.alias("__r__"))
        .select(*[F.col(f"__r__.{c}").alias(c) for c in df.columns])
    )


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(digest, n_copies, ids) for every content with >1 copy."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(
            F.count("*").alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _drop_hot(exploded: DataFrame, key: str, max_df: int | None) -> DataFrame:
    """The hot-key cap: drop rows whose ``key`` occurs in more than
    ``max_df`` rows (None keeps all) — a key shared by 10^6 documents
    otherwise emits 10^12 pairs in the self equi-join that follows."""
    if max_df is None:
        return exploded
    hot = (
        exploded.groupBy(key)
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select(key)
    )
    return exploded.join(F.broadcast(hot), key, "left_anti")


def _scored(
    cands: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    name: str,
    denominator,
) -> DataFrame:
    """(id_a, id_b, ``name``) for candidate pairs scoring >= threshold,
    score = |A∩B| / ``denominator(A, B)`` EXACTLY from the full hashed
    shingle arrays (``word_ngram_hashes``: 8-byte longs, the same counts
    up to 64-bit collisions), so candidate pruning never corrupts a
    reported value.  Arrays are built only for docs that appear in a
    pair: the semi-join runs on the raw rows first (Catalyst does not
    push it below the shingle projection), and at low dup rates the
    candidate set is orders of magnitude smaller than the corpus."""
    cand_ids = (
        cands.select(F.col("id_a").alias("doc_id"))
        .union(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    shc = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))
        .join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", word_ngram_hashes(F.col("__text"), n).alias("shingles"))
    )
    sa = shc.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shc.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    score = F.size(F.array_intersect("sh_a", "sh_b")) / denominator(
        F.col("sh_a"), F.col("sh_b")
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(name, score)
        .filter(F.col(name) >= threshold)
        .select("id_a", "id_b", F.round(name, 6).alias(name))
    )


def _jaccard_denominator(a, b):
    return F.size(F.array_union(a, b))


def _ngram_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
    max_shingle_df: int | None,
    name: str,
    denominator,
) -> DataFrame:
    """Shingles -> capped shingle equi-join for candidates (id_a < id_b,
    never a cross join) -> :func:`_scored`."""
    exploded = _drop_hot(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_ngram_hashes(F.col(text_col), n)).alias("sh"),
        ),
        "sh",
        max_shingle_df,
    )
    a = exploded.select(F.col("doc_id").alias("id_a"), "sh")
    b = exploded.select(F.col("doc_id").alias("id_b"), "sh")
    cands = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _scored(cands, df, text_col, id_col, n, threshold, name, denominator)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similar pairs (id_a < id_b, jaccard >= t).

    Candidates come from the shingle equi-join (far below a cross join);
    the jaccard itself is then computed EXACTLY from the full hashed
    shingle arrays (:func:`_scored`), so candidate pruning can never
    corrupt a reported value.

    ``max_shingle_df`` caps candidate generation: shingles appearing in
    more than that many documents are dropped from the join keys
    (:func:`_drop_hot`).  A pair is missed only if ALL its shared
    shingles are above the cap; at jaccard >= t a pair shares >=
    t/(1+t) * max(|A|,|B|) distinct shingles, so a cap above the hot
    tail leaves real near-dups multiple surviving join keys.  None (the
    default, for the oracle path) disables the cap."""
    return _ngram_pairs(
        df, text_col, id_col, n, threshold, max_shingle_df,
        "jaccard", _jaccard_denominator,
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """n-gram CONTAINMENT near-dup pairs (id_a < id_b, containment >= t)
    where containment = |A∩B| / min(|A|, |B|) — the asymmetric measure
    (Broder 1997's resemblance/containment split) for duplication that
    symmetric Jaccard structurally misses: a short doc quoted verbatim
    inside a long aggregation page has J ~ |quote|/|page| ~ 0 but
    containment ~ 1.  Web curation hits this constantly (syndicated
    snippets, quote-tweets, boilerplate-wrapped articles); a
    Jaccard-thresholded dedup keeps both copies forever.

    Candidate generation and exact scoring are those of
    :func:`ngram_jaccard_pairs`, with the identical ``max_shingle_df``
    hot-shingle cap; only the denominator differs.  The cap's miss bound
    is STRONGER here than for Jaccard: at containment >= t the pair
    shares >= t * |small| distinct shingles — a fraction of the SMALL
    side, so even extreme size asymmetry leaves the pair
    t-proportionally many surviving join keys.  (MinHash-LSH banding,
    by contrast, cannot target containment at all: P[slot agrees]
    estimates J, which asymmetry drives to 0 — the reason this operator
    exists beside minhash_lsh_dedup rather than as a re-check mode of
    it.)

    Default note: like :func:`ngram_jaccard_pairs`, ``max_shingle_df``
    defaults to ``None`` (exact parity, the oracle path) whereas
    :func:`minhash_lsh_dedup` defaults its analogous hot-bucket cap
    ``max_bucket_size`` to 4096 — at corpus scale pass an explicit cap
    here too (the q9m query and the COOKBOOK recipes use 3-4096)."""
    return _ngram_pairs(
        df, text_col, id_col, n, threshold, max_shingle_df,
        "containment", lambda a, b: F.least(F.size(a), F.size(b)),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_perm: int = 32, n: int = 3
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Computed PER-ROW (``array_min`` over ``transform``): a document's
    signature depends only on its own shingles, so no shuffle exists —
    the signature stage is a narrow map fused into whole-stage codegen.
    (The previous explode+groupBy formulation shipped every
    (doc, shingle) pair through a hash-aggregate exchange — ~50 GB of
    shuffle at 59M docs — to compute byte-identical values; the round-4
    rewrite removed it.  Docs with no shingles are dropped, matching the
    old explode semantics.)"""
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("shingles"),
    ).filter(F.size("shingles") > 0)

    def perm_min(sh, i: int):
        # NB: the lambda must take exactly one arg — pyspark treats a
        # two-arg transform lambda as (element, index) and would shadow
        # the permutation seed with the array index
        seed = F.lit(i)
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, seed)))

    # bind the shingle array once: the signature references it num_perm
    # times, and the optimizer's project collapse would otherwise
    # re-build the n-gram string array once PER PERMUTATION (the
    # round-6 bind_once trap; values are unchanged)
    sig = bind_once(
        F.col("shingles"),
        lambda sh: F.array(*[perm_min(sh, i) for i in range(num_perm)]),
    )
    return shingled.select("doc_id", sig.alias("sig"))


def minhash_signatures_oph(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_buckets: int = 64,
    n: int = 3,
    densify: str = "minrehash",
) -> DataFrame:
    """One-permutation MinHash signatures (Li/Owen/Zhang, NIPS 2012)
    with minimum-rehash densification — the large-corpus scale path.

    The classic formulation hashes every shingle ``num_perm`` times
    (O(num_perm) per shingle, ~2000 interpreted expression evals per
    document at num_perm=64).  OPH hashes each shingle ONCE (JVM-side
    codegen ``xxhash64``), splits the hash's top bits into a bucket
    index, and takes the min per bucket: sig[b] = min{h : bucket(h)=b}.
    Empty buckets (docs with fewer shingles than buckets) are filled by
    remixing the document's global min with the bucket index
    (splitmix64) — two documents sharing their global minimum (an event
    with probability equal to their Jaccard, the same estimator MinHash
    itself uses) agree on their fills, so banding retains its
    collision-vs-similarity behavior; per-slot agreement for distinct
    minima is ~0 as with independent permutations.

    ``densify="optimal"`` selects optimal densification (Shrivastava,
    ICML 2017) instead: each empty bucket copies the value of a donor
    bucket chosen by a fixed pseudo-random probe sequence shared by all
    documents, which restores the classic MinHash property P[slot
    agrees] = Jaccard for ANY pair — including short documents whose
    shingle count is far below ``num_buckets``, where min-rehash fills
    make slot agreement collapse toward 0 unless the global minima
    coincide (measured: a J=0.82 pair of 12-token docs reads 7/32
    agreement under min-rehash, ~26/32 under optimal).  Use "optimal"
    whenever the SIGNATURE ITSELF is the similarity verdict (the
    incremental-ingest store probe); "minrehash" remains the default
    for the banding-then-exact-re-check pipelines, whose candidates are
    re-verified anyway and whose 59M-scale evidence was recorded under
    it.  (A probe walk that exhausts 256 attempts — possible only for
    pathologically sparse rows, P < 0.1% at one filled bucket of 64 —
    falls back to the min-rehash fill for the remaining slots.)

    The scatter-min runs VECTORIZED in numpy over Arrow batches
    (``mapInPandas``): per-shingle work is O(1) — flatten the batch's
    hash lists, ``np.minimum.at`` into a (rows x buckets) matrix,
    densify with array ops.  No shuffle, no per-row Python loops.
    Output schema matches :func:`minhash_signatures` (``doc_id, sig``),
    so :func:`lsh_candidate_pairs` consumes it unchanged with
    ``bands * rows_per_band == num_buckets``."""
    if num_buckets & (num_buckets - 1):
        raise ValueError("num_buckets must be a power of two")
    if densify not in ("minrehash", "optimal"):
        raise ValueError("densify must be 'minrehash' or 'optimal'")
    shift = 64 - int(num_buckets).bit_length() + 1  # top log2(nb) bits
    # The chain, not word_ngram_hashes: duplicate shingles are NOT
    # deduped — min is idempotent, so array_distinct would be pure cost.
    # Null/empty docs are dropped HERE, on the raw base column: a narrow
    # predicate on the scan (pushdown-safe, no expression re-evaluation —
    # unlike a size(hs) filter, see below).  Without it every empty doc
    # gets the same whole-text-fallback signature and they all land in
    # one identical-signature LSH bucket — a B(B-1)/2 pair bomb contained
    # only by the bucket cap.  Empty docs have no shingles, hence no
    # meaningful Jaccard; excluding them matches the exact re-check,
    # which would score them 0/0 anyway.
    # NB: no DataFrame-level `size(hs) > 0` filter — predicate pushdown
    # slides it below the projections and re-evaluates the whole shingle
    # pipeline once per row just to test emptiness (measured 2x the
    # stage); null/empty rows are skipped inside the scatter instead.
    hashed = df.filter(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    ).select(
        F.col(id_col).alias("doc_id"),
        word_ngram_hash_chain(F.col(text_col), n).alias("hs"),
    )

    def scatter(batches):
        import numpy as np
        import pandas as pd

        from associationabacminer_spark.sketch.hashing import splitmix64

        nb = num_buckets
        maxv = np.uint64(0xFFFFFFFFFFFFFFFF)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = [
                (i, np.asarray(a, dtype=np.int64))
                for i, a in enumerate(pdf["hs"])
                if a is not None and len(a) > 0
            ]
            if not keep:
                continue
            pdf = pdf.iloc[[i for i, _ in keep]]
            arrs = [a for _, a in keep]
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
            flat = np.concatenate(arrs).view(np.uint64)
            rows = np.repeat(np.arange(len(arrs)), lens)
            buckets = (flat >> np.uint64(shift)).astype(np.int64)
            sig = np.full((len(arrs), nb), maxv, dtype=np.uint64)
            np.minimum.at(sig, (rows, buckets), flat)
            gmin = sig.min(axis=1)  # >=1 bucket filled per row (hs nonempty)
            empty = sig == maxv
            if densify == "optimal":
                # Optimal densification (Shrivastava, ICML 2017): empty
                # bucket b copies a DONOR bucket's min, donor sequence
                # fixed by (b, attempt) and identical for every doc —
                # two docs empty at b follow the same walk, so the
                # copied slot collides with probability J like any
                # occupied slot.
                #
                # Round 6: the walk iterates over SPARSE (row, bucket)
                # coordinates instead of full (rows x nb) matrices.  The
                # matrix formulation re-scanned and re-allocated every
                # cell once per attempt, and short docs (few filled
                # buckets -> donor hit probability k/nb per attempt)
                # need ~nb/k attempts — measured 149.6 s vs min-rehash's
                # 16.8 s for the whole 12M-doc signature stage.  The
                # pair list shrinks geometrically as buckets fill, and
                # donor values are always ORIGINAL minima (a donor must
                # be filled0, and filled0 buckets are never overwritten)
                # so the copied values are identical to the matrix walk.
                filled0 = ~empty
                r_need, b_need = np.nonzero(empty)
                step = np.uint64(0x9E3779B97F4A7C15)
                attempt = 0
                while r_need.size and attempt < 256:
                    attempt += 1
                    # the multiply wraps modulo 2^64 on purpose
                    with np.errstate(over="ignore"):
                        salt = np.uint64(attempt) * step
                    donors = (
                        splitmix64(b_need.astype(np.uint64) ^ salt)
                        % np.uint64(nb)
                    ).astype(np.int64)
                    ok = filled0[r_need, donors]
                    if ok.any():
                        sig[r_need[ok], b_need[ok]] = sig[
                            r_need[ok], donors[ok]
                        ]
                        keepm = ~ok
                        r_need, b_need = r_need[keepm], b_need[keepm]
                # stragglers (pathological sparsity) fall through to the
                # min-rehash fill below
                empty = np.zeros_like(empty)
                empty[r_need, b_need] = True
            fills = splitmix64(
                gmin[:, None] ^ (np.arange(nb, dtype=np.uint64)[None, :])
            )
            sig = np.where(empty, fills, sig).view(np.int64)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "sig": list(sig)}
            )

    return hashed.mapInPandas(scatter, schema="doc_id long, sig array<bigint>")


def band_hash_table(
    sig_df: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band_hash) — one row per (doc, band); the bucket key is
    ONE long, xxhash64 over (band index, the band's raw signature longs).
    Factored out so the incremental-ingest store (operators/ingest.py)
    bands with byte-identical keys to :func:`lsh_candidate_pairs`."""
    return sig_df.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_hash"),
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Band the signatures and bucket on the per-band hash key: documents
    agreeing on any full band become candidates.  This is the scale path
    — shuffle is a hash on the band key, never O(n^2).

    Round-4: pairs are generated from a single groupBy bucket (one
    shuffle of the banded rows) instead of the previous two-sided
    self-join (which shuffled the banded table twice — ~46 GB at 59M
    docs).  ``max_bucket_size`` drops buckets above the cap before pair
    expansion: a bucket of B identical-band docs emits B(B-1)/2 pairs
    (the hot-key bomb), and with exact dedup upstream any bucket that
    large is boilerplate whose near-dup pairs are recoverable from its
    rarer bands.  None disables the cap (exact parity with the old
    join)."""
    # Round-5: the bucket key is ONE long — xxhash64 over (band index,
    # raw signature longs).  The previous key was (band, band_hash) with
    # band_hash = xxhash64(concat_ws(",", values)): materializing a
    # ~40-80 byte string per (doc, band) row just to hash it cost
    # ~60 GB of transient string building at the 59M rung, and the
    # two-column key widened the shuffle rows and the window sort.
    # Hashing the longs directly is byte-exact deterministic, and the
    # band index inside the hash preserves band-alignment semantics
    # (docs collide only when the SAME band agrees, up to a 2^-64 hash
    # collision — candidate-superset-safe either way, since every pair
    # is exact-rechecked downstream).
    banded = band_hash_table(sig_df, bands=bands, rows_per_band=rows_per_band)
    return bucket_pairs(banded, max_bucket_size)


def bucket_pairs(keyed: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Distinct (id_a, id_b) pairs, id_a < id_b, of ``doc_id``s sharing
    a bucket; every other column of ``keyed`` is the bucket key.

    Bucket-size filter BEFORE any collect_list, in ONE pass: a window
    count over the bucket key shuffles ``keyed`` once (spill-safe row
    buffer per group), drops the singleton buckets, and the groupBy that
    follows requires the exact partitioning the window already
    established — EnsureRequirements inserts no second Exchange, so the
    expensive map upstream (signatures, hyperplane bits) runs exactly
    once.  (A collect_list-first formulation OOMs at 59M docs — the
    partial aggregation buffers a list per mostly-singleton key; a
    count-aggregate + self-join formulation recomputes the upstream
    scan twice.  Plan-asserted single-Exchange in tests.)
    ``max_bucket_size`` also drops buckets above the cap."""
    key = [c for c in keyed.columns if c != "doc_id"]
    w = Window.partitionBy(*key)
    filtered = keyed.withColumn("n", F.count("*").over(w)).filter(F.col("n") > 1)
    if max_bucket_size is not None:
        filtered = filtered.filter(F.col("n") <= max_bucket_size)
    buckets = filtered.groupBy(*key).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    # all pairs within a bucket: (i-th, each later element); ids sorted so
    # id_a < id_b holds without a least/greatest pass
    e1 = buckets.select("ids", F.posexplode("ids").alias("i", "id_a"))
    return (
        e1.select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))  # guards duplicate input ids
        .distinct()
    )


def band_width(num_perm: int, bands: int) -> int:
    """Signature slots per LSH band (``rows_per_band``).  ``bands`` must
    divide ``num_perm``: a non-divisible split would silently exclude
    the tail signature slots from every band key, weakening candidate
    recall with no diagnostic."""
    if num_perm % bands:
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}) — "
            "tail signature slots would silently drop out of every band"
        )
    return num_perm // bands


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    method: str = "oph",
    max_bucket_size: int | None = 4096,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidate
    pairs -> exact Jaccard re-check of candidates only.

    ``method="oph"`` (the default, and the documented choice at scale)
    uses one-permutation signatures (:func:`minhash_signatures_oph`,
    num_perm as the bucket count) — O(1) hashing per shingle instead of
    O(num_perm); measured 6x the classic signature stage at 1.2M docs
    and -40% on the 59M minhash stage.  ``method="classic"`` keeps the
    per-permutation formulation (useful for small corpora or when exact
    parity with a classic-MinHash system is required); candidates differ
    statistically between the two but every reported pair is
    exact-Jaccard re-checked, so precision is identical either way.

    ``max_bucket_size`` forwards to :func:`lsh_candidate_pairs` — pass
    ``None`` to disable the hot-bucket cap and recover exact candidate
    parity with an uncapped banding (at the cost of the B(B-1)/2 pair
    bomb on pathological buckets)."""
    rows_per_band = band_width(num_perm, bands)
    if method == "oph":
        sigs = minhash_signatures_oph(df, text_col, id_col, num_buckets=num_perm, n=n)
    else:
        sigs = minhash_signatures(df, text_col, id_col, num_perm=num_perm, n=n)
    cands = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band, max_bucket_size=max_bucket_size
    )
    return exact_jaccard_recheck(
        df, cands, text_col, id_col, n=n, threshold=threshold
    )


def exact_jaccard_recheck(
    df: DataFrame,
    cands: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (id_a, id_b) pairs, the
    scoring step of :func:`ngram_jaccard_pairs` (:func:`_scored`):
    hashed shingle arrays are built only for docs appearing in a pair.
    Shared by :func:`minhash_lsh_dedup` and the incremental-ingest path
    (operators/ingest.py)."""
    return _scored(
        cands, df, text_col, id_col, n, threshold, "jaccard", _jaccard_denominator
    )


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document, computed entirely JVM-side: explode
    tokens, per-bit signed sums, sign -> bit reassembly."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(64)
        ]
    )
    sim = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long") * (2**j if j < 63 else -(2**63))).otherwise(0)
                for j in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sim


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance <= k via PIGEONHOLE banding:
    the 64 bits split into ``max_hamming + 1`` contiguous blocks, so any
    pair within distance k agrees exactly on at least one block
    (pigeonhole: k differing bits cannot touch all k+1 blocks).  Each
    block is an equi-join key; candidates are the union over blocks,
    deduplicated, then re-checked with the exact popcount — guaranteed
    recall 1.0 at distance <= k, never an all-pairs join.

    (Replaces the round-1 single-prefix blocking, which silently dropped
    any pair whose differing bits fell inside the prefix — VERDICT.md
    round 1, scale-killer #3.)"""
    n_blocks = max_hamming + 1
    base = 64 // n_blocks
    rem = 64 % n_blocks
    # block i covers [off_i, off_i + width_i); widths differ by <= 1
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    def _block_key(i: int):
        key = F.shiftrightunsigned(F.col("simhash"), offsets[i])
        # width 64 (max_hamming=0, one block) needs no mask — and
        # (1 << 64) - 1 would overflow LongType anyway
        if widths[i] < 64:
            key = key.bitwiseAND(F.lit((1 << widths[i]) - 1))
        return key

    blocks = F.array(
        *[
            F.struct(F.lit(i).alias("blk"), _block_key(i).alias("key"))
            for i in range(n_blocks)
        ]
    )
    keyed = sim_df.select(
        F.col("doc_id"), F.col("simhash"), F.explode(blocks).alias("b")
    ).select("doc_id", "simhash", "b.blk", "b.key")
    a = keyed.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "key"
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "key"
    )
    cands = (
        a.join(b, ["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): k-byte Rabin-Karp ROLLING hashes over
    the normalized text, keeping each ``window``'s minimum, deduplicated.
    Guarantees: any substring match of length >= k + window - 1 shares a
    selected print, and prints are position-independent — the classic
    copy-detection / near-dup fingerprint the md5-of-sorted-tokens
    `functions.text.fingerprint` cannot provide.

    Vectorized pandas_udf: one numpy convolution + sliding-window min per
    document (Arrow-batched; the rolling recurrence is not expressible in
    Catalyst built-ins).  Returns (doc_id, prints array<long>)."""
    from pyspark.sql.functions import pandas_udf

    mod = (1 << 31) - 1  # Mersenne-31: byte*weight sums fit uint64 exactly
    base = 257
    weights = np.array(
        [pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.uint64
    )
    if k * 255 * (mod - 1) >= (1 << 64):  # overflow guard for custom k
        raise ValueError("k too large for the uint64 rolling-hash path")

    @pandas_udf("array<long>")
    def prints(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            norm = "".join(ch for ch in (t or "").lower() if ch.isalnum())
            b = np.frombuffer(norm.encode("utf-8"), dtype=np.uint8)
            if len(b) < k:
                out.append([])
                continue
            # exact Rabin-Karp in uint64: each window sums k terms
            # <= 255 * (2^31 - 1) < 2^42 -- no overflow, no objects
            windows = np.lib.stride_tricks.sliding_window_view(b, k)
            h = (windows.astype(np.uint64) @ weights) % np.uint64(mod)
            if len(h) >= window:
                sel = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
            else:
                sel = np.array([h.min()])
            # h < 2^31, so every print fits a signed int64 as-is
            out.append(sorted({int(x) for x in sel.tolist()}))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("doc_id"), prints(F.col(text_col)).alias("prints")
    )


def winnow_overlap_pairs(
    fp_df: DataFrame, min_overlap: float = 0.5, max_print_df: int | None = None
) -> DataFrame:
    """Near-dup pairs by shared winnowed prints: explode -> equi-join on
    print -> overlap coefficient |A∩B| / min(|A|,|B|) >= threshold.
    Same candidate-then-exact shape as the other dedup paths — never an
    all-pairs join.

    ``max_print_df`` caps the join fan-out with the n-gram operators'
    hot-key cap (:func:`_drop_hot`).  Capped prints are excluded from
    the join, the overlap numerator, AND the per-doc denominators
    (counts are recomputed after the exclusion), so the coefficient is
    the true overlap over non-boilerplate prints and a pair is missed
    only if all its shared prints are boilerplate."""
    exploded = _drop_hot(
        fp_df.filter(F.size("prints") > 0).select("doc_id", F.explode("prints").alias("p")),
        "p",
        max_print_df,
    )
    a = exploded.select(F.col("doc_id").alias("id_a"), "p")
    b = exploded.select(F.col("doc_id").alias("id_b"), "p")
    common = (
        a.join(b, "p")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    # denominators over the SAME post-exclusion print sets as the numerator
    sized = exploded.groupBy("doc_id").agg(F.count("*").alias("n"))
    na = sized.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sized.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("overlap", F.col("common") / F.least("na", "nb"))
        .filter(F.col("overlap") >= min_overlap)
        .select("id_a", "id_b", F.round("overlap", 6).alias("overlap"))
    )


def _window_fingerprint_rows(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, s, fp) rows: one xxhash64 fingerprint per k-token window of
    ``text_col`` (whitespace tokens, lowercased), with its 0-based token
    start ``s`` — the hashed k-gram chain (``word_ngram_hash_chain`` at
    n = k) posexploded, so no window string is ever materialized and the
    token arrays stay pinned by its ``bind_once``.  Docs shorter than k
    tokens produce no rows: the filter on the raw column drops them
    before the chain's whole-text fallback could fire."""
    return df.filter(F.size(tokens(text_col)) >= k).select(
        F.col(id_col),
        F.posexplode(word_ngram_hash_chain(F.col(text_col), k)).alias("s", "fp"),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection: maximal per-doc token spans
    every k-token window of which repeats >= ``min_count`` times
    corpus-wide (the exact-substring-dedup building block of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — the span-level member the doc-level dedup family
    [exact_dedup / minhash_lsh_dedup] cannot express: boilerplate
    headers, license blocks, and templated passages repeat across
    otherwise-distinct documents).

    Reference analog: content-hash dedup of whole rows
    (/root/reference/src/model/EnvLogUniverseGenerator.py:91-94)
    generalized below row granularity.

    Pure Catalyst, three shuffles, all on bounded keys:
      1. per-row window fingerprints (``_window_fingerprint_rows``) →
         posexplode to (id, start, fp) — one 8-byte long per window, no
         window strings.
      2. duplicated fingerprints: hash groupBy on fp (uniform 64-bit
         key, no skew) HAVING count >= min_count; windows semi-joined
         against it (broadcast when small).
      3. gap-and-island merge per doc: window partitioned by ``id_col``
         (never a global sort) fusing windows whose starts are within k
         tokens — overlapping or exactly adjacent duplicated windows
         collapse into one maximal span.

    Returns (id_col, span_start, span_end, n_windows); span_end is
    EXCLUSIVE in token positions; n_windows counts the duplicated
    k-windows inside the span.  A fingerprint collision (2^-64 per
    window pair) can at worst extend a span — the documented trade shared
    with the decontaminate/LSH re-check paths."""
    return (
        _span_islands(df, text_col, id_col, k, min_count)
        .groupBy(id_col, "island")
        .agg(
            F.min("s").cast("long").alias("span_start"),
            (F.max("s") + k).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("island")
    )


def _span_islands(
    df: DataFrame, text_col: str, id_col: str, k: int, min_count: int
) -> DataFrame:
    """(id, s, fp, island) duplicated-window rows with their per-doc
    gap-and-island span assignment (see ``duplicated_spans``)."""
    wins = _window_fingerprint_rows(df, text_col, id_col, k)
    # duplicated-fingerprint filter as a WINDOW count over fp (the
    # lsh_candidate_pairs pattern): the groupBy + semi-join formulation
    # referenced ``wins`` twice, re-running the tokenize/fingerprint
    # scan over the whole corpus a second time and paying a broadcast
    # build; the window shuffles the (id, s, fp) rows once on the
    # uniform 8-byte fp key instead (round 6, §2.4)
    wf = Window.partitionBy("fp")
    hits = (
        wins.withColumn("__n__", F.count("*").over(wf))
        .filter(F.col("__n__") >= min_count)
        .drop("__n__")
    )
    w = Window.partitionBy(id_col).orderBy("s")
    return (
        hits.withColumn("prev_s", F.lag("s").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev_s").isNull() | (F.col("s") - F.col("prev_s") > k), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
        .drop("prev_s", "brk")
    )


def _paragraph_rows(
    df: DataFrame, text_col: str, id_col: str, sep: str
) -> DataFrame:
    """(id, pos, par, hpar) one row per non-empty trimmed paragraph,
    pos = 0-based split index (original order key)."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "__raw__"),
    )
    return (
        ex.select(id_col, "pos", F.trim("__raw__").alias("par"))
        .filter(F.col("par") != "")
        .withColumn("hpar", F.xxhash64("par"))
    )


def scrub_common_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 2,
    sep: str = r"\n+",
) -> DataFrame:
    """Corpus-wide duplicate-paragraph (boilerplate) removal — the
    paragraph-hash dedup step of CCNet (Wenzek et al. 2020) and
    RefinedWeb (Penedo et al. 2023): navigation chrome, license
    blocks, and cookie banners repeat VERBATIM across millions of pages,
    at a granularity doc-level dedup can't see and span-level dedup
    (``duplicated_spans``) only catches when they are long enough.  A
    paragraph whose corpus occurrence count >= ``min_df`` is scrubbed:
    every occurrence dropped — the CCNet boilerplate-removal semantics.

    Scale shape (two shuffles, both slim): (1) paragraph rows explode
    map-side and hash-aggregate on the 8-byte ``xxhash64`` key —
    uniform, no skew; only hashes with n_occ >= min_df survive the
    HAVING, so the join table is the (small) boilerplate set, broadcast
    by AQE when it fits.  (2) per-doc SCRUB POSITIONS — only the
    scrubbed occurrences (usually a small fraction of the corpus)
    enter the rebuild shuffle, as (id, int) pairs; the surviving text
    is then rebuilt MAP-SIDE from the original column with a two-arg
    ``F.filter`` over the re-split array.  Paragraph strings never
    enter any shuffle; a 2^-64-per-pair hash collision can at worst
    scrub an innocent paragraph — the documented trade shared with
    every hashed-key path in this module.

    Returns one row per input doc: (id_col, text_col = rebuilt text of
    trimmed surviving paragraphs joined by newlines, n_paras,
    n_scrubbed).  Docs whose every paragraph is scrubbed (or that had
    none) come back with '' — filter on ``text_col != ''`` to drop
    them, keep them to preserve row alignment."""
    paras = _paragraph_rows(df, text_col, id_col, sep)
    hot = (
        paras.groupBy("hpar")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= min_df)
        .select("hpar")
    )
    drops = (
        paras.join(hot, "hpar")  # inner: only boilerplate occurrences
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__drop__"))
    )
    out = df.join(drops, id_col, "left")
    passthrough = [c for c in df.columns if c != text_col]
    # chained projection: bind the split array and the drop list as
    # attributes so they evaluate once per row (the transform-inlining
    # trap text.bind_once documents)
    bound = out.select(
        *passthrough,
        # coalesce: a NULL text would propagate through split ->
        # size(null) = -1 in the counters; treat it as an empty doc
        F.split(F.coalesce(F.col(text_col), F.lit("")), sep).alias("__split__"),
        F.coalesce(F.col("__drop__"), F.array().cast("array<int>")).alias(
            "__dropped__"
        ),
    )
    kept = F.filter(
        F.col("__split__"),
        lambda x, i: (F.trim(x) != "") & ~F.array_contains(F.col("__dropped__"), i),
    )
    n_paras = F.size(
        F.filter(F.col("__split__"), lambda x: F.trim(x) != "")
    )
    # NB: an explicit ONE-arg lambda below — F.trim itself has signature
    # (col, trim=None), so pyspark would pass (element, index) into it
    # (the two-parameter transform-lambda trap, third sighting)
    rebuilt = F.array_join(
        F.transform(kept, lambda x: F.trim(x)), "\n"
    ).alias(text_col)
    cols = [rebuilt if c == text_col else F.col(c) for c in df.columns]
    return bound.select(
        *cols,
        n_paras.cast("long").alias("n_paras"),
        F.size("__dropped__").cast("long").alias("n_scrubbed"),
    )
