"""Incremental corpus ingestion: dedup a NEW batch of documents against a
fingerprint store of everything already accepted — without rescanning
(or even retaining) the historical corpus text.

At 100 TB the dominant curation cost is not the first dedup pass, it is
re-running dedup on every ingest: a web-crawl pipeline lands a new batch
daily against a corpus thousands of times larger.  Re-deduping the union
is O(corpus) per batch; this module makes it O(batch + matching keys):

- the STORE keeps three slim key tables, none of which contain text:
    ``exact``  (digest string)            — md5 per accepted distinct doc
    ``sigs``   (doc_id long, sig array)   — OPH MinHash signature per doc
    ``bands``  (band_hash long, doc_id)   — LSH band keys per doc
- an ingest batch is deduped WITHIN itself (exact + MinHash-LSH with an
  exact-Jaccard re-check, both sides' text in hand), then AGAINST the
  store: an anti-join of batch digests on ``exact`` (uniform 8-byte-ish
  key, no skew), and an equi-join of batch band hashes on ``bands`` for
  near-dup candidates.  Candidate pairs are verified by SIGNATURE-SLOT
  AGREEMENT (P[slot agrees] = Jaccard, the MinHash estimator itself) —
  the store holds signatures, not shingles, so historical text is never
  touched.  Estimator stderr is sqrt(J(1-J)/NUM_PERM) (~0.09 at J=0.5,
  NUM_PERM=32); callers needing exact re-check precision against history
  must retain historical text and re-run the batch through
  :func:`~associationabacminer_spark.operators.dedup.minhash_lsh_dedup`
  on the union — the trade this module exists to avoid.

  CONTAINMENT GAP (out of this store's contract): signature-slot
  agreement estimates JACCARD, which extreme size asymmetry drives
  toward 0 — a quoted/syndicated/boilerplate-wrapped near-copy of an
  ACCEPTED doc (containment ~1, Jaccard ~ |quote|/|page|) sails through
  the store probe and is admitted.  Within one batch the asymmetric
  case is covered by
  :func:`~associationabacminer_spark.operators.dedup.ngram_containment_pairs`
  (run it on the batch before ingest); batch-vs-HISTORY containment
  would need the store to retain hashed shingle sets for small docs
  (bounded rows, but a schema extension) — not implemented; callers for
  whom quoted-content dedup against history matters must keep
  historical text and use the containment operator on the union.
- after an ingest the store absorbs a delta (:func:`ingest_delta` +
  :func:`dedup_store_append`): exact digests of EVERY batch doc (seen
  set), signatures/bands of the SURVIVORS (accepted set).  Re-ingesting
  the same batch then yields ZERO survivors — every doc's digest is in
  the seen set — the idempotence invariant the tests and s50 pin.

The store is three DataFrames in the session; a caller that keeps it
across sessions writes and reads the three tables as plain parquet (the
COOKBOOK incremental-ingestion recipe).  The signature parameters are
the module constants below, not options: a stored ``sigs``/``bands``
table can only be compared against signatures built under these same
constants (signatures under another slot count, band split, n-gram
size or densification are silently incomparable).

Reference analog: the reference rebuilds its unique-logs universe from
scratch per run (/root/reference/src/model/EnvLogUniverseGenerator.py:84-104)
— viable single-node, not at 10^12 turns; the store is the incremental
re-expression.

Scale notes: every store interaction is an equi-join on a bounded key —
batch-side band hashes against ``bands``, batch digests against
``exact``.  Hot band buckets in the store (shared boilerplate accepted
before paragraph-scrub policies tightened) are capped at
candidate-expansion time at ``MAX_BUCKET``, as lsh_candidate_pairs caps
its buckets: a window count per band_hash on the matched subset only.
Nothing in the ingest path scans store rows that share no key with the
batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from associationabacminer_spark.operators.dedup import (
    band_hash_table,
    band_width,
    exact_dedup,
    exact_jaccard_recheck,
    lsh_candidate_pairs,
    minhash_signatures_oph,
)

NUM_PERM = 32
BANDS = 8
NGRAM = 3
# The store probe's verdict IS the signature (no exact re-check against
# history), so ingest uses OPTIMAL densification (Shrivastava, ICML
# 2017): P[slot agrees] = Jaccard for any pair, including docs with far
# fewer shingles than buckets where min-rehash slot agreement collapses
# (see minhash_signatures_oph).
DENSIFY = "optimal"
MAX_BUCKET = 4096
_ROWS_PER_BAND = band_width(NUM_PERM, BANDS)


def _signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return minhash_signatures_oph(
        df, text_col, id_col, num_buckets=NUM_PERM, n=NGRAM, densify=DENSIFY
    )


def _bands(sigs: DataFrame) -> DataFrame:
    return band_hash_table(sigs, bands=BANDS, rows_per_band=_ROWS_PER_BAND)


def dedup_store_build(
    df: DataFrame, text_col: str, id_col: str
) -> dict[str, DataFrame]:
    """Build the three store tables from an accepted corpus (or from an
    ingest's survivors, as the append delta).  ``exact`` is distinct —
    a store records membership, not multiplicity.  Docs with null/empty
    text get an exact digest but no signature (no shingles, no
    meaningful Jaccard — mirrors minhash_signatures_oph's narrow
    base-column filter)."""
    exact = df.select(F.md5(F.col(text_col)).alias("digest")).distinct()
    # a lazy local checkpoint: ``sigs`` and ``bands`` are two store
    # tables derived from the same OPH map, and a consumer touching both
    # (the ingest probe) would otherwise run the signature pass twice.
    # Its blocks live as long as the returned tables do; nothing is left
    # in the session's cache.
    sigs = _signatures(df, text_col, id_col).localCheckpoint(eager=False)
    return {"exact": exact, "sigs": sigs, "bands": _bands(sigs)}


def ingest_delta(
    batch: DataFrame, survivors: DataFrame, text_col: str, id_col: str
) -> dict[str, DataFrame]:
    """The store delta after an ingest: ``exact`` digests come from the
    WHOLE batch (every content seen — a doc rejected once must be
    rejected again, and this is what makes re-ingesting a batch yield
    zero survivors deterministically; survivor-only digests would let a
    near-dup-dropped doc resurface whenever the signature ESTIMATE
    undershoots the exact re-check that dropped it), while ``sigs`` and
    ``bands`` come from the SURVIVORS only (near-dup anchors are the
    accepted corpus — rejected docs shouldn't pull future docs into
    transitive drops the retained data can't explain)."""
    d = dedup_store_build(survivors, text_col, id_col)
    d["exact"] = batch.select(F.md5(F.col(text_col)).alias("digest")).distinct()
    return d


def dedup_store_append(
    store: dict[str, DataFrame], delta: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Union a delta (:func:`ingest_delta`) into the store.  ``exact``
    may acquire duplicate digests across appends (seen-set semantics,
    the anti-join is membership so duplicates only cost bytes)."""
    return {k: store[k].unionByName(delta[k]) for k in ("exact", "sigs", "bands")}


def incremental_ingest(
    batch: DataFrame,
    store: dict[str, DataFrame],
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    checkpoint: bool = True,
) -> DataFrame:
    """Survivors of ``batch`` after (1) exact dedup within the batch,
    (2) exact anti-join against the store, (3) MinHash-LSH near-dup
    within the remaining batch (exact-Jaccard re-check, min id kept),
    (4) near-dup drop against the store by signature-slot agreement.

    Steps run cheapest-first so each stage shrinks the next stage's
    input; the store is only ever probed by key; the OPH signature map
    runs ONCE — the within-batch banding (3) and the store probe (4)
    consume the same signature table.  ``checkpoint=True``
    (localCheckpoint) truncates lineage after the exact stages and after
    the signature map: the survivor table is referenced by four
    downstream branches, and without truncation Catalyst re-derives the
    whole upstream pipeline per branch (the same re-use pattern as the
    components and set-cover loops).  Returns the surviving batch rows
    with their original columns."""
    # (1) + (2): exact, within then versus history.  The anti-join key is
    # the same md5 the store records — uniform, unskewed.
    survivors = exact_dedup(batch, text_col, id_col)
    survivors = survivors.join(
        store["exact"],
        F.md5(F.col(text_col)) == store["exact"]["digest"],
        "left_anti",
    )
    if checkpoint:
        survivors = survivors.localCheckpoint()

    # ONE signature pass feeds both near-dup stages (slim: NUM_PERM longs
    # per doc).
    sigs = _signatures(survivors, text_col, id_col)
    if checkpoint:
        sigs = sigs.localCheckpoint()

    # (3): near-dup within the batch — both texts in hand, so the full
    # exact-re-check pipeline applies; drop the larger id of each
    # verified pair (id_a < id_b by construction, min id survives).
    cands_within = lsh_candidate_pairs(
        sigs, bands=BANDS, rows_per_band=_ROWS_PER_BAND, max_bucket_size=MAX_BUCKET
    )
    pairs = exact_jaccard_recheck(
        survivors, cands_within, text_col, id_col, n=NGRAM, threshold=threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = survivors.join(losers, id_col, "left_anti")

    # (4): near-dup versus history.  Batch band keys equi-join the
    # store's band table (8-byte key); candidate (new, old) pairs are
    # scored by signature-slot agreement (P[slot agrees] = Jaccard).
    # The window count caps hot store buckets on the MATCHED subset only
    # — an un-probed bucket costs nothing regardless of size.  Within-
    # batch losers keep their sig rows here; dropping a new doc because
    # it matches history is correct whether or not it also lost within
    # the batch, and the extra candidate rows are bounded by the losers.
    matched = _bands(sigs).join(
        store["bands"].withColumnRenamed("doc_id", "old_id"), "band_hash"
    )
    w = Window.partitionBy("band_hash")
    matched = matched.withColumn("n", F.count("*").over(w)).filter(
        F.col("n") <= MAX_BUCKET
    )
    cands = matched.select("doc_id", "old_id").distinct()
    agree = F.size(
        F.filter(
            F.zip_with("sig", "old_sig", lambda x, y: x == y), lambda b: b
        )
    ) / F.lit(float(NUM_PERM))
    near_hist = (
        cands.join(sigs, "doc_id")
        .join(
            store["sigs"].select(
                F.col("doc_id").alias("old_id"), F.col("sig").alias("old_sig")
            ),
            "old_id",
        )
        .withColumn("jaccard_est", agree)
        .filter(F.col("jaccard_est") >= threshold)
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    return survivors.join(near_hist, id_col, "left_anti")
