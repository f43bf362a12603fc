"""Incremental corpus ingestion: dedup a NEW batch of documents against a
persisted fingerprint store of everything already accepted — without
rescanning (or even retaining) the historical corpus text.

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
  touched.  Estimator stderr is sqrt(J(1-J)/num_perm) (~0.09 at J=0.5,
  num_perm=32); callers needing exact re-check precision against history
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

Reference analog: the reference rebuilds its unique-logs universe from
scratch per run (/root/reference/src/model/EnvLogUniverseGenerator.py:84-104)
— viable single-node, not at 10^12 turns; the store is the incremental
re-expression.

Scale notes: every store interaction is an equi-join on a bounded key —
batch-side band hashes against ``bands``, batch digests against
``exact``.  Hot band buckets in the store (shared boilerplate accepted
before paragraph-scrub policies tightened) are capped at
candidate-expansion time exactly like lsh_candidate_pairs'
``max_bucket_size``: a window count per band_hash on the matched subset
only.  Nothing in the ingest path scans store rows that share no key
with the batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.operators.dedup import (
    band_hash_table,
    band_width,
    exact_dedup,
    exact_jaccard_recheck,
    lsh_candidate_pairs,
    minhash_signatures_oph,
)

DEFAULT_NUM_PERM = 32
DEFAULT_BANDS = 8
DEFAULT_NGRAM = 3
# The store probe's verdict IS the signature (no exact re-check against
# history), so ingest defaults to OPTIMAL densification (Shrivastava,
# ICML 2017): P[slot agrees] = Jaccard for any pair, including docs with
# far fewer shingles than buckets where min-rehash slot agreement
# collapses (see minhash_signatures_oph).  Store and probe MUST use the
# same densify mode — signatures from different modes are incomparable.
DEFAULT_DENSIFY = "optimal"


def dedup_store_build(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_NGRAM,
    densify: str = DEFAULT_DENSIFY,
) -> dict[str, DataFrame]:
    """Build the three store tables from an accepted corpus (or from an
    ingest's survivors, as the append delta).  ``exact`` is distinct —
    a store records membership, not multiplicity.  Docs with null/empty
    text get an exact digest but no signature (no shingles, no
    meaningful Jaccard — mirrors minhash_signatures_oph's narrow
    base-column filter)."""
    rows_per_band = band_width(num_perm, bands)
    exact = df.select(F.md5(F.col(text_col)).alias("digest")).distinct()
    # persist: ``sigs`` and ``bands`` are two store tables derived from
    # the same OPH map — without it a consumer touching both (the ingest
    # probe, or a store write) runs the signature pass twice
    sigs = minhash_signatures_oph(
        df, text_col, id_col, num_buckets=num_perm, n=n, densify=densify
    ).persist()
    return {
        "exact": exact,
        "sigs": sigs,
        "bands": band_hash_table(sigs, bands=bands, rows_per_band=rows_per_band),
    }


def ingest_delta(
    batch: DataFrame,
    survivors: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_NGRAM,
    densify: str = DEFAULT_DENSIFY,
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
    d = dedup_store_build(
        survivors, text_col, id_col,
        num_perm=num_perm, bands=bands, n=n, densify=densify,
    )
    d["exact"] = batch.select(F.md5(F.col(text_col)).alias("digest")).distinct()
    return d


def dedup_store_append(
    store: dict[str, DataFrame], delta: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Union a delta (:func:`ingest_delta`) into the store.  Caller
    persists — each table is append-only parquet in practice; ``exact``
    may acquire duplicate digests across appends (seen-set semantics,
    the anti-join is membership so duplicates only cost bytes)."""
    return {k: store[k].unionByName(delta[k]) for k in ("exact", "sigs", "bands")}


def incremental_ingest(
    batch: DataFrame,
    store: dict[str, DataFrame],
    text_col: str,
    id_col: str,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.5,
    max_bucket_size: int | None = 4096,
    checkpoint: bool = True,
    densify: str = DEFAULT_DENSIFY,
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
    rows_per_band = band_width(num_perm, bands)

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

    # ONE signature pass feeds both near-dup stages (slim: num_perm longs
    # per doc).
    sigs = minhash_signatures_oph(
        survivors, text_col, id_col,
        num_buckets=num_perm, n=n, densify=densify,
    )
    if checkpoint:
        sigs = sigs.localCheckpoint()

    # (3): near-dup within the batch — both texts in hand, so the full
    # exact-re-check pipeline applies; drop the larger id of each
    # verified pair (id_a < id_b by construction, min id survives).
    cands_within = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size,
    )
    pairs = exact_jaccard_recheck(
        survivors, cands_within, text_col, id_col, n=n, threshold=threshold
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
    batch_bands = band_hash_table(sigs, bands=bands, rows_per_band=rows_per_band)
    matched = batch_bands.join(
        store["bands"].withColumnRenamed("doc_id", "old_id"), "band_hash"
    )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_hash")
        matched = matched.withColumn("n", F.count("*").over(w)).filter(
            F.col("n") <= max_bucket_size
        )
    cands = matched.select("doc_id", "old_id").distinct()
    agree = F.size(
        F.filter(
            F.zip_with("sig", "old_sig", lambda x, y: x == y), lambda b: b
        )
    ) / F.lit(float(num_perm))
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


STORE_TABLES = ("exact", "sigs", "bands")
_STORE_SCHEMAS = {
    "exact": "digest string",
    "sigs": "doc_id long, sig array<bigint>",
    "bands": "doc_id long, band_hash long",
}


_PARAM_KEYS = ("num_perm", "bands", "n", "densify")


def store_params(
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    n: int = DEFAULT_NGRAM,
    densify: str = DEFAULT_DENSIFY,
) -> dict:
    return {"num_perm": num_perm, "bands": bands, "n": n, "densify": densify}


def _check_store_params(store_dir: str, params: dict | None, write: bool) -> None:
    """Validate (and optionally record) the signature parameters a store
    was built with.  Signatures from different num_perm/bands/n/densify
    are silently incomparable — zip_with over different-length sig
    arrays pads with null and agreement underestimates — so a parameter
    drift must fail fast, not degrade."""
    import json
    import os

    if params is None:
        return
    path = os.path.join(store_dir, "params.json")
    if os.path.exists(path):
        with open(path) as f:
            existing = json.load(f)
        mismatched = {
            k: (existing.get(k), params[k])
            for k in _PARAM_KEYS
            if existing.get(k) != params[k]
        }
        if mismatched:
            raise ValueError(
                f"dedup store at {store_dir} was built with different "
                f"signature parameters: {mismatched} (stored, requested) — "
                "signatures across parameter sets are incomparable; "
                "rebuild the store or match its parameters"
            )
    elif write:
        os.makedirs(store_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({k: params[k] for k in _PARAM_KEYS}, f)
        os.replace(tmp, path)


def dedup_store_write(
    store: dict[str, DataFrame], store_dir: str, params: dict | None = None
) -> None:
    """Append the store tables under ``store_dir/{exact,sigs,bands}``.
    Append-only by design — an ingest delta never rewrites history.
    Pass ``params`` (:func:`store_params`)
    to record the signature parameters in ``params.json`` on first write
    and fail fast on a mismatch afterwards; callers composing the
    DataFrame-level API directly own that consistency when omitting it."""
    _check_store_params(store_dir, params, write=True)
    for k in STORE_TABLES:
        store[k].write.mode("append").parquet(f"{store_dir}/{k}")


def dedup_store_read(
    spark, store_dir: str, params: dict | None = None
) -> dict[str, DataFrame]:
    """Load the store tables; a missing table (fresh store) reads as
    empty with the canonical schema, so the first ingest against a new
    store needs no special-casing.

    Only the path-does-not-exist AnalysisException is treated as a
    fresh table — any OTHER read failure (corrupt parquet, permissions,
    transient FS error) raises instead of silently reading an empty
    store and re-admitting the whole historical corpus as new.  A
    leftover ``<table>__old`` with no ``<table>`` (a rewrite that parked
    the original and crashed before swapping its replacement in) is
    restored first.  ``params`` (optional) validates ``params.json`` as
    in :func:`dedup_store_write`."""
    import os

    from pyspark.errors import AnalysisException

    _check_store_params(store_dir, params, write=False)
    out: dict[str, DataFrame] = {}
    for k in STORE_TABLES:
        dst = f"{store_dir}/{k}"
        old = f"{dst}__old"
        if not os.path.exists(dst) and os.path.exists(old):
            # the original was parked and the replacement never swapped
            # in — restore rather than read as empty
            os.rename(old, dst)
        try:
            out[k] = spark.read.parquet(dst)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                out[k] = spark.createDataFrame([], _STORE_SCHEMAS[k])
            else:
                raise
    return out

