"""End-to-end curation-pipeline test: the operators composed the way a
real training-data job chains them —

    exact dedup -> near-dup closure (MinHash -> components) ->
    quality/repetition filter -> decontaminate vs a held-out set ->
    deterministic split -> per-source quota -> sequence packing

Each stage's output feeds the next; the assertions check the pipeline
INVARIANTS (no duplicate content survives, no contaminated test doc
survives, splits are disjoint and deterministic, packs are dense), not
per-stage internals — those live in test_operators.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from associationabacminer_spark.operators import dedup, sampling
from associationabacminer_spark.operators.components import assign_components
from associationabacminer_spark.operators.decontaminate import contaminated_ids
from associationabacminer_spark.operators.packing import pack_sequences
from associationabacminer_spark.functions.text import repetition_ratio


@pytest.fixture(scope="module")
def corpus(spark):
    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # inject exact dups + a degenerate-repetition doc so every stage has
    # something to remove
    dups = base.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5_000_000
    )
    junk = spark.createDataFrame(
        [(9_000_001, "spam " * 200, "en", "synthetic", 1000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return base.unionByName(dups).unionByName(junk).cache()


class TestCurationPipeline:
    def test_full_chain_invariants(self, spark, corpus):
        n0 = corpus.count()

        # 1. exact dedup
        uniq = dedup.exact_dedup(corpus, "text", "doc_id")
        assert uniq.count() < n0  # injected dups removed
        assert (
            uniq.groupBy(F.md5("text")).count().filter(F.col("count") > 1).count()
            == 0
        )

        # 1b. paragraph-level boilerplate scrub (CCNet/RefinedWeb) over
        # 12-token-chunked text — chunking only changes whitespace,
        # which every downstream tokenizer (split on \s+) normalizes.
        # Every occurrence of a duplicated paragraph is dropped, so the
        # rebuilt corpus has NO paragraph with n_occ >= 2.
        keep = [c for c in uniq.columns if c != "text"]
        tokd = uniq.select(
            *keep, F.split(F.trim(F.col("text")), r"\s+").alias("__toks__")
        )
        chunks = F.transform(
            F.sequence(
                F.lit(0).cast("long"), F.floor((F.size("__toks__") - 1) / 12.0)
            ),
            lambda i: F.array_join(F.slice(F.col("__toks__"), i * 12 + 1, 12), " "),
        )
        chunked = tokd.select(
            *keep, F.array_join(chunks, "\n").alias("text")
        )
        # materialize between stages (what the lineage ledger does in a
        # real run) — every downstream stage otherwise re-executes the
        # scrub's join lineage per action
        scrubbed = (
            dedup.scrub_common_paragraphs(chunked, "text", "doc_id")
            .filter(F.trim(F.col("text")) != "")
            .drop("n_paras", "n_scrubbed")
            .localCheckpoint()
        )
        paras = (
            scrubbed.select(F.explode(F.split("text", r"\n+")).alias("par"))
            .select(F.trim("par").alias("par"))
            .filter(F.col("par") != "")
        )
        assert paras.groupBy("par").count().filter(F.col("count") >= 2).count() == 0
        # the injected spam loop chunks into 16 identical 12-token
        # paragraphs and an 8-token tail: the scrub drops every repeated
        # chunk and keeps only the tail, which occurs once
        spam = scrubbed.filter(F.col("doc_id") == 9_000_001).collect()
        assert [r["text"] for r in spam] == [" ".join(["spam"] * 8)]

        # 2. near-dup closure: MinHash-LSH pairs -> components -> keep roots
        pairs = dedup.minhash_lsh_dedup(
            scrubbed, "text", "doc_id", num_perm=32, bands=16, n=3, threshold=0.6
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        comp = assign_components(scrubbed, pairs, "doc_id")
        roots = comp.filter(F.col("doc_id") == F.col("component")).select("doc_id")
        survivors = scrubbed.join(roots, "doc_id", "left_semi")

        # 3. quality + repetition screen (token-level, then the Gopher
        # n-gram rules, then the bigram-LM cross-entropy band)
        from associationabacminer_spark.operators.lm import (
            bigram_lm_scores,
            gopher_repetition,
        )

        rep = gopher_repetition(survivors, "text", "doc_id")
        raw_spam = uniq.filter(F.col("doc_id") == 9_000_001)
        assert (
            gopher_repetition(raw_spam, "text", "doc_id")
            .filter(F.col("dup_2gram_frac") > 0.9)
            .count()
            == 1
        )  # the unscrubbed spam loop is exactly what the Gopher rules catch
        ok_rep = rep.filter(
            (F.col("dup_3gram_frac") < 0.9) & (F.col("dup_4gram_frac") < 0.9)
        ).select("doc_id")
        screened = survivors.join(ok_rep, "doc_id", "left_semi")
        clean = screened.filter(repetition_ratio(F.col("text")) < 0.8)
        assert clean.filter(F.col("doc_id") == 9_000_001).count() == 0
        xent = bigram_lm_scores(clean, "text", "doc_id")
        assert xent.filter(F.col("xent").isNull()).count() == 0
        clean = clean.join(
            xent.filter(F.col("xent") < 100.0).select("doc_id"),
            "doc_id",
            "left_semi",
        )
        assert clean.count() > 0

        # 3b. DSIR: importance weights toward the corpus' English slice,
        # then a Gumbel top-k resample — the target-shifting draw (the
        # uniform quota in stage 5 is the coverage draw)
        from associationabacminer_spark.operators.lm import dsir_logratio
        from associationabacminer_spark.operators.sampling import dsir_sample

        w = dsir_logratio(
            clean, "text", "doc_id", clean.filter(F.col("lang") == "en")
        )
        assert w.filter(F.col("logw").isNull()).count() == 0
        # weights point toward the target: English docs weigh higher on
        # average than non-English (deterministic corpus, stable check)
        means = dict(
            w.join(clean.select("doc_id", "lang"), "doc_id")
            .withColumn("is_en", (F.col("lang") == "en").cast("int"))
            .groupBy("is_en")
            .agg(F.avg("logw").alias("m"))
            .rdd.map(tuple)
            .collect()
        )
        assert means[1] > means[0]
        picked = dsir_sample(
            clean.join(w.select("doc_id", "logw"), "doc_id"), "doc_id", "logw", 200
        )
        assert picked.count() == min(200, w.count())

        # 4. decontaminate vs a held-out slice of itself (guaranteed hits)
        test_set = clean.filter(F.col("doc_id") % 7 == 0)
        train_set = clean.filter(F.col("doc_id") % 7 != 0)
        hits = contaminated_ids(train_set, test_set, "text", "doc_id", n=5)
        safe_test = test_set.join(hits, "doc_id", "left_anti")
        # re-running contamination against train finds nothing
        assert contaminated_ids(train_set, safe_test, "text", "doc_id", n=5).count() == 0

        # 5. deterministic split + per-source quota on the train side
        split = sampling.hash_split(train_set, "doc_id", test_frac=0.1)
        counts = dict(
            split.groupBy("split").count().rdd.map(tuple).collect()
        )
        assert set(counts) <= {"train", "test"} and counts.get("train", 0) > 0
        capped = sampling.quota_sample(
            split.filter(F.col("split") == "train"), "source", "doc_id", 50
        )
        worst = (
            capped.groupBy("source").count().agg(F.max("count")).collect()[0][0]
        )
        assert worst <= 50

        # 5b. token-budget mixture: equal shares over sources, budget
        # tight enough to bind every source's allocation
        from associationabacminer_spark.functions.text import token_count

        with_tok = capped.withColumn(
            "n_tok", token_count(F.col("text")).cast("long")
        )
        n_sources = with_tok.select("source").distinct().count()
        mixed = sampling.token_budget_mix(
            with_tok, "source", "doc_id", "n_tok", 200 * n_sources,
            pre_buckets=8,
        )
        per_src = {
            r["source"]: r["t"]
            for r in mixed.groupBy("source")
            .agg(F.sum("n_tok").alias("t"))
            .collect()
        }
        assert all(v <= 200 for v in per_src.values())

        # 6. sequence packing: every doc placed exactly once, offsets valid
        packed = pack_sequences(capped, "doc_id", "text", budget=256, n_buckets=4)
        assert packed.count() == capped.count()
        assert packed.filter(
            (F.col("offset") < 0) | (F.col("offset") >= 256)
        ).count() == 0
        stats = packed.groupBy("pack_id").agg(
            F.sum("n_tokens").alias("used_tokens")
        )
        assert stats.count() >= 4
        # packs are dense: the concat-split stream has no gaps, so every
        # shard's mean used_tokens per pack must be >= the budget except
        # for one terminal (partial) pack per shard
        per_shard = (
            stats.withColumn("shard", F.col("pack_id") / 1_000_000_000)
            .groupBy(F.floor("shard").alias("s"))
            .agg(F.sum("used_tokens").alias("tok"), F.count("*").alias("np"))
            .collect()
        )
        for r in per_shard:
            assert r["tok"] >= (r["np"] - 1) * 256, dict(r.asDict())

        # 7. rerunning the whole chain is byte-identical (determinism)
        again = sampling.quota_sample(
            sampling.hash_split(train_set, "doc_id", test_frac=0.1).filter(
                F.col("split") == "train"
            ),
            "source",
            "doc_id",
            50,
        )
        a = sorted(r["doc_id"] for r in capped.select("doc_id").collect())
        b = sorted(r["doc_id"] for r in again.select("doc_id").collect())
        assert a == b


class TestIngestPipeline:
    def test_steady_state_ingest_against_persisted_store(self, spark, corpus):
        """The steady-state continuation of the curation chain: day 0's
        accepted corpus becomes the fingerprint store (in-session tables
        a caller would persist as parquet); day 1's crawl
        (mostly recrawled content + a few new docs) is ingested against
        it.  Invariants: recrawled content never survives, new content
        always does, the store absorbs the delta, and re-ingesting day 1
        yields zero survivors."""
        from associationabacminer_spark.operators.ingest import (
            dedup_store_append,
            dedup_store_build,
            incremental_ingest,
            ingest_delta,
        )

        day0 = dedup.exact_dedup(
            corpus.filter(F.col("doc_id") < 5_000_000), "text", "doc_id"
        )
        store = dedup_store_build(day0, "text", "doc_id")

        # day 1: recrawl of 1/3 of day 0 under new ids + 3 new docs
        recrawl = day0.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"
        )
        new_docs = spark.createDataFrame(
            [
                (8_000_001, "entirely new content about glaciers and moraines"),
                (8_000_002, "another genuinely novel doc regarding tide pools"),
                (8_000_003, "third fresh crawl page on basalt column geology"),
            ],
            "doc_id long, text string",
        )
        day1 = recrawl.unionByName(new_docs)
        surv = incremental_ingest(
            day1, store, "text", "doc_id", threshold=0.5
        ).localCheckpoint()
        kept = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
        assert kept == [8_000_001, 8_000_002, 8_000_003]

        # store absorbs the delta; re-ingest is empty
        store2 = dedup_store_append(
            store, ingest_delta(day1, surv, "text", "doc_id")
        )
        assert store2["exact"].distinct().count() > store["exact"].count()
        again = incremental_ingest(day1, store2, "text", "doc_id", threshold=0.5)
        assert again.count() == 0
