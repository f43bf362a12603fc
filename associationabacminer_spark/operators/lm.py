"""N-gram language-model scoring for corpus quality filtering — the
CCNet / Wenzek et al. 2020 ("CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") perplexity screen, re-expressed as
DataFrame aggregations: docs whose cross-entropy under a reference
bigram model is far above the corpus norm are boilerplate/gibberish
candidates; far below are template/loop candidates.

Reference analog: the k=v frequency Counter driving constant-column
detection (/root/reference/src/TableCreator.py:112-128) is a unigram
count model over events; this module is the same count-model idea one
order higher, with add-k smoothing and per-doc scoring.

Scale shape: the model is two hash aggregates over token keys (unigram
contexts + bigram pairs) — vocab-bounded output, orders of magnitude
smaller than the corpus — and scoring is two equi-joins of the doc-side
bigram stream against those count tables, then a per-doc aggregate.
Tokens are xxhash64-hashed BEFORE the shuffle (8 B keys instead of
strings through every exchange — the repo's slim-before-shuffle rule);
a 2^-64-per-pair collision can at worst merge two counts, the same
documented trade as the dedup re-check paths.  AQE broadcasts the count
tables when they fit; nothing here ever sorts or collects the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.functions.text import bind_once, tokens


def _bigram_rows(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(id?, hp, hw) hashed bigram rows, one per adjacent token pair.
    The token-hash array is pinned with ``bind_once`` (the
    transform-inlining trap documented in text.bind_once;
    round-6 plan audit showed the explode Generate collapsed the old
    chained projections and duplicated the tokenization)."""
    cols = [F.col(id_col)] if id_col else []
    tokd = df.select(*cols, tokens(text_col).alias("__toks__")).filter(
        F.size("__toks__") >= 2
    )
    pairs = bind_once(
        F.transform("__toks__", lambda t: F.xxhash64(t)),
        lambda th: F.transform(
            F.sequence(F.lit(1), F.size(th) - 1),
            lambda i: F.struct(
                F.element_at(th, i).alias("hp"),
                F.element_at(th, i + 1).alias("hw"),
            ),
        ),
    )
    ex = tokd.select(
        *([id_col] if id_col else []), F.explode(pairs).alias("__pair__")
    )
    return ex.select(
        *([id_col] if id_col else []),
        F.col("__pair__.hp").alias("hp"),
        F.col("__pair__.hw").alias("hw"),
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    add_k: float = 0.5,
) -> DataFrame:
    """Per-doc cross-entropy (nats/token) under an add-k-smoothed bigram
    model: xent = -avg ln P(w_i | w_{i-1}) with
    P(w|p) = (C(p,w) + k) / (C(p) + k*V), where C(p) is the bigram
    CONTEXT count (sum over w of C(p,w) — a doc's last token is not a
    context) and V the model vocabulary size.  The model is trained on
    the scored corpus itself (the self-perplexity screen).  Docs with
    fewer than two tokens produce no row.

    Returns (id_col, n_bigrams, xent) with xent rounded to 6 — the
    filter use is ``scores.filter(col("xent") < hi)`` or a
    quantiles_by_group band."""
    bigram, context, v = _model(_bigram_counts(df, text_col, ""), [""])
    dp = _bigram_rows(df, text_col, id_col)
    scored = (
        dp.join(bigram, ["hp", "hw"], "left")
        .join(context, ["hp"], "left")
        .withColumn("__nll__", _nll("cb", "cu", add_k, v[""]))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__nll__"), 6).alias("xent"),
    )


def _bigram_counts(model: DataFrame, text_col: str, suffix: str) -> DataFrame:
    """(hp, hw, cb<suffix>) bigram counts of an add-k bigram model; the
    count column is suffixed so two models can merge into one table
    (``dsir_logratio``)."""
    mp = _bigram_rows(model, text_col, id_col=None)
    return mp.groupBy("hp", "hw").agg(F.count("*").alias(f"cb{suffix}"))


def _model(bigram: DataFrame, suffixes: list[str]):
    """(bigram_counts, context_counts, {suffix: vocab_size}) of the
    models whose counts ``bigram`` holds, one ``cb<suffix>`` column
    each.  Context counts derive from the bigram table
    (cu(p) = sum_w cb(p, w)) and a model's vocab is the distinct
    hp ∪ hw of its rows (every token of a >= 2-token doc appears in some
    bigram), so neither re-scans the corpus.  The vocab-bounded table is
    a lazy local checkpoint: ONE scalar job computes every vocab size
    from ONE scan of it and materializes it, the scoring joins read its
    blocks, and those blocks live as long as the returned tables do
    (nothing is left in the session's cache)."""
    bigram = bigram.localCheckpoint(eager=False)
    context = bigram.groupBy("hp").agg(
        *[F.sum(f"cb{s}").alias(f"cu{s}") for s in suffixes]
    )
    own = [
        F.struct(
            F.when(F.col(f"cb{s}").isNotNull(), F.lit(s)).alias("m"),
            F.col(c).alias("h"),
        )
        for s in suffixes
        for c in ("hp", "hw")
    ]
    v = dict(
        bigram.select(F.inline(F.array(*own)))
        .filter(F.col("m").isNotNull())
        .groupBy("m")
        .agg(F.countDistinct("h"))
        .collect()
    )
    if not all(v.get(s) for s in suffixes):
        # every P(w|p) would be 0.5/0 -> xent = -inf; fail loudly instead
        raise ValueError(
            "model corpus has no bigrams (no doc with >= 2 tokens) — "
            "cannot train a bigram model"
        )
    return bigram, context, v


def _nll(cb: str, cu: str, add_k: float, v: int):
    """-ln P(w|p) column under add-k smoothing, with the LEFT-join
    zero-count (out-of-vocabulary) path coalesced."""
    return -F.log(
        (F.coalesce(F.col(cb), F.lit(0)) + F.lit(float(add_k)))
        / (F.coalesce(F.col(cu), F.lit(0)) + F.lit(float(add_k) * v))
    )


def dsir_logratio(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_df: DataFrame,
    add_k: float = 0.5,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    the log-likelihood ratio log p_target(x) - log p_raw(x) under two
    hashed-n-gram bag models — here the module's add-k bigram model,
    trained once on ``target_df`` (the clean reference corpus: the
    distribution you WANT more of) and once on ``df`` itself (the raw
    pool).  Docs that look more like the target than like the pool get
    positive ``logw``; resampling proportional to exp(logw)
    (``sampling.dsir_sample``) shifts the pool toward the target
    distribution, the DSIR recipe.

    With xent = -avg ln p per bigram, the total log-ratio is
    logw = (xent_raw - xent_target) * n_bigrams — computed from the
    UNROUNDED cross-entropies, then rounded.

    Scale shape: ONE scoring pass — the doc-side bigram stream is
    tokenized and exploded once, left-joins BOTH vocab-bounded count
    tables (four equi-joins on hashed 8-byte token keys; the tables
    broadcast when they fit), and one per-doc aggregate computes both
    cross-entropies together.  Half the corpus scans and shuffles of
    the naive score-twice-then-join composition.

    Returns (id_col, n_bigrams, xent_raw, xent_target, logw), all
    rounded to 6.  Docs with fewer than two tokens produce no row
    (they have no bigrams to weigh)."""
    # merge the two models' tables MODEL-SIDE (vocab-bounded, cheap) so
    # the big document bigram stream pays TWO lookups instead of four —
    # the full-outer merge keeps every (hp, hw) either model knows, a
    # context sum over a model's nulls is null, and _nll coalesces the
    # missing side to 0
    bm, cm, v = _model(
        _bigram_counts(target_df, text_col, "_t").join(
            _bigram_counts(df, text_col, "_r"), ["hp", "hw"], "full"
        ),
        ["_t", "_r"],
    )
    dp = _bigram_rows(df, text_col, id_col)
    scored = (
        dp.join(bm, ["hp", "hw"], "left")
        .join(cm, ["hp"], "left")
        .withColumn("__nll_r__", _nll("cb_r", "cu_r", add_k, v["_r"]))
        .withColumn("__nll_t__", _nll("cb_t", "cu_t", add_k, v["_t"]))
    )
    ag = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.avg("__nll_r__").alias("__xr__"),
        F.avg("__nll_t__").alias("__xt__"),
    )
    return ag.select(
        id_col,
        "n_bigrams",
        F.round("__xr__", 6).alias("xent_raw"),
        F.round("__xt__", 6).alias("xent_target"),
        F.round(
            (F.col("__xr__") - F.col("__xt__")) * F.col("n_bigrams"), 6
        ).alias("logw"),
    )


def gopher_repetition(
    df: DataFrame, text_col: str, id_col: str, ns: tuple[int, ...] = (2, 3, 4)
) -> DataFrame:
    """Within-doc duplicate n-gram fractions (the Gopher / Rae et al.
    2021 repetition rules): for each n, the fraction of the doc's
    n-gram occurrences that are repeats of an earlier occurrence —
    1 - distinct/total.  Catches loop/template degeneration that the
    corpus-level screens miss and the token-level repetition_ratio
    underweights (a doc alternating two sentences has low token
    repetition but dup_3gram_frac -> 1).

    ZERO-shuffle scale shape: every column is a per-row expression over
    the token-hash array (n-grams hashed via xxhash64 over slices — no
    n-gram strings), so the whole filter is map-side; the plan contains
    no Exchange at all.  ALL output columns are computed inside one
    bound-lambda struct emitted through ``inline`` — the Generate
    evaluates its generator once per row, so the token-hash array and
    each per-n gram array are built exactly once regardless of how many
    columns read them (the chained-projection form was collapsed by the
    optimizer and re-evaluated the tokenization per column and the gram
    array twice per n — the round-6 plan-audit trap).

    Returns ``df``'s id plus ``n_tokens`` and one ``dup_{n}gram_frac``
    per n (rounded to 6); docs with fewer than n tokens score 0.0 for
    that n."""
    tokd = df.select(F.col(id_col), tokens(text_col).alias("__toks__"))

    def gram_hash(th, n: int):
        # NB: must be a ONE-parameter lambda — pyspark passes (element,
        # index) to two-parameter transform lambdas, so `lambda i, n=n:`
        # silently binds n to the INDEX (the documented shadowing trap)
        return lambda i: F.xxhash64(F.slice(th, i + 1, n))

    def with_th(th):
        fields = [F.size(th).cast("long").alias("n_tokens")]
        for n in ns:
            grams = F.transform(
                F.sequence(F.lit(0), F.size(th) - n), gram_hash(th, n)
            )
            frac = bind_once(
                grams,
                lambda g: 1.0 - F.size(F.array_distinct(g)) / F.size(g),
            )
            fields.append(
                F.round(
                    F.when(F.size(th) < n, F.lit(0.0)).otherwise(frac), 6
                ).alias(f"dup_{n}gram_frac")
            )
        return F.struct(*fields)

    row = bind_once(
        F.transform("__toks__", lambda t: F.xxhash64(t)), with_th
    )
    return tokd.select(id_col, F.inline(F.array(row)))
