"""Text-analysis column functions for large-scale training-data pipelines:
language ID, token counting, document fingerprinting.

All built-in ``pyspark.sql.functions`` — JVM-side, codegen'd; designed so
each has an exact ANSI-SQL twin for the DuckDB oracle.  (The reference has
no text analytics; these are the training-pipeline extensions required by
the build brief, expressed over the ``documents`` table.)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(text: Column | str) -> Column:
    """Whitespace token count (empty string -> 0)."""
    t = F.trim(text if isinstance(text, Column) else F.col(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens: the one tokenizer of the n-gram,
    language-model and language-ID paths."""
    t = text if isinstance(text, Column) else F.col(text)
    return F.split(F.trim(F.lower(t)), r"\s+")


def punct_ratio(text: Column | str) -> Column:
    t = text if isinstance(text, Column) else F.col(text)
    n = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


# language-ID: tiny per-language marker vocabularies; score = marker hits.
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "you"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "de", "que", "y", "los"),
}


def lang_guess(text: Column | str) -> Column:
    """Argmax of marker-hit counts; 'und' (undetermined) when all zero.
    Ties break in the fixed order en > de > fr > es (strict > below).

    The token array and the 4-hit-count array are pinned with
    ``bind_once``: the argmax expression references every hit count
    several times, and filter() is an interpreted higher-order function
    with no codegen CSE — the plain formulation re-split and re-scanned
    the text ~20x per row (round-6 plan audit)."""
    langs = list(_LANG_MARKERS)

    def with_hits(h):
        hit = {lang: F.element_at(h, i + 1) for i, lang in enumerate(langs)}
        best_score = reduce(F.greatest, hit.values())
        expr = F.lit("und")
        for lang in reversed(langs):
            expr = F.when(hit[lang] == best_score, F.lit(lang)).otherwise(expr)
        return F.when(best_score <= 0, F.lit("und")).otherwise(expr)

    def marker_pred(markers):
        # factory (NOT a default-arg pin): pyspark passes (element,
        # index) to any two-parameter lambda, defaults included — the
        # documented shadowing trap — and a bare closure over the loop
        # var would late-bind every language to the last marker set
        return lambda w: w.isin(*markers)

    return bind_once(
        tokens(text),
        lambda toks: bind_once(
            F.array(
                *[
                    F.size(F.filter(toks, marker_pred(_LANG_MARKERS[lang])))
                    for lang in langs
                ]
            ),
            with_hits,
        ),
    )


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint (the classic 'fingerprint' dedup
    key): lowercase, strip non-alphanumerics, sort unique tokens, md5."""
    t = text if isinstance(text, Column) else F.col(text)
    norm = F.regexp_replace(F.lower(t), r"[^a-z0-9\s]", "")
    toks = F.array_sort(F.array_distinct(F.split(F.trim(norm), r"\s+")))
    return F.md5(F.array_join(toks, " "))


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles (the MinHash/Jaccard input unit)."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` once per row and pass it to ``fn`` as a BOUND
    lambda variable: ``transform(array(expr), fn)[0]``.  Catalyst's
    project-collapse and Generate rewrites inline plain column aliases
    into every use site — for an expensive alias referenced k times
    inside a higher-order lambda that multiplies its evaluation by k
    per ELEMENT (interpreted, no codegen CSE).  A NamedLambdaVariable
    cannot be inlined, so this pins single evaluation regardless of
    what the optimizer does to the surrounding projections."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def word_ngram_hash_chain(text: Column | str, n: int = 3) -> Column:
    """xxhash64 word-n-gram hashes per row, in token order with
    duplicates — the one token-hash n-gram chain.  No n-gram STRING is
    built: tokens are hashed once and a shingle hash is xxhash64 over n
    consecutive token hashes (string shingle construction, not hashing,
    dominated the profiled MinHash stage).  Equal to ``xxhash64`` of the
    n-long token-hash slice, so at n = k it is the k-window fingerprint.

    Both arrays are pinned with :func:`bind_once`: with chained
    projections a downstream explode lets the optimizer re-evaluate the
    token hashing once per n-gram index (O(tokens^2), measured 2.5-5x
    the stage).  Texts of < n tokens give one whole-text shingle, as in
    ``word_ngrams``.  A NULL text gives NULL, so it has no shingles and
    pairs with nothing (without the guard every NULL text hashed to one
    shared constant shingle)."""
    t = text if isinstance(text, Column) else F.col(text)

    def with_th(toks, th):
        k = F.size(th) - (n - 1)
        idx = F.sequence(F.lit(0), F.greatest(k - F.lit(1), F.lit(0)))
        return F.when(
            k <= 0, F.array(F.xxhash64(F.array_join(toks, " ")))
        ).otherwise(
            F.transform(
                idx,
                lambda i: F.xxhash64(*[F.element_at(th, i + j + 1) for j in range(n)]),
            )
        )

    return F.when(
        t.isNotNull(),
        bind_once(
            tokens(t),
            lambda toks: bind_once(
                F.transform(toks, lambda x: F.xxhash64(x)), lambda th: with_th(toks, th)
            ),
        ),
    )


def word_ngram_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct xxhash64 word-n-gram hashes per row — the hashed twin of
    ``array_distinct(transform(word_ngrams(..), xxhash64))``, built on
    :func:`word_ngram_hash_chain`."""
    return F.array_distinct(word_ngram_hash_chain(text, n))


def repetition_ratio(text: Column | str) -> Column:
    """Repeated-token fraction: 1 - distinct/total whitespace tokens
    (0 = no repetition, ->1 = degenerate loops).  The cheap gibberish /
    repetition-loop screen of quality filtering."""
    t = F.trim(text if isinstance(text, Column) else F.col(text))
    toks = F.split(t, r"\s+")
    return F.when(t == "", F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(toks)) / F.size(toks)
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


def redact_pii(text: Column | str) -> Column:
    """PII scrub for web-corpus curation: replace emails then IPv4
    literals with typed placeholder tokens.  Pure chained
    regexp_replace — whole-stage codegen, no UDF — and the patterns are
    deliberately restricted to the Java-regex/RE2 common subset so the
    exact same strings drive the DuckDB oracle (q93).  Email runs first
    so an address's dotted domain is never half-eaten by the IP rule."""
    t = text if isinstance(text, Column) else F.col(text)
    t = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(t, PII_IPV4_RE, "<IP>")
