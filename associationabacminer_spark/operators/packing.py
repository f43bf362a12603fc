"""Sequence packing for LLM training batches: deterministically order
documents, concatenate their token streams, and split the stream into
fixed-budget packs — the standard concat-then-chunk batching every
large-scale pretraining pipeline runs ahead of the data loader.

Reference analog: the reference slices sorted per-window event lists
into fixed-size jobs (/root/reference/src/job/job_generator.py:60-74);
this is the same running-total chunking, distributed.

Scale shape: a GLOBAL running sum would be one window task over the
whole corpus, so the stream is sharded into ``n_buckets`` deterministic
shards (id % n_buckets) and the cumulative sum runs per shard — each
pack lives inside one shard, pack ids are (shard, chunk) encoded, and
no task ever sees more than ~corpus/n_buckets rows.  Output is a pure
function of the data: same input -> same packs, which makes training
data lineage reproducible."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from associationabacminer_spark.functions.text import token_count

_SHARD_STRIDE = 1_000_000_000


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 2048,
    n_buckets: int = 64,
    shard_expr=None,
) -> DataFrame:
    """(id, n_tokens, pack_id, offset): each document's position in the
    concatenated fixed-``budget`` token stream of its shard.  A document
    may straddle a pack boundary (concat-split semantics: ``offset`` +
    ``n_tokens`` can exceed ``budget``); ``pack_id`` is where it starts.

    ``shard_expr`` (a Column over ``df``'s columns) overrides the shard
    derivation; the default pmod-of-xxhash64 is valid for ANY id type and
    sign (bare ``id % n`` fails on strings and goes negative in Spark for
    negative ids, corrupting the shard*stride+chunk pack_id encoding).
    Pass e.g. ``F.pmod(F.col(id), n)`` when a SQL-portable shard is
    needed (the q43 oracle does).
    """
    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets))
    toks = df.select(
        F.col(id_col).alias("id"),
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        shard_expr.cast("bigint").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        toks.withColumn("prev", cum - F.col("n_tokens"))
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            (
                F.col("shard") * _SHARD_STRIDE
                + F.floor(F.col("prev") / budget)
            ).alias("pack_id"),
            (F.col("prev") % budget).alias("offset"),
        )
    )
