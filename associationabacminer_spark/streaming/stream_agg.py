"""Structured Streaming variants of the engine's aggregations.

The reference has no streaming at all — its 'windows' are reprocessed
batch jobs from a Mongo queue (SURVEY.md §2.9 W1).  Here the same
semantics run incrementally: watermarked sliding event-time windows, and
a ``foreachBatch`` sketch builder that folds each micro-batch into the
mergeable kernels.  A query restarted from its checkpoint replays its
last uncommitted epoch; the sketch builder and the binned histogram
fold each epoch id once, so the replay cannot double-count CMS, KLL,
t-digest or bin counts (HLL and Bloom merges are idempotent anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_window_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    width: str = "3 days",
    slide: str = "1 day",
    watermark: str = "1 day",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked sliding window counts — the streaming twin of
    ``operators.windows.window_counts`` (same output schema + group
    columns), late data beyond ``watermark`` dropped."""
    g = [F.window(ts_col, width, slide).alias("w")] + [
        F.col(c) for c in (group_cols or [])
    ]
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*g)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *(group_cols or []),
            "n",
        )
    )


def streaming_sketch_build(specs, state: dict):
    """foreachBatch sink that folds every micro-batch into ``state``
    ({sketch_name: kernel}) via the batch harness.  Returns the function
    to pass to ``writeStream.foreachBatch``.

    Mergeable sketches make incremental aggregation trivial: each epoch
    builds partial sketches distributed, then merges into the running
    state on the driver — the streaming analog of the two-stage tree.
    An epoch id already folded by this function is skipped, so a replay
    (a query restarted in the same driver) leaves ``state`` unchanged,
    and an empty epoch builds no partials, which leaves it unchanged too.
    """
    from associationabacminer_spark.operators.agg import sketch_aggregate

    folded: set[int] = set()

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in folded:
            return
        partial = sketch_aggregate(batch_df, specs)
        for name, kernel in partial.items():
            if name in state:
                state[name] = type(kernel).merge(state[name], kernel)
            else:
                state[name] = kernel
        folded.add(epoch_id)  # only once merged: a failed epoch retries

    return fold


def streaming_binned_histogram(
    group_cols: list[str],
    col: str,
    state: dict,
    rel_width: float = 5e-4,
):
    """foreachBatch sink folding each micro-batch's
    ``operators.sql_sketch.log_bins`` table into ``state``
    ({group_tuple: {bin: (count, sum)}}) — the streaming twin of
    ``quantiles_by_group``.  Each batch's reduction is one JVM-side
    query; only the occupied-bin table crosses to the driver, so state
    stays at groups x occupied bins regardless of stream length.  Bin
    (count, sum) pairs are additive, and an epoch id already folded is
    skipped, so a replayed epoch leaves ``state`` unchanged.  Quantiles
    are read at any time via ``quantiles_from_binned_state``."""
    from associationabacminer_spark.operators.sql_sketch import log_bins

    folded: set[int] = set()

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in folded:
            return
        for r in log_bins(batch_df, group_cols, col, rel_width).collect():
            bins = state.setdefault(tuple(r[g] for g in group_cols), {})
            cnt, s = bins.get(r["__bin"], (0, 0.0))
            bins[r["__bin"]] = (cnt + r["__cnt"], s + r["__sum"])
        folded.add(epoch_id)  # only once merged: a failed epoch retries

    return fold


def quantiles_from_binned_state(
    state: dict, qs: tuple = (0.5, 0.9, 0.99)
) -> dict:
    """{group_tuple: {"p50": v, ...}} from a ``streaming_binned_histogram``
    state.  The state becomes a (__g, __bin, __cnt, __sum) frame on the
    active session, read by the batch operator's own selection
    (``sql_sketch.bin_quantiles``) in one Spark query, so the result
    equals ``quantiles_by_group`` on the union of the batches (exactly,
    for integral columns; up to float summation order otherwise)."""
    from pyspark.sql import SparkSession

    from associationabacminer_spark.operators.sql_sketch import bin_quantiles

    groups = list(state)
    rows = [
        (g, b, cnt, s)
        for g, bins in enumerate(state.values())
        for b, (cnt, s) in bins.items()
    ]
    bins = SparkSession.active().createDataFrame(
        rows, "__g int, __bin long, __cnt long, __sum double"
    )
    out = {}
    for r in bin_quantiles(bins, ["__g"], qs).collect():
        res = r.asDict()
        out[groups[res.pop("__g")]] = res
    return out


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first row per key wins, duplicate arrivals
    within the watermark horizon are dropped, and per-key state is
    evicted once the watermark passes — bounded state, unlike a naive
    ``dropDuplicates`` whose state grows forever.  The streaming twin of
    ``operators.dedup.exact_dedup`` (the reference's sha1-keyed unique
    index, EnvLogUniverseGenerator.py:84-104)."""
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )
