"""Temporal windowing operators (SURVEY.md §2.9).

W1: sliding calendar windows — the reference materializes one job per
30d/1d window (/root/reference/src/job/WindowGenerator.py:13-24); here a
single ``F.window`` grouping computes every window in one pass.
W2: inter-event latency — absent in the reference (events independent),
required for the transcript graft's inter-turn latency quantiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _epoch_s(col):
    """Epoch seconds from TIMESTAMP or TIMESTAMP_NTZ (session TZ is
    pinned to UTC, so NTZ values are interpreted as UTC — matching
    DuckDB's epoch() on naive timestamps)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("double")


def inter_event_latency(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    ts_col: str = "ts",
    out_col: str = "latency_s",
) -> DataFrame:
    """Seconds since the previous event within the partition (null for
    the first event)."""
    w = Window.partitionBy(partition_col).orderBy(order_col)
    return df.withColumn(
        out_col,
        _epoch_s(ts_col) - F.lag(_epoch_s(ts_col)).over(w),
    )


def window_counts(
    df: DataFrame, ts_col: str = "ts", width: str = "3 days", slide: str = "1 day"
) -> DataFrame:
    """Sliding window row counts -> (window_start, window_end, n)."""
    return (
        df.groupBy(F.window(ts_col, width, slide).alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
    )

