"""Write-side layout control: the lever that makes 100-TB scans cheap.

Predicate pushdown only pays off if the files' min/max statistics can
actually exclude data.  ``write_range_sorted`` range-partitions rows by
the filter columns and sorts within partitions before writing parquet,
so every output file owns a disjoint slice of the sort key and a
time/key-range query prunes to the few files that overlap it (the same
reasoning behind Iceberg sort orders and Delta Z-ordering for a single
sort dimension).

Reference analog: the reference leans on Mongo/ES secondary indexes for
its time-window scans (/root/reference/src/EnvAbacRuleMiner.py:67);
columnar lakes get the equivalent from layout + statistics, not from an
index structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Range-partition by ``sort_cols`` (each output file gets a disjoint
    key range), sort within partitions (row groups inside a file are
    ordered too), write parquet.  ``partition_by`` additionally hive-
    partitions by low-cardinality columns for directory-level pruning."""
    if n_files is None:
        n_files = df.sparkSession.sparkContext.defaultParallelism
    out = df.repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
    out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed table write: rows are hash-distributed into ``n_buckets``
    files per partition by ``bucket_cols``, with the bucketing recorded
    in the session catalog — the lever for SHUFFLE-FREE co-located
    joins and aggregations at 100 TB.

    Two tables bucketed on the same key with the same bucket count join
    by zipping bucket i with bucket i: Catalyst drops the Exchange on
    both sides (asserted in TestBucketedJoin), so the dominant cost of a
    fact-to-fact join — shuffling both inputs — is paid ONCE at write
    time and amortized over every subsequent join/groupBy on that key.
    ``sort_cols`` additionally sorts within each bucket (sortBy), which
    lets the sort-merge join skip its per-task sort too.

    Bucketing metadata lives in the catalog, not the parquet files, so
    this writes through ``saveAsTable`` (``path`` makes it an external
    table; files land there, metadata in the catalog)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)
