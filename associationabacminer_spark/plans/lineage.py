"""Checkpointed per-partition sketch lineage: resumable distributed builds.

The reference gets resumability from a MongoDB job queue with a state
machine (NEW -> MINING -> MINED -> SCORING -> COMPLETE, claimed via
find_one_and_update at /root/reference/src/job/job_executor.py:62-91)
plus idempotent skip logic (job_executor.py:53-59,101-105) and repair
scripts (/root/reference/src/job/status_fixer.py:14-24).  Here the same
capability is a parquet ledger of stage-1 build rows:

    <ledger>/build/   one row per (group_id, sketch_name):
                      group_id, sketch_name, row_count, sketch(binary),
                      wall_time_s     [+ run_id column]

Resume = read the ledger, diff the present group ids against the
expected set, rebuild only the missing groups (a filter on the
deterministic group expression — Catalyst prunes everything else), and
re-merge.  Because the group assignment is a deterministic content hash
and merge order is sorted, a resumed run reproduces the merged sketch
bytes of an uninterrupted run exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from associationabacminer_spark.operators.agg import (
    SketchSpec,
    build_sketches,
    tree_merge,
)


def read_if_present(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when ``path`` holds no data
    file yet.  Probes with the session's Hadoop ``FileSystem`` instead of
    a failing read, which would log a warning on every fresh build and an
    error from any registered ``Observation`` listener.  A crashed first
    write leaves only hidden ``_temporary`` files, which count as absent."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(p) or not any(
        not f.getPath().getName().startswith(("_", ".")) for f in fs.listStatus(p)
    ):
        return None
    return spark.read.parquet(path)


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    return read_if_present(spark, os.path.join(ledger_path, "build"))


def run_with_lineage(
    df: DataFrame,
    specs: list[SketchSpec],
    ledger_path: str,
    num_groups: int,
    run_id: str = "run-0",
    metrics_out: dict | None = None,
) -> dict[str, object]:
    """Build (or resume) the sketch set, checkpointing per-group lineage.

    Returns {sketch_name: merged kernel}.  Idempotent: a completed ledger
    short-circuits straight to the merge.

    ``metrics_out``: pass a dict to receive run metrics collected as a
    side effect of the build write via ``df.observe`` (rows_processed =
    input rows folded this run, lineage_rows, wall_time_s total) — the
    Spark-native analog of the reference's AtomicCounter progress metric
    (/root/reference/src/util/AtomicCounter.py:32-48), with zero extra
    jobs."""
    from associationabacminer_spark.plans.metrics import observed

    spark = df.sparkSession
    build_path = os.path.join(ledger_path, "build")
    existing = read_ledger(spark, ledger_path)

    def _write(lineage, mode):
        lineage, obs = observed(
            lineage,
            name=f"lineage-{run_id}-{mode}",
            lineage_rows=F.count(F.lit(1)),
            rows_processed=F.sum("row_count"),
            wall_time_s=F.sum("wall_time_s"),
        )
        lineage.write.mode(mode).parquet(build_path)
        if metrics_out is not None:
            metrics_out.update(obs.get)

    if existing is None:
        lineage = build_sketches(
            df,
            specs,
            num_groups=num_groups,
            method="group",  # stable content-hash group ids for the ledger
        ).withColumn("run_id", F.lit(run_id))
        _write(lineage, "overwrite")
    else:
        # one job: the ledger holds at most num_groups * len(specs) rows
        present = {r["group_id"] for r in existing.select("group_id").collect()}
        missing = sorted(set(range(num_groups)) - present)
        if missing:
            delta = build_sketches(
                df,
                specs,
                num_groups=num_groups,
                only_groups=missing,
                method="group",
            ).withColumn("run_id", F.lit(run_id))
            _write(delta, "append")

    all_build = spark.read.parquet(build_path).drop("run_id")
    return tree_merge(all_build, specs, n_states=num_groups)
