"""Checkpointed per-partition sketch lineage: resumable distributed builds.

The reference gets resumability from a MongoDB job queue with a state
machine (NEW -> MINING -> MINED -> SCORING -> COMPLETE, claimed via
find_one_and_update at /root/reference/src/job/job_executor.py:62-91)
plus idempotent skip logic (job_executor.py:53-59,101-105) and repair
scripts (/root/reference/src/job/status_fixer.py:14-24).  Here the same
capability is one loop, ``resume_partials``, over a parquet ledger of
partial sketch states, one row per (key, sketch_name).  The group ledger
(``run_with_lineage``, ``<ledger>/build``) keys on ``agg.group_id``, a
content hash; the windowed ledger (``windowed_sketch``) on (window,
salt).  Because the keys are deterministic and merge order is sorted, a
resumed run reproduces the merged sketch bytes of an uninterrupted run
exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from associationabacminer_spark.operators.agg import (
    LINEAGE_SCHEMA,
    SketchSpec,
    build_partials,
    group_id,
    tree_merge,
)
from associationabacminer_spark.plans.metrics import observed


def read_if_present(spark: SparkSession, path: str, schema) -> DataFrame | None:
    """``spark.read.schema(schema).parquet(path)``, or None when ``path``
    holds no data file yet.  Probes with the session's Hadoop
    ``FileSystem`` instead of a failing read, which would log a warning on
    every fresh build and an error from any registered ``Observation``
    listener.  A crashed first write leaves only hidden ``_temporary``
    files, which count as absent.  The declared schema spares the job that
    would read the file footers to infer it."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(p) or not any(
        not f.getPath().getName().startswith(("_", ".")) for f in fs.listStatus(p)
    ):
        return None
    return spark.read.schema(schema).parquet(path)


def read_ledger(spark: SparkSession, ledger_path: str) -> DataFrame | None:
    return read_if_present(
        spark, os.path.join(ledger_path, "build"), f"{LINEAGE_SCHEMA}, run_id string"
    )


def resume_partials(
    keyed: DataFrame,
    specs: list[SketchSpec],
    key_cols: list[str],
    path: str,
    columns: list,
    metrics_out: dict | None = None,
) -> DataFrame:
    """The resumable-ledger loop: build the partial states of the
    ``key_cols`` keys of ``keyed`` that the parquet ledger at ``path``
    lacks (an anti-join against its broadcast keys), append them as
    ``columns`` (names or expressions over the ``build_partials`` output)
    and return the whole ledger read back.

    Same-input contract: a key in the ledger counts as complete, so a
    resume is exact only over the input the ledger was built from; rows
    since added under a present key are never folded.  A resume over a
    complete ledger scans the input and appends one schema-only file.

    ``metrics_out`` receives lineage_rows, rows_processed (the rows
    folded this run, summed over the sketches: ``row_count`` of the new
    partials) and wall_time_s (kernel seconds), observed on the
    write (``df.observe``, no extra job), each 0 when nothing was built —
    the Spark-native analog of the reference's AtomicCounter progress
    metric (its src/util/AtomicCounter.py:32-48)."""
    spark = keyed.sparkSession
    schema = build_partials(keyed, specs, key_cols).select(*columns).schema
    existing = read_if_present(spark, path, schema)
    if existing is not None:
        keyed = keyed.join(F.broadcast(existing.select(*key_cols)), key_cols, "left_anti")
    partials, obs = observed(
        build_partials(keyed, specs, key_cols).select(*columns),
        name="ledger",
        lineage_rows=F.count(F.lit(1)),
        # a sum over no rows is null
        rows_processed=F.coalesce(F.sum("row_count"), F.lit(0)),
        wall_time_s=F.coalesce(F.sum("wall_time_s"), F.lit(0.0)),
    )
    partials.write.mode("overwrite" if existing is None else "append").parquet(path)
    if metrics_out is not None:
        metrics_out.update(obs.get)
    return spark.read.schema(schema).parquet(path)


def run_with_lineage(
    df: DataFrame,
    specs: list[SketchSpec],
    ledger_path: str,
    num_groups: int,
    run_id: str = "run-0",
    metrics_out: dict | None = None,
) -> dict[str, object]:
    """Build (or resume) the sketch set, checkpointing one partial state
    per (``group_id``, sketch) to ``<ledger_path>/build``, tagged with
    ``run_id``.  Returns {sketch_name: merged kernel}.

    Idempotent over the same input: a resume rebuilds only the groups
    missing from the ledger (see ``resume_partials`` for the same-input
    contract and ``metrics_out``)."""
    ledger = resume_partials(
        df.withColumn("group_id", group_id(specs, num_groups)),
        specs,
        ["group_id"],
        os.path.join(ledger_path, "build"),
        ["group_id", "sketch_name", "row_count", "sketch", "wall_time_s",
         F.lit(run_id).alias("run_id")],
        metrics_out,
    )
    return tree_merge(ledger, specs, n_states=num_groups)
