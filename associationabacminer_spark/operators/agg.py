"""The two-stage sketch aggregation harness: partial builds -> merge,
with a lineage ledger.

This formalizes the reference's hand-rolled partial-aggregation shape —
``Pool.starmap_async(calc_hashes, chunks, callback=merge_into_set)``
(/root/reference/src/model/EnvParamGenerators.py:112-138, callback
/root/reference/src/eval/EnvPolicyEvaluator.py:192-199) and its
largest-dimension chunking (/root/reference/src/model/EnvParamGenerators.py:117-135)
— as an idiomatic Spark pipeline:

    stage 1 (build):  rows tagged with spark_partition_id and folded
                      where they are (no exchange); the resume ledger
                      instead keys ``build_partials`` on ``group_id``, a
                      content hash of the spec columns
                      -> lineage rows (group_id, sketch_name, row_count,
                         sketch binary, wall_time_s)
    stage 2 (merge):  a driver-side fold in group_id order; above 64
                      states, first one ``merge_partials`` step into 64
                      buckets.

Every build and merge, here, in ``windowed_sketch`` and in
``sql_sketch``'s per-group Misra-Gries, is one fold (``_fold_runs``)
over key-sorted Arrow batches that hands each key's rows to every
kernel in a single ``update_batch`` call.  KLL and
t-digest states depend on where compactions happen, so a partial's
bytes must not depend on where Arrow cut the batches.

Scale notes (100 TB / 1000 executors):
- The group build's only exchange is on ``group_id`` — a *uniform*
  integer key (content hash), so no skew regardless of how hot a
  conversation is; sketches merge, so splitting a conversation across
  groups is safe (SURVEY.md §7.4 hard part 4).
- Shuffle payload after stage 1 is G x (few KiB..16 KiB) binary states,
  not data rows — the merge moves megabytes, not terabytes.
- All kernels update via numpy over a key's rows: no per-row Python.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from functools import reduce
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STATE_TAIL = "row_count long, sketch binary, wall_time_s double"
_PARTIAL_TAIL = f"sketch_name string, {_STATE_TAIL}"
LINEAGE_SCHEMA = f"group_id int, {_PARTIAL_TAIL}"

_GROUP_COL = "__sketch_group__"
_DRIVER_STATES = 64  # tree_merge folds at most this many states per sketch on the driver

# Sentinel standing in for NULL in int64 key columns: a nullable int64
# column crosses Arrow->pandas as float64, destroying the low bits of
# 64-bit hashes.  Encoding NULL as Long.MIN_VALUE keeps the column
# null-free (stays int64) and the build filters it out numpy-side.
NULL_SENTINEL = -(2**63)


@dataclass
class SketchSpec:
    """One sketch to build: kernel factory + the input column it consumes.

    ``column`` may be any column of the pre-projected input DataFrame;
    prepare derived values (e.g. inter-turn latency via a lag window)
    with ordinary Spark expressions *before* ``build_sketches`` so the
    heavy lifting stays JVM-side.

    ``prehash=True`` (key-type sketches: HLL/CMS/Bloom) hashes the key
    column JVM-side with codegen'd ``xxhash64`` and ships only int64
    through Arrow — measured here, string columns through the Arrow
    boundary anti-scale under many concurrent Python workers while int64
    columns scale, and the transfer is several times smaller.  Query
    keys must then be hashed with ``sketch.xxhash.xxh64_keys`` (bit-for-
    bit Spark parity, tested)."""

    name: str
    factory: Callable[[], object]  # () -> kernel with update_batch/merge/serde
    column: str
    kernel_cls: type = None  # type: ignore[assignment]
    prehash: bool = False
    null_value: int | None = None  # sentinel-encoded NULL for int64 key cols


def _spec_inputs(specs: list[SketchSpec]) -> tuple[dict[str, object], list[str]]:
    """The build's input expression per column name, pre-hashing key
    columns JVM-side for ``prehash`` specs (null keys become the sentinel
    the build drops), and each spec's input column name."""
    cols: dict[str, object] = {}
    spec_cols: list[str] = []
    for s in specs:
        if s.prehash:
            name = f"__xxh_{s.column}__"
            if name not in cols:
                # NULL -> sentinel keeps the column int64 across Arrow
                cols[name] = F.when(
                    F.col(s.column).isNotNull(), F.xxhash64(s.column)
                ).otherwise(F.lit(NULL_SENTINEL))
            spec_cols.append(name)
        else:
            cols[s.column] = F.col(s.column)
            spec_cols.append(s.column)
    return cols, spec_cols


def _projected(df: DataFrame, specs: list[SketchSpec], extra: list[str]):
    """Project exactly the columns the build needs (``extra`` first, then
    the spec inputs).  Returns (projected_df, per-spec input column
    names)."""
    inputs, spec_cols = _spec_inputs(specs)
    cols = {**{c: F.col(c) for c in extra}, **inputs}
    proj = df.select(*[v.alias(k) for k, v in cols.items()])
    return proj, spec_cols


def group_id(specs: list[SketchSpec], num_groups: int):
    """The resume ledger's group key: ``pmod(xxhash64(...), num_groups)``
    over the build's spec inputs in name order — a deterministic content
    hash, so a rerun assigns every row the same group, and a uniform one,
    so a hot value cannot skew the groups' exchange."""
    inputs, _ = _spec_inputs(specs)
    return F.pmod(
        F.xxhash64(*[inputs[c] for c in sorted(inputs)]), F.lit(num_groups)
    ).cast("int")


def _clean(arr, sentinel):
    """Numpy array with nulls removed: sentinel filter for int64 key
    columns (kept int64 across Arrow), ``pd.isna`` otherwise."""
    if sentinel is not None:
        return arr[arr != sentinel]
    return arr[~pd.isna(arr)]


def _update(kernel, arr, prehash: bool) -> None:
    if len(arr):
        if prehash:
            kernel.update_batch(arr, prehashed=True)
        else:
            kernel.update_batch(arr)


def _differs(a, b):
    """Elementwise key inequality with nulls equal to each other."""
    return (a != b) & ~(pd.isna(a) & pd.isna(b))


def _fold_runs(key_cols: list[str], tail: str, fold_key):
    """The one fold behind every sketch build and merge: a ``mapInPandas``
    function over key-sorted Arrow batches that folds one run of equal
    keys at a time.

    Run boundaries come from numpy (``a[1:] != a[:-1]`` over the key
    columns, nulls equal).  A run's slices are held until its key closes
    (a batch's last run may continue in the next batch), then
    ``fold_key(key, cols)`` gets the key's rows as one numpy array per
    column and returns the key's output rows without the key.  Each
    kernel therefore sees a key's rows in one call, so the bytes of a
    state depend on its rows and their order, never on where Arrow cut
    the batches.  Memory is one key's rows plus one batch.  Finished
    rows leave as one frame per input batch: the key columns followed by
    the ``tail`` DDL fields."""
    columns = [*key_cols, *(f.split()[0] for f in tail.split(", "))]

    def close(key, parts):
        cols = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
        return [key + row for row in fold_key(key, cols)]

    def fold(batches):
        key, parts = None, []
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            keys = [cols[c] for c in key_cols]
            change = np.zeros(n - 1, dtype=bool)
            for a in keys:
                change |= _differs(a[1:], a[:-1])
            bounds = [0, *(np.flatnonzero(change) + 1).tolist(), n]
            done = []
            for lo, hi in zip(bounds, bounds[1:]):
                k = tuple(a[lo] for a in keys)
                if parts and (lo > 0 or any(map(_differs, k, key))):
                    done += close(key, parts)
                    parts = []
                key = k
                parts.append({c: a[lo:hi] for c, a in cols.items() if c not in key_cols})
            if done:
                yield pd.DataFrame.from_records(done, columns=columns)
        if parts:
            yield pd.DataFrame.from_records(close(key, parts), columns=columns)

    return fold


def sorted_fold(df: DataFrame, key_cols, order_cols, tail: str, fold_key):
    """``repartition(keys).sortWithinPartitions(keys, order)``, then the
    run fold (``_fold_runs``) in one ``mapInPandas`` per partition."""
    keys = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in key_cols)
    return (
        df.repartition(*key_cols)
        .sortWithinPartitions(*key_cols, *order_cols)
        .mapInPandas(_fold_runs(key_cols, tail, fold_key), schema=f"{keys}, {tail}")
    )


def _build_fold(specs: list[SketchSpec], spec_cols: list[str]):
    """``fold_key`` that builds one fresh kernel per spec from a key's
    rows: (sketch_name, row_count, sketch, wall_time_s) per spec."""
    spec_list = [  # picklable into the Python workers
        (s.name, s.factory, c, s.prehash, NULL_SENTINEL if s.prehash else s.null_value)
        for s, c in zip(specs, spec_cols)
    ]

    def fold_key(key, cols):
        out = []
        for name, factory, column, prehash, sentinel in spec_list:
            t0 = time.perf_counter()
            kernel = factory()
            arr = _clean(cols[column], sentinel)
            _update(kernel, arr, prehash)
            secs = time.perf_counter() - t0
            out.append((name, len(arr), kernel.serialize(), secs))
        return out

    return fold_key


def build_partials(
    df: DataFrame, specs: list[SketchSpec], key_cols: list[str]
) -> DataFrame:
    """One partial state per (key, spec) from rows, in a single sorted
    stream: ``df`` holds ``key_cols`` and the spec columns; the output is
    the key columns + ``sketch_name, row_count, sketch, wall_time_s``.

    Rows are hash-partitioned and sorted by key, then one ``mapInPandas``
    per partition folds each key's rows into fresh kernels.  Memory is
    one key's spec columns plus one Arrow batch, never a whole group's
    pandas frame; a hot key should be split by a salt column among the
    keys.  Within a key, rows reach the kernels in shuffle arrival order,
    in a single ``update_batch`` call per kernel."""
    proj, spec_cols = _projected(df, specs, extra=list(key_cols))
    return sorted_fold(proj, key_cols, [], _PARTIAL_TAIL, _build_fold(specs, spec_cols))


def merge_partials(
    states: DataFrame, specs: list[SketchSpec], key_cols: list[str], order_col: str
) -> DataFrame:
    """Merge serialized partial states into one state per (key,
    sketch_name), folding in ``order_col`` order so the bytes are
    reproducible.  ``states`` holds ``key_cols``, ``order_col`` and the
    partial columns ``sketch_name, row_count, sketch, wall_time_s``; the
    output has the same shape without ``order_col``.  Same sorted-stream
    fold as ``build_partials``."""
    deser = {s.name: _deserializer(s) for s in specs}
    run_key = [*key_cols, "sketch_name"]

    def fold_key(key, cols):
        kernels = map(deser[key[-1]], map(bytes, cols["sketch"]))
        merged = reduce(lambda a, b: type(b).merge(a, b), kernels)
        return [(int(cols["row_count"].sum()), merged.serialize(), float(cols["wall_time_s"].sum()))]

    proj = states.select(*run_key, order_col, "row_count", "sketch", "wall_time_s")
    return sorted_fold(proj, run_key, [order_col], _STATE_TAIL, fold_key)


def build_sketches(
    df: DataFrame, specs: list[SketchSpec], method: str = "map"
) -> DataFrame:
    """Stage 1: one pass over the data builds every spec's sketch per
    input partition; returns the lineage DataFrame (LINEAGE_SCHEMA).

    The run fold is applied in place, with group id = spark_partition_id
    — ZERO extra shuffle, one run per input partition.  This is the
    treeAggregate shape and the 100 TB default.  Deterministic for a fixed
    input + partitioning.  ``method`` accepts only ``"map"``; the resume
    ledger's keyed build is ``build_partials`` over ``group_id``."""
    if method != "map":
        raise ValueError(f"unknown build method {method!r}; only 'map'")
    proj, spec_cols = _projected(df, specs, extra=[])
    fold = _fold_runs([_GROUP_COL], _PARTIAL_TAIL, _build_fold(specs, spec_cols))
    return (
        proj.withColumn(_GROUP_COL, F.spark_partition_id())
        .mapInPandas(fold, schema=f"{_GROUP_COL} int, {_PARTIAL_TAIL}")
        .withColumnRenamed(_GROUP_COL, "group_id")
    )


def tree_merge(
    lineage: DataFrame, specs: list[SketchSpec], n_states: int | None = None
) -> dict[str, object]:
    """Stage 2: merge the lineage's partial states into one kernel per
    sketch -> {sketch_name: kernel}.

    ``n_states`` bounds the states per sketch; by default the lineage's
    partition count, which bounds a map build's group ids without running
    a job.  Up to 64 states merge on the driver in ``group_id`` order.
    Above that, one ``merge_partials`` step first folds them into 64
    buckets (``group_id % 64``, in ``group_id`` order).  The merge order
    is fixed either way, so a resumed ledger merges to the same bytes."""
    if n_states is None:
        n_states = lineage.rdd.getNumPartitions()
    if n_states > _DRIVER_STATES:
        bucket = F.pmod(F.col("group_id"), F.lit(_DRIVER_STATES))
        lineage = merge_partials(
            lineage.withColumn(_GROUP_COL, bucket), specs, [_GROUP_COL], "group_id"
        ).withColumnRenamed(_GROUP_COL, "group_id")

    deser = {s.name: _deserializer(s) for s in specs}
    out: dict[str, object] = {}
    for row in sorted(lineage.collect(), key=lambda r: (r["sketch_name"], r["group_id"])):
        k = deser[row["sketch_name"]](bytes(row["sketch"]))
        name = row["sketch_name"]
        out[name] = type(k).merge(out[name], k) if name in out else k
    return out


def sketch_aggregate(
    df: DataFrame, specs: list[SketchSpec], method: str = "map"
) -> dict[str, object]:
    """build_sketches + tree_merge in one call -> {name: kernel}."""
    return tree_merge(build_sketches(df, specs, method=method), specs)


def _deserializer(spec: SketchSpec):
    cls = spec.kernel_cls
    if cls is None:
        cls = type(spec.factory())
    return cls.deserialize
