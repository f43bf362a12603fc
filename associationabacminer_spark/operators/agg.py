"""The two-stage sketch aggregation harness: per-partition build ->
tree merge, with salted repartitioning and a lineage ledger.

This formalizes the reference's hand-rolled partial-aggregation shape —
``Pool.starmap_async(calc_hashes, chunks, callback=merge_into_set)``
(/root/reference/src/model/EnvParamGenerators.py:112-138, callback
/root/reference/src/eval/EnvPolicyEvaluator.py:192-199) and its
largest-dimension chunking (/root/reference/src/model/EnvParamGenerators.py:117-135)
— as an idiomatic Spark pipeline:

    stage 1 (build):  df.withColumn(group_id, salted hash)
                        .groupBy(group_id).applyInPandas(build)
                      -> lineage rows (group_id, sketch_name, row_count,
                         sketch binary, wall_time_s)
    stage 2 (merge):  grouped tree merge with fanout F until <= F rows,
                      then a driver-side final fold.

Keyed builds (windows, groups) use the sorted-stream fold instead:
``build_partials`` / ``merge_partials`` repartition and sort by key and
fold runs of equal keys in one ``mapInPandas`` pass.

Scale notes (100 TB / 1000 executors):
- The only wide exchange is the stage-1 groupBy on ``group_id`` — a
  *uniform* integer key (salted row hash), so no skew regardless of how
  hot a conversation is; sketches are order-insensitive so splitting a
  conversation across groups is safe (SURVEY.md §7.4 hard part 4).
- Shuffle payload after stage 1 is G x (few KiB..16 KiB) binary states,
  not data rows — the tree merge moves megabytes, not terabytes.
- All kernels update via numpy over Arrow batches: no per-row Python.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "group_id int, sketch_name string, row_count long, sketch binary, wall_time_s double"
)

_GROUP_COL = "__sketch_group__"

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
    dropna: bool = True
    prehash: bool = False
    null_value: int | None = None  # sentinel-encoded NULL for int64 key cols
    params: dict = field(default_factory=dict)

    def make(self):
        return self.factory(**self.params) if self.params else self.factory()


def salted_group_id(
    num_groups: int,
    group_col: str = "conv_id",
    salt_col: str = "turn_idx",
    salts: int = 8,
):
    """Deterministic salted grouping expression.

    Base group = hash(conv_id) spread over num_groups//salts buckets;
    salt = hash(turn_idx-within-key) over ``salts`` sub-buckets — a hot
    conversation is split across ``salts`` groups instead of melting one
    task (the reference's analog pain: 10x10 hand-chunking at
    /root/reference/src/eval/EnvPolicyEvaluator.py:109-121).
    Deterministic (no rand()) so a resumed run regroups identically.
    """
    base_groups = max(1, num_groups // salts)
    base = F.pmod(F.xxhash64(F.col(group_col)), F.lit(base_groups))
    salt = F.pmod(F.xxhash64(F.col(group_col), F.col(salt_col)), F.lit(salts))
    return (base * salts + salt).cast("int")


def _projected(df: DataFrame, specs: list[SketchSpec], extra: list[str]):
    """Project exactly the columns the build needs, pre-hashing key
    columns JVM-side for ``prehash`` specs (null keys stay null so
    ``dropna`` still works).  Returns (projected_df, per-spec input
    column names)."""
    cols: dict[str, object] = {c: F.col(c) for c in extra}
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
    proj = df.select(*[v.alias(k) for k, v in cols.items()])
    return proj, spec_cols


def _clean(col, dropna: bool, sentinel):
    """Series or array -> numpy array with nulls removed: sentinel filter
    for int64 key columns (kept int64 across Arrow), dropna otherwise."""
    arr = col.to_numpy() if isinstance(col, pd.Series) else col
    if sentinel is not None:
        return arr[arr != sentinel]
    if dropna:
        return arr[~pd.isna(arr)]
    return arr


def _spec_list(specs: list[SketchSpec], spec_cols: list[str]) -> list[tuple]:
    """(name, make, column, dropna, prehash, sentinel) per spec, picklable
    into the Python workers."""
    return [
        (
            s.name,
            s.make,
            c,
            s.dropna,
            s.prehash,
            NULL_SENTINEL if s.prehash else s.null_value,
        )
        for s, c in zip(specs, spec_cols)
    ]


def _update(kernel, arr, prehash: bool) -> None:
    if len(arr):
        if prehash:
            kernel.update_batch(arr, prehashed=True)
        else:
            kernel.update_batch(arr)


def _differs(a, b):
    """Elementwise key inequality with nulls equal to each other."""
    return (a != b) & ~(pd.isna(a) & pd.isna(b))


def _sorted_fold(df: DataFrame, key_cols, order_cols, tail: str, new_state, fold_run, finish):
    """``repartition(keys).sortWithinPartitions(keys, order)``, then one
    ``mapInPandas`` per partition that folds the key-sorted Arrow batches
    one run of equal keys at a time.

    Run boundaries come from numpy (``a[1:] != a[:-1]`` over the key
    columns, nulls equal).  ``fold_run(state, cols, lo, hi)`` folds rows
    ``[lo, hi)`` of a batch (``cols``: column name -> numpy array) into
    the open key's state.  A batch's last run stays open, because its key
    may continue in the next batch, so exactly one key's state is live.
    ``finish(state)`` returns the key's output rows without the key, and
    finished rows leave as one frame per input batch.  The output is the
    key columns followed by the ``tail`` DDL fields."""
    keys = ", ".join(f"`{c}` {df.schema[c].dataType.simpleString()}" for c in key_cols)
    columns = [*key_cols, *(f.split()[0] for f in tail.split(", "))]

    def fold(batches):
        key, state = None, None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            cols = {c: pdf[c].to_numpy() for c in pdf.columns}
            runs = [cols[c] for c in key_cols]
            change = np.zeros(n - 1, dtype=bool)
            for a in runs:
                change |= _differs(a[1:], a[:-1])
            bounds = [0, *(np.flatnonzero(change) + 1).tolist(), n]
            done = []
            for lo, hi in zip(bounds, bounds[1:]):
                k = tuple(a[lo] for a in runs)
                if state is None or lo > 0 or any(map(_differs, k, key)):
                    if state is not None:
                        done += [key + row for row in finish(state)]
                    key, state = k, new_state()
                fold_run(state, cols, lo, hi)
            if done:
                yield pd.DataFrame.from_records(done, columns=columns)
        if state is not None:
            yield pd.DataFrame.from_records(
                [key + row for row in finish(state)], columns=columns
            )

    return (
        df.repartition(*key_cols)
        .sortWithinPartitions(*key_cols, *order_cols)
        .mapInPandas(fold, schema=f"{keys}, {tail}")
    )


_STATE_TAIL = "row_count long, sketch binary, wall_time_s double"


def build_partials(
    df: DataFrame, specs: list[SketchSpec], key_cols: list[str]
) -> DataFrame:
    """One partial state per (key, spec) from rows, in a single sorted
    stream: ``df`` holds ``key_cols`` and the spec columns; the output is
    the key columns + ``sketch_name, row_count, sketch, wall_time_s``.

    Rows are hash-partitioned and sorted by key, then one ``mapInPandas``
    per partition folds each key run into fresh kernels.  Memory is one
    key's kernels and one Arrow batch, never a whole group's pandas
    frame; a hot key should be split by a salt column among the keys.
    Within a key, rows reach the kernels in shuffle arrival order."""
    proj, spec_cols = _projected(df, specs, extra=list(key_cols))
    spec_list = _spec_list(specs, spec_cols)

    def new_state():
        return [[make(), 0, 0.0] for _, make, *_ in spec_list]

    def fold_run(state, cols, lo, hi):
        for st, (_, _, column, dropna, prehash, sentinel) in zip(state, spec_list):
            t0 = time.perf_counter()
            arr = _clean(cols[column][lo:hi], dropna, sentinel)
            _update(st[0], arr, prehash)
            st[1] += len(arr)
            st[2] += time.perf_counter() - t0

    def finish(state):
        return [
            (name, n, kernel.serialize(), secs)
            for (name, *_), (kernel, n, secs) in zip(spec_list, state)
        ]

    tail = f"sketch_name string, {_STATE_TAIL}"
    return _sorted_fold(proj, key_cols, [], tail, new_state, fold_run, finish)


def merge_partials(
    states: DataFrame, specs: list[SketchSpec], key_cols: list[str], order_col: str
) -> DataFrame:
    """Merge serialized partial states into one state per (key,
    sketch_name), folding in ``order_col`` order so the bytes are
    reproducible.  ``states`` holds ``key_cols``, ``order_col`` and the
    partial columns ``sketch_name, row_count, sketch, wall_time_s``; the
    output has the same shape without ``order_col``.  Same sorted-stream
    fold as ``build_partials``: one merged state live at a time."""
    deser = {s.name: _deserializer(s) for s in specs}
    run_key = [*key_cols, "sketch_name"]

    def new_state():
        return [None, 0, 0.0]

    def fold_run(state, cols, lo, hi):
        de = deser[cols["sketch_name"][lo]]
        for blob in cols["sketch"][lo:hi]:
            k = de(bytes(blob))
            state[0] = k if state[0] is None else type(k).merge(state[0], k)
        state[1] += int(cols["row_count"][lo:hi].sum())
        state[2] += float(cols["wall_time_s"][lo:hi].sum())

    def finish(state):
        merged, n, secs = state
        return [(n, merged.serialize(), secs)]

    proj = states.select(*run_key, order_col, "row_count", "sketch", "wall_time_s")
    return _sorted_fold(proj, run_key, [order_col], _STATE_TAIL, new_state, fold_run, finish)


def build_sketches(
    df: DataFrame,
    specs: list[SketchSpec],
    num_groups: int | None = None,
    group_expr=None,
    only_groups: list[int] | None = None,
    order_by: list[str] | None = None,
    method: str = "map",
) -> DataFrame:
    """Stage 1: one pass over the data builds every spec's sketch per
    group; returns the lineage DataFrame (LINEAGE_SCHEMA).

    ``method='map'`` (default): per-input-partition ``mapInPandas`` build
    — ZERO extra shuffle; group id = spark_partition_id, streaming over
    Arrow batches (never materializes a whole group in memory).  This is
    the treeAggregate shape and the 100 TB default.  Deterministic for a
    fixed input + partitioning (resume contract).

    ``method='group'``: explicit ``groupBy(group_expr).applyInPandas``
    with a deterministic content-hash (or ``salted_group_id``) key —
    use when the build must follow a specific grouping (e.g. to reuse a
    prior shuffle, or a fixed group count for a ledger).

    ``only_groups`` restricts the build to the listed group ids (the
    resume path: rebuild only partitions missing from the ledger).
    ``order_by`` sorts rows inside each group before the kernel update —
    needed only for byte-identical reproducibility of the order-sensitive
    kernels (KLL/t-digest); HLL/CMS/Bloom commute elementwise.
    """
    order_by = order_by or []
    proj, spec_cols = _projected(df, specs, extra=order_by)
    spec_list = _spec_list(specs, spec_cols)

    if method == "map":
        tagged = proj.withColumn(_GROUP_COL, F.spark_partition_id())
        if only_groups is not None:
            tagged = tagged.filter(
                F.col(_GROUP_COL).isin([int(g) for g in only_groups])
            )

        def build_stream(batches):
            state: dict = {}
            rows: dict = {}
            times: dict = {}
            gid = -1
            buffered: list[pd.DataFrame] | None = [] if order_by else None
            for pdf in batches:
                if not len(pdf):
                    continue
                gid = int(pdf[_GROUP_COL].iloc[0])
                if buffered is not None:
                    buffered.append(pdf)
                    continue
                for name, make, column, dropna, prehash, sentinel in spec_list:
                    t0 = time.perf_counter()
                    if name not in state:
                        state[name] = make()
                        rows[name] = 0
                        times[name] = 0.0
                    arr = _clean(pdf[column], dropna, sentinel)
                    _update(state[name], arr, prehash)
                    rows[name] += len(arr)
                    times[name] += time.perf_counter() - t0
            if buffered:
                pdf = pd.concat(buffered, ignore_index=True).sort_values(
                    order_by, kind="stable"
                )
                for name, make, column, dropna, prehash, sentinel in spec_list:
                    t0 = time.perf_counter()
                    state[name] = make()
                    arr = _clean(pdf[column], dropna, sentinel)
                    rows[name] = len(arr)
                    _update(state[name], arr, prehash)
                    times[name] = time.perf_counter() - t0
            if state:
                yield pd.DataFrame(
                    {
                        "group_id": [gid] * len(state),
                        "sketch_name": list(state),
                        "row_count": [rows[n] for n in state],
                        "sketch": [state[n].serialize() for n in state],
                        "wall_time_s": [times[n] for n in state],
                    }
                )

        return tagged.mapInPandas(build_stream, schema=LINEAGE_SCHEMA)

    # method == "group"
    if num_groups is None:
        num_groups = df.sparkSession.sparkContext.defaultParallelism * 2
    if group_expr is None:
        # deterministic uniform content-hash grouping: perfect balance for
        # order-insensitive sketches, identical across reruns (resume);
        # salted_group_id is the conv-anchored alternative
        group_expr = F.pmod(F.xxhash64(*sorted(set(spec_cols) | set(order_by))), F.lit(num_groups)).cast("int")
    tagged = proj.withColumn(_GROUP_COL, group_expr)
    if only_groups is not None:
        tagged = tagged.filter(F.col(_GROUP_COL).isin([int(g) for g in only_groups]))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = int(pdf[_GROUP_COL].iloc[0]) if len(pdf) else -1
        if order_by:
            pdf = pdf.sort_values(order_by, kind="stable")
        out = []
        for name, make, column, dropna, prehash, sentinel in spec_list:
            t0 = time.perf_counter()
            kernel = make()
            arr = _clean(pdf[column], dropna, sentinel)
            _update(kernel, arr, prehash)
            out.append(
                (gid, name, len(arr), kernel.serialize(), time.perf_counter() - t0)
            )
        return pd.DataFrame(
            out,
            columns=["group_id", "sketch_name", "row_count", "sketch", "wall_time_s"],
        )

    return tagged.groupBy(_GROUP_COL).applyInPandas(build, schema=LINEAGE_SCHEMA)


def tree_merge(
    lineage: DataFrame,
    specs: list[SketchSpec],
    fanout: int = 16,
    driver_threshold: int = 64,
    n_states: int | None = None,
) -> dict[str, object]:
    """Stage 2: grouped tree merge with the given fanout until the number
    of partial states per sketch is <= driver_threshold, then a final
    driver-side fold.  Returns {sketch_name: kernel}."""
    deser = {s.name: _deserializer(s) for s in specs}

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by source group for a deterministic merge order (resume
        # byte-identity); merge is associative/commutative so the estimate
        # is invariant either way
        pdf = pdf.sort_values("group_id", kind="stable")
        name = pdf["sketch_name"].iloc[0]
        de = deser[name]
        kernels = [de(b) for b in pdf["sketch"]]
        merged = reduce(type(kernels[0]).merge, kernels)
        return pd.DataFrame(
            {
                "group_id": [int(pdf["group_id"].iloc[0])],
                "sketch_name": [name],
                "row_count": [int(pdf["row_count"].sum())],
                "sketch": [merged.serialize()],
                "wall_time_s": [float(pdf["wall_time_s"].sum())],
            }
        )

    persisted = None
    if n_states is None:
        # Upper bound on distinct group ids without running a job: the
        # map build's group id is spark_partition_id, so the lineage has
        # at most one group per input partition.  When that bound already
        # fits under driver_threshold the tree loop cannot run for ANY
        # actual count <= bound, so the counting job (and the persist
        # that backed it) is pure overhead — the single collect below
        # then consumes the build exactly once, fully pipelined.
        try:
            bound = lineage.rdd.getNumPartitions()
        except Exception:
            bound = None
        if bound is not None and bound <= driver_threshold:
            n_states = bound
        else:
            # the lineage is tiny (G x n_specs rows); persist so the
            # count does not recompute the whole build
            persisted = lineage = lineage.persist()
            n_states = lineage.select(
                F.countDistinct("group_id").alias("g")
            ).collect()[0]["g"]
    current = lineage
    while n_states > driver_threshold:
        n_next = max(1, (n_states + fanout - 1) // fanout)
        current = (
            current.withColumn(
                "__bucket__", F.pmod(F.col("group_id"), F.lit(n_next)).cast("int")
            )
            .groupBy("__bucket__", "sketch_name")
            .applyInPandas(merge_group, schema=LINEAGE_SCHEMA)
        )
        n_states = n_next

    rows = sorted(
        current.collect(), key=lambda r: (r["sketch_name"], r["group_id"])
    )
    if persisted is not None:
        persisted.unpersist()
    out: dict[str, object] = {}
    for row in rows:
        k = deser[row["sketch_name"]](bytes(row["sketch"]))
        if row["sketch_name"] in out:
            out[row["sketch_name"]] = type(k).merge(out[row["sketch_name"]], k)
        else:
            out[row["sketch_name"]] = k
    return out


def sketch_aggregate(
    df: DataFrame,
    specs: list[SketchSpec],
    num_groups: int | None = None,
    group_expr=None,
    fanout: int = 16,
    method: str = "map",
) -> dict[str, object]:
    """build_sketches + tree_merge in one call -> {name: kernel}."""
    if method == "group" and num_groups is None:
        num_groups = df.sparkSession.sparkContext.defaultParallelism * 2
    lineage = build_sketches(
        df, specs, num_groups=num_groups, group_expr=group_expr, method=method
    )
    n_states = num_groups if method == "group" else None
    return tree_merge(lineage, specs, fanout=fanout, n_states=n_states)


def _deserializer(spec: SketchSpec):
    cls = spec.kernel_cls
    if cls is None:
        cls = type(spec.make())
    return cls.deserialize
