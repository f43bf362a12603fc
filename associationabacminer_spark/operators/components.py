"""Connected components over a duplicate-candidate edge list — the step
that turns near-dup PAIRS (MinHash/SimHash/fingerprint joins) into
canonical duplicate GROUPS so a pipeline can keep one doc per group.

Reference analog: the reference collapses exact duplicates through its
sha1-keyed 'unique logs' index (/root/reference/src/model/
EnvLogUniverseGenerator.py:84-104) — an equivalence relation, so a single
groupBy suffices.  Near-dup relations are NOT transitive, so the general
form needs a transitive-closure pass; this module provides it as the
alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014), expressed entirely in
DataFrame ops.

Scale notes (the reason this is NOT label propagation):
  * Each round is two hash-partitioned ops — groupBy(node).min(neighbor)
    then an equi-join back on node.  No collect_list: a component with
    10^8 members never materializes a neighbor set in one task.
  * large-star halves the height of tall trees, small-star flattens
    them; the pair converges in O(log^2 n) rounds (O(log n) observed),
    vs O(diameter) for min-label propagation — a chain of pairwise
    near-dups (common in boilerplate text) has huge diameter.
  * Per-round ``dropDuplicates`` keeps the edge multiset bounded by the
    input size; ``localCheckpoint`` truncates lineage so the plan does
    not grow with rounds (same pattern as rulemine's cover loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient every edge (hi, lo), drop self-loops, dedupe."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's minimum.

    Emits (v, m) for v ∈ Γ(u), v > u, with m = min(Γ(u) ∪ {u}).
    REQUIRES (hi, lo)-oriented input (src > dst — what ``_canonical``
    produces each round).  Round 6: no symmetric doubling — since u
    itself is in the min, a LARGER neighbor can never be the minimum,
    so m(u) = least(min of u's smaller neighbors, u), computable from
    the oriented edges directly: the groupBy and the join each move
    half the rows the sym-view formulation shuffled.  The pairs
    (u, v > u) are exactly the oriented edges read as (src=v, dst=u);
    a node with no smaller neighbor keeps itself via the left join's
    coalesce."""
    mins = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(F.col("src").alias("dst"), F.least("mn", "dst").alias("m"))
    )
    return edges.join(mins, "dst", "left").select(
        "src", F.coalesce("m", "dst").alias("dst")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """On (hi, lo)-oriented edges: link all of u's smaller neighbors (and
    u itself) to the minimum of that neighborhood.

    Input edges may carry duplicates: ``_large_star`` emits (hi, lo)
    rows (v > u >= m by construction, so orientation and self-loop
    freedom hold already) and the round's closing ``_canonical`` dedups
    the output — an inner dedup here added an Exchange per round for
    the same final edge set (duplicates only inflate the relink rows of
    one round, never compound across rounds)."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (
        edges.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return relink.union(mins.select("src", F.col("m").alias("dst")))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
) -> DataFrame:
    """(node, component) for every node in the edge list; component id is
    the minimum node id of the component.  Isolated nodes don't appear —
    union the full node set downstream if needed (see
    ``assign_components``).

    Converges when a large-star + small-star round leaves the edge set
    unchanged; at that point edges form a star forest rooted at minima.
    """
    # eager checkpoints deliberately: a lazy localCheckpoint races with
    # limit-style first actions (the convergence probe's isEmpty computes
    # only some partitions, truncates lineage, and later jobs can hit
    # "Block does not exist" — observed in the round-6 e2e run before
    # this was reverted)
    e = _canonical(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint()
    converged = False
    for _ in range(max_rounds):
        nxt = _canonical(_small_star(_large_star(e))).localCheckpoint()
        # star forest test: no parent (dst) is itself a child (src).
        # ONE hash aggregate over the role-tagged node stream — the
        # previous distinct + semi-join probe cost two exchanges (and an
        # AQE broadcast job) per round for the same boolean.
        roles = nxt.select(
            F.col("src").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")
        ).union(
            nxt.select(F.col("dst").alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p"))
        )
        unstable = (
            roles.groupBy("n")
            .agg(F.max("c").alias("c"), F.max("p").alias("p"))
            .filter((F.col("c") == 1) & (F.col("p") == 1))
        )
        e = nxt
        if unstable.isEmpty():
            converged = True
            break
    if not converged:
        # downstream dedup (near_dedup_keep_roots / semdedup) would keep
        # wrong representatives on a partial closure — fail loudly, the
        # same posture as rulemine's tail_rule_limit guard
        raise RuntimeError(
            f"connected_components did not converge within max_rounds={max_rounds} "
            "alternating large-star/small-star rounds; raise max_rounds "
            "(O(log^2 n) rounds suffice for n nodes)"
        )
    return e.select(F.col("src").alias("node"), F.col("dst").alias("component"))


def assign_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Every node gets a component id; nodes untouched by any edge are
    their own singleton component."""
    comp = connected_components(edges, src, dst)
    return (
        nodes.select(F.col(id_col).alias("node"))
        .distinct()
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
        )
    )


def near_dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware survivor selection: close the candidate ``pairs``
    into duplicate groups and keep, per group, the member with the HIGHEST
    ``score_col`` (ties broken by minimum id) — the RefinedWeb/FineWeb
    policy of retaining the highest-quality copy instead of an
    arbitrary root.  (The reference's dedup keeps first-seen —
    /root/reference/src/model/EnvFlatAbacRuleMiner.py dedups summaries
    by identity; quality-ranked survivors have no analog there.)

    Scale shape: one hash aggregate ``min(struct(order_key, id))`` on
    the component key — map-side partial min, so a 10^7-member
    boilerplate cluster reduces before the shuffle; deliberately NOT a
    row_number window, which would sort every group on one task."""
    comp = assign_components(df, pairs, id_col)
    ord_key = -F.col(score_col).cast("double")
    # null scores always lose (they'd otherwise win or lose depending
    # on struct null-ordering); a group that is ALL null-scored still
    # keeps exactly one member via the id tie-break
    ord_key = F.coalesce(ord_key, F.lit(float("inf")))
    scored = df.select(id_col, score_col).join(comp, id_col)
    best = (
        scored.groupBy("component")
        .agg(
            F.min(
                F.struct(ord_key.alias("__ord__"), F.col(id_col).alias("__id__"))
            ).alias("__b__")
        )
        .select(F.col("__b__.__id__").alias(id_col))
    )
    return df.join(best, id_col, "left_semi")
