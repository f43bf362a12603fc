"""Frequent-itemset rule mining + policy scoring — the reference's core
query (SURVEY.md §2.6/2.7), re-expressed Spark-first.

Pipeline parity map:
- one-hot + FP-growth (/root/reference/src/EnvAbacRuleMiner.py:161-168)
  -> ``pyspark.ml.fpm.FPGrowth`` over 'k=v' item baskets (no OHE needed)
- top-k itemset pruning (EnvAbacRuleMiner.py:234-247) -> orderBy/limit
- candidate scoring by batched count queries
  (/root/reference/src/eval/EnvOverassignmentCalculator.py:59-201)
  -> ONE conditional-aggregation pass over the (event x candidate)
  match join — no per-candidate round trips
- greedy cover loop with deletion (EnvAbacRuleMiner.py:133-232,268-272)
  -> driver loop: filter-out covered rows + localCheckpoint per
  iteration (cuts lineage, the delete_by_query(refresh=True) analog)

The policy confusion-matrix core (the reference's
``EnvPolicyEvaluator.py:202-252``) is q29's conditional aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from associationabacminer_spark.functions.normalize import constraint_predicate


@dataclass
class Rule:
    constraints: dict[str, str]  # key -> value (single-valued per mining round)
    support: int = 0
    score: float = 0.0
    metrics: dict = field(default_factory=dict)

    def predicate(self):
        return constraint_predicate(
            {
                k: (list(v) if isinstance(v, (list, set, tuple)) else [v])
                for k, v in self.constraints.items()
            }
        )


@dataclass
class Policy:
    rules: list[Rule] = field(default_factory=list)

    def allows(self):
        """Disjunction of rule predicates (policy_allows_event,
        /root/reference/src/eval/EnvPolicyEvaluator.py:32-36)."""
        if not self.rules:
            return F.lit(False)
        pred = self.rules[0].predicate()
        for r in self.rules[1:]:
            pred = pred | r.predicate()
        return pred


def baskets(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows -> 'k=v' item baskets (replaces Orange one-hot encoding)."""
    items = F.array(
        *[F.concat_ws("=", F.lit(c), F.coalesce(F.col(c).cast("string"), F.lit("NONE"))) for c in cols]
    )
    return df.select(items.alias("items"))


def frequent_itemsets(
    df: DataFrame, cols: list[str], min_support: float = 0.1, itemset_limit: int = 10_000
) -> DataFrame:
    """Distributed FP-growth (the reference explores min_support
    0.05-0.3 with a 600k itemset cap, job_generator.py:114-115)."""
    from pyspark.ml.fpm import FPGrowth

    fp = FPGrowth(itemsCol="items", minSupport=min_support, minConfidence=0.5)
    model = fp.fit(baskets(df, cols))
    return model.freqItemsets.orderBy(F.desc("freq"), F.asc(F.col("items").cast("string"))).limit(
        itemset_limit
    )


def _itemset_to_rule(items: list[str], freq: int) -> Rule:
    constraints = {}
    for it in items:
        k, _, v = it.partition("=")
        constraints[k] = v
    return Rule(constraints=constraints, support=int(freq))


def metric_suite(
    unique_log_entries: float,
    all_log_entries: float,
    allowed_counts: list[float],
    wsc: float,
    beta: float = 1.0,
    total_possible: float | None = None,
    coverage_rate: float = 0.0,
    under_assignments: float = 0.0,
) -> dict[str, float]:
    """The complete 13-formula sort-metric family of the reference
    (/root/reference/src/eval/EnvOverassignmentCalculator.py:108-166),
    as a pure function of the count aggregates:

    - ``allowed_counts``: per-dimension distinct counts under the rule
      (allowed_users/ops/resources); each clamps to >= 1 exactly as the
      reference does, and their product is the factorized
      allowed_events_count (the O6 rewrite at lines 113-116).
    - ``total_possible``: |total possible privilege states| — the
      overassignment-rate denominator; defaults to allowed_events_count.
    - ``coverage_rate``: covR as supplied by the caller (the reference
      sets it from the windowing job).

    Division guards: the reference flags rules with
    unique_log_entries == 0 invalid *before* scoring (lines 130-136),
    so the _i variants here clamp their denominators to >= 1 rather
    than raise — callers apply the M6 validity check separately."""
    ule = float(unique_log_entries)
    ale = float(all_log_entries)
    aec = 1.0
    for c in allowed_counts:
        aec *= max(1.0, float(c))
    ot = aec - ule
    denom = float(total_possible) if total_possible else aec
    o_rate = ot / max(1.0, denom)
    over_r = 1.0 - o_rate
    cov_r = float(coverage_rate)
    w = max(1.0, float(wsc))
    cov_rw = ale / w
    b = float(beta)
    hm_denom = (b * b) * over_r + cov_r
    over_total = ot if ot > 0 else 1.0
    ule_d = max(1.0, ule)
    ale_d = max(1.0, ale)
    return {
        "wsc": w,
        "overassignment_total": ot,
        "overassignment_rate": o_rate,
        "harmonic_mean": (
            (1 + b * b) * (over_r * cov_r) / hm_denom if hm_denom != 0 else 0.0
        ),
        "arithmetic_mean": ((b * cov_r) + over_r) / 2.0,
        "arithmetic_mean_wsc": ((b * cov_rw) + over_r) / 2.0,
        "product": (ule * b) / over_total,
        "Qrul_count1": ule * (1.0 - (b * ot) / aec),
        "Qrul_count1_i": ule * (1.0 - (b * ot) / ule_d),
        "Qrul_freq1": ale * (1.0 - (b * ot) / aec),
        "Qrul_freq1_i": ale * (1.0 - (b * ot) / ale_d),
        "l_dist": float(under_assignments) + b * ot,
        "Qrul_count": (ule / w) * (1.0 - (b * ot) / aec),
        "Qrul_count_i": (ule / w) * (1.0 - (b * ot) / ule_d),
        "Qrul_freq": (ale / w) * (1.0 - (b * ot) / aec),
        "Qrul_freq_i": (ale / w) * (1.0 - (b * ot) / ale_d),
    }


METRIC_NAMES = (
    "harmonic_mean",
    "arithmetic_mean",
    "arithmetic_mean_wsc",
    "product",
    "Qrul_count1",
    "Qrul_count1_i",
    "Qrul_freq1",
    "Qrul_freq1_i",
    "l_dist",
    "Qrul_count",
    "Qrul_count_i",
    "Qrul_freq",
    "Qrul_freq_i",
)


def score_candidates(
    uncovered: DataFrame,
    all_df: DataFrame,
    candidates: list[Rule],
    dims: dict[str, str] | None = None,
    beta: float = 1.0,
    metric: str = "c_score",
) -> list[Rule]:
    """Score every candidate in ONE aggregation pass: build a boolean
    match column per rule, then conditional sums.  Replaces the
    reference's 5-query-per-rule / 400-per-msearch batches
    (/root/reference/src/eval/EnvOverassignmentCalculator.py:59-106,
    186-198) with a single job.

    Metric suite mirrors process_separated_buffered_results
    (EnvOverassignmentCalculator.py:108-166):
    - coverage  = covered / uncovered-total (the Qrul_freq family)
    - overassignment rate ~ covered / |allowed universe of the rule|,
      where |allowed| is FACTORIZED as the product of per-dimension
      distinct counts under the rule (the O6 rewrite at lines 113-116)
    - c_score   = (1+beta^2) * cov * oa / (beta^2 * oa + cov)
      (beta-weighted harmonic mean, the paper's C-Score)
    - product   = cov * oa
    - l_dist    = sqrt((1-cov)^2 + (1-oa)^2)  (minimized)
    - wsc penalty via constraint count (WscCalculator.py:24-53)
    ``dims`` maps dimension name -> column for the factorized counts
    (defaults to the constraint keys themselves).

    Plan shape (no Expand): candidate matches are EXPLODED to
    (rule_id, ...) rows, then aggregated with at most one distinct
    aggregate per job — Catalyst plans N exact ``countDistinct`` columns
    in one .agg() via an Expand node that replicates input rows N times
    (50 candidates x 3 dims = 150x the scan), which this layout avoids.
    The cheap scan+filter+explode subtree is recomputed once per job
    instead of replicated per aggregate."""
    match_ids = F.array_compact(
        F.array(
            *[
                F.when(r.predicate(), F.lit(i)).otherwise(F.lit(None))
                for i, r in enumerate(candidates)
            ]
        )
    )
    row_hash = F.xxhash64(*[F.col(c) for c in uncovered.columns])
    matched = uncovered.select(
        F.explode(match_ids).alias("rule_id"),
        row_hash.alias("row_h"),
        *[F.col(dcol).alias(f"_dim_{dname}") for dname, dcol in (dims or {}).items()],
    )
    # job A: per-rule covered counts — ALE = rows, ULE = distinct rows
    # (one distinct aggregate -> two-phase hash agg, no Expand)
    cov_rows = {
        r["rule_id"]: (r["ale"], r["ule"])
        for r in matched.groupBy("rule_id")
        .agg(F.count("*").alias("ale"), F.countDistinct("row_h").alias("ule"))
        .collect()
    }
    # job B: per-(rule, dim) distinct counts via one exploded
    # groupBy-distinct pass (the factorized allowed_events_count inputs)
    dim_rows: dict[tuple[int, str], int] = {}
    universe: dict[str, int] = {}
    if dims:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(dname).alias("dim"),
                    F.col(f"_dim_{dname}").cast("string").alias("val"),
                )
                for dname in dims
            ]
        )
        exploded = matched.select("rule_id", F.explode(pairs).alias("p"))
        for r in (
            exploded.groupBy("rule_id", "p.dim")
            .agg(F.countDistinct("p.val").alias("nd"))
            .collect()
        ):
            dim_rows[(r["rule_id"], r["dim"])] = r["nd"]
        # universe denominators: approximate is fine (feeds a rate
        # heuristic only) and avoids the multi-distinct Expand entirely
        urow = uncovered.agg(
            *[
                F.approx_count_distinct(dcol).alias(dname)
                for dname, dcol in dims.items()
            ]
        ).collect()[0]
        universe = {dname: max(1, urow[dname]) for dname in dims}
    n_uncovered = uncovered.count()
    total_possible = 1.0
    for v in universe.values():
        total_possible *= v
    for i, r in enumerate(candidates):
        ale, ule = cov_rows.get(i, (0, 0))
        cov = ale / max(1, n_uncovered)
        allowed_counts = (
            [dim_rows.get((i, dname), 0) for dname in dims] if dims else [ule]
        )
        allowed = 1.0
        for c in allowed_counts:
            allowed *= max(1, c)
        # without dimension info there is no universe estimate: treat the
        # rule as tight (oa=1) so the metric reduces to coverage
        oa = (ale / allowed) if dims else 1.0
        r.support = ale
        suite = metric_suite(
            unique_log_entries=ule,
            all_log_entries=ale,
            allowed_counts=allowed_counts,
            wsc=len(r.constraints),
            beta=beta,
            total_possible=total_possible if dims else None,
            coverage_rate=cov,
            under_assignments=n_uncovered - ale,
        )
        legacy_c = (
            (1 + beta**2) * cov * oa / (beta**2 * oa + cov) if (cov + oa) > 0 else 0.0
        )
        r.metrics = {**suite, "coverage": cov, "overassignment": oa, "c_score": legacy_c}
        if metric == "l_dist":
            r.score = -r.metrics["l_dist"]  # minimized in the reference
        elif metric in r.metrics:
            r.score = r.metrics[metric]
        else:
            r.score = cov - 0.001 * len(r.constraints)
        # M6 validity check (EnvOverassignmentCalculator.py:130-136)
        if ale == 0:
            r.score = float("-inf")
    return candidates


def _low_frequency_remaining_rules(uncovered: DataFrame, cols: list[str]) -> list[Rule]:
    """F5 fallback #1 (low_frequency_remaining_rules,
    /root/reference/src/EnvAbacRuleMiner.py:249-258): when FP-growth finds
    nothing above min_support, every remaining DISTINCT row becomes its
    own fully-constrained rule so the cover is total.  One distinct pass
    — the remainder at this point is by construction the low-frequency
    tail, so the collect is small relative to the input."""
    rows = uncovered.select(*cols).distinct().collect()
    return [
        Rule(
            constraints={c: ("NONE" if row[c] is None else str(row[c])) for c in cols},
            support=1,
        )
        for row in rows
    ]


def _rule_from_last_log_entry(uncovered: DataFrame, cols: list[str]) -> Rule | None:
    """F5 fallback #2 (rule_from_last_log_entry,
    /root/reference/src/EnvAbacRuleMiner.py:260-266): a single remaining
    entry becomes one fully-constrained rule."""
    rows = uncovered.select(*cols).limit(1).collect()
    if not rows:
        return None
    row = rows[0]
    return Rule(
        constraints={c: ("NONE" if row[c] is None else str(row[c])) for c in cols},
        support=1,
    )


def mine_rules(
    df: DataFrame,
    cols: list[str],
    min_support: float = 0.1,
    max_rules: int = 20,
    candidate_limit: int = 50,
    total_cover: bool = True,
    tail_rule_limit: int = 10_000,
) -> Policy:
    """Greedy set-cover mining loop (mine_rules_for_window,
    /root/reference/src/EnvAbacRuleMiner.py:133-232).

    ``total_cover=True`` adds the reference's degenerate-rule fallbacks
    (EnvAbacRuleMiner.py:249-266): when mining strands a remainder —
    FP-growth returns nothing above min_support, or the rule budget runs
    out — every remaining distinct row becomes its own rule (capped at
    ``tail_rule_limit``), and a final single entry becomes one rule, so
    the emitted policy covers every input row."""
    uncovered = df.select(*cols).localCheckpoint()
    policy = Policy()
    while len(policy.rules) < max_rules:
        remaining = uncovered.count()
        if remaining == 0:
            return policy
        if remaining == 1:
            if total_cover:
                last = _rule_from_last_log_entry(uncovered, cols)
                if last is not None:
                    policy.rules.append(last)
            return policy
        freq = frequent_itemsets(
            uncovered, cols, min_support=min_support, itemset_limit=candidate_limit
        ).collect()
        if not freq:
            break
        candidates = [_itemset_to_rule(r["items"], r["freq"]) for r in freq]
        candidates = score_candidates(uncovered, df, candidates)
        best = max(
            candidates, key=lambda r: (r.score, -len(r.constraints))
        )  # argmax w/ fewer-constraints tiebreak (EnvAbacRuleMiner.py:107-122)
        if best.support == 0:
            break
        policy.rules.append(best)
        # anti-join by deletion (EnvAbacRuleMiner.py:268-272) + eager
        # materialization between iterations (delete refresh=True analog)
        uncovered = uncovered.filter(~best.predicate()).localCheckpoint()
    if total_cover and uncovered.limit(1).count() > 0:
        # bound the DISTINCT combos, not raw rows: limit-before-distinct
        # could sample tail_rule_limit rows spanning fewer combos, pass
        # the guard, and silently leave unsampled combos uncovered
        tail = _low_frequency_remaining_rules(
            uncovered.select(*cols).distinct().limit(tail_rule_limit + 1), cols
        )
        if len(tail) > tail_rule_limit:
            raise ValueError(
                f"total_cover tail exceeds tail_rule_limit={tail_rule_limit}; "
                "raise the limit or lower min_support"
            )
        policy.rules.extend(tail)
    return policy


def auc_from_points(fpr: list[float], tpr: list[float]) -> float:
    """Trapezoidal ROC AUC over (FPR, TPR) points (M5,
    /root/reference/src/job/AUCPrinter.py:22-37 — sklearn.metrics.auc
    replaced by a dependency-free trapezoid on the tiny aggregate)."""
    pts = sorted(zip(fpr, tpr))
    area = 0.0
    for (x0, y0), (x1, y1) in zip(pts, pts[1:]):
        area += (x1 - x0) * (y0 + y1) / 2.0
    return area

