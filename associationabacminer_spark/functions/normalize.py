"""Normalization scalar functions — Spark-native equivalents of the
reference's event normalizer (SURVEY.md §2.3, N1-N12).

Every function returns a pyspark Column built from built-in
``pyspark.sql.functions`` only: JVM-side, whole-stage-codegen'd, no
Python in the row path.  The reference applied the same logic row-at-a-
time in pure Python (/root/reference/src/model/ConfigurableEventNormalizer.py:81-169).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column
from pyspark.sql import functions as F


def hour_bin_simple(ts: Column | str, buckets: int) -> Column:
    """N1 'simple-k' hour binning: int(hour / (24/k))
    (/root/reference/src/model/ConfigurableEventNormalizer.py:68-79)."""
    step = 24 // buckets
    return F.floor(F.hour(ts) / F.lit(step)).cast("int")


def bin_by_bounds(col: Column | str, bounds: list) -> Column:
    """N1 'eqf/eqw-k' binning via bucket upper bounds: the index of the
    first bound the value is below, else ``len(bounds)`` (nulls land in
    the last bin).  Hour binning passes ``F.hour(ts)`` (lookup tables
    at ConfigurableEventNormalizer.py:39-56); in this engine the bounds
    come from a KLL sketch instead of offline sorts."""
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(len(bounds))
    for i, b in reversed(list(enumerate(bounds))):
        expr = F.when(c < F.lit(b), F.lit(i)).otherwise(expr)
    return expr.cast("int")


def weekday(ts: Column | str) -> Column:
    """N2: 0=Monday..6=Sunday, matching Python's datetime.weekday()
    (ConfigurableEventNormalizer.py:92-100)."""
    return ((F.dayofweek(ts) + 5) % 7).cast("int")


def is_weekend(ts: Column | str) -> Column:
    """N2: weekend = weekday in {5, 6} (Saturday, Sunday)."""
    return F.dayofweek(ts).isin(1, 7)


_CREATE = ("create", "add", "put", "upload", "signup", "insert", "register")
_READ = ("get", "describe", "list", "view", "read", "head", "lookup", "download", "click")
_UPDATE = ("update", "modify", "set", "attach", "tag", "enable", "disable", "purchase")
_DELETE = ("delete", "remove", "deregister", "detach", "terminate")


def crud_verb(name: Column | str) -> Column:
    """N3: CRUD verb class from the action-name prefix.  The reference
    regex-splits the leading camel-case verb then startswith-matches
    verb lists (ConfigurableEventNormalizer.py:121-138,57-60)."""
    verb = F.lower(F.regexp_extract(name, r"^([A-Za-z][a-z]*)", 1))

    def any_prefix(words) -> Column:
        return reduce(
            lambda a, b: a | b, [verb.startswith(w) for w in words]
        )

    return (
        F.when(any_prefix(_CREATE), F.lit("Create"))
        .when(any_prefix(_READ), F.lit("Read"))
        .when(any_prefix(_UPDATE), F.lit("Update"))
        .when(any_prefix(_DELETE), F.lit("Delete"))
        .otherwise(F.lit("Execute"))
    )


def agent_bin(user_agent: Column | str) -> Column:
    """N4: coarse user-agent binning via substring cascade
    (ConfigurableEventNormalizer.py:171-210)."""
    ua = F.lower(user_agent)
    return (
        F.when(ua.contains("aws-sdk"), F.lit("aws-sdk"))
        .when(ua.contains("aws-cli") | ua.contains("botocore"), F.lit("aws-cli"))
        .when(ua.contains("console"), F.lit("console"))
        .when(ua.contains("amazonaws") | ua.contains("internal"), F.lit("internal"))
        .otherwise(F.lit("other"))
    )


def invoked_by_collapse(invoked_by: Column | str) -> Column:
    """N8: userIdentity.invokedBy collapse
    (/root/reference/src/model/ConfigurableEventNormalizer.py:85-90):
    'signin.amazonaws.com' passes through unchanged; any other value
    containing 'amazonaws' or (case-insensitively) 'internal' collapses
    to the literal 'internal'; everything else is unchanged."""
    c = F.col(invoked_by) if isinstance(invoked_by, str) else invoked_by
    return (
        F.when(c == F.lit("signin.amazonaws.com"), c)
        .when(c.contains("amazonaws") | F.lower(c).contains("internal"), F.lit("internal"))
        .otherwise(c)
    )


def ip_normalize(ip: Column | str) -> Column:
    """N5: 10.* -> vpc.internal; service names collapse to 'internal';
    otherwise truncate to the /24 prefix
    (ConfigurableEventNormalizer.py:103-120)."""
    c = F.col(ip) if isinstance(ip, str) else ip
    return (
        F.when(c.startswith("10."), F.lit("vpc.internal"))
        .when(c.contains("amazonaws") | c.contains("internal"), F.lit("internal"))
        .otherwise(
            F.concat_ws(
                ".",
                F.split(c, r"\.")[0],
                F.split(c, r"\.")[1],
                F.split(c, r"\.")[2],
            )
        )
    )


def fill_missing(col: Column | str, token: str = "NONE") -> Column:
    """N7: absent value -> literal 'NONE'
    (ConfigurableEventNormalizer.py:157-160)."""
    return F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(token))


def arn_resource_type(arn: Column | str) -> Column:
    """N10: arn.split(':')[5].split('/')[0]
    (/root/reference/src/model/EventNormalizerNg.py:77)."""
    return F.split(F.split(arn, ":")[5], "/")[0]


def constraint_predicate(constraints: dict[str, list]) -> Column:
    """P3: rule constraints -> conjunctive isin predicate — disjunctive
    within a key, conjunctive across keys
    (/root/reference/src/model/RuleUtils.py:81-93)."""
    return reduce(and_, [F.col(k).isin(vs) for k, vs in constraints.items()])


def constraint_predicate_with_negation(
    include: dict[str, list], exclude: dict[str, list] | None = None
) -> Column:
    """P4: constraint predicate with a must_not clause — the reference's
    bool-query shape {filter: terms..., must_not: terms...}
    (/root/reference/src/model/RuleUtils.py:96-131, the invalid-events
    exclusion at EnvOverassignmentCalculator.py:60-75).  Include terms
    are conjunctive isin; exclude terms are conjunctive NOT-isin."""
    pred = constraint_predicate(include)
    for k, vs in (exclude or {}).items():
        pred = pred & ~F.col(k).isin(vs)
    return pred
