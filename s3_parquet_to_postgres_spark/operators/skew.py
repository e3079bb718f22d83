"""Skew mitigation: salted joins and two-phase (salted) aggregation.

AQE's skew-join splitting (on in session.py) handles most skew at
runtime by splitting oversized shuffle blocks. These explicit forms
cover the cases AQE can't: a broadcast-ineligible dimension joined on
a power-law key (salting spreads one hot key over ``salt`` reducers),
and high-cardinality-but-hot-key aggregation (partial per-salt, then
final merge -- same trick Catalyst applies automatically for partial
aggregation, made explicit here for composed aggregates where the
combine function isn't the same as the reduce function).

Both transforms are semantics-preserving: tests assert equality with
the unsalted plan. Salt derivation is deterministic (hash of the row's
own columns, not rand()) so retries/replays of a task produce the same
assignment -- required for exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    salt: int = 8,
) -> DataFrame:
    """Inner equi-join where ``skewed``'s join key is hot.

    The skewed side gets a deterministic salt in [0, salt); ``other``
    is replicated ``salt`` times (explode over a literal range — cheap
    when ``other`` is the smaller side). The join key becomes
    (key, salt), spreading each hot key across ``salt`` shuffle
    partitions. Output equals the plain join, in any order. A row's
    salt is a hash of all non-key columns of ``skewed``.
    """
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    non_key = [c for c in skewed.columns if c != on] or [on]
    basis = F.concat_ws("", *[F.col(c).cast("string") for c in non_key])
    s = skewed.withColumn("__salt", F.pmod(F.xxhash64(basis), F.lit(salt)))
    o = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<long>"))
    )
    return s.join(o, [on, "__salt"]).drop("__salt")


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    agg_exprs: dict[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation for hot grouping keys.

    Phase 1 groups by (keys + salt) — the hot key's rows split across
    ``salt`` reducers; phase 2 merges the per-salt partials. Supported
    aggregates and their merge functions: sum/sum, count/sum, min/min,
    max/max. (avg/distinct need different decompositions — use
    Catalyst's own partial aggregation or approx sketches for those.)

    ``agg_exprs``: {column: 'sum'|'count'|'min'|'max'}.
    """
    mergers = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    firsts = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    bad = {c: a for c, a in agg_exprs.items() if a not in mergers}
    if bad:
        raise ValueError(f"unsupported salted aggregates: {bad}")

    salted = df.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(F.concat_ws(
                "", *[F.col(c).cast("string") for c in df.columns]
            )),
            F.lit(salt),
        ),
    )
    partial = salted.groupBy(*group_cols, "__salt").agg(
        *[firsts[a](c).alias(f"__p_{c}") for c, a in agg_exprs.items()]
    )
    final = partial.groupBy(*group_cols).agg(
        *[mergers[a](f"__p_{c}").alias(f"{c}_{a}") for c, a in agg_exprs.items()]
    )
    return final
