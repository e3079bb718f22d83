"""Pair generation core: the C(k,2) in-bucket pair explode and the
duplication-adaptive collapse -> pair -> fan-out path.

Every dedup/similarity operator here ends in the same move: group ids
into a bucket (band hash, shingle, fingerprint, basket) and emit the
bucket's C(k,2) pairs in canonical order (``bucket_pairs``). Grouping
(collect_list) then pairing in-array, instead of self-joining on the
bucket key, runs the expensive upstream scan once: Catalyst does not
deduplicate a self-join's common subplan.

Set-function operators (``minhash_lsh_pairs``, ``containment_pairs``,
``passage_overlap_pairs``) add a second, duplication-adaptive move.
Each output row is a pure function of the two documents' sets
(signature, capped shingle set, filtered fingerprint set), so docs
with IDENTICAL sets can collapse to one representative per 16-byte set
key (``collapse_by_key``), pair at representative level, and fan
members back out with two equi-joins plus an intra-cluster self-join
(``fan_out``). Collapsing is exact: members of a cluster have the same
size and the same intersection with any partner, and two members of
one cluster score exactly what identical sets score (estimate 1.0,
containment 1.0, shared = set size) -- the value the direct path
computes for the same pair, since identical docs share every bucket.
Membership stays a table (never collected) and both expansions are
equi-joins on the set key, so no O(corpus) broadcast appears anywhere.

Cluster size is bounded by the operator's df cap: a kept bucket
element shared by all k members of a cluster has df >= k, and kept
means df <= cap, so k <= cap and intra fan-out is <= C(cap, 2) per
cluster. A boilerplate storm larger than the cap loses its elements to
the df filter and pairs not at all -- exactly the uncollapsed
behavior. (MinHash has no df cap; its ``max_bucket_size`` guard counts
docs, i.e. summed cluster sizes, to the same effect.)

Which shape runs is decided from one statistic, measured once
(``choose_shape``): docs / distinct set keys. On a low-duplication
corpus clusters are ~all singletons and the cluster machinery (the
representative aggregation, both fan-out joins, the intra union) only
adds stages while pairing on a 16-byte key instead of the caller's id.
Above ``CLUSTER_COLLAPSE_MIN_DUP`` the cluster shape wins, because
direct pair volume grows with the SQUARE of cluster size (measured on
the 16x key-shifted stress, where every text appears 16 times: the
direct containment pair stage was ~10 s of an 11.5 s wall, halved by
collapsing). Both shapes return bit-identical rows.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.layout import explode_width
from ..session import eager_build_scope

# Cluster collapse engages once docs exceed this multiple of distinct
# set keys; below it the direct id-level shape is cheaper.
CLUSTER_COLLAPSE_MIN_DUP = 1.5


def bucket_pairs(
    arr: str,
    key: str | None = None,
    names: tuple[str, str] = ("id_a", "id_b"),
    aligned: dict[str, tuple[str, str]] | None = None,
    score: dict[str, str] | None = None,
    where: str | None = None,
) -> Column:
    """``explode`` of every i<j pair of the array column ``arr``, as a
    struct column ``p``.

    Elements are scalars (``key=None``) or structs whose ``key`` field
    orders the pair. The pair keys come out canonical as ``names``
    (least, greatest); each ``aligned`` field ``f -> (f_a, f_b)`` is
    carried per side in that same order. ``score`` maps output names
    to SQL over the two elements ``x`` and ``y``; ``where`` is an
    optional SQL predicate on ``x``/``y`` that drops pairs before they
    are built. The SQL-lambda form sidesteps PySpark's Python-lambda
    arity introspection; slice() is 1-based, so element i (0-based)
    pairs with everything from position i + 2 on."""
    xk, yk = (f"x.{key}", f"y.{key}") if key else ("x", "y")
    a, b = names
    fields = [f"'{a}', least({xk}, {yk})", f"'{b}', greatest({xk}, {yk})"]
    for f, (fa, fb) in (aligned or {}).items():
        fields += [f"'{fa}', if({xk} < {yk}, x.{f}, y.{f})",
                   f"'{fb}', if({xk} < {yk}, y.{f}, x.{f})"]
    fields += [f"'{n}', {sql}" for n, sql in (score or {}).items()]
    rest = f"slice({arr}, i + 2, size({arr}))"
    if where:
        rest = f"filter({rest}, y -> {where})"
    return F.explode(F.expr(
        f"flatten(transform({arr}, (x, i) -> transform({rest}, y ->"
        f" named_struct({', '.join(fields)}))))"
    )).alias("p")


def choose_shape(
    spark, build: Callable[[], DataFrame], key: str, volume: Column
) -> tuple[DataFrame, bool, int]:
    """Checkpoint the per-doc set table ``build()`` and run the ONE
    stats job that picks the pairing shape.

    Returns ``(table, cluster, width)``: the lazily checkpointed table
    (every branch reads it, so the corpus scan happens once), whether
    docs exceed ``CLUSTER_COLLAPSE_MIN_DUP`` x the distinct values of
    ``key``, and the pair-stage ``explode_width`` sized from the
    aggregate ``volume`` (the posting rows the bucket stage shuffles).
    Built and measured inside ``eager_build_scope``: AQE off, so the
    checkpoint plus stats run as one job instead of one per stage."""
    with eager_build_scope(spark):
        table = build().localCheckpoint(eager=False)
        n_docs, n_keys, n_rows = table.agg(
            F.count("*"), F.count_distinct(key), volume
        ).first()
    cluster = n_docs > CLUSTER_COLLAPSE_MIN_DUP * n_keys
    return table, cluster, explode_width(spark, n_rows or 0)


def collapse_by_key(
    docs: DataFrame, rep_cols: list[str], size: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Split a per-doc table ``(id, ck, ...)`` keyed by a 16-byte set
    key into ``(members, reps)``: members keep every column but the set
    payload ``rep_cols``; reps hold one row per ``ck`` with the payload
    (and the member count as ``size`` when asked). No rep-id join:
    members of a cluster carry identical payloads by construction of
    ``ck``, so first() is deterministic in value."""
    aggs = [F.first(c).alias(c) for c in rep_cols]
    if size:
        aggs.append(F.count("*").alias(size))
    return docs.drop(*rep_cols), docs.groupBy("ck").agg(*aggs)


def fan_out(
    rep_pairs: DataFrame,
    members: DataFrame,
    cross: list[Column | str],
    intra: list[Column] | None = None,
    intra_members: DataFrame | None = None,
    intra_where: Column | None = None,
) -> DataFrame:
    """Member-level pairs ``(id_a < id_b, ...)`` from representative
    pairs ``(ck_a, ck_b, ...)``.

    Cross pairs: two equi-joins on the set key fan every member of
    ``ck_a`` against every member of ``ck_b``; ``cross`` are the value
    columns, over ``rep_pairs``' columns and the member ids ``ida`` /
    ``idb``. Intra pairs (``intra`` not None): a self-join of
    ``intra_members`` (default ``members``) on ``ck``, i<j, with value
    columns ``intra`` over its columns. ``intra_where`` filters the
    left side only -- a per-cluster predicate both sides share."""
    cross_df = (
        rep_pairs
        .join(members.select(F.col("ck").alias("ck_a"),
                             F.col("id").alias("ida")), "ck_a")
        .join(members.select(F.col("ck").alias("ck_b"),
                             F.col("id").alias("idb")), "ck_b")
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            *cross,
        )
    )
    if intra is None:
        return cross_df
    m = members if intra_members is None else intra_members
    left = m if intra_where is None else m.filter(intra_where)
    intra_df = (
        left.join(m.select("ck", F.col("id").alias("idb")), "ck")
        .filter(F.col("id") < F.col("idb"))
        .select(F.col("id").alias("id_a"), F.col("idb").alias("id_b"),
                *intra)
    )
    return cross_df.unionByName(intra_df)
