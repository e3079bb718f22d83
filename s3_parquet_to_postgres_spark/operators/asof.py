"""As-of (point-in-time) join: for each left row, the latest right row
with the same key and right.time <= left.time.

Spark has no built-in as-of join. The scalable composition used here is
union + windowed carry-forward: tag both sides, union, sort within each
key by (time, side) and carry the last right-side payload forward with
``last(..., ignorenulls=True)``. Cost: ONE shuffle on the key, no
row explosion -- unlike the naive join+filter+max which materializes
every (left, right-candidate) pair. This is the pattern that survives
a 100x scale-up; an equality+inequality join would become the dominant
shuffle at 100 TB.

Tie semantics: a right row at exactly left.time matches (<=), because
right rows sort before left rows at equal timestamps. Among right rows
sharing (key, time), pass ``right_order`` to make the winner
deterministic (the greatest order value); without it the winner is
partition-order-dependent, which an order-insensitive oracle can't see
but a re-run at different parallelism can. ``right_order`` must be
non-NULL to give that guarantee: NULL order values sort before every
real value (and before the untagged left rows' NULL), so rows carrying
them stay mutually nondeterministic -- coalesce to a sentinel first if
the column can be NULL.

The whole matched right row is carried as ONE struct with a single
``last(ignorenulls=True)``: a struct is non-NULL whenever its source
row exists, so a matching right row whose *payload value* is NULL
correctly yields NULL (an earlier per-column carry would have
substituted a stale older value -- the per-row as-of definition
forbids that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_payload: list[str],
    right_order: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Columns of ``left`` plus ``right_payload`` from the as-of match
    (NULL when no matching right row exists).

    ``direction`` (pandas ``merge_asof`` parity):
    * ``"backward"`` (default) -- latest right row with
      right.time <= left.time (carry-forward ``last`` over the
      preceding frame);
    * ``"forward"`` -- earliest right row with right.time >=
      left.time (carry-backward ``first`` over the following frame --
      the mirrored one-shuffle pattern);
    * ``"nearest"`` -- whichever of the two is closer in time, ties
      to backward (both carries share the one hash partitioning: a
      second Sort within the same exchange, still no row explosion).

    ``right_order``: optional right-side column breaking ties among
    right rows with equal (key, time) -- the greatest value wins in
    every direction.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")
    left_cols = left.columns
    tie_type = (
        right.schema[right_order].dataType if right_order else "int"
    )
    l = left.select(
        *left_cols,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(tie_type).alias("__tie"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in right_payload],
    )
    r = right.select(
        F.col(on).alias(on) if on not in right.columns else F.col(on),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_cols if c != on],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        (F.col(right_order) if right_order else F.lit(0)).alias("__tie"),
        *[F.col(c).alias(f"__r_{c}") for c in right_payload],
    ).select(*l.columns)  # align column order for union

    carried = r.unionByName(l)
    out_cols = list(left_cols)
    # ONE struct-valued carry per direction: non-NULL iff a right row
    # exists at-or-before (backward) / at-or-after (forward) this
    # position, so NULL payload fields inside the matched row survive
    # as NULL instead of falling back to other rows.
    right_struct = F.when(
        F.col("__is_left") == 0,
        F.struct(
            F.col("__t").alias("__mt"),
            *[F.col(f"__r_{c}").alias(c) for c in right_payload],
        ),
    )
    # Backward: right rows sort BEFORE left at equal time (<= match),
    # greatest __tie last so `last` picks it. Forward: left sorts
    # before right at equal time (>= match), greatest __tie first so
    # `first` picks it.
    w_back = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc(),
                 F.col("__tie").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__is_left").desc(),
                 F.col("__tie").desc_nulls_last())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    matches = {}
    if direction in ("backward", "nearest"):
        matches["__m_b"] = F.last(right_struct, ignorenulls=True).over(w_back)
    if direction in ("forward", "nearest"):
        matches["__m_f"] = F.first(right_struct, ignorenulls=True).over(w_fwd)
    out = carried.withColumns(matches).filter(F.col("__is_left") == 1)

    b, f = F.col("__m_b"), F.col("__m_f")
    if direction == "backward":
        chosen = F.when(b.isNotNull(), b)
    elif direction == "forward":
        chosen = F.when(f.isNotNull(), f)
    else:
        closer_b = (
            F.col("__t") - b.getField("__mt")
            <= f.getField("__mt") - F.col("__t")
        )
        chosen = (
            F.when(b.isNotNull() & (~f.isNotNull() | closer_b), b)
            .when(f.isNotNull(), f)
        )
    out = out.withColumn("__match", chosen)
    payload = [
        F.when(
            F.col("__match").isNull(),
            F.lit(None).cast(right.schema[c].dataType),
        )
        .otherwise(F.col("__match").getField(c))
        .alias(c)
        for c in right_payload
    ]
    return out.select(*out_cols, *payload)
