"""Range (interval) join: match points to intervals, or intervals to
intervals, without a cross join.

Spark executes a plain ``a.start <= b.t AND b.t < a.end`` join as
BroadcastNestedLoop (fine only when one side broadcasts). The scalable
form used here quantizes the range dimension into fixed-width buckets:
an interval registers in every bucket it overlaps, a point registers
in exactly one, and the join becomes an EQUI-join on bucket id followed
by the exact predicate. Shuffle volume ~ rows x avg buckets-per-
interval; no n^2 term. The same trick underlies Spark's own
``spark.sql.optimizer.runtime.rangeJoin`` work and interval libraries.

Bucket width is the tuning knob: ~ the median interval length is
near-optimal (each interval lands in <= 2 buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, width: float) -> Column:
    return F.floor(col / F.lit(width)).cast("long")


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
) -> DataFrame:
    """Join each point row to every interval row with
    start <= point < end, via bucket equi-join.

    Numeric or epoch-converted columns; callers convert timestamps with
    functions.epoch.epoch_us first. Output: all columns of both inputs.
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width}")

    p = points.withColumn("__b", _bucket(F.col(point_col), bucket_width))
    iv = intervals.withColumn(
        "__b",
        F.explode(
            F.sequence(
                _bucket(F.col(start_col), bucket_width),
                # end is exclusive, but an interval ending exactly on a
                # bucket boundary still owns that bucket's start point.
                _bucket(F.col(end_col), bucket_width),
            )
        ),
    )
    joined = p.join(iv, "__b").filter(
        (F.col(start_col) <= F.col(point_col))
        & (F.col(point_col) < F.col(end_col))
    )
    return joined.drop("__b")
