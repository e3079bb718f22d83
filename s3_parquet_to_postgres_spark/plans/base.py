"""QuerySpec: one declared engine capability.

Each spec pairs a Spark DataFrame program with the equivalent ANSI SQL
for the DuckDB oracle (None for ops SQL cannot express -- the driver
then records a weaker rows-only check).

Cross-engine determinism rules used throughout the catalog (the oracle
hash is order-insensitive but value-exact):

* money/quantity SUMs go through DECIMAL(18,2|4) -- exact and
  commutative, so Spark's partial-aggregation order vs DuckDB's scan
  order cannot change the result; final cast back to DOUBLE.
* per-row float arithmetic (+,-,*,/) is IEEE-identical across engines
  and needs no rounding; transcendentals (log, pow, stddev, corr) are
  rounded.
* dates/timestamps are rendered as strings (engines disagree on
  date/timestamp physical dtypes after a pandas conversion).
* derived integers are cast to BIGINT on both sides (DuckDB SUM(int)
  yields HUGEINT, year() yields BIGINT, ...).
* every query with a LIMIT has a total order (unique tiebreak column).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import read_table
from ..functions.layout import shuffle_partitions

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over views region/nation/.../embeddings
    doc: str = ""


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand table loader for query bodies."""
    return read_table(spark, sf_dir, name)


def size_scaled_partitions(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    bytes_per_partition: int = 32 << 20,
) -> int:
    """Partition count for an explicit repartition, derived from the
    input table's on-disk size and clamped to [1,
    spark.sql.shuffle.partitions] (optimization-guide §2: make
    partitioning scale-adaptive — derive from input size — rather than
    a constant tuned for one deployment).

    Explicit repartitions opt OUT of AQE coalescing, so a count that
    tracks the data keeps tiny local inputs at 1 partition (single-task
    stages, no 32-empty-task overhead) while a cluster-sized input
    climbs to the conf cap. ``bytes_per_partition`` is deliberately
    below the usual 128 MB split target: it is compressed parquet
    bytes standing in for the (larger) in-memory exploded width.

    Non-local paths (s3a:// on a real cluster) are not stat-able from
    the driver here; they fall back to the conf cap, which ops size to
    the cluster anyway.
    """
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    cap = shuffle_partitions(spark)
    size = 0
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            size += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
    elif os.path.isfile(path):
        size = os.path.getsize(path)
    else:
        return cap
    return max(1, min(cap, -(-size // bytes_per_partition)))
