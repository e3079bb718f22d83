"""Partition-layout helper for CPU-heavy narrow transforms.

A parquet file is splittable only at row-group boundaries, so a
single-file single-row-group input becomes ONE task -- and a narrow
but expensive expression chain (shingling, regex scoring) then runs
on one core regardless of cluster size. ``spread`` repartitions up to
the session's default parallelism before such work when the input is
narrow; the shuffle moves only the raw input rows (cheap) and buys
full-width execution of everything downstream. On real multi-file
100 TB inputs the estimated width dwarfs the core count and this is a
no-op.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _byte_conf(spark, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ('134217728', '128m', '4MB')."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw)
    if not m:
        return default
    return int(m.group(1)) * _UNITS.get(m.group(2) or "b", 1)


def _est_scan_partitions(spark, size: int) -> int:
    """Spark's own split sizing (FilePartition planning):
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    totalBytes / defaultParallelism)). Using the same formula keeps
    the estimate aligned with what the scan will actually do -- a
    200 MB input on 32 cores scans as ~32 partitions even though
    200 MB // 128 MB is 1."""
    mpb = _byte_conf(spark, "spark.sql.files.maxPartitionBytes",
                     128 * 1024 * 1024)
    open_cost = _byte_conf(spark, "spark.sql.files.openCostInBytes",
                           4 * 1024 * 1024)
    cores = max(1, spark.sparkContext.defaultParallelism)
    max_split = min(mpb, max(open_cost, size // cores or 1))
    return max(1, size // max(1, max_split))


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int.
    Distros that set it to ``"auto"`` (AQE-managed width) get the
    cluster's default parallelism instead."""
    dp = max(1, spark.sparkContext.defaultParallelism)
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(dp)))
    except ValueError:
        return dp


def explode_width(spark, n_rows: int) -> int:
    """Explicit shuffle width for a stage feeding a CPU-quadratic
    in-bucket pair explode. AQE coalesces post-shuffle partitions by
    BYTES, but a C(bucket, 2) explode multiplies CPU far beyond its
    input bytes, so byte-based coalescing strands the fan-out on 1-4
    cores while the rest of the machine idles (measured sf0.1: the
    containment pair stage ran 3.3 s of task CPU in 4 AQE-coalesced
    tasks; the pagerank edge build's pair stage in ONE). Pinning the
    width with an explicit same-key repartition keeps AQE's hands off
    (REPARTITION_BY_NUM shuffle origins are never coalesced) while
    the following same-key groupBy reuses the exchange, so NO extra
    shuffle is added. Width: one task per ~250k posting rows (known
    from the caller's stats aggregation), floored at the core count,
    ceilinged at the session's shuffle-partition conf so the cluster
    posture set by the deployer is respected at volume."""
    dp = max(1, spark.sparkContext.defaultParallelism)
    sp = shuffle_partitions(spark)
    need = -(-int(n_rows) // 250_000)
    return max(dp, min(need, max(sp, dp)))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition df up to ``min_partitions`` (default: the session's
    defaultParallelism) iff the input is narrow.

    Width is decided WITHOUT materializing the physical plan (a
    ``df.rdd.getNumPartitions()`` probe costs a full RDD conversion
    per plan build -- measurable driver overhead on every query):

    1. A shuffle repartition at/above target already in the logical
       plan means an upstream ``spread`` (or the caller) widened it;
       composed operators (``quality_scores(language_id(df))``) add
       ONE shuffle for the chain, not one per stage. Coalesce
       ("Repartition n, false") and sub-target repartitions do not
       count.
    2. File-based inputs estimate their scan width from logical stats:
       partitions ~= sizeInBytes / maxPartitionBytes (Spark both
       splits large files and bin-packs small ones toward that
       granularity). One 8 GB file -> ~64 estimated partitions ->
       no-op; 64 tiny files -> ~1 -> repartition. At 100 TB the
       estimate is thousands; provable no-op with no plan
       materialization.
    3. In-memory frames (no files, no usable stats) pay the accurate
       ``df.rdd`` probe -- they are small test/driver frames whose
       plans are cheap to materialize.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism

    plan_str = df._jdf.queryExecution().logical().toString()
    widths = [int(n) for n in re.findall(r"Repartition (\d+), true", plan_str)]
    if any(n >= target for n in widths) or "RepartitionByExpression" in plan_str:
        return df

    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files > 0:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if _est_scan_partitions(spark, size) >= target:
            return df
        return df.repartition(target)

    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
