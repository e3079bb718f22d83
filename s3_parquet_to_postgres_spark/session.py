"""SparkSession factory and scoped conf writes.

``build_session`` encodes the scale posture of the sessions the engine
creates itself (CLI, tests, benchmarks): AQE on (runtime coalescing +
skew-join splitting), Arrow for the few pandas-UDF paths, UTC session
time so timestamp renderings are environment-independent, and the
legacy nanos-as-long switch for parquet TIMESTAMP(NANOS).

A session the engine is handed (``__spark_entry__``) is used as it is
found: plans write none of these confs on it, and a step that needs a
conf sets it through ``conf_scope``, which puts the session back as it
was.

On a real cluster the same builder is used with a different master and
shuffle-partition count; nothing else in the engine depends on local
mode.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Baseline configs applied to every session this engine creates.
# Values chosen for the local[32]/128GiB test harness; on a 1000-executor
# cluster only shuffle.partitions and maxPartitionBytes warrant retuning
# (AQE coalesces excess partitions at runtime either way).
_BASE_CONFS: dict[str, str] = {
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # skew-join splitting, and dynamic join-strategy switching.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas (10-100x over pickle).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp rendering regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Spark has no ns type: a parquet TIMESTAMP(NANOS) column reads as
    # its raw int64 (catalog.read_table scopes this for `events` itself).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Small-dim broadcast threshold: region/nation/supplier/part are
    # all dimension-sized even at 100 TB fact scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Generated-class cache (default 100 entries). The sketch operators
    # (minhash/simhash: 32-64 aggregate functions) produce large janino
    # units that take seconds to recompile; with a realistic mixed
    # workload the default cache thrashes and every query pays the
    # compile again. Static conf -- a no-op when set on a live session.
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def build_session(
    app_name: str = "s3-parquet-to-postgres-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master=None`` defers to an externally configured cluster master
    (spark-submit / cluster mode); tests and bench pass
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    confs = dict(_BASE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else DEFAULT_CPUS
    )
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_session(app_name: str = "s3-parquet-to-postgres-spark") -> SparkSession:
    """Local test/bench session on ``local[$SPARK_GRAFT_CPUS]``."""
    return build_session(
        app_name=app_name,
        master=f"local[{DEFAULT_CPUS}]",
        shuffle_partitions=DEFAULT_CPUS,
        extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the duration of the block and
    put back what was there before, exception or not.

    A key the caller had set gets its old value back; a key the caller
    never set (``conf.get(k, None)`` is None: only Spark's default
    applies) is unset again, so ``spark.conf.getAll`` leaves the scope
    exactly as it entered it, with no default pinned as an explicit
    setting. This is the one restore path for every scoped conf write
    in the engine (``eager_build_scope``, ``CopySink.write``,
    ``catalog.read_table``'s schema inference).

    Confs are session-wide, so the same thread-safety caveat as
    ``eager_build_scope`` applies.
    """
    was = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in was.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def eager_build_scope(
    spark: SparkSession, shuffle_partitions: int | None = None
):
    """AQE off for the duration of a plan-construction-time eager build
    (``localCheckpoint`` + the stats/count job that materializes it).

    Plan construction writes session confs only here and in
    ``catalog.read_table``'s schema inference, both through
    ``conf_scope``, the one conf writer outside session setup, so
    every conf touched is restored (or unset, if the caller never set
    it) on exit, exception or not, and a construction leaves the
    session as it found it.

    Two reasons, both measured (r10 ml_logreg_train, r11 dedup/graph):

    * Under AQE a checkpointed LogicalRDD records UnknownPartitioning,
      so a downstream join/aggregate on the build's own grouping key
      re-exchanges it; planned without AQE it records the real
      hashpartitioning and iteration plans collapse to exchange-free.
    * AQE executes one JOB per query stage. An eager build with k
      shuffles pays k driver round-trips (~45-85 ms each at local
      scale) where the non-adaptive plan runs one job. Queries that
      construct several checkpoints pay this per checkpoint.

    ``shuffle_partitions``, when given, also sets
    ``spark.sql.shuffle.partitions`` for the scope: without AQE's
    coalescing every exchange planned inside takes that width, and the
    conf is read at physical planning time, so an eager build planned
    inside the scope keeps it (pagerank sizes its loop this way).

    The scope only covers driver-side plan construction of bounded
    intermediate tables (checkpoint + one stats job); the main query
    still plans and runs under AQE with its coalescing/skew handling.

    NOT thread-safe: this toggles a SESSION-wide conf, so concurrent
    plan construction on the same SparkSession would race and could be
    planned without AQE. The engine's driver contract constructs plans
    sequentially on one thread; a future parallel harness must give
    each thread its own session (``spark.newSession()``) before
    reusing this helper.
    """
    scoped = {"spark.sql.adaptive.enabled": "false"}
    if shuffle_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    with conf_scope(spark, scoped):
        yield

