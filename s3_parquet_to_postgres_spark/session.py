"""SparkSession factory.

One place to encode the scale posture: AQE on (runtime coalescing +
skew-join splitting), Arrow for the few pandas-UDF paths, UTC session
time so timestamp renderings are environment-independent, and the
legacy nanos-as-long switch because the `events` table carries
TIMESTAMP(NANOS) which vanilla Spark refuses to read.

On a real cluster the same builder is used with a different master and
shuffle-partition count; nothing else in the engine depends on local
mode.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.errors import AnalysisException
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
    # events.parquet stores TIMESTAMP(NANOS,false); Spark has no ns
    # type, so read the raw int64 and convert explicitly (catalog.py).
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


def s3a_confs(
    max_connections: int = 96,
    upload_buffer: str = "disk",
    committer: str = "magic",
) -> dict[str, str]:
    """Recommended S3A configs for production object-store reads/writes.

    The reference stages S3 objects to local disk with <=5 concurrent
    GETs before reading them (reference: src/s3_download.rs:34-128);
    under Spark, executors read s3a:// directly and these settings are
    the knobs that matter at 1000-executor scale:

    * connection pool sized to executor-core fan-out,
    * the "magic" S3A committer (writes task output straight to the
      final location via multipart uploads -- no rename phase, which
      S3 cannot do atomically),
    * credentials resolved by the default AWS provider chain (env,
      instance profile); never hardcoded.

    Returned as a plain dict so callers can merge into build_session's
    extra_confs. Untested in this container (no S3 endpoint); values
    are the stock Hadoop S3A settings.
    """
    return {
        "spark.hadoop.fs.s3a.connection.maximum": str(max_connections),
        "spark.hadoop.fs.s3a.fast.upload.buffer": upload_buffer,
        "spark.hadoop.fs.s3a.committer.name": committer,
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.hadoop.fs.s3a.experimental.input.fadvise": "normal",
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
def eager_build_scope(
    spark: SparkSession, shuffle_partitions: int | None = None
):
    """AQE off for the duration of a plan-construction-time eager build
    (``localCheckpoint`` + the stats/count job that materializes it).

    This is the ONLY code in the engine that writes a session conf
    while a plan is built; both confs it touches are restored on exit,
    exception or not, so a construction leaves the session as it found
    it.

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
    was = {k: spark.conf.get(k) for k in scoped}
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in was.items():
            spark.conf.set(k, v)


def apply_required_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of base confs to an existing
    session (``__spark_entry__`` is handed a pre-built SparkSession,
    whose static confs are already fixed; the rest are dynamic)."""
    for k, v in _BASE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:
            # A static conf (spark.sql.codegen.cache.maxEntries) on a
            # live session: keep whatever the session has.
            if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                raise
    return spark
