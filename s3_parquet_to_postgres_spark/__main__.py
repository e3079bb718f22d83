"""CLI entry point: ``python -m s3_parquet_to_postgres_spark config.yml``.

Parity with the reference binary (reference: src/main.rs:1-23,
src/cmd_args.rs:16-28): one positional argument naming the YAML job
config, then the work-list drain runs to completion. Extras the
reference lacks:

* ``--sink {jdbc,copy,parquet}`` -- the Postgres path can use either
  batched-insert JDBC or the COPY FROM STDIN fast path; ``parquet``
  writes to ``--output-dir`` so the pipeline is runnable (and
  testable) without a database.
* ``--master`` -- defaults to an externally configured cluster
  (spark-submit); pass ``local[N]`` for single-machine runs.

Exit codes: 0 on success, 2 on bad arguments/config (fail-fast before
any data moves, like Config::from_yaml_file + Db::connect), 1 on a
failed batch (nothing in that batch is marked completed).
"""

from __future__ import annotations

import argparse
import sys

from .config import ConfigError, JobSpec
from .operators.casts import require_flat
from .pipeline import run
from .session import build_session
from .sinks.jdbc import SchemaValidationError


def _validate_sink_args(args, spec: JobSpec) -> None:
    """Structural sink-arg checks that need no SparkSession -- run
    BEFORE build_session so a bad invocation exits 2 without paying
    JVM startup (fail-fast, reference: src/main.rs:9-14)."""
    if args.sink == "parquet":
        if not args.output_dir:
            raise ConfigError("--sink parquet requires --output-dir")
    elif not (spec.sink.conn_string and spec.sink.table):
        raise ConfigError(
            "db.conn_string and db.table are required for a Postgres sink"
        )


def _observed(df):
    """Attach a row-count observation to df's write job: the count
    comes from the SAME job as the write (Spark Observation API), not
    a second full scan of the batch."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _make_sink_fn(args, spec: JobSpec, spark):
    if args.sink == "parquet":

        def parquet_sink(df):
            df, obs = _observed(df)
            df.write.mode("append").parquet(args.output_dir)
            return obs.get["n"]

        return parquet_sink

    out_cols = tuple(
        spec.projection.output_name(c) for c in spec.projection.desired_fields
    )
    if args.sink == "copy":
        from .sinks.copy import CopySink

        sink = CopySink(spec.sink.conn_string, spec.sink.table, out_cols)
        # CopySink.write returns the rows it wrote, counted by the same
        # single job that runs the COPY -- no extra scan. Flat-schema
        # gate: PG tables are flat; nested projection columns fail at
        # plan time with the columns named (parquet sink allows them).
        return lambda df: sink.write(require_flat(df, "copy sink"))
    else:
        from .sinks.jdbc import JdbcSink

        sink = JdbcSink(spec.sink.conn_string, spec.sink.table, spec.sink.mode)
        # Fail-fast catalog validation before any batch moves, through
        # the same driver properties the write uses
        # (reference: src/db.rs:86-153).
        sink.validate(spark, list(out_cols))

    def db_sink(df):
        df, obs = _observed(require_flat(df, "jdbc sink"))
        sink.write(df)
        return obs.get["n"]

    return db_sink


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="s3_parquet_to_postgres_spark",
        description="Drain a parquet work list into a sink.",
    )
    ap.add_argument("config", help="YAML job config (reference layout)")
    ap.add_argument("--sink", choices=["jdbc", "copy", "parquet"],
                    default="jdbc")
    ap.add_argument("--output-dir", default=None,
                    help="destination directory for --sink parquet")
    ap.add_argument("--master", default=None,
                    help="Spark master (default: external/cluster config)")
    args = ap.parse_args(argv)

    try:
        spec = JobSpec.from_yaml_file(args.config)
        _validate_sink_args(args, spec)
    except (ConfigError, OSError) as e:
        print(f"config error: {e}", file=sys.stderr)
        return 2

    spark = build_session("s3-parquet-to-postgres-spark", master=args.master)
    try:
        sink_fn = _make_sink_fn(args, spec, spark)
    except (ConfigError, SchemaValidationError) as e:
        # Destination validation failures are config-class errors:
        # fail fast BEFORE any data moves, exit 2 (not the mid-run
        # exit 1), session stopped.
        print(f"config error: {e}", file=sys.stderr)
        spark.stop()
        return 2

    try:
        results = run(spark, spec, sink_fn)
    except Exception as e:  # failed batch stays in wip -- rerun resumes
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    total = sum(r.rows_written for r in results)
    print(f"completed {len(results)} batches, {total} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
