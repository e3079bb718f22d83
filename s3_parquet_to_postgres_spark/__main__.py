"""CLI entry point: ``python -m s3_parquet_to_postgres_spark config.yml``.

Parity with the reference binary (reference: src/main.rs:1-23,
src/cmd_args.rs:16-28): one positional argument naming the YAML job
config, then the work-list drain runs to completion into the config's
``db.table``, through the COPY sink (sinks/copy.py). Before any batch
moves, the destination's column types are read from the Postgres
catalog (reference: src/db.rs:37-75). When every column type is one
COPY BINARY can load (``copy.BINARY_PG_TYPES``), each batch is cast
to those types and streamed as ``COPY ... FROM STDIN BINARY``
(reference: src/converters.rs:224-268, src/db.rs:167-177); otherwise,
or when a batch has a source/destination type pair the cast plan does
not cover or would store differently than Postgres parsing the value's
text (``_PARSED_BY_POSTGRES``), it is streamed as TEXT and Postgres
parses each field.
Extras the reference lacks:

* ``--output-dir`` -- write Parquet there instead of Postgres, so the
  pipeline is runnable (and testable) without a database.
* ``--master`` -- defaults to an externally configured cluster
  (spark-submit); pass ``local[N]`` for single-machine runs.

Exit codes: 0 on success, 2 on bad arguments/config or a destination
that fails the catalog check (fail-fast before the JVM starts and any
data moves, like Config::from_yaml_file + Db::connect), 1 on a failed
batch (nothing in that batch is marked completed).
"""

from __future__ import annotations

import argparse
import sys

from .config import ConfigError, JobSpec
from .operators.casts import CastPlanError, build_cast_plan, require_flat
from .pipeline import run
from .session import build_session
from .sinks.copy import (
    BINARY_PG_TYPES,
    CopySink,
    SchemaValidationError,
    destination_types,
)


def _observed(df):
    """Attach a row-count observation to df's write job: the count
    comes from the SAME job as the write (Spark Observation API), not
    a second full scan of the batch."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _parquet_sink(output_dir: str):
    def parquet_sink(df):
        df, obs = _observed(df)
        df.write.mode("append").parquet(output_dir)
        return obs.get["n"]

    return parquet_sink


# Source type (Spark simpleString) -> destination types it goes to as
# TEXT even when the cast plan covers the pair, because Postgres
# parsing the value's text stores something other than the cast:
# Spark parses date and timestamp strings in UTC with ANSI formats
# where Postgres uses its DateStyle and TimeZone, and it decodes a
# bytea string only as hex; no decimal keeps a float's shortest digits;
# a naive timestamp into timestamptz takes the server's zone; and the
# timestamp-to-string cast drops fractional seconds.
_STRING_PG_TYPES = frozenset({"varchar", "text", "bpchar", "json"})
_PARSED_BY_POSTGRES = {
    "string": frozenset({"date", "timestamp", "timestamptz", "bytea"}),
    "float": frozenset({"numeric"}),
    "double": frozenset({"numeric"}),
    "timestamp": _STRING_PG_TYPES,
    "timestamp_ntz": _STRING_PG_TYPES | {"timestamptz"},
}


def _parsed_by_postgres(schema, types: dict[str, str]) -> bool:
    return any(
        types.get(f.name) in _PARSED_BY_POSTGRES.get(
            f.dataType.simpleString(), ())
        for f in schema.fields
    )


def _postgres_sink(spec: JobSpec):
    """Check the destination and return the per-batch COPY writer.
    Needs no SparkSession, so a bad destination exits 2 before the JVM
    starts (fail-fast, reference: src/db.rs:50-54, :134-145)."""
    conn, table = spec.sink.conn_string, spec.sink.table
    if not (conn and table):
        raise ConfigError(
            "db.conn_string and db.table are required unless --output-dir "
            "is given"
        )
    cols = tuple(
        spec.projection.output_name(c) for c in spec.projection.desired_fields
    )
    types = destination_types(conn, table, cols)
    text = CopySink(conn, table, cols)
    binary = (CopySink(conn, table, cols, format="binary")
              if set(types.values()) <= BINARY_PG_TYPES else None)

    def copy_sink(df):
        # PG tables are flat: nested projection columns fail at plan
        # time with the columns named. CopySink.write counts the rows
        # in the same single job that runs the COPY.
        df = require_flat(df, "copy sink")
        if binary is not None and not _parsed_by_postgres(df.schema, types):
            try:
                cast = build_cast_plan(df, types)
            except CastPlanError:
                pass  # a pair outside the cast matrix: Postgres parses it
            else:
                return binary.write(cast)
        return text.write(df)

    return copy_sink


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="s3_parquet_to_postgres_spark",
        description="Drain a parquet work list into Postgres (or Parquet).",
    )
    ap.add_argument("config", help="YAML job config (reference layout)")
    ap.add_argument("--output-dir", default=None,
                    help="write Parquet here instead of the db.table")
    ap.add_argument("--master", default=None,
                    help="Spark master (default: external/cluster config)")
    args = ap.parse_args(argv)

    try:
        spec = JobSpec.from_yaml_file(args.config)
        sink_fn = (_parquet_sink(args.output_dir) if args.output_dir
                   else _postgres_sink(spec))
    except (ConfigError, SchemaValidationError, OSError) as e:
        print(f"config error: {e}", file=sys.stderr)
        return 2

    spark = build_session("s3-parquet-to-postgres-spark", master=args.master)
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
