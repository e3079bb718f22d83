"""Test-table catalog: canonical loaders for the driver's parquet tables.

The one non-trivial load is ``events``: its ``ts`` column is parquet
TIMESTAMP(NANOS,false), which Spark cannot represent. With
``spark.sql.legacy.parquet.nanosAsLong=true`` the raw int64 surfaces as
bigint and we convert to microsecond TIMESTAMP_NTZ here, truncating the
same way DuckDB's ``CAST(ts_ns AS TIMESTAMP)`` does so oracle
comparisons line up (verified: identical to DuckDB at sf0.001).

That conf is owned by the session (``session._BASE_CONFS``, applied by
``build_session`` and ``apply_required_confs``); loading a table never
writes session state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; normalizes events.ts to microseconds."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        df = spark.read.parquet(path)
        # The generator has shipped ts as TIMESTAMP(NANOS) (surfacing
        # as bigint under nanosAsLong) and as TIMESTAMP(MICROS);
        # normalize both to microsecond TIMESTAMP_NTZ so plans and
        # DuckDB oracles see one type. `div` floors like DuckDB's
        # ns->us cast.
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            return df.withColumn(
                "ts", F.expr("to_timestamp_ntz(timestamp_micros(ts div 1000))")
            )
        if ts_type == "timestamp":
            return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return spark.read.parquet(path)


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view so plans can use spark.sql."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
