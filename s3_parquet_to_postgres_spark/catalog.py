"""Test-table catalog: canonical loaders for the driver's parquet tables.

The one non-trivial load is ``events``: its ``ts`` column has shipped
as parquet TIMESTAMP(MICROS) and as TIMESTAMP(NANOS,false), which Spark
cannot represent and refuses to read (``PARQUET_TYPE_ILLEGAL``) unless
``spark.sql.legacy.parquet.nanosAsLong`` is set. ``read_table`` infers
the schema with that conf set inside ``session.conf_scope`` (a NANOS
column infers as bigint), then reads with the inferred schema outside
the scope, so a load works in any session and leaves its confs as it
found them. Both units become microsecond TIMESTAMP_NTZ here, a NANOS
value truncated the same way DuckDB's read of it is, so oracle
comparisons line up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.epoch import epoch_us, ntz_from_epoch_us
from .session import conf_scope

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
        nanos = {"spark.sql.legacy.parquet.nanosAsLong": "true"}
        with conf_scope(spark, nanos):
            schema = spark.read.parquet(path).schema
        df = spark.read.schema(schema).parquet(path)
        # Normalize both units to microsecond TIMESTAMP_NTZ so plans
        # and DuckDB oracles see one type; an LTZ read (a session that
        # does not infer NTZ) holds the stored micros as an instant.
        # `div` truncates toward zero like DuckDB's ns->us read.
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            us = F.expr("ts div 1000")
        elif ts_type == "timestamp":
            us = epoch_us(df, "ts")
        else:
            return df
        return df.withColumn("ts", ntz_from_epoch_us(us))
    return spark.read.parquet(path)
