"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in s3_parquet_to_postgres_spark/ (plans/ holds
the query catalog; operators/, sources/, sinks/ the engine
itself).

The driver's session is used as it is handed over: no entry writes a
conf on it, and no entry's epoch arithmetic reads its time zone.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from s3_parquet_to_postgres_spark.plans import all_oracle_sql, all_queries
from s3_parquet_to_postgres_spark.plans.tpch import q3_shipping_priority

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q3 shape: filtered dimension broadcast + fact-fact shuffle
    join + aggregation + top-k -- one query touching scan, pushdown,
    broadcast, shuffle, agg, sort, limit.
    """
    return q3_shipping_priority(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return all_oracle_sql()
