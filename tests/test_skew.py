"""Salted join/aggregation must be exactly semantics-preserving."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.catalog import read_table
from s3_parquet_to_postgres_spark.operators.skew import salted_agg, salted_join

SF = "/root/testdata/sf0.001"


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_salted_join_matches_plain_inner(spark):
    li = read_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = read_table(spark, SF, "part").select("p_partkey", "p_name")
    plain = li.join(part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey")
    salted = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"), on="l_partkey",
        salt=4,
    )
    cols = ["l_orderkey", "l_partkey", "l_quantity", "p_name"]
    assert _sorted_rows(salted, cols) == _sorted_rows(plain, cols)


def test_salted_agg_matches_plain(spark):
    li = read_table(spark, SF, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("l_quantity_sum"),
        F.count("l_orderkey").alias("l_orderkey_count"),
        F.min("l_shipdate").alias("l_shipdate_min"),
        F.max("l_extendedprice").alias("l_extendedprice_max"),
    )
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {
            "l_quantity": "sum",
            "l_orderkey": "count",
            "l_shipdate": "min",
            "l_extendedprice": "max",
        },
        salt=8,
    )
    cols = ["l_returnflag", "l_quantity_sum", "l_orderkey_count",
            "l_shipdate_min", "l_extendedprice_max"]
    assert _sorted_rows(salted, cols) == _sorted_rows(plain, cols)


def test_salted_agg_rejects_avg(spark):
    li = read_table(spark, SF, "lineitem")
    with pytest.raises(ValueError, match="unsupported salted aggregates"):
        salted_agg(li, ["l_returnflag"], {"l_quantity": "avg"})


def test_salted_join_bad_salt(spark):
    li = read_table(spark, SF, "lineitem")
    with pytest.raises(ValueError, match="salt must be"):
        salted_join(li, li, on="l_orderkey", salt=0)
