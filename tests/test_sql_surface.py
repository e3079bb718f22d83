"""The engine's SQL-text surface: the same queries users would type
run through spark.sql over the registered temp views and agree with
the DataFrame plans (Catalyst parses both into the same algebra)."""

from __future__ import annotations

from s3_parquet_to_postgres_spark.plans import all_queries

from .conftest import register_temp_views

SF = "/root/testdata/sf0.001"


def test_sql_text_matches_dataframe_q3(spark):
    register_temp_views(spark, SF)
    sql = spark.sql(
        """
        SELECT l_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
               o_orderpriority,
               CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount)
                    * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP_NTZ '1998-06-15 00:00:00'
          AND l_shipdate > TIMESTAMP_NTZ '1998-06-15 00:00:00'
        GROUP BY l_orderkey, date_format(o_orderdate, 'yyyy-MM-dd'),
                 o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """
    ).collect()
    df = all_queries()["tpch_q3_shipping_priority"](spark, SF).collect()
    assert [tuple(r) for r in sql] == [tuple(r) for r in df]


def test_sql_window_and_grouping_sets(spark):
    register_temp_views(spark, SF)
    out = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )
    rows = out.collect()
    # grand total row + per-flag rows + per-(flag,status) rows
    totals = [r for r in rows if r["l_returnflag"] is None]
    assert len(totals) == 1
    assert totals[0]["n"] == spark.table("lineitem").count()
