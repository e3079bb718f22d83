"""Relational capability catalog: reference-parity queries (SURVEY.md
§2.2-2.4) plus the full §2.5 relational inventory (filters, joins,
aggregations, windows, set ops, scalar function families), each with a
DuckDB oracle.

The REF-prefixed entries re-express the reference engine's pipeline and
its test-oracle SQL surface (reference: src/runner.rs:177-232,
src/db.rs:530) over the driver's synthetic tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import JobSpec, ProjectionSpec, SinkSpec, SourceSpec
from ..functions import dround, dsum, sint, sql_dround, sql_dsum
from ..operators.bloom import bloom_filter_join
from ..pipeline import transform
from .base import QuerySpec, t




# --------------------------------------------------------------------------
# REF parity: the reference's scan->project->rename->cast pipeline as a query
# (reference: src/runner.rs:17-45, src/config.rs:12,30-32)
# --------------------------------------------------------------------------

def ref_project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = JobSpec(
        source=SourceSpec(),
        projection=ProjectionSpec(
            desired_fields=("l_orderkey", "l_linenumber", "l_quantity",
                            "l_shipdate", "l_returnflag"),
            renames={"l_orderkey": "id", "l_linenumber": "line_no",
                     "l_quantity": "qty", "l_shipdate": "ship_ts",
                     "l_returnflag": None},
        ),
        sink=SinkSpec(),
    )
    df = transform(t(spark, sf_dir, "lineitem"), spec,
                   column_targets={"line_no": "bigint", "qty": "int",
                                   "ship_ts": "varchar"})
    return df.withColumnRenamed("ship_ts", "ship_date")


REF_PROJECT_RENAME_CAST_SQL = """
SELECT l_orderkey AS id,
       CAST(l_linenumber AS BIGINT) AS line_no,
       CAST(l_quantity AS INT) AS qty,
       strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_date,
       l_returnflag
FROM lineitem
"""


# Session-scoped memo of written nested fixtures: the entry is an
# INGESTION demo whose fn() call materializes a parquet write (a real
# job); plan-inspection sweeps call every fn repeatedly, so the write
# runs once per (session, sf_dir) and later calls only read.
_NESTED_FIXTURE_CACHE: dict[tuple[str, str], str] = {}


def source_nested_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuinely NESTED parquet ingestion through the documented
    flat-structs-only boundary (SURVEY §1.2/§7.3; reference:
    src/parquet_ops.rs:56-83 silently SKIPS GroupType fields — this
    engine instead fails fast and supports the explicit flatten).

    The entry round-trips real nesting: orders fold into
    ``order_info: struct<okey, money: struct<odate, total>>``
    (struct-of-struct) plus ``lines: array<struct<lnum, qty, price>>``
    (list-of-struct), are WRITTEN to parquet and read back with
    ``scan_parquet``. The read schema is then (1) proven to trip
    ``require_flat``'s typed CastPlanError — the boundary is load-
    bearing, not decorative — and (2) flattened the documented way:
    dotted-path projection for the struct leaves, ``explode`` for the
    list, scalar casts last, and the flat result passes
    ``require_flat``. The oracle replays the logical content from the
    flat tables (inner join: explode drops order rows with no lines,
    which TPC-H data never has). ``sort_array`` on the line structs
    pins the list order so the written fixture is deterministic.
    """
    import os

    from ..operators.casts import CastPlanError, require_flat
    from ..sources.parquet import scan_parquet

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    path = _NESTED_FIXTURE_CACHE.get(key)
    if path is None:
        o = t(spark, sf_dir, "orders")
        li = t(spark, sf_dir, "lineitem")
        lines = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list(F.struct(
                F.col("l_linenumber").alias("lnum"),
                F.col("l_quantity").alias("qty"),
                F.col("l_extendedprice").alias("price"),
            ))).alias("lines")
        )
        nested = o.join(lines, o.o_orderkey == lines.l_orderkey).select(
            F.struct(
                F.col("o_orderkey").alias("okey"),
                F.struct(
                    F.col("o_orderdate").alias("odate"),
                    F.col("o_totalprice").alias("total"),
                ).alias("money"),
            ).alias("order_info"),
            "lines",
        )
        path = (f"/tmp/spark_graft_nested-"
                f"{spark.sparkContext.applicationId}-"
                f"{os.path.basename(os.path.abspath(sf_dir))}")
        nested.write.mode("overwrite").parquet(path)
        _NESTED_FIXTURE_CACHE[key] = path

    back = scan_parquet(spark, path)
    try:
        require_flat(back, "nested ingest")
    except CastPlanError:
        pass  # expected: both nested columns named in the error
    else:  # pragma: no cover - boundary regression guard
        raise AssertionError(
            "require_flat accepted a nested schema: boundary regressed"
        )
    flat = back.select(
        F.col("order_info.okey").alias("okey"),
        F.date_format("order_info.money.odate", "yyyy-MM-dd")
        .alias("odate"),
        F.col("order_info.money.total").cast("double").alias("total"),
        F.explode("lines").alias("ln"),
    ).select(
        "okey", "odate", "total",
        F.col("ln.lnum").cast("long").alias("lnum"),
        F.col("ln.qty").cast("double").alias("qty"),
        F.col("ln.price").cast("double").alias("price"),
    )
    return require_flat(flat, "nested ingest flattened")


SOURCE_NESTED_INGEST_SQL = """
SELECT o_orderkey AS okey,
       strftime(o_orderdate, '%Y-%m-%d') AS odate,
       CAST(o_totalprice AS DOUBLE) AS total,
       CAST(l_linenumber AS BIGINT) AS lnum,
       CAST(l_quantity AS DOUBLE) AS qty,
       CAST(l_extendedprice AS DOUBLE) AS price
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
"""


def ref_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("total"),
        F.count("l_orderkey").alias("total_keys"),
    )


REF_COUNT_SQL = "SELECT count(*) AS total, count(l_orderkey) AS total_keys FROM lineitem"


def ref_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(5)
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
    )


REF_SORT_LIMIT_SQL = """
SELECT o_orderkey, o_totalprice AS price
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
"""


def ref_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reference's verification pattern: first-2 UNION ALL last-2
    # (reference: src/runner.rs:192-197).
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    first2 = o.orderBy(F.col("o_orderkey").asc()).limit(2)
    last2 = o.orderBy(F.col("o_orderkey").desc()).limit(2)
    return first2.unionAll(last2)


REF_UNION_ALL_SQL = """
(SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey ASC LIMIT 2)
UNION ALL
(SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey DESC LIMIT 2)
"""


def ref_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IS NULL / IS NOT NULL predicate parity (reference:
    # src/runner.rs:220). Testdata has no physical NULLs, so derive
    # them with NULLIF -- the predicate machinery is what's under test.
    li = t(spark, sf_dir, "lineitem").withColumn(
        "tax_or_null", F.expr("nullif(l_tax, 0.0)")
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("tax_or_null").isNull(), 1)).alias("null_cnt"),
        F.count("tax_or_null").alias("not_null_cnt"),
    )


REF_NULL_FILTER_SQL = """
SELECT l_returnflag,
       count(CASE WHEN nullif(l_tax, 0.0) IS NULL THEN 1 END) AS null_cnt,
       count(nullif(l_tax, 0.0)) AS not_null_cnt
FROM lineitem GROUP BY l_returnflag
"""


def ref_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "region").select("*")


REF_STAR_SQL = "SELECT * FROM region"


# --------------------------------------------------------------------------
# Filters / predicates
# --------------------------------------------------------------------------

def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_size").between(10, 30)
        & F.col("p_type").like("%AND%")
        & F.col("p_brand").isin("Brand#1", "Brand#12", "Brand#23")
        & (F.col("p_retailprice") > 940.0)
    ).select("p_partkey", "p_name", "p_brand", "p_size",
             F.col("p_retailprice").alias("price"))


FILTER_PREDICATES_SQL = """
SELECT p_partkey, p_name, p_brand, p_size, p_retailprice AS price
FROM part
WHERE p_size BETWEEN 10 AND 30
  AND p_type LIKE '%AND%'
  AND p_brand IN ('Brand#1', 'Brand#12', 'Brand#23')
  AND p_retailprice > 940.0
"""


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dimension joins stay broadcast at any fact scale: region/nation
    # are bounded-size, so no shuffle of the big side.
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("customers"),
             dsum("c_acctbal").alias("total_bal"))
    )


JOIN_INNER_BROADCAST_SQL = f"""
SELECT r_name, n_name, count(*) AS customers,
       {sql_dsum('c_acctbal')} AS total_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("big_orders"))
    )


JOIN_LEFT_SQL = """
SELECT c_custkey, count(o_orderkey) AS big_orders
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 100000.0) o
  ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Right outer: every customer kept even with no qualifying order.
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000.0)
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("huge_orders"))
    )


JOIN_RIGHT_SQL = """
SELECT c_custkey, c_name, count(o_orderkey) AS huge_orders
FROM (SELECT * FROM orders WHERE o_totalprice > 350000.0) o
RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unmatched rows on both sides: rich customers vs huge orders.
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000.0) \
        .select("c_custkey", "c_name")
    o = (t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
         .groupBy("o_custkey").agg(F.count("*").alias("huge_orders")))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.coalesce("c_name", F.lit("<no-customer-row>")).alias("name"),
            F.coalesce("huge_orders", F.lit(0)).cast("long").alias("huge_orders"),
        )
    )


JOIN_FULL_OUTER_SQL = """
WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000.0),
     o AS (SELECT o_custkey, count(*) AS huge_orders FROM orders
           WHERE o_totalprice > 400000.0 GROUP BY o_custkey)
SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
       coalesce(c.c_name, '<no-customer-row>') AS name,
       CAST(coalesce(o.huge_orders, 0) AS BIGINT) AS huge_orders
FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
"""


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi") \
        .select("c_custkey", "c_name", "c_mktsegment")


JOIN_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
"""


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
        .select("c_custkey", "c_name", "c_mktsegment")


JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
"""


def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Equi key + inequality residual: per supplier, customers of the
    # same nation with a larger account balance.
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey)
               & (c.c_acctbal > s.s_acctbal))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("richer_customers"))
    )


JOIN_THETA_SQL = """
SELECT s_suppkey, s_name, count(*) AS richer_customers
FROM supplier JOIN customer
  ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
GROUP BY s_suppkey, s_name
"""


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = t(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"))
    r2 = t(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"))
    return r1.crossJoin(r2).filter(F.col("from_region") != F.col("to_region"))


JOIN_CROSS_SQL = """
SELECT a.r_name AS from_region, b.r_name AS to_region
FROM region a CROSS JOIN region b
WHERE a.r_name <> b.r_name
"""


# --------------------------------------------------------------------------
# Aggregations
# --------------------------------------------------------------------------

def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval join via bucket quantization (operators/rangejoin.py):
    # ship events matched into 30-day order windows through an
    # equi-join on bucket id -- no BroadcastNestedLoop, no cross join.
    from ..operators.rangejoin import point_in_interval_join

    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey", "l_linenumber",
            F.unix_date(F.col("l_shipdate").cast("date")).cast("long")
            .alias("ship_day"),
        )
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 400)
        .select(
            F.col("o_orderkey").alias("win_id"),
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
            .alias("start_day"),
        )
        .withColumn("end_day", F.col("start_day") + 30)
    )
    out = point_in_interval_join(
        li, o, "ship_day", "start_day", "end_day", bucket_width=30
    )
    return out.select(
        "l_orderkey", "l_linenumber", "win_id", "ship_day", "start_day"
    )


JOIN_RANGE_BUCKETED_SQL = """
WITH p AS (
  SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS ship_day
  FROM lineitem WHERE l_orderkey < 2000
), iv AS (
  SELECT o_orderkey AS win_id,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS start_day
  FROM orders WHERE o_orderkey < 400
)
SELECT l_orderkey, l_linenumber, win_id, ship_day, start_day
FROM p JOIN iv
  ON iv.start_day <= p.ship_day AND p.ship_day < iv.start_day + 30
"""


def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q1 shape adapted to the synthetic lineitem columns.
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 4).alias("sum_charge"),
            dround(dsum("l_quantity") / F.count("*"), 4).alias("avg_qty"),
            dround(dsum("l_discount", 4) / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


AGG_PRICING_SUMMARY_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 4)} AS sum_charge,
  {sql_dround(f"{sql_dsum('l_quantity')} / count(*)", 4)} AS avg_qty,
  {sql_dround(f"{sql_dsum('l_discount', 4)} / count(*)", 4)} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey", "l_partkey").alias("distinct_sp_pairs"),
    )


AGG_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS distinct_parts,
       count(DISTINCT (l_suppkey, l_partkey)) AS distinct_sp_pairs
FROM lineitem GROUP BY l_returnflag
"""


def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sketch aggregates (HLL / quantile digest). Estimates have no
    # value-exact oracle, so the driver-checked output pairs each
    # sketch with its exact counterpart (computed in the same pass)
    # and emits the sketch-error assertion as a boolean the oracle
    # predicts as TRUE: approx_count_distinct (rsd=0.05) must land
    # within 15% of the exact distinct, and the t-digest p50/p95
    # (accuracy=10000 => rank error <= n/10000) must fall between the
    # exact p45..p55 / p90..p99 percentiles. A sketch regression flips
    # the boolean and the driver's value-hash catches it.
    li = t(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.percentile_approx("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), 10000).alias("pq"),
        F.expr(
            "percentile(l_extendedprice, array(0.45, 0.55, 0.90, 0.99))"
        ).alias("ep"),
    )
    return agg.select(
        "n_rows",
        "exact_parts",
        (
            F.abs(F.col("ap") - F.col("exact_parts"))
            <= 0.15 * F.col("exact_parts")
        ).alias("approx_distinct_ok"),
        F.col("pq")[0].between(F.col("ep")[0], F.col("ep")[1])
        .alias("p50_ok"),
        F.col("pq")[1].between(F.col("ep")[2], F.col("ep")[3])
        .alias("p95_ok"),
    )


AGG_APPROX_SQL = """
SELECT count(*) AS n_rows,
       count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_distinct_ok,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM lineitem
"""


def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MERGEABLE distinct-count sketches -- the 100 TB rollup pattern:
    # per-partition (here per-nation) HLL sketches are unioned upward
    # instead of re-scanning raw data. hll_union_agg is register-wise
    # max, so rollup-then-estimate EQUALS estimate-over-everything
    # (pinned by test_incremental_agg). The estimate itself has no
    # exact oracle, so the driver-checked output pairs the merged
    # estimate with the exact distinct (same pass) and asserts the
    # sketch error bound as a boolean the oracle predicts as TRUE.
    c = t(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.count("*").alias("n_rows"),
    )
    merged = per_nation.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.sum("n_rows").alias("total_rows"),
    )
    exact = c.agg(F.count_distinct("c_custkey").alias("exact_customers"))
    return merged.crossJoin(exact).select(
        "total_rows",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("merged_estimate_ok"),
    )


AGG_HLL_MERGEABLE_SQL = """
SELECT count(*) AS total_rows,
       count(DISTINCT c_custkey) AS exact_customers,
       TRUE AS merged_estimate_ok
FROM customer
"""


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT mergeable distinct for integer keys, the complement of
    # agg_hll_mergeable's approximation: keys bucket into 32k-bit
    # bitmaps (bitmap_bucket_number / bitmap_bit_position), buckets
    # OR-merge within each group, popcounts sum to the exact distinct.
    # State is O(buckets), mergeable across partitions/increments --
    # how an exact running COUNT(DISTINCT intkey) stays cheap at
    # 100 TB. The oracle is plain COUNT(DISTINCT).
    o = t(spark, sf_dir, "orders")
    per_bucket = o.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("b"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))")
        .alias("bm")
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.expr("sum(bitmap_count(bm))").cast("long")
        .alias("distinct_customers")
    )


AGG_BITMAP_DISTINCT_SQL = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS distinct_customers
FROM orders GROUP BY o_orderpriority
"""


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pivot: one column per return-flag value. Explicit value list =>
    # single pass (no distinct-collection job), stable output schema.
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity").alias("qty"))
        .select(
            "l_linestatus",
            F.coalesce("A", F.lit(0.0)).alias("qty_a"),
            F.coalesce("N", F.lit(0.0)).alias("qty_n"),
            F.coalesce("R", F.lit(0.0)).alias("qty_r"),
        )
    )


AGG_PIVOT_SQL = f"""
SELECT l_linestatus,
       coalesce({sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")}, 0.0) AS qty_a,
       coalesce({sql_dsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")}, 0.0) AS qty_n,
       coalesce({sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")}, 0.0) AS qty_r
FROM lineitem GROUP BY l_linestatus
"""


def scalar_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Unpivot/melt: wide metric columns -> (metric, value) rows.
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 50)
    return o.unpivot(
        ["o_orderkey"],
        [F.col("o_totalprice").alias("totalprice"),
         F.col("o_custkey").cast("double").alias("custkey")],
        "metric",
        "value",
    )


SCALAR_UNPIVOT_SQL = """
SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS value
FROM orders WHERE o_orderkey < 50
UNION ALL
SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE)
FROM orders WHERE o_orderkey < 50
"""


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("customers"))
        .select(
            F.coalesce("r_name", F.lit("<all>")).alias("region"),
            F.coalesce("n_name", F.lit("<all>")).alias("nation"),
            "customers",
        )
    )


AGG_ROLLUP_SQL = """
SELECT coalesce(r_name, '<all>') AS region,
       coalesce(n_name, '<all>') AS nation,
       count(*) AS customers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("orders"),
             dsum("o_totalprice").alias("total_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "orders", "total_price",
        )
    )


AGG_CUBE_SQL = f"""
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql("""
        SELECT coalesce(l_returnflag, '<all>') AS flag,
               coalesce(l_linestatus, '<all>') AS status,
               count(*) AS cnt
        FROM {l}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """, l=t(spark, sf_dir, "lineitem"))


AGG_GROUPING_SETS_SQL = """
SELECT coalesce(l_returnflag, '<all>') AS flag,
       coalesce(l_linestatus, '<all>') AS status,
       count(*) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        dround(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
        dround(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
    )


AGG_STATS_SQL = f"""
SELECT l_linestatus,
       min(l_extendedprice) AS min_price,
       max(l_extendedprice) AS max_price,
       {sql_dround('stddev_samp(l_extendedprice)', 2)} AS stddev_price,
       {sql_dround('corr(l_quantity, l_extendedprice)', 4)} AS qty_price_corr
FROM lineitem GROUP BY l_linestatus
"""


def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Extremal row per group via max_by/min_by -- one hash aggregate
    # carrying (value, order-key) pairs; no window sort, no join-back.
    # Ties on balance are broken by custkey through a composite BIGINT
    # order key (cents * 2^31 + key: lexicographic on (cents, key)
    # because 0 <= key < 2^31), which both engines order identically.
    c = t(spark, sf_dir, "customer")
    ord_key = sint("c_acctbal", 2) * F.lit(1 << 31) + F.col("c_custkey")
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", ord_key).alias("richest"),
        F.min_by("c_name", ord_key).alias("poorest"),
        F.max("c_acctbal").alias("top_bal"),
        F.count("*").alias("n_cust"),
    )


_ARGMAX_ORD = "CAST(floor(c_acctbal*100 + 0.5) AS BIGINT)*2147483648 + c_custkey"
AGG_ARGMAX_SQL = f"""
SELECT c_nationkey,
       arg_max(c_name, {_ARGMAX_ORD}) AS richest,
       arg_min(c_name, {_ARGMAX_ORD}) AS poorest,
       max(c_acctbal) AS top_bal,
       count(*) AS n_cust
FROM customer GROUP BY c_nationkey
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT interpolated percentiles per group (the approx variant is
    # agg_approx): both engines use the same rank = p*(n-1) linear
    # interpolation; the result is rounded only to absorb float
    # noise in the interpolation arithmetic. Exact percentile sorts
    # within groups -- the approx sketch is the 100 TB default, this
    # entry is the accuracy reference.
    o = t(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.95))")
    return o.groupBy("o_orderpriority").agg(
        dround(pct[0], 4).alias("p25"),
        dround(pct[1], 4).alias("p50"),
        dround(pct[2], 4).alias("p95"),
    )


AGG_PERCENTILES_SQL = f"""
SELECT o_orderpriority,
       {sql_dround('quantile_cont(o_totalprice, 0.25)', 4)} AS p25,
       {sql_dround('quantile_cont(o_totalprice, 0.5)', 4)} AS p50,
       {sql_dround('quantile_cont(o_totalprice, 0.95)', 4)} AS p95
FROM orders GROUP BY o_orderpriority
"""


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic string aggregation: collect_set -> array_sort ->
    # array_join, so the concatenation order is a property of the
    # values (binary collation on both engines), not of partitioning.
    p = t(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.array_join(F.array_sort(F.collect_set("p_brand")), ",")
        .alias("brands"),
        F.countDistinct("p_brand").alias("n_brands"),
    )


AGG_STRING_CONCAT_SQL = """
SELECT p_type,
       array_to_string(list_sort(list_distinct(list(p_brand))), ',')
         AS brands,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
FROM part GROUP BY p_type
"""


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-group top-k: the scalable pattern (single shuffle on the
    # partition key, rank pruned before any global collect).
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey",
                F.col("o_totalprice").alias("price"),
                F.col("rn").cast("long").alias("rn"))
    )


WINDOW_TOPK_PER_GROUP_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice AS price,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY o_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 2
"""


def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_mktsegment", "c_custkey",
        F.rank().over(w).cast("long").alias("bal_rank"),
        F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("bal_quartile"),
    )


WINDOW_RANKING_SQL = """
SELECT c_mktsegment, c_custkey,
       CAST(rank() OVER w AS BIGINT) AS bal_rank,
       CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
       CAST(ntile(4) OVER w AS BIGINT) AS bal_quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The explicit skew-mitigation join declared as a correctness
    # entry: output must equal the plain equi-join (oracle) while the
    # hot keys are spread over (key, salt) shuffle partitions. The
    # mechanic matters when the build side exceeds broadcast size and
    # one key dominates -- here it runs over dimension-sized data so
    # the oracle can pin its semantics.
    from ..operators.skew import salted_join

    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    return salted_join(c, n, on="c_nationkey", salt=8).select(
        "c_custkey", "c_name", "n_name"
    )


JOIN_SKEW_SALTED_SQL = """
SELECT c_custkey, c_name, n_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-phase salted aggregation on a 3-value (maximally hot) key;
    # result must equal the plain GROUP BY. Sums stay exact because
    # l_quantity is integral (double-typed but < 2^53 total).
    from ..operators.skew import salted_agg

    return salted_agg(
        t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        {"l_quantity": "sum", "l_orderkey": "count",
         "l_extendedprice": "max"},
        salt=16,
    )


AGG_SKEW_SALTED_SQL = """
SELECT l_returnflag,
       sum(l_quantity) AS l_quantity_sum,
       count(l_orderkey) AS l_orderkey_count,
       max(l_extendedprice) AS l_extendedprice_max
FROM lineitem GROUP BY l_returnflag
"""


def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Correlated subqueries through the SQL surface, so Catalyst's
    # decorrelation does the planning: the scalar subquery rewrites to
    # an aggregate + left outer join (RewriteCorrelatedScalarSubquery),
    # EXISTS to a left semi join -- at scale both are ordinary shuffled
    # joins with partial aggregation, never per-row re-execution.
    return spark.sql("""
        SELECT c.c_custkey,
               (SELECT max(o.o_totalprice) FROM {o} o
                WHERE o.o_custkey = c.c_custkey) AS max_order
        FROM {c} c
        WHERE EXISTS (SELECT 1 FROM {o} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 200000.0)
    """, c=t(spark, sf_dir, "customer"), o=t(spark, sf_dir, "orders"))


SUBQUERY_CORRELATED_SQL = """
SELECT c.c_custkey,
       (SELECT max(o.o_totalprice) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS max_order
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 200000.0)
"""


def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distribution window functions (percent_rank / cume_dist): both
    # engines define percent_rank = (rank-1)/(n-1) and cume_dist =
    # |rows <= current| / n, so with a total order the doubles match
    # bit-for-bit; rounding only absorbs the division's last-ulp noise.
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return c.select(
        "c_mktsegment", "c_custkey",
        dround(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        dround(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


WINDOW_DISTRIBUTION_SQL = f"""
SELECT c_mktsegment, c_custkey,
       {sql_dround('percent_rank() OVER w', 6)} AS bal_pct_rank,
       {sql_dround('cume_dist() OVER w', 6)} AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment
             ORDER BY c_acctbal ASC, c_custkey ASC)
"""


def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic per-group mode: count per (group, value), then one
    # max_by over the (count, value) struct -- two hash aggregations
    # with map-side partials, no window sort of the raw data. Ties
    # break to the lexicographically greatest value on both engines
    # (built-in mode() is tie-arbitrary in both, so it can't be the
    # oracle-checked formulation).
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("cnt")
    )
    return counts.groupBy("o_orderstatus").agg(
        F.max_by(
            "o_orderpriority", F.struct(F.col("cnt"), F.col("o_orderpriority"))
        ).alias("mode_priority"),
        F.max("cnt").alias("mode_count"),
    )


AGG_MODE_SQL = """
WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
           FROM orders GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
            ORDER BY cnt DESC, o_orderpriority DESC) AS rn
      FROM c)
SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt AS mode_count
FROM r WHERE rn = 1
"""


def scalar_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Edit-distance scalar kernel (fuzzy matching / OCR-noise dedup)
    # evaluated against a deterministic neighbor -- each part name vs
    # the previous name within its brand -- so the work is linear and
    # shuffle-bounded by the window partition, never an n^2 pair join.
    p = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_name", "p_partkey")
    return p.select(
        "p_partkey", "p_brand",
        F.levenshtein("p_name", F.lag("p_name", 1).over(w))
        .cast("long").alias("edit_prev"),
    )


SCALAR_EDIT_DISTANCE_SQL = """
SELECT p_partkey, p_brand,
       CAST(levenshtein(p_name, lag(p_name, 1) OVER w) AS BIGINT) AS edit_prev
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_name, p_partkey)
"""


def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.first("event_type").over(w).alias("first_type"),
    )


WINDOW_LAG_LEAD_SQL = """
SELECT event_id, user_id,
       lag(value, 1) OVER w AS prev_value,
       lead(value, 1) OVER w AS next_value,
       first_value(event_type) OVER w AS first_type
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_type
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Moving average (bounded ROWS frame) + running cumulative sum.
    # Sums run over scaled integers: windowed float aggregation is
    # engine-order-dependent (DuckDB uses segment trees), integers are
    # exact under any combination order.
    e = t(spark, sf_dir, "events").withColumn("v_s", sint("value", 4))
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_move = Window.partitionBy("user_id").orderBy(*order).rowsBetween(-2, 0)
    w_cum = Window.partitionBy("user_id").orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return e.select(
        "event_id", "user_id",
        (F.sum("v_s").over(w_move).cast("double")
         / (F.count("*").over(w_move) * 10000).cast("double"))
        .alias("moving_avg3"),
        (F.sum("v_s").over(w_cum).cast("double") / F.lit(10000.0))
        .alias("running_sum"),
    )


WINDOW_FRAMES_SQL = """
SELECT event_id, user_id,
       CAST(sum(v_s) OVER w_move AS DOUBLE)
         / CAST(count(*) OVER w_move * 10000 AS DOUBLE) AS moving_avg3,
       CAST(sum(v_s) OVER w_cum AS DOUBLE) / 10000.0 AS running_sum
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_s FROM events)
WINDOW w_move AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       w_cum AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Sorts / set operations
# --------------------------------------------------------------------------

def sort_multi_key_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Multi-key sort with NULLS LAST and a derived-null column.
    s = t(spark, sf_dir, "supplier").withColumn(
        "key_or_null", F.expr("nullif(s_suppkey % 3, 0)")
    )
    return (
        s.orderBy(F.col("s_nationkey").asc(),
                  F.col("key_or_null").desc_nulls_last(),
                  F.col("s_suppkey").asc())
        .limit(8)
        .select("s_suppkey", "s_name", "s_nationkey",
                F.col("key_or_null").cast("long").alias("sort_key"))
    )


SORT_MULTI_KEY_NULLS_SQL = """
SELECT s_suppkey, s_name, s_nationkey,
       CAST(key_or_null AS BIGINT) AS sort_key
FROM (SELECT *, nullif(s_suppkey % 3, 0) AS key_or_null FROM supplier)
ORDER BY s_nationkey ASC, key_or_null DESC NULLS LAST, s_suppkey ASC
LIMIT 8
"""


def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


SET_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nations with no very-rich supplier (threshold keeps the result
    # non-empty at every test scale factor).
    n = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"))
    s = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9500.0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return n.exceptAll(s.distinct())


SET_EXCEPT_SQL = """
SELECT n_nationkey AS nationkey FROM nation
EXCEPT ALL
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
WHERE s_acctbal > 9500.0
"""


# (name, exact scaled-BIGINT expression) pairs for the one-pass
# correlation matrix; every variable is an exact integer (quantities
# are integral, money/rates are cents), so all 15 accumulated moments
# are exact DECIMAL(38,0) sums on both engines.
_CORR_VARS = (
    ("quantity", "CAST(l_quantity AS DECIMAL(38,0))"),
    ("price_c", "CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))"),
    ("discount_c", "CAST(round(l_discount * 100) AS DECIMAL(38,0))"),
    ("tax_c", "CAST(round(l_tax * 100) AS DECIMAL(38,0))"),
)


def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairwise Pearson correlation matrix of 4 lineitem measures per
    # return flag in ONE pass: the 15 moments (n, 4 sums, 4 squares,
    # 6 cross-products) are a single map-side-combinable aggregate --
    # the corpus is scanned once however many pairs are requested,
    # where per-pair F.corr would scan it 6 times. Moments are exact
    # DECIMAL(38,0) (inputs are exact scaled BIGINTs, magnitudes
    # bounded well inside 38 digits at any realistic scale), so the
    # shuffle order cannot change them; only the final
    # (n*sxy - sx*sy) / sqrt(...) ratio is floating point, and it is
    # computed from identical exact operands on both engines, then
    # dround-quantized.
    line = t(spark, sf_dir, "lineitem")
    base = line.select(
        F.col("l_returnflag").alias("flag"),
        *[F.expr(expr).alias(name) for name, expr in _CORR_VARS],
    )
    names = [n for n, _ in _CORR_VARS]
    aggs = [F.count("*").cast("decimal(38,0)").alias("n")]
    for a in names:
        aggs.append(F.sum(a).alias(f"s_{a}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).alias(f"ss_{a}"))
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    m = base.groupBy("flag").agg(*aggs)

    def corr(a: str, b: str):
        num = (F.col("n") * F.col(f"sp_{a}_{b}")
               - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        va = (F.col("n") * F.col(f"ss_{a}")
              - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
        vb = (F.col("n") * F.col(f"ss_{b}")
              - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
        return num / F.sqrt(va * vb)

    cells = F.array(
        *[
            F.struct(
                F.lit(a).alias("var_a"),
                F.lit(b).alias("var_b"),
                corr(a, b).alias("c"),
            )
            for a, b in pairs
        ]
    )
    return (
        m.select("flag", F.explode(cells).alias("p"))
        .select(
            "flag",
            F.col("p.var_a").alias("var_a"),
            F.col("p.var_b").alias("var_b"),
            dround(F.col("p.c"), 6).alias("corr_q"),
        )
    )


def _corr_matrix_sql() -> str:
    from ..functions import sql_dround

    names = [n for n, _ in _CORR_VARS]
    exprs = {n: e.replace("DECIMAL(38,0)", "HUGEINT") for n, e in _CORR_VARS}
    moments = ["CAST(count(*) AS HUGEINT) AS n"]
    for a in names:
        moments.append(f"sum({exprs[a]}) AS s_{a}")
        moments.append(f"sum(({exprs[a]}) * ({exprs[a]})) AS ss_{a}")
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    for a, b in pairs:
        moments.append(f"sum(({exprs[a]}) * ({exprs[b]})) AS sp_{a}_{b}")
    cells = " UNION ALL ".join(
        f"SELECT flag, '{a}' AS var_a, '{b}' AS var_b, "
        f"CAST(n * sp_{a}_{b} - s_{a} * s_{b} AS DOUBLE) / "
        f"sqrt(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE)"
        f" * CAST(n * ss_{b} - s_{b} * s_{b} AS DOUBLE)) AS c "
        "FROM m"
        for a, b in pairs
    )
    return (
        "WITH m AS (SELECT l_returnflag AS flag, "
        + ", ".join(moments)
        + " FROM lineitem GROUP BY 1), cells AS ("
        + cells
        + f") SELECT flag, var_a, var_b, {sql_dround('c', 6)} AS corr_q"
        " FROM cells"
    )


AGG_CORR_MATRIX_SQL = _corr_matrix_sql()


def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Discrete percentiles: the value AT rank ceil(p*n) -- an actual
    # row value, vs agg_percentiles' interpolated continuous
    # definition. One ordered window builds ranks, the unordered
    # count shares the same group partitioning (single shuffle), and
    # every requested p is picked from that one pass with integer
    # rank arithmetic ((n*p + 99) DIV 100), so there is no engine
    # quantile-definition mismatch to reconcile -- the oracle replays
    # the identical rank formula.
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    r = c.select(
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("c_nationkey")).alias("n"),
    )

    def pick(p: int, name: str):
        target = F.expr(f"(n * {p} + 99) DIV 100")
        return F.max(
            F.when(F.col("rk") == target, F.col("c_acctbal"))
        ).alias(name)

    return r.groupBy("c_nationkey").agg(
        pick(25, "p25"), pick(50, "p50"), pick(90, "p90")
    )


AGG_PERCENTILE_DISC_SQL = """
WITH r AS (
  SELECT c_nationkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal, c_custkey) AS rk,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
)
SELECT c_nationkey,
       max(CASE WHEN rk = (n * 25 + 99) // 100 THEN c_acctbal END) AS p25,
       max(CASE WHEN rk = (n * 50 + 99) // 100 THEN c_acctbal END) AS p50,
       max(CASE WHEN rk = (n * 90 + 99) // 100 THEN c_acctbal END) AS p90
FROM r GROUP BY 1
"""


def scalar_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Winsorization -- clamp each balance into its nation's
    # [p05, p95] -- the curation answer to heavy tails that preserves
    # row count. ONE scan: ranks and the group size come from one
    # ordered window, the two discrete thresholds are analytic
    # max(CASE rank = target) windows over the SAME partitioning (no
    # second scan, no join back), and the clamp is least/greatest on
    # actual row values, so it is exact.
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wp = Window.partitionBy("c_nationkey")
    r = c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wp).alias("n"),
    )

    def thr(p: int):
        target = F.expr(f"(n * {p} + 99) DIV 100")
        return F.max(
            F.when(F.col("rk") == target, F.col("c_acctbal"))
        ).over(wp)

    r = r.withColumn("lo", thr(5)).withColumn("hi", thr(95))
    return r.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.least(
            F.greatest(F.col("c_acctbal"), F.col("lo")), F.col("hi")
        ).alias("acctbal_wins"),
    )


SCALAR_WINSORIZE_SQL = """
WITH r AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal, c_custkey) AS rk,
         count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM customer
), th AS (
  SELECT *,
         max(CASE WHEN rk = (n * 5 + 99) // 100 THEN c_acctbal END)
           OVER (PARTITION BY c_nationkey) AS lo,
         max(CASE WHEN rk = (n * 95 + 99) // 100 THEN c_acctbal END)
           OVER (PARTITION BY c_nationkey) AS hi
  FROM r
)
SELECT c_custkey, c_nationkey, c_acctbal,
       least(greatest(c_acctbal, lo), hi) AS acctbal_wins
FROM th
"""


def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Robust outlier flagging by Median Absolute Deviation -- the
    # robust-statistics replacement for mean/stddev z-scores
    # (event_user_anomaly), which outliers themselves corrupt. Two
    # ranked window passes on the SAME group key (median of value,
    # then median of |x - median|), both picked by the exact
    # lower-median rank formula (n+1) DIV 2 on actual row values;
    # |x - med| and the 3*MAD comparison are IEEE-identical per row.
    # No join-back: each pass is an analytic window over the
    # event_type partitioning (events.value is heavy-tailed; a
    # uniform column never exceeds 2*MAD by construction).
    e = t(spark, sf_dir, "events")
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    wp = Window.partitionBy("event_type")
    r = e.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w1).alias("rk"),
        F.count("*").over(wp).alias("n"),
    )
    med = F.max(
        F.when(F.col("rk") == F.expr("(n + 1) DIV 2"), F.col("value"))
    ).over(wp)
    r = r.withColumn("med", med).withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    r = r.withColumn("rk2", F.row_number().over(w2))
    mad = F.max(
        F.when(F.col("rk2") == F.expr("(n + 1) DIV 2"), F.col("dev"))
    ).over(wp)
    r = r.withColumn("mad", mad)
    return r.filter(F.col("dev") > F.lit(3.0) * F.col("mad")).select(
        "event_id", "event_type", "value", "med", "mad", "dev"
    )


AGG_MAD_OUTLIERS_SQL = """
WITH r AS (
  SELECT event_id, event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
), m AS (
  SELECT *,
         max(CASE WHEN rk = (n + 1) // 2 THEN value END)
           OVER (PARTITION BY event_type) AS med
  FROM r
), d AS (
  SELECT *, abs(value - med) AS dev,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(value - med), event_id) AS rk2
  FROM m
), md AS (
  SELECT *,
         max(CASE WHEN rk2 = (n + 1) // 2 THEN dev END)
           OVER (PARTITION BY event_type) AS mad
  FROM d
)
SELECT event_id, event_type, value, med, mad, dev
FROM md WHERE dev > 3.0 * mad
"""


def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Weighted median (price weighted by quantity) per return flag:
    # a RANGE-frame running weight prefix -- every tie peer sees the
    # full tie group's cumulative, so no intra-tie order can change
    # the pick -- against the group total from the same partitioning
    # (one shuffle). The median is the smallest value whose prefix
    # reaches half the total weight; prices are exact cents and the
    # synthetic quantities are integral, so the comparison is pure
    # BIGINT arithmetic.
    line = t(spark, sf_dir, "lineitem")
    base = line.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    w_run = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    r = base.withColumn("prefix", F.sum("w").over(w_run)).withColumn(
        "total", F.sum("w").over(Window.partitionBy("flag"))
    )
    return (
        r.filter(F.col("prefix") * 2 >= F.col("total"))
        .groupBy("flag")
        .agg((F.min("cents") / F.lit(100.0)).alias("weighted_median"))
    )


AGG_WEIGHTED_MEDIAN_SQL = """
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem
), r AS (
  SELECT flag, cents, w,
         sum(w) OVER (PARTITION BY flag ORDER BY cents
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prefix,
         sum(w) OVER (PARTITION BY flag) AS total
  FROM base
)
SELECT flag, min(cents) / 100.0 AS weighted_median
FROM r WHERE prefix * 2 >= total
GROUP BY 1
"""


def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Interval-overlap join (both sides are intervals -- harder than
    # join_range_bucketed's point-in-interval): view holds vs click
    # holds (5 minutes each, half-open) for the same user. Every
    # interval explodes to the <= 2 aligned 5-minute buckets it
    # touches (bucket width >= max interval length bounds the
    # fan-out), candidates meet in ONE (user, bucket) hash equi-join,
    # the exact a_s < b_e AND b_s < a_e predicate refines, and
    # DISTINCT collapses pairs found in two buckets. Never an
    # all-pairs or per-user cross join.
    e = t(spark, sf_dir, "events")

    def holds(event_type: str, p: str):
        s = F.col("ts")
        end = F.col("ts") + F.expr("INTERVAL 5 MINUTES")
        d = e.filter(F.col("event_type") == event_type).select(
            "user_id",
            F.col("event_id").alias(f"{p}_id"),
            s.alias(f"{p}_s"),
            end.alias(f"{p}_e"),
        )
        # parquet ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP
        bkt = F.sequence(
            F.floor(
                F.unix_micros(F.col(f"{p}_s").cast("timestamp"))
                / F.lit(300_000_000)
            ),
            F.floor(
                F.unix_micros(F.col(f"{p}_e").cast("timestamp"))
                / F.lit(300_000_000)
            ),
        )
        return d.withColumn("bkt", F.explode(bkt))

    a = holds("view", "a")
    b = holds("click", "b")
    pairs = (
        a.join(b, ["user_id", "bkt"])
        .filter(
            (F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e"))
        )
        .select("user_id", "a_id", "b_id")
        .distinct()
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_overlaps"),
        F.min("a_id").alias("first_view_id"),
    )


JOIN_INTERVAL_OVERLAP_SQL = """
WITH a AS (
  SELECT user_id, event_id AS a_id, ts AS a_s,
         ts + INTERVAL 5 MINUTE AS a_e
  FROM events WHERE event_type = 'view'
), b AS (
  SELECT user_id, event_id AS b_id, ts AS b_s,
         ts + INTERVAL 5 MINUTE AS b_e
  FROM events WHERE event_type = 'click'
)
SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
       min(a_id) AS first_view_id
FROM a JOIN b ON a.user_id = b.user_id
              AND a_s < b_e AND b_s < a_e
GROUP BY 1
"""


def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # True multiset INTERSECT ALL (bag semantics: each value keeps
    # min(left multiplicity, right multiplicity) copies) between the
    # open-order and finished-order priority multisets. Spark lowers
    # intersectAll to ONE partial-aggregated count per side plus a
    # replicating generate -- shuffle volume is the distinct-value
    # count, never the row count, and there is no join explosion.
    # Complements set_intersect (distinct) and set_except
    # (exceptAll), completing the multiset set-op surface.
    o = t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    right = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return left.intersectAll(right)


SET_INTERSECT_ALL_SQL = """
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
"""


def window_cumsum_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running sum with conditional RESET -- spend accumulated since
    # the user's last purchase, zeroed at each purchase -- WITHOUT
    # the usual two-level (user, episode) repartition: the reset is
    # algebra over ONE window spec (cum = running non-purchase cents;
    # carry = last purchase-row cum carried forward; since = cum -
    # carry), so every column shares the single user_id shuffle and
    # sort. All arithmetic is exact BIGINT cents.
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_p = F.col("event_type") == "purchase"
    cents = F.when(
        is_p, F.lit(0)
    ).otherwise(F.round(F.col("value") * 100).cast("long"))
    r = e.withColumn("cum", F.sum(cents).over(w))
    r = r.withColumn(
        "carry",
        F.coalesce(
            F.last(F.when(is_p, F.col("cum")), ignorenulls=True).over(w),
            F.lit(0),
        ),
    )
    return r.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("cum") - F.col("carry")).cast("long").alias(
            "cents_since_purchase"
        ),
    )


WINDOW_CUMSUM_RESET_SQL = """
WITH r AS (
  SELECT event_id, user_id, event_type, ts,
         sum(CASE WHEN event_type = 'purchase' THEN 0
                  ELSE CAST(round(value * 100) AS BIGINT) END) OVER w
           AS cum
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
  SELECT event_id, user_id, event_type, cum,
         coalesce(last_value(CASE WHEN event_type = 'purchase'
                                  THEN cum END IGNORE NULLS) OVER w2, 0)
           AS carry
  FROM r
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, event_type,
       CAST(cum - carry AS BIGINT) AS cents_since_purchase
FROM c
"""


def scalar_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The regex scalar surface, deliberately restricted to the
    # Java-regex / RE2 COMMON SUBSET (character classes, quantifiers,
    # alternation, word boundaries -- no backrefs, no lookaround):
    # extract, count, global replace, and boolean match, all narrow
    # zero-shuffle maps. The catalog's cross-engine contract for
    # regexes is exactly this subset; engine-specific escapes (Spark
    # SQL string literals process backslashes, DuckDB's do not) stay
    # in the plan layer, never in the pattern semantics.
    d = t(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    return d.select(
        "doc_id",
        F.regexp_extract(lower, "qu[a-z]+", 0).alias("first_qu"),
        F.expr(
            "CAST(regexp_count(lower(text), '[aeiou][aeiou]') AS BIGINT)"
        ).alias("n_double_vowel"),
        F.length(F.regexp_replace(lower, "[aeiou]+", "*")).cast(
            "long"
        ).alias("masked_len"),
        F.expr(r"CAST(lower(text) RLIKE '\\btable\\b' AS INT)").cast(
            "long"
        ).alias("has_table"),
    )


SCALAR_REGEX_SQL = r"""
SELECT doc_id,
       coalesce(regexp_extract(lower(text), 'qu[a-z]+'), '') AS first_qu,
       CAST(len(regexp_extract_all(lower(text), '[aeiou][aeiou]'))
            AS BIGINT) AS n_double_vowel,
       CAST(length(regexp_replace(lower(text), '[aeiou]+', '*', 'g'))
            AS BIGINT) AS masked_len,
       CAST(CASE WHEN regexp_matches(lower(text), '\btable\b')
                 THEN 1 ELSE 0 END AS BIGINT) AS has_table
FROM documents
"""


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Order-independent content fingerprint of a table -- the
    # migration-validation primitive for a parquet -> Postgres loader
    # (reference: run it against both sides of a copy and compare ONE
    # row instead of re-reading both tables). Every row canonicalizes
    # to a delimited string (money as exact cents, dates as ISO
    # strings), hashes to a 48-bit md5 slice, and the fingerprint is
    # the exact sum of slices folded mod 2^61-1 -- addition commutes,
    # so the value is independent of partitioning, file order, and
    # cluster size, while any changed row moves it. One narrow scan,
    # one scalar aggregate.
    o = t(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "\x1f",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.col("o_orderpriority"),
    )
    slice48 = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    agg = o.select(slice48.alias("h")).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    )
    return agg.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.expr("CAST(s % 2305843009213693951 AS BIGINT)").alias(
            "checksum61"
        ),
    )


TABLE_CHECKSUM_SQL = """
WITH c AS (
  SELECT concat_ws(chr(31),
           CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR),
           o_orderstatus,
           CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
           strftime(o_orderdate, '%Y-%m-%d'),
           o_orderpriority) AS s
  FROM orders
), h AS (
  SELECT CAST(list_sum(list_transform(range(1, 13), i ->
           (instr('0123456789abcdef', substr(md5(s), i, 1)) - 1)
           * power(16.0, 12 - i))) AS BIGINT) AS h
  FROM c
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT)
         AS checksum61
FROM h
"""


def set_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority").distinct()


SET_DISTINCT_SQL = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


# --------------------------------------------------------------------------
# Scalar function families
# --------------------------------------------------------------------------

def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.element_at(F.split("p_type", " "), 1).alias("type_head"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
    )


SCALAR_STRING_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substring(p_name, 1, 5) AS name_prefix,
       string_split(p_type, ' ')[1] AS type_head,
       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
       concat_ws('|', p_brand, p_type) AS brand_type,
       CAST(length(p_name) AS BIGINT) AS name_len
FROM part
"""


def scalar_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("order_year"),
        F.month(d).cast("long").alias("order_month"),
        F.dayofmonth(d).cast("long").alias("order_day"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("long")
        .alias("days_to_2002"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("order_month_start"),
    )


SCALAR_DATE_SQL = """
SELECT o_orderkey,
       year(d) AS order_year,
       month(d) AS order_month,
       day(d) AS order_day,
       strftime(d + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
       date_diff('day', d, DATE '2002-01-01') AS days_to_2002,
       strftime(date_trunc('month', d), '%Y-%m-%d') AS order_month_start
FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
"""


def scalar_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full native timestamp surface over the event stream: micro
    rendering, epoch extraction + exact make_timestamp round-trip,
    hour/week truncation, interval shift, day-of-week semantics.

    Reference parity note: the reference writes NULL for every INT64
    TIMESTAMP_MILLIS/MICROS column (src/converters.rs:258-261,
    README.md:53-54, TODO.md:5 — its own golden test expects an empty
    timestamp at src/runner.rs:326-330). This entry pins the complete
    semantics we implement INSTEAD of that stub. All columns are
    strings/BIGINTs/booleans per the catalog's render rules; epoch
    math is exact integer microseconds (session TZ = UTC on both
    engines). Narrow map, zero shuffle.
    """
    e = t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    # events.ts reads as TIMESTAMP_NTZ; with the session TZ pinned to
    # UTC (session.py) the NTZ->LTZ cast is wall-clock identity, so
    # unix_micros is the naive epoch both engines agree on.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.select(
        "event_id",
        F.date_format("ts", fmt).alias("ts_str"),
        micros.alias("epoch_micros"),
        (micros - F.pmod(micros, F.lit(1_000_000)))
        .alias("epoch_s_micros"),
        F.date_format(F.date_trunc("hour", "ts"), fmt).alias("hour_start"),
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
        .alias("week_start"),
        F.date_format("ts", "EEEE").alias("day_name"),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 5 HOURS 30 MINUTES"), fmt
        ).alias("ts_plus_530"),
        (
            F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
        ).cast("long").alias("secs_since_midnight"),
        F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
        F.quarter("ts").cast("long").alias("qtr"),
        (
            F.timestamp_micros(micros).cast("timestamp_ntz") == F.col("ts")
        ).alias("roundtrip_ok"),
    )


SCALAR_TIMESTAMP_SQL = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       epoch_us(ts) AS epoch_micros,
       epoch_us(ts) - (epoch_us(ts) % 1000000) AS epoch_s_micros,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f')
         AS hour_start,
       strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
       dayname(ts) AS day_name,
       strftime(ts + INTERVAL '5 hours 30 minutes',
                '%Y-%m-%d %H:%M:%S.%f') AS ts_plus_530,
       CAST(hour(ts) * 3600 + minute(ts) * 60
            + CAST(floor(second(ts)) AS BIGINT) AS BIGINT)
         AS secs_since_midnight,
       isodow(ts) IN (6, 7) AS is_weekend,
       CAST(quarter(ts) AS BIGINT) AS qtr,
       make_timestamp(epoch_us(ts)) = ts AS roundtrip_ok
FROM events
"""


def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * 0.5).alias("half_price"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        dround(F.log("l_extendedprice"), 6).alias("log_price"),
        dround(F.pow("l_quantity", 2), 2).alias("qty_sq"),
        F.sqrt("l_extendedprice").alias("sqrt_price"),
        F.ceil("l_extendedprice").cast("long").alias("price_ceil"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).cast("long").alias("key_mod7"),
    )


SCALAR_MATH_SQL = f"""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * 0.5 AS half_price,
       abs(l_discount - 0.05) AS disc_dev,
       {sql_dround('ln(l_extendedprice)', 6)} AS log_price,
       {sql_dround('pow(l_quantity, 2)', 2)} AS qty_sq,
       sqrt(l_extendedprice) AS sqrt_price,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
FROM lineitem WHERE l_orderkey < 100
"""


def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    dvec = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.element_at(dvec, 1).alias("first_component"),
        F.array_max(dvec).alias("max_component"),
        F.aggregate(dvec, F.lit(0.0), lambda acc, x: acc + x * x)
        .alias("norm_sq"),
        F.size(F.filter(dvec, lambda x: x > F.lit(0.0))).cast("long")
        .alias("positive_dims"),
    )


SCALAR_ARRAY_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       v[1] AS first_component,
       list_max(v) AS max_component,
       list_reduce(list_prepend(0.0, [x * x FOR x IN v]),
                   (a, b) -> a + b) AS norm_sq,
       CAST(len(list_filter(v, x -> x > 0.0)) AS BIGINT) AS positive_dims
FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS v FROM embeddings)
"""


def scalar_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lateral/UDTF-shaped: explode token arrays into rows.
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return tok.groupBy("token").agg(F.count("*").alias("occurrences"))


SCALAR_EXPLODE_SQL = """
SELECT token, count(*) AS occurrences
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id < 10)
GROUP BY token
"""


def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        F.when(F.get_json_object("props", "$.k").cast("long") >= 50, "high")
        .otherwise("low").alias("k_band"),
    )


SCALAR_JSON_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
            THEN 'high' ELSE 'low' END AS k_band
FROM events
"""


def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Map-typed column surface: parse JSON props into map<string,long>,
    # then map_keys / element_at / map_contains_key.
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.map_contains_key(m, "missing").alias("has_missing"),
    )


SCALAR_MAP_SQL = """
SELECT event_id,
       array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
       json_extract(props, '$.missing') IS NOT NULL AS has_missing
FROM events
"""


def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-vectorized scalar pandas UDF (functions/udfs.py); body is
    # IEEE-only arithmetic so the oracle comparison is value-exact.
    from ..functions.udfs import discounted_price

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        discounted_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


UDF_PANDAS_SCALAR_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1.0 - l_discount) AS disc_price
FROM lineitem WHERE l_orderkey < 500
"""


def udf_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Grouped-map applyInPandas (UDAF-shaped): per-event-type OLS slope
    # of value over hours-since-first-event. regr_slope is the oracle.
    from ..functions.udfs import grouped_ols_slope

    out = grouped_ols_slope(t(spark, sf_dir, "events"))
    return out.select("event_type", "n", dround("slope", 6).alias("slope"))


UDF_GROUPED_OLS_SQL = f"""
WITH prep AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP))
          - min(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY event_type))
         / 3600000000.0 AS x,
         value AS y
  FROM events
)
SELECT event_type, count(*) AS n,
       {sql_dround('regr_slope(y, x)', 6)} AS slope
FROM prep GROUP BY event_type
"""


def udtf_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python UDTF (Spark 3.5+/4): one input row -> N output rows, used
    # through a LATERAL join -- applied as a DataFrame, so nothing is
    # registered in the session. Class defined in-function so
    # cloudpickle ships it by value (workers can't import this repo).
    from pyspark.sql.functions import udtf

    @udtf(returnType="k string, v bigint")
    class ExplodeProps:
        def eval(self, props: str):
            import json

            if props:
                for key, val in sorted(json.loads(props).items()):
                    yield key, int(val)

    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    return e.alias("e").lateralJoin(
        ExplodeProps(F.col("e.props").outer()).alias("t")
    ).select(
        "e.event_id",
        F.col("t.k").alias("prop_key"),
        F.col("t.v").alias("prop_value"),
    )


UDTF_JSON_KV_SQL = """
WITH kv AS (
  SELECT event_id, unnest(json_keys(props)) AS prop_key, props
  FROM events WHERE event_id < 1000
)
SELECT event_id, prop_key,
       CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT)
         AS prop_value
FROM kv
"""


def conditional_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "large")
        .when(F.col("o_totalprice") > 100000, "medium")
        .otherwise("small").alias("size_band"),
        F.greatest(F.col("o_orderkey"), F.col("o_custkey")).alias("greatest_key"),
        F.least(F.col("o_orderkey"), F.col("o_custkey")).alias("least_key"),
    )


CONDITIONAL_CASE_SQL = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'large'
            WHEN o_totalprice > 100000 THEN 'medium'
            ELSE 'small' END AS size_band,
       greatest(o_orderkey, o_custkey) AS greatest_key,
       least(o_orderkey, o_custkey) AS least_key
FROM orders
"""


def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Semi-join reduction: lineitem (probe) is pruned by a Bloom
    # filter of the selective orders subset (build) before the shuffle
    # join -- the explicit form of runtime filter pushdown for builds
    # too big to broadcast as hash tables. Pruning admits no false
    # negatives, so the oracle is simply the plain join.
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp_ntz"))
    )
    li = t(spark, sf_dir, "lineitem")
    joined = bloom_filter_join(
        li, o, "l_orderkey", "o_orderkey", num_bits=1 << 18
    )
    return joined.groupBy("l_returnflag").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
        .alias("revenue"),
        F.count("*").alias("n_lines"),
    )


JOIN_BLOOM_PRUNED_SQL = f"""
SELECT l_returnflag,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
GROUP BY l_returnflag
"""


SPECS: list[QuerySpec] = [
    QuerySpec("join_bloom_pruned", join_bloom_pruned,
              JOIN_BLOOM_PRUNED_SQL),
    QuerySpec("ref_project_rename_cast", ref_project_rename_cast,
              REF_PROJECT_RENAME_CAST_SQL,
              "reference pipeline P1-P8 as a query (src/runner.rs:17-45)"),
    QuerySpec("source_nested_ingest", source_nested_ingest,
              SOURCE_NESTED_INGEST_SQL,
              "nested parquet (struct-of-struct + list<struct>) write/"
              "read round-trip + require_flat boundary + dotted-path "
              "flatten (reference GroupType skip src/parquet_ops.rs:75)"),
    QuerySpec("ref_count", ref_count, REF_COUNT_SQL,
              "COUNT(*) / COUNT(col) (reference test SQL src/runner.rs:177)"),
    QuerySpec("ref_sort_limit", ref_sort_limit, REF_SORT_LIMIT_SQL,
              "ORDER BY ... LIMIT (reference src/runner.rs:193-196)"),
    QuerySpec("ref_union_all", ref_union_all, REF_UNION_ALL_SQL,
              "UNION ALL first/last pattern (reference src/runner.rs:192-197)"),
    QuerySpec("ref_null_filter", ref_null_filter, REF_NULL_FILTER_SQL,
              "IS NULL predicate (reference src/runner.rs:220)"),
    QuerySpec("ref_star", ref_star, REF_STAR_SQL,
              "SELECT * (reference src/runner.rs:220,324)"),
    QuerySpec("filter_predicates", filter_predicates, FILTER_PREDICATES_SQL),
    QuerySpec("join_inner_broadcast", join_inner_broadcast,
              JOIN_INNER_BROADCAST_SQL),
    QuerySpec("join_left", join_left, JOIN_LEFT_SQL),
    QuerySpec("join_right", join_right, JOIN_RIGHT_SQL),
    QuerySpec("join_full_outer", join_full_outer, JOIN_FULL_OUTER_SQL),
    QuerySpec("join_semi", join_semi, JOIN_SEMI_SQL),
    QuerySpec("join_anti", join_anti, JOIN_ANTI_SQL),
    QuerySpec("join_theta", join_theta, JOIN_THETA_SQL),
    QuerySpec("join_cross", join_cross, JOIN_CROSS_SQL),
    QuerySpec("join_range_bucketed", join_range_bucketed,
              JOIN_RANGE_BUCKETED_SQL),
    QuerySpec("agg_pricing_summary", agg_pricing_summary, AGG_PRICING_SUMMARY_SQL),
    QuerySpec("agg_distinct", agg_distinct, AGG_DISTINCT_SQL),
    QuerySpec("agg_approx", agg_approx, AGG_APPROX_SQL,
              "sketch aggregates paired with exact counterparts; "
              "error bounds asserted as oracle-checkable booleans"),
    QuerySpec("agg_hll_mergeable", agg_hll_mergeable, AGG_HLL_MERGEABLE_SQL,
              "mergeable HLL rollup vs exact distinct; merged==direct "
              "pinned by test_incremental_agg"),
    QuerySpec("agg_bitmap_distinct", agg_bitmap_distinct,
              AGG_BITMAP_DISTINCT_SQL),
    QuerySpec("agg_pivot", agg_pivot, AGG_PIVOT_SQL),
    QuerySpec("scalar_unpivot", scalar_unpivot, SCALAR_UNPIVOT_SQL),
    QuerySpec("agg_rollup", agg_rollup, AGG_ROLLUP_SQL),
    QuerySpec("agg_cube", agg_cube, AGG_CUBE_SQL),
    QuerySpec("agg_grouping_sets", agg_grouping_sets, AGG_GROUPING_SETS_SQL),
    QuerySpec("agg_stats", agg_stats, AGG_STATS_SQL),
    QuerySpec("agg_argmax", agg_argmax, AGG_ARGMAX_SQL),
    QuerySpec("agg_percentiles", agg_percentiles, AGG_PERCENTILES_SQL),
    QuerySpec("agg_string_concat", agg_string_concat, AGG_STRING_CONCAT_SQL),
    QuerySpec("window_topk_per_group", window_topk_per_group,
              WINDOW_TOPK_PER_GROUP_SQL),
    QuerySpec("window_ranking", window_ranking, WINDOW_RANKING_SQL),
    QuerySpec("join_skew_salted", join_skew_salted, JOIN_SKEW_SALTED_SQL),
    QuerySpec("agg_skew_salted", agg_skew_salted, AGG_SKEW_SALTED_SQL),
    QuerySpec("subquery_correlated", subquery_correlated,
              SUBQUERY_CORRELATED_SQL),
    QuerySpec("window_distribution", window_distribution,
              WINDOW_DISTRIBUTION_SQL),
    QuerySpec("agg_mode", agg_mode, AGG_MODE_SQL),
    QuerySpec("scalar_edit_distance", scalar_edit_distance,
              SCALAR_EDIT_DISTANCE_SQL),
    QuerySpec("window_lag_lead", window_lag_lead, WINDOW_LAG_LEAD_SQL),
    QuerySpec("window_frames", window_frames, WINDOW_FRAMES_SQL),
    QuerySpec("sort_multi_key_nulls", sort_multi_key_nulls,
              SORT_MULTI_KEY_NULLS_SQL),
    QuerySpec("set_intersect", set_intersect, SET_INTERSECT_SQL),
    QuerySpec("set_except", set_except, SET_EXCEPT_SQL),
    QuerySpec("set_intersect_all", set_intersect_all, SET_INTERSECT_ALL_SQL,
              "multiset INTERSECT ALL: per-side counts + generate, "
              "shuffle bounded by distinct values"),
    QuerySpec("window_cumsum_reset", window_cumsum_reset,
              WINDOW_CUMSUM_RESET_SQL,
              "running sum with conditional reset via carry algebra "
              "on ONE window spec -- no (user, episode) "
              "repartition; exact BIGINT cents"),
    QuerySpec("scalar_regex", scalar_regex, SCALAR_REGEX_SQL,
              "regex scalar surface on the Java/RE2 common subset: "
              "extract, count, global replace, boolean match; "
              "narrow zero-shuffle maps"),
    QuerySpec("table_checksum", table_checksum, TABLE_CHECKSUM_SQL,
              "order-independent table fingerprint (48-bit md5 "
              "slices summed mod 2^61-1): the one-row migration "
              "validation for loader parity"),
    QuerySpec("agg_corr_matrix", agg_corr_matrix, AGG_CORR_MATRIX_SQL,
              "pairwise correlation matrix in ONE pass: 15 exact "
              "DECIMAL moments, map-side combinable; only the final "
              "ratio is float"),
    QuerySpec("agg_percentile_disc", agg_percentile_disc,
              AGG_PERCENTILE_DISC_SQL,
              "discrete percentiles via one ranked window pass; "
              "integer rank arithmetic replayed by the oracle"),
    QuerySpec("scalar_winsorize", scalar_winsorize, SCALAR_WINSORIZE_SQL,
              "per-group [p05, p95] clamp in ONE scan: analytic "
              "rank-target thresholds over the same partitioning, "
              "no join-back"),
    QuerySpec("agg_mad_outliers", agg_mad_outliers, AGG_MAD_OUTLIERS_SQL,
              "median-absolute-deviation outliers: two ranked "
              "window passes on one group key, exact lower-median "
              "picks, no join-back"),
    QuerySpec("agg_weighted_median", agg_weighted_median,
              AGG_WEIGHTED_MEDIAN_SQL,
              "weighted median via RANGE-frame prefix weights vs "
              "group total on one shuffle; exact BIGINT pick"),
    QuerySpec("join_interval_overlap", join_interval_overlap,
              JOIN_INTERVAL_OVERLAP_SQL,
              "interval x interval overlap join: aligned-bucket "
              "candidates (<= 2 buckets/interval), exact refine, "
              "distinct; oracle = plain theta join"),
    QuerySpec("set_distinct", set_distinct, SET_DISTINCT_SQL),
    QuerySpec("scalar_string", scalar_string, SCALAR_STRING_SQL),
    QuerySpec("scalar_date", scalar_date, SCALAR_DATE_SQL),
    QuerySpec("scalar_timestamp", scalar_timestamp, SCALAR_TIMESTAMP_SQL),
    QuerySpec("scalar_math", scalar_math, SCALAR_MATH_SQL),
    QuerySpec("scalar_array", scalar_array, SCALAR_ARRAY_SQL),
    QuerySpec("scalar_explode", scalar_explode, SCALAR_EXPLODE_SQL),
    QuerySpec("scalar_json", scalar_json, SCALAR_JSON_SQL),
    QuerySpec("scalar_map", scalar_map, SCALAR_MAP_SQL),
    QuerySpec("udf_pandas_scalar", udf_pandas_scalar, UDF_PANDAS_SCALAR_SQL),
    QuerySpec("udf_grouped_ols", udf_grouped_ols, UDF_GROUPED_OLS_SQL),
    QuerySpec("udtf_json_kv", udtf_json_kv, UDTF_JSON_KV_SQL),
    QuerySpec("conditional_case", conditional_case, CONDITIONAL_CASE_SQL),
]
