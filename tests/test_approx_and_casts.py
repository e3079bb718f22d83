"""Bounds tests for the approximate aggregates (the quality promise
behind the rows-only agg_approx entry) and the cast-plan matrix."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.catalog import read_table
from s3_parquet_to_postgres_spark.operators.casts import (
    CastPlanError,
    build_cast_plan,
)

SF = "/root/testdata/sf0.001"


def test_approx_count_distinct_within_bounds(spark):
    li = read_table(spark, SF, "lineitem")
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    approx = li.select(F.approx_count_distinct("l_partkey", 0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05, (approx, exact)


def test_percentile_approx_brackets_exact(spark):
    li = read_table(spark, SF, "lineitem")
    approx = li.select(
        F.percentile_approx("l_extendedprice", 0.5, 10000)
    ).first()[0]
    exact = li.selectExpr("percentile(l_extendedprice, 0.5)").first()[0]
    # With accuracy 10000 on ~6k rows the sketch is near-exact.
    assert abs(approx - exact) / exact < 0.01, (approx, exact)


# ---------------------------------------------------------------------------
# Cast matrix (the reference's converter table, completed)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def typed_df(spark):
    return spark.createDataFrame(
        [
            (
                1,
                7,
                2.5,
                "2024-03-05",
                datetime.date(2024, 3, 5),
                datetime.datetime(2024, 3, 5, 6, 7, 8),
                True,
            )
        ],
        "i int, l bigint, d double, s string, dt date, ts timestamp, b boolean",
    )


def test_int_widening(spark, typed_df):
    out = build_cast_plan(typed_df, {"i": "int8", "l": "int8"})
    assert dict(out.dtypes)["i"] == "bigint"
    assert out.first()["i"] == 1


def test_date_to_string_format(spark, typed_df):
    out = build_cast_plan(typed_df, {"dt": "varchar"})
    assert out.first()["dt"] == "2024-03-05"


def test_timestamp_completed_not_null(spark, typed_df):
    # The reference writes NULL for INT64 timestamps
    # (reference: src/converters.rs:258-261); we implement the intent.
    out = build_cast_plan(typed_df, {"ts": "varchar"})
    assert out.first()["ts"] == "2024-03-05 06:07:08"
    out2 = build_cast_plan(typed_df, {"ts": "date"})
    assert out2.first()["ts"] == datetime.date(2024, 3, 5)


def test_string_parsed_to_date(spark, typed_df):
    out = build_cast_plan(typed_df, {"s": "date"})
    assert out.first()["s"] == datetime.date(2024, 3, 5)


def test_double_to_decimal(spark, typed_df):
    out = build_cast_plan(typed_df, {"d": "numeric"})
    assert dict(out.dtypes)["d"].startswith("decimal")


def test_numeric_keeps_an_exact_source_scale(spark):
    from decimal import Decimal

    df = spark.createDataFrame([(Decimal("1234.25"), Decimal(10**25), 5)],
                               "a decimal(6,2), b decimal(38,0), n bigint")
    out = build_cast_plan(df, {c: "numeric" for c in df.columns})
    assert out.dtypes == [("a", "decimal(6,2)"), ("b", "decimal(38,0)"),
                          ("n", "decimal(20,0)")]
    assert tuple(map(str, out.first())) == (
        "1234.25", "10000000000000000000000000", "5")


def test_incompatible_pair_fails_at_plan_time(spark, typed_df):
    with pytest.raises(CastPlanError, match="no conversion|not supported"):
        build_cast_plan(typed_df, {"dt": "int4"})


def test_unknown_target_column_fails(spark, typed_df):
    with pytest.raises(CastPlanError, match="unknown columns"):
        build_cast_plan(typed_df, {"nope": "int4"})


# -- bytea (closes the reference's raw BYTE_ARRAY todo!(),
#    src/converters.rs:92-99, like the timestamp/decimal stubs) --------------

@pytest.fixture(scope="module")
def binary_df(spark):
    return spark.createDataFrame(
        [(b"\x01\xab", "01ab", "\\x01ab")], "raw binary, hexs string, pgs string"
    )


def test_binary_passthrough_to_bytea(spark, binary_df):
    out = build_cast_plan(binary_df, {"raw": "bytea"})
    assert dict(out.dtypes)["raw"] == "binary"
    assert bytes(out.first()["raw"]) == b"\x01\xab"


def test_string_hex_to_bytea_both_syntaxes(spark, binary_df):
    out = build_cast_plan(binary_df, {"hexs": "bytea", "pgs": "bytea"})
    row = out.first()
    assert bytes(row["hexs"]) == b"\x01\xab"
    assert bytes(row["pgs"]) == b"\x01\xab"  # PG's \x-prefixed form


def test_binary_to_text_is_pg_hex_form(spark, binary_df):
    out = build_cast_plan(binary_df, {"raw": "text"})
    assert out.first()["raw"] == "\\x01ab"


def test_binary_to_numeric_fails_at_plan_time(spark, binary_df):
    with pytest.raises(CastPlanError, match="BINARY -> "):
        build_cast_plan(binary_df, {"raw": "int4"})


# -- nested-source rejection (reference silently skips GroupType,
#    src/parquet_ops.rs:75; we fail fast naming the column) ------------------

def test_require_flat_names_the_nested_columns(spark):
    from s3_parquet_to_postgres_spark.operators.casts import require_flat

    df = spark.createDataFrame(
        [(1, {"a": 1}, [1, 2])], "i int, s map<string,int>, a array<int>"
    )
    with pytest.raises(CastPlanError, match=r"s: map<string,int>") as ei:
        require_flat(df)
    assert "a: array<int>" in str(ei.value)
    # flat frames pass through unchanged
    flat = spark.createDataFrame([(1,)], "i int")
    assert require_flat(flat) is flat
