"""Source error paths, reference-style (not-a-parquet-file, missing
field, dotted names -- reference: src/parquet_ops.rs:87-259)."""

from __future__ import annotations

import pytest

from s3_parquet_to_postgres_spark.sources.parquet import (
    FieldResolutionError,
    resolve_fields,
    scan_parquet,
)

SF = "/root/testdata/sf0.001"


def test_scan_not_a_parquet_file(spark, tmp_path):
    bad = tmp_path / "just_contains.txt.parquet"
    bad.write_text("this is not parquet\n")
    with pytest.raises(Exception) as e:
        scan_parquet(spark, str(bad)).collect()
    assert "arquet" in str(e.value) or "footer" in str(e.value).lower()


def test_scan_missing_path(spark, tmp_path):
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        scan_parquet(spark, str(tmp_path / "nope.parquet")).collect()


def test_resolve_missing_field(spark):
    df = scan_parquet(spark, f"{SF}/region.parquet")
    with pytest.raises(FieldResolutionError, match="not_there"):
        resolve_fields(df, ["r_regionkey", "not_there"])


def test_resolve_duplicates_allowed(spark):
    df = scan_parquet(spark, f"{SF}/region.parquet")
    assert resolve_fields(df, ["r_name", "r_name"]) == ["r_name", "r_name"]


def test_resolve_case_sensitive(spark):
    df = scan_parquet(spark, f"{SF}/region.parquet")
    with pytest.raises(FieldResolutionError):
        resolve_fields(df, ["R_NAME"])


def test_multi_path_scan_unions_files(spark, tmp_path):
    r = scan_parquet(spark, f"{SF}/region.parquet")
    r.write.parquet(str(tmp_path / "a"))
    r.write.parquet(str(tmp_path / "b"))
    both = scan_parquet(spark, [str(tmp_path / "a"), str(tmp_path / "b")])
    assert both.count() == 2 * r.count()


def test_nested_ingest_round_trip_and_boundary(spark):
    # The r10 nested-ingestion entry: the written fixture must carry
    # REAL nesting (struct-of-struct + list<struct>), the boundary
    # must reject it with both columns named, and the flattened
    # result must replay the flat-table join exactly.
    from pyspark.sql.types import ArrayType, StructType

    from s3_parquet_to_postgres_spark.operators.casts import (
        CastPlanError, require_flat,
    )
    from s3_parquet_to_postgres_spark.plans.relational import (
        _NESTED_FIXTURE_CACHE, source_nested_ingest,
    )
    from s3_parquet_to_postgres_spark.sources.parquet import scan_parquet

    sf = "/root/testdata/sf0.001"
    flat = source_nested_ingest(spark, sf)
    # fixture written + memoized for this session
    import os
    key = (spark.sparkContext.applicationId, os.path.abspath(sf))
    path = _NESTED_FIXTURE_CACHE[key]
    back = scan_parquet(spark, path)
    types = dict((f.name, f.dataType) for f in back.schema.fields)
    assert isinstance(types["order_info"], StructType)
    assert isinstance(types["order_info"]["money"].dataType, StructType)
    assert isinstance(types["lines"], ArrayType)
    assert isinstance(types["lines"].elementType, StructType)
    try:
        require_flat(back, "test")
    except CastPlanError as e:
        assert "order_info" in str(e) and "lines" in str(e)
    else:
        raise AssertionError("require_flat accepted nesting")
    # flattened row count == the flat join's
    from pyspark.sql import functions as F
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    want = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert flat.count() == want
