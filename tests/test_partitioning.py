"""Property-based and partitioning invariants.

The hypothesis tests pin the pure functions whose corner cases matter
at scale (COPY encoding round-trips, cast-plan totality); the rest pin
how the engine sizes its scans and shuffles.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from s3_parquet_to_postgres_spark.operators.casts import (
    CastPlanError,
    cast_expr,
)
from s3_parquet_to_postgres_spark.sinks.copy import encode_rows
from pyspark.sql.types import (
    BinaryType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Property tests (hypothesis)
# ---------------------------------------------------------------------------

printable = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-2**31, 2**31), printable,
                      st.booleans(), st.binary(max_size=16)),
            st.one_of(st.none(), st.floats(allow_nan=False), printable),
        ),
        max_size=20,
    )
)
def test_copy_encoding_roundtrip(rows):
    """Every encoded line is one row, tab-separated at top level, with
    no raw newline/tab/backslash leaking unescaped -- the invariant
    that makes the stream parseable by Postgres COPY."""
    lines = list(encode_rows(rows))
    assert len(lines) == len(rows)
    for line in lines:
        assert line.endswith("\n")
        body = line[:-1]
        # Unescaped control characters must not appear.
        stripped = (
            body.replace("\\\\", "")
            .replace("\\t", "")
            .replace("\\n", "")
            .replace("\\r", "")
        )
        assert "\n" not in stripped and "\r" not in stripped
        assert all(c != "\\" for c in stripped.replace("\\N", ""))
    for row, line in zip(rows, lines):
        assert line[:-1].count("\t") >= len(row) - 1


_SRC_TYPES = [
    IntegerType(), LongType(), DoubleType(), StringType(),
    DateType(), TimestampType(), BinaryType(),
]
_PG_TYPES = [
    "bool", "int2", "int4", "int8", "float4", "float8", "numeric",
    "date", "timestamp", "varchar", "text", "inet", "blob", "uuid",
    "bytea",
]


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(_SRC_TYPES), st.sampled_from(_PG_TYPES))
def test_cast_plan_total(src, pg):
    """cast_expr either returns an expression or raises CastPlanError --
    never a silent NULL converter (the reference's NULL-on-unknown
    behavior is deliberately NOT replicated)."""
    try:
        expr = cast_expr("c", src, pg)
    except CastPlanError:
        return
    assert expr is not None


def test_spread_is_idempotent_across_composed_operators(spark):
    # Each text operator calls spread(); composing two must add ONE
    # repartition, not one per stage.
    from s3_parquet_to_postgres_spark.operators import textstats as T

    df = spark.createDataFrame(
        [(i, "the quick brown fox und der hund") for i in range(10)],
        "doc_id long, text string",
    ).coalesce(1)  # force a genuinely narrow input
    import re

    composed = T.quality_scores(T.language_id(df))
    plan = composed._jdf.queryExecution().logical().toString()
    # ONE spread shuffle-repartition for the whole chain, not one per
    # stage (the coalesce(1) prints as "Repartition 1, false").
    assert len(re.findall(r"Repartition \d+, true", plan)) == 1, plan
    # An input already shuffle-repartitioned wide gains none at all.
    wide = spark.createDataFrame(
        [(i, "der hund") for i in range(10)], "doc_id long, text string"
    ).repartition(8)
    plan_wide = (
        T.quality_scores(T.language_id(wide))
        ._jdf.queryExecution().logical().toString()
    )
    assert len(re.findall(r"Repartition \d+, true", plan_wide)) == 1


def test_spread_estimates_width_from_bytes_not_file_count(spark, tmp_path):
    # Spark bin-packs tiny files, so MANY tiny files are still a
    # narrow scan: spread must widen them. The same files read with a
    # tiny maxPartitionBytes imply a wide scan: spread must no-op.
    from s3_parquet_to_postgres_spark.functions.layout import spread

    p = str(tmp_path / "many-tiny")
    spark.range(1000).repartition(12).write.parquet(p)
    df = spark.read.parquet(p)
    assert spread(df, min_partitions=4) is not df  # tiny bytes -> widen
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        df2 = spark.read.parquet(p)
        assert spread(df2, min_partitions=4) is df2  # bytes imply wide
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_no_shuffle_for_single_large_multisplit_file(spark, tmp_path):
    # A single file that Spark already splits into >= target scan
    # partitions must NOT be repartitioned (the few-files heuristic
    # alone would wrongly shuffle it).
    from s3_parquet_to_postgres_spark.functions.layout import spread

    p = str(tmp_path / "one-big")
    spark.range(200_000).selectExpr("id", "repeat('x', 64) AS pad") \
        .coalesce(1).write.parquet(p)
    tiny = {"spark.sql.files.maxPartitionBytes": "131072"}  # 128 KiB
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", tiny["spark.sql.files.maxPartitionBytes"])
        df = spark.read.parquet(p)
        assert df.rdd.getNumPartitions() >= 4
        out = spread(df, min_partitions=4)
        assert out is df  # accurate partition count kicked in
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_byte_conf_parses_unit_suffixes(spark):
    from s3_parquet_to_postgres_spark.functions.layout import _byte_conf

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    key = "spark.sql.files.maxPartitionBytes"
    try:
        for raw, expect in [("134217728", 134217728), ("128m", 128 << 20),
                            ("128MB", 128 << 20), ("1g", 1 << 30),
                            ("4096k", 4096 << 10)]:
            spark.conf.set(key, raw)
            assert _byte_conf(spark, key, 1) == expect, raw
    finally:
        spark.conf.set(key, old)


def test_est_scan_partitions_uses_spark_split_formula(spark):
    # 200 MB on N cores: Spark packs by bytes-per-core (min with
    # maxPartitionBytes, floor at openCost), NOT by 128 MB alone.
    from s3_parquet_to_postgres_spark.functions.layout import (
        _est_scan_partitions,
    )

    cores = spark.sparkContext.defaultParallelism
    est = _est_scan_partitions(spark, 200 << 20)
    # bytes_per_core = 200MB/cores; if that's below openCost (4MB),
    # split = 4MB -> 50 partitions; either way >= min(cores, 50).
    assert est >= min(cores, 50)
    # a tiny input is one partition, not zero
    assert _est_scan_partitions(spark, 10) == 1


def test_shuffle_partitions_auto_falls_back_to_default_parallelism():
    """Distro sessions may carry spark.sql.shuffle.partitions="auto"
    (OSS Spark refuses to set it, so a stub session stands in): the
    width reader and the pair-stage width fall back to the default
    parallelism instead of raising ValueError."""
    from types import SimpleNamespace

    from s3_parquet_to_postgres_spark.functions.layout import (
        explode_width,
        shuffle_partitions,
    )

    def session(raw):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda key, default=None: raw),
            sparkContext=SimpleNamespace(defaultParallelism=3),
        )

    auto = session("auto")
    assert shuffle_partitions(auto) == 3
    assert explode_width(auto, 0) == 3
    assert explode_width(auto, 10_000_000) == 3
    assert shuffle_partitions(session("16")) == 16
    assert explode_width(session("16"), 10_000_000) == 16
