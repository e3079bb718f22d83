"""Session-state ownership: ``session.py`` is the only code that writes
a session conf, the scoped writers (``eager_build_scope``, the
``events`` schema inference in ``catalog.read_table``) restore what
they touched, and plan code creates no temp view or function.

The test-only temp-view loader, ``register_temp_views``, lives in
``tests/conftest.py``."""

from __future__ import annotations

import datetime
import pathlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from s3_parquet_to_postgres_spark.catalog import read_table
from s3_parquet_to_postgres_spark.session import eager_build_scope

PKG = pathlib.Path(__file__).parents[1] / "s3_parquet_to_postgres_spark"
AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_only_session_py_writes_confs_and_plan_code_registers_nothing():
    catalog_writes = ("TempView(", "udf.register(", "udtf.register(")
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        src = path.read_text()
        if "conf.set(" in src and rel != pathlib.Path("session.py"):
            offenders.append(f"{rel}: conf.set(")
        if rel.parts[0] in ("operators", "plans"):
            offenders += [f"{rel}: {p}" for p in catalog_writes if p in src]
    assert offenders == [], (
        "plan construction must leave the session as it found it; use "
        f"session.eager_build_scope or DataFrame arguments: {offenders}"
    )


def test_eager_build_scope_sets_and_restores_both_confs(spark):
    was = (spark.conf.get(AQE), spark.conf.get(WIDTH))
    with eager_build_scope(spark):
        assert (spark.conf.get(AQE), spark.conf.get(WIDTH)) == ("false", was[1])
    with pytest.raises(RuntimeError, match="boom"):
        with eager_build_scope(spark, shuffle_partitions=3):
            assert (spark.conf.get(AQE), spark.conf.get(WIDTH)) == ("false", "3")
            raise RuntimeError("boom")
    assert (spark.conf.get(AQE), spark.conf.get(WIDTH)) == was


def test_scope_unsets_confs_the_caller_never_set(spark):
    # A foreign session that never set AQE or the shuffle width must not
    # leave the scope with either pinned to its default.
    s = spark.newSession()
    for k in (AQE, WIDTH):
        s.conf.unset(k)
    before = s.conf.getAll
    with eager_build_scope(s, shuffle_partitions=2):
        assert (s.conf.get(AQE), s.conf.get(WIDTH)) == ("false", "2")
    assert s.conf.getAll == before
    with pytest.raises(RuntimeError, match="boom"):
        with eager_build_scope(s, shuffle_partitions=2):
            raise RuntimeError("boom")
    assert s.conf.getAll == before
    assert s.conf.get(AQE, None) is None and s.conf.get(WIDTH, None) is None


def test_read_table_reads_nanos_events_without_the_conf(spark, tmp_path):
    # TIMESTAMP(NANOS) fails with PARQUET_TYPE_ILLEGAL unless nanosAsLong
    # is set; read_table scopes it to the schema inference and truncates
    # ns to us as DuckDB's read does (toward zero). 2024-03-10 02:30 is
    # in the session zone's DST gap.
    ns = [1_704_067_200_123_456_789, -1, -1001, 0,
          1_710_037_800_000_000_999]
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(ns)), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        tmp_path / "events.parquet",
    )
    s = spark.newSession()
    s.conf.unset(NANOS)
    s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    before = s.conf.getAll
    df = read_table(s, str(tmp_path), "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    got = [r.ts for r in df.orderBy("event_id").collect()]
    assert s.conf.getAll == before and s.conf.get(NANOS, None) is None
    duck = duckdb.sql(
        f"SELECT ts FROM read_parquet('{tmp_path}/events.parquet') "
        "ORDER BY event_id"
    ).fetchall()
    assert got == [r[0] for r in duck]
    assert got[1:3] == [datetime.datetime(1970, 1, 1),
                        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)]
