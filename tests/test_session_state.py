"""Session-state ownership: ``session.py`` is the only code that writes
a session conf, ``eager_build_scope`` is the only construction-time
writer and restores what it touched, and plan code creates no temp
view or function.

``catalog.register_temp_views`` is the explicit test-loader API and
lives outside the scanned directories."""

from __future__ import annotations

import pathlib
import types

import pytest

from s3_parquet_to_postgres_spark.session import (
    apply_required_confs,
    eager_build_scope,
)

PKG = pathlib.Path(__file__).parents[1] / "s3_parquet_to_postgres_spark"
AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"


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


def test_apply_required_confs_reraises_unexpected_errors():
    def refuse(key, value):
        raise RuntimeError(f"cannot set {key}")

    stub = types.SimpleNamespace(conf=types.SimpleNamespace(set=refuse))
    with pytest.raises(RuntimeError, match="cannot set"):
        apply_required_confs(stub)


def test_apply_required_confs_skips_static_confs_on_live_session(spark):
    # spark.sql.codegen.cache.maxEntries is static: setting it on the
    # live session raises CANNOT_MODIFY_STATIC_CONFIG, which is skipped.
    assert apply_required_confs(spark) is spark
