"""Every declared query with an oracle must match DuckDB exactly at
sf0.001 -- the same comparison the driver runs at sf0.01."""

from __future__ import annotations

from contextlib import contextmanager

import pytest

from s3_parquet_to_postgres_spark.plans import get_registry

from .oracle_harness import compare, duck_connection

REGISTRY = get_registry()
ORACLE_SPECS = [s for s in REGISTRY.values() if s.oracle is not None]
ROWS_ONLY_SPECS = [s for s in REGISTRY.values() if s.oracle is None]


def _session_state(spark) -> dict[str, set]:
    return {
        "confs": set(spark.conf.getAll.items()),
        "tables": {(t.name, t.isTemporary) for t in spark.catalog.listTables()},
        # SHOW USER FUNCTIONS lists exactly the non-builtin (temporary
        # or persistent) functions; catalog.listFunctions() would build
        # a record for each of the ~530 builtins, ~1 s per call.
        "functions": {
            r.function for r in spark.sql("SHOW USER FUNCTIONS").collect()
        },
    }


@contextmanager
def leaves_session_unchanged(spark, name: str):
    """Construction leaves no session state behind: the confs,
    tables/temp views and user functions are the same after the body
    as before it."""
    before = _session_state(spark)
    yield
    after = _session_state(spark)
    changed = {k: before[k] ^ after[k] for k in before if before[k] != after[k]}
    assert not changed, f"{name} left session state behind: {changed}"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("spec", ORACLE_SPECS, ids=lambda s: s.name)
def test_oracle_parity(spec, spark, sf_dir, duck):
    with leaves_session_unchanged(spark, spec.name):
        df = spec.fn(spark, sf_dir)
    compare(df, duck, spec.oracle, name=spec.name)


@pytest.mark.parametrize("spec", ROWS_ONLY_SPECS, ids=lambda s: s.name)
def test_rows_only_runs(spec, spark, sf_dir):
    with leaves_session_unchanged(spark, spec.name):
        df = spec.fn(spark, sf_dir)
    # Same bar the driver applies: runs, stable schema, >= 0 rows.
    assert df.columns
    assert df.count() >= 0
