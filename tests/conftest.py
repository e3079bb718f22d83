from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from s3_parquet_to_postgres_spark.catalog import TABLES, read_table
from s3_parquet_to_postgres_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_confs={"spark.ui.enabled": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    # Default: smoke scale for fast iteration. Set
    # SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 to replay the oracle
    # suite at the driver's correctness scale.
    return os.environ.get("SPARK_GRAFT_TEST_SF", SF_SMOKE)


def register_temp_views(spark, sf_dir: str) -> None:
    """Expose every catalog table as a temp view, for tests that run
    SQL text through ``spark.sql``."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
