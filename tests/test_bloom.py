"""Bloom-filter semi-join reduction: no false negatives ever (join
results identical to the plain join), false-positive rate within the
analytic bound, long and string keys, unsound join types rejected."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.operators.bloom import (
    bloom_filter_join,
    bloom_prune,
)


@pytest.fixture(scope="module")
def probe(spark):
    return spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).localCheckpoint()


@pytest.fixture(scope="module")
def build(spark):
    # ~206 keys, every 97th id.
    return spark.range(0, 20000, 97).select(
        F.col("id").alias("bk")
    ).localCheckpoint()


def test_prune_is_superset_of_semi_join(probe, build):
    pruned = set(
        r["k"] for r in bloom_prune(probe, build, "k", "bk",
                                    num_bits=1 << 14).collect()
    )
    matching = set(
        r["k"]
        for r in probe.join(
            build, F.col("k") == F.col("bk"), "left_semi"
        ).collect()
    )
    assert matching <= pruned  # no false negatives, by construction


def test_join_identical_to_plain_join(probe, build):
    plain = sorted(
        map(tuple, probe.join(
            build, F.col("k") == F.col("bk")).collect())
    )
    bloomed = sorted(
        map(tuple, bloom_filter_join(
            probe, build, "k", "bk", num_bits=1 << 14).collect())
    )
    assert plain == bloomed


def test_false_positive_rate_within_bound(probe, build):
    m, k = 1 << 14, 5
    n = build.count()
    pruned = bloom_prune(probe, build, "k", "bk",
                         num_bits=m, num_hashes=k).count()
    matches = probe.join(
        build, F.col("k") == F.col("bk"), "left_semi"
    ).count()
    fpp = (1 - 2.718281828 ** (-k * n / m)) ** k
    non_matching = probe.count() - matches
    # 3x the analytic expectation + slack absorbs hash variance.
    assert pruned - matches <= 3 * fpp * non_matching + 10


def test_string_keys(spark):
    probe = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(2000)], ["k"]
    )
    build = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(0, 2000, 50)], ["bk"]
    )
    got = sorted(
        r["k"]
        for r in bloom_filter_join(
            probe, build, "k", "bk", num_bits=1 << 13
        ).collect()
    )
    assert got == sorted(f"doc-{i}" for i in range(0, 2000, 50))


def test_probe_side_plan_has_no_python_stage(probe, build):
    # The whole prune must stay JVM-side: no BatchEvalPython /
    # ArrowEvalPython nodes (UDF fallback would be the slow path).
    plan = bloom_prune(
        probe, build, "k", "bk", num_bits=1 << 14
    )._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
