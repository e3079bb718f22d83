"""operators/ranking.py: distributed exact ranking must be
bit-identical to the single-task ``row_number()/ntile() OVER
(ORDER BY ...)`` it replaces (the ml_rfm_segments / round-4-verdict
class). At test scale the global window is cheap, so it serves as
the oracle."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from s3_parquet_to_postgres_spark.operators.ranking import (
    global_row_number,
    ntile_from_row_number,
)


def _df(spark, n, dup_every=3, seed=7, parts=5):
    rng = random.Random(seed)
    rows = [
        (i, rng.randrange(max(1, n // dup_every)), rng.random())
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "id long, key long, noise double"
    ).repartition(parts)


@pytest.mark.parametrize("n,num_partitions", [
    (0, 4),        # empty input
    (1, 4),        # single row
    (5, 8),        # fewer rows than partitions
    (97, 3),
    (1000, 16),
])
def test_global_row_number_matches_global_window(spark, n, num_partitions):
    df = _df(spark, n)
    order = [F.col("key").asc(), F.col("id").asc()]  # total order
    got, total = global_row_number(
        df, order, out="rn", num_partitions=num_partitions
    )
    assert total == n
    want = df.withColumn(
        "rn_ref",
        F.row_number().over(Window.orderBy(*order)).cast("long"),
    )
    joined = got.join(want.select("id", "rn_ref"), "id")
    assert joined.filter(F.col("rn") != F.col("rn_ref")).count() == 0
    if n:
        agg = joined.agg(
            F.min("rn").alias("lo"), F.max("rn").alias("hi"),
            F.countDistinct("rn").alias("d"),
        ).first()
        assert (agg["lo"], agg["hi"], agg["d"]) == (1, n, n)


def test_global_row_number_all_equal_keys(spark):
    """Degenerate order key (every row identical): the tiebreak column
    must still produce a dense 1..N permutation."""
    df = spark.createDataFrame(
        [(i, 42) for i in range(200)], "id long, key long"
    ).repartition(7)
    got, total = global_row_number(
        df, [F.col("key").asc(), F.col("id").asc()],
        out="rn", num_partitions=5,
    )
    assert total == 200
    rows = got.select("id", "rn").collect()
    assert sorted(r["rn"] for r in rows) == list(range(1, 201))
    # key is constant, so rank order == id order
    assert all(r["rn"] == r["id"] + 1 for r in rows)


@pytest.mark.parametrize("n,buckets", [
    (1000, 5),   # even split
    (997, 5),    # remainder buckets
    (7, 10),     # total < buckets (q == 0 branch)
    (10, 10),
    (1, 5),
])
def test_ntile_from_row_number_matches_ansi_ntile(spark, n, buckets):
    df = _df(spark, n, parts=4)
    order = [F.col("noise").asc(), F.col("id").asc()]
    got, total = global_row_number(df, order, out="rn", num_partitions=6)
    mine = got.withColumn(
        "nt", ntile_from_row_number(F.col("rn"), buckets, total)
    )
    ref = df.withColumn(
        "nt_ref",
        F.ntile(buckets).over(Window.orderBy(*order)).cast("long"),
    )
    j = mine.join(ref.select("id", "nt_ref"), "id")
    assert j.filter(F.col("nt") != F.col("nt_ref")).count() == 0


def test_chained_rankings_release_predecessor_blocks(spark):
    """Chained rankings keep ONE pinned checkpoint, not one per call:
    release_pinned(prev) after the next ranking materializes frees the
    predecessor's blocks (the ml_rfm_segments memory posture), and the
    final result is still the exact chained ranking."""
    from s3_parquet_to_postgres_spark.operators.ranking import (
        release_pinned,
    )

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = _df(spark, 200)
    r1, _ = global_row_number(
        df, [F.col("key").asc(), F.col("id").asc()], out="rn1",
        num_partitions=4,
    )
    r2, total = global_row_number(
        r1, [F.col("noise").asc(), F.col("id").asc()], out="rn2",
        num_partitions=4,
    )
    release_pinned(r1)
    # exactly one NEW pinned RDD survives (r2's checkpoint)
    assert jsc.getPersistentRDDs().size() == before + 1
    assert total == 200
    rows = r2.orderBy("rn2").collect()
    assert [r["rn2"] for r in rows] == list(range(1, 201))
    # rn1 column survives the chain and is itself a permutation
    assert sorted(r["rn1"] for r in rows) == list(range(1, 201))
    release_pinned(r2)
    assert jsc.getPersistentRDDs().size() == before


def test_pin_handle_unavailable_falls_back(spark, monkeypatch, caplog):
    """The checkpoint-pin handle rides on a PRIVATE Spark attribute
    path; if an upgrade breaks it, global_row_number must degrade to
    "no early release" (a memory posture) with the SAME correct
    ranking, and say so once in the log instead of failing or going
    silent. This test is the tripwire's tripwire: it pins the
    fallback behavior itself."""
    import logging

    from s3_parquet_to_postgres_spark.operators import ranking as rk

    monkeypatch.setattr(rk, "_warned_pin_unavailable", False)
    real_acquire = rk._acquire_pin_handle

    def broken_acquire(stamped):
        raise AttributeError("queryExecution path gone")

    monkeypatch.setattr(rk, "_acquire_pin_handle", broken_acquire)
    with caplog.at_level(logging.WARNING,
                         logger="s3_parquet_to_postgres_spark.operators.ranking"):
        got, total = global_row_number(
            _df(spark, 120),
            [F.col("key").asc(), F.col("id").asc()],
            out="rn", num_partitions=4,
        )
        assert total == 120
        assert not hasattr(got, "_grn_pinned")
        rk.release_pinned(got)  # no handle: must be a harmless no-op
        rows = got.orderBy("rn").collect()
        # second construction does not re-log (once per process)
        global_row_number(
            _df(spark, 30), [F.col("id").asc()], out="rn2",
            num_partitions=2,
        )
    assert [r["rn"] for r in rows] == list(range(1, 121))
    warned = [r for r in caplog.records if "pin handle unavailable" in r.message]
    assert len(warned) == 1
    assert rk._warned_pin_unavailable is True

    # Second case: pagerank pins two eager checkpoints (the
    # re-partitioned adjacency and the final ranks) through the same
    # path -- same ranks, nothing registered, one warning naming it.
    from s3_parquet_to_postgres_spark.operators.components import pagerank

    monkeypatch.setattr(rk, "_acquire_pin_handle", real_acquire)
    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 3), (1, 3), (3, 4)]
         for a, b in ((a, b), (b, a))],
        "src long, dst long",
    )
    rk.drain_pins()
    want = sorted(map(tuple, pagerank(edges).collect()))
    assert len(rk._live_pins) == 2  # adjacency + ranks
    rk.drain_pins()
    monkeypatch.setattr(rk, "_warned_pin_unavailable", False)
    monkeypatch.setattr(rk, "_acquire_pin_handle", broken_acquire)
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="s3_parquet_to_postgres_spark.operators.ranking"):
        got = sorted(map(tuple, pagerank(edges).collect()))
    assert got == want
    assert rk._live_pins == []
    warned = [r for r in caplog.records if "pin handle unavailable" in r.message]
    assert len(warned) == 1 and "pagerank" in warned[0].message


def test_drain_pins_releases_everything(spark):
    """drain_pins() frees every outstanding checkpoint pin -- the
    long-session (bench loop / plan sweep) posture where the FINAL
    ranking of an eager plan has no in-plan release point.

    Asserts on the module pin registry and the SPECIFIC pinned RDD
    ids, never on ``getPersistentRDDs().size()`` deltas: in a long
    shared-session run Spark's ContextCleaner concurrently unpersists
    unrelated GC'd RDDs between snapshot and assert, so absolute
    size deltas are racy (observed 1-in-2 full-suite flake, round-8
    verdict). Our own handles can't be cleaner-collected -- the
    registry holds live references -- so per-id membership in the
    session's persistent-RDD map is race-free."""
    from s3_parquet_to_postgres_spark.operators import ranking as rk

    rk.drain_pins()  # isolate from earlier tests
    assert rk._live_pins == []
    r1, _ = global_row_number(
        _df(spark, 150), [F.col("key").asc(), F.col("id").asc()],
        out="rn1", num_partitions=4,
    )
    r2, _ = global_row_number(
        r1, [F.col("noise").asc(), F.col("id").asc()],
        out="rn2", num_partitions=4,
    )
    assert len(rk._live_pins) == 2
    pinned_ids = [h.id() for h in rk._live_pins]
    assert len(set(pinned_ids)) == 2
    jsc = spark.sparkContext._jsc.sc()
    for rid in pinned_ids:
        assert jsc.getPersistentRDDs().contains(rid)
    assert rk.drain_pins() == 2
    assert rk._live_pins == []
    for rid in pinned_ids:
        assert not jsc.getPersistentRDDs().contains(rid)
    assert rk.drain_pins() == 0  # idempotent


def test_release_pinned_removes_from_registry(spark):
    from s3_parquet_to_postgres_spark.operators import ranking as rk

    rk.drain_pins()
    r1, _ = global_row_number(
        _df(spark, 60), [F.col("key").asc(), F.col("id").asc()],
        out="rn", num_partitions=4,
    )
    assert len(rk._live_pins) == 1
    from s3_parquet_to_postgres_spark.operators.ranking import release_pinned
    release_pinned(r1)
    assert len(rk._live_pins) == 0
    release_pinned(r1)  # double release: harmless
