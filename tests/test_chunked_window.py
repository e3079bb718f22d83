"""operators/chunked_window.py: chunk-and-stitch per-key windows must
be BIT-IDENTICAL to the single-task window they replace, on data with
a pathologically hot key (the 100 TB straggler scenario: one key
owning most rows). Width sweep covers narrower-than-gap buckets
(sessions span many buckets), wider-than-gap, and the one-bucket
degenerate case (stitch reduces to the plain window)."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from s3_parquet_to_postgres_spark.operators.chunked_window import (
    chunked_cumsum,
    sessionize_chunked,
)

GAP_SEC = 120.0
BASE = datetime.datetime(2024, 1, 1)


def _skewed_events(spark, n=3000, seed=11):
    """~80% of rows on one hot key; inter-event gaps straddle the
    session gap so sessions split and merge at many bucket widths;
    duplicate timestamps included (tiebreak column required)."""
    rng = random.Random(seed)
    rows = []
    t = 0.0
    for i in range(n):
        key = "hot" if rng.random() < 0.8 else f"u{rng.randrange(20)}"
        # jumps: mostly small (< gap), sometimes >= gap, sometimes 0
        r = rng.random()
        if r < 0.1:
            step = 0.0
        elif r < 0.8:
            step = rng.uniform(0.5, 90.0)
        else:
            step = rng.uniform(GAP_SEC, GAP_SEC * 4)
        t += step
        rows.append((i, key, BASE + datetime.timedelta(seconds=t),
                     rng.randrange(5)))
    return spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, v long"
    ).repartition(7)


def _collect_map(df, keys, val):
    return {tuple(r[k] for k in keys): r[val] for r in df.collect()}


@pytest.mark.parametrize("width_sec", [7.0, 60.0, 300.0, 10_000_000.0])
def test_sessionize_chunked_matches_plain_window(spark, width_sec):
    df = _skewed_events(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new = (
        F.lag(us).over(w).isNull()
        | (us - F.lag(us).over(w) >= F.lit(int(GAP_SEC * 1_000_000)))
    ).cast("long")
    plain = df.withColumn(
        "sid",
        F.sum(new).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    chunked = sessionize_chunked(
        df, ["user_id"], "ts", gap_sec=GAP_SEC,
        bucket_width_sec=width_sec, out="sid",
        tiebreak_cols=["event_id"],
    )
    assert sorted(chunked.columns) == sorted(plain.columns)
    got = _collect_map(chunked, ["event_id"], "sid")
    want = _collect_map(plain, ["event_id"], "sid")
    assert got == want


@pytest.mark.parametrize("width_sec", [7.0, 300.0, 10_000_000.0])
def test_chunked_cumsum_matches_plain_window(spark, width_sec):
    df = _skewed_events(spark)
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    plain = df.withColumn("run", F.sum("v").over(w))
    chunked = chunked_cumsum(
        df, ["user_id"], "ts", "v", out="run",
        bucket_width_sec=width_sec, tiebreak_cols=["event_id"],
    )
    assert _collect_map(chunked, ["event_id"], "run") == _collect_map(
        plain, ["event_id"], "run"
    )


def test_chunked_running_unique_composition(spark):
    """running-unique = chunked_cumsum over first-occurrence flags:
    the composition the catalog's event_running_unique would use if a
    key ever went pathological."""
    df = _skewed_events(spark)
    w_first = Window.partitionBy("user_id", "v").orderBy("ts", "event_id")
    flagged = df.withColumn(
        "is_first", (F.row_number().over(w_first) == 1).cast("long")
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    plain = flagged.withColumn("n_uniq", F.sum("is_first").over(w))
    chunked = chunked_cumsum(
        flagged, ["user_id"], "ts", "is_first", out="n_uniq",
        bucket_width_sec=45.0, tiebreak_cols=["event_id"],
    )
    assert _collect_map(chunked, ["event_id"], "n_uniq") == _collect_map(
        plain, ["event_id"], "n_uniq"
    )


def test_hot_key_spreads_across_tasks(spark):
    """The scale property itself: the order-dependent stage hash-
    partitions on (key, bucket), so the hot key's rows land in MANY
    shuffle partitions instead of one task's sort buffer."""
    df = _skewed_events(spark)
    chunked = sessionize_chunked(
        df, ["user_id"], "ts", gap_sec=GAP_SEC, bucket_width_sec=30.0,
        tiebreak_cols=["event_id"],
    )
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "__cw_bucket" in plan, plan
    # the hot key's rows occupy many distinct buckets at this width
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        _bucketed,
    )
    n_buckets = (
        _bucketed(df.filter(F.col("user_id") == "hot"), "ts", 30.0)
        .select("__cw_bucket").distinct().count()
    )
    assert n_buckets > 100


def test_bad_bucket_width_raises(spark):
    df = _skewed_events(spark, n=10)
    with pytest.raises(ValueError, match="bucket_width_sec"):
        sessionize_chunked(df, ["user_id"], "ts", 10.0, 0.0)


def test_sessionize_chunked_edge_cases(spark):
    """Deterministic boundaries: a diff EXACTLY equal to the gap opens
    a new session (>= semantics, matching the oracle's INTERVAL
    comparison); pre-1970 timestamps bucket correctly (floor of a
    negative epoch); all-identical timestamps collapse to one session
    regardless of bucket width."""
    rows = [
        # user "a": diffs exactly 120s -> every event its own session
        (0, "a", BASE, 0),
        (1, "a", BASE + datetime.timedelta(seconds=120), 0),
        (2, "a", BASE + datetime.timedelta(seconds=240), 0),
        # user "b": pre-1970 (negative epoch), 1s apart -> one session
        (3, "b", datetime.datetime(1969, 12, 31, 23, 59, 58), 0),
        (4, "b", datetime.datetime(1969, 12, 31, 23, 59, 59), 0),
        (5, "b", datetime.datetime(1970, 1, 1, 0, 0, 0), 0),
        # user "c": identical timestamps -> one session
        (6, "c", BASE, 0),
        (7, "c", BASE, 0),
        (8, "c", BASE, 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, v long"
    )
    for width in (1.0, 120.0, 1e9):
        got = {
            (r["user_id"], r["event_id"]): r["sid"]
            for r in sessionize_chunked(
                df, ["user_id"], "ts", gap_sec=GAP_SEC,
                bucket_width_sec=width, out="sid",
                tiebreak_cols=["event_id"],
            ).collect()
        }
        assert got[("a", 0)] == 1 and got[("a", 1)] == 2 and got[("a", 2)] == 3, (width, got)
        assert got[("b", 3)] == got[("b", 4)] == got[("b", 5)] == 1, (width, got)
        assert got[("c", 6)] == got[("c", 7)] == got[("c", 8)] == 1, (width, got)


def test_null_partition_key_rows_survive(spark):
    """A NULL key (null user id -- the classic hot key) must behave
    exactly like the plain window's single NULL partition, not get
    dropped by a null-unsafe stitch join."""
    rows = [
        (0, None, BASE, 1),
        (1, None, BASE + datetime.timedelta(seconds=50), 2),
        (2, None, BASE + datetime.timedelta(seconds=400), 3),
        (3, "u", BASE, 4),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, v long"
    )
    sess = {
        r["event_id"]: r["sid"]
        for r in sessionize_chunked(
            df, ["user_id"], "ts", gap_sec=GAP_SEC, bucket_width_sec=60.0,
            out="sid", tiebreak_cols=["event_id"],
        ).collect()
    }
    assert sess == {0: 1, 1: 1, 2: 2, 3: 1}
    run = {
        r["event_id"]: r["run"]
        for r in chunked_cumsum(
            df, ["user_id"], "ts", "v", out="run", bucket_width_sec=60.0,
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert run == {0: 1, 1: 3, 2: 6, 3: 4}


def test_chunked_cumsum_null_values_match_plain_window(spark):
    """SUM-over-frame skips NULL values; a row after non-null rows
    still carries the running total, and a row whose entire frame is
    NULL-valued gets NULL. The naive local+offset stitch returned
    NULL for any NULL-local prefix -- pinned here against the plain
    window on data that opens with NULLs, closes with NULLs, and has
    an all-NULL bucket in the middle."""
    rows = [
        # user "a": starts NULL (frame all-null -> NULL), then values
        (0, "a", BASE, None),
        (1, "a", BASE + datetime.timedelta(seconds=10), 5),
        # next bucket (width 60): all-NULL bucket
        (2, "a", BASE + datetime.timedelta(seconds=70), None),
        (3, "a", BASE + datetime.timedelta(seconds=80), None),
        # third bucket: opens NULL (local prefix NULL, prior total 5)
        (4, "a", BASE + datetime.timedelta(seconds=130), None),
        (5, "a", BASE + datetime.timedelta(seconds=140), 7),
        (6, "b", BASE, None),  # lone all-NULL user -> NULL everywhere
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, v long"
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    plain = {r["event_id"]: r["run"]
             for r in df.withColumn("run", F.sum("v").over(w)).collect()}
    assert plain == {0: None, 1: 5, 2: 5, 3: 5, 4: 5, 5: 12, 6: None}
    got = {
        r["event_id"]: r["run"]
        for r in chunked_cumsum(
            df, ["user_id"], "ts", "v", out="run", bucket_width_sec=60.0,
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert got == plain


def _with_nullable_value(df):
    """v=0 becomes NULL: lag/carry must treat a NULL observation as a
    real row (lag passes it through; carry skips it)."""
    return df.withColumn(
        "nv", F.when(F.col("v") == 0, F.lit(None)).otherwise(F.col("v"))
    )


@pytest.mark.parametrize("width_sec", [7.0, 60.0, 300.0, 10_000_000.0])
def test_chunked_lag_matches_plain_window(spark, width_sec):
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_lag,
    )

    df = _with_nullable_value(_skewed_events(spark))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    plain = df.withColumn("prev", F.lag("nv").over(w))
    chunked = chunked_lag(
        df, ["user_id"], "ts", "nv", out="prev",
        bucket_width_sec=width_sec, tiebreak_cols=["event_id"],
    )
    assert sorted(chunked.columns) == sorted(plain.columns)
    assert _collect_map(chunked, ["event_id"], "prev") == _collect_map(
        plain, ["event_id"], "prev"
    )


@pytest.mark.parametrize("forward", [True, False])
@pytest.mark.parametrize("width_sec", [7.0, 300.0, 10_000_000.0])
def test_chunked_last_carry_matches_plain_window(spark, width_sec, forward):
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_last_carry,
    )

    df = _with_nullable_value(_skewed_events(spark))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    if forward:
        ref = F.last("nv", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        ref = F.first("nv", ignorenulls=True).over(
            w.rowsBetween(0, Window.unboundedFollowing)
        )
    plain = df.withColumn("carry", ref)
    chunked = chunked_last_carry(
        df, ["user_id"], "ts", "nv", out="carry",
        bucket_width_sec=width_sec, tiebreak_cols=["event_id"],
        forward=forward,
    )
    assert _collect_map(chunked, ["event_id"], "carry") == _collect_map(
        plain, ["event_id"], "carry"
    )


@pytest.mark.parametrize("frame_rows", [1, 3, 10])
@pytest.mark.parametrize("width_sec", [7.0, 300.0, 10_000_000.0])
def test_chunked_frame_list_matches_plain_window(spark, width_sec, frame_rows):
    """Bounded ROWS-frame list: identical element VALUES in identical
    order to collect_list over the plain window, including NULL
    observations dropped post-assembly (positionally, not before)
    and NULL partition keys."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_frame_list,
    )

    df = _with_nullable_value(_skewed_events(spark))
    df = df.withColumn(
        "user_id",
        F.when(F.col("event_id") % 17 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-(frame_rows - 1), 0)
    )
    plain = df.withColumn("l", F.collect_list("nv").over(w))
    chunked = chunked_frame_list(
        df, ["user_id"], "ts", "nv", out="l", frame_rows=frame_rows,
        bucket_width_sec=width_sec, tiebreak_cols=["event_id"],
    )
    assert sorted(chunked.columns) == sorted(plain.columns)
    assert _collect_map(chunked, ["event_id"], "l") == _collect_map(
        plain, ["event_id"], "l"
    )


def test_chunked_frame_list_bad_frame_raises(spark):
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_frame_list,
    )

    df = _skewed_events(spark, n=10)
    with pytest.raises(ValueError, match="frame_rows"):
        chunked_frame_list(df, ["user_id"], "ts", "v", "l", 0, 60.0)


def test_event_ewma_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_ewma_chunked must be BIT-EQUAL to
    event_ewma (they share EVENT_EWMA_SQL, so the driver hash proves
    the same -- this is the fast local tripwire)."""
    from s3_parquet_to_postgres_spark.plans.curation import (
        event_ewma, event_ewma_chunked,
    )

    plain = {r["event_id"]: r["ewma"]
             for r in event_ewma(spark, sf_dir).collect()}
    got = {r["event_id"]: r["ewma"]
           for r in event_ewma_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_chunked_lag_struct_values_and_null_keys(spark):
    """Struct-typed carry (the gapfill (day, value) shape) plus NULL
    partition keys — the hot-key case the operators exist for."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_lag, chunked_last_carry,
    )

    df = _skewed_events(spark, n=800)
    df = df.withColumn(
        "user_id",
        F.when(F.col("user_id") == "hot", F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    obs = F.when(
        F.col("v") > 0, F.struct(F.col("ts").alias("t"), F.col("v").alias("x"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    plain = df.withColumn("p_lag", F.lag(obs).over(w)).withColumn(
        "p_carry",
        F.last(obs, ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    got = chunked_lag(
        df, ["user_id"], "ts", obs, out="p_lag",
        bucket_width_sec=90.0, tiebreak_cols=["event_id"],
    )
    got = chunked_last_carry(
        got, ["user_id"], "ts", obs, out="p_carry",
        bucket_width_sec=90.0, tiebreak_cols=["event_id"],
    )
    assert plain.count() == got.count() == 800  # null keys survive
    for col in ("p_lag", "p_carry"):
        assert _collect_map(got, ["event_id"], col) == _collect_map(
            plain, ["event_id"], col
        )


def test_event_transitions_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_transitions_chunked must be BIT-EQUAL
    to event_transitions (they share EVENT_TRANSITIONS_SQL, so the
    driver hash proves the same -- this is the fast local tripwire
    for the lag-chain chunked class)."""
    from s3_parquet_to_postgres_spark.plans.ext import (
        event_transitions, event_transitions_chunked,
    )

    plain = {(r["src"], r["dst"]): (r["transitions"], r["share"])
             for r in event_transitions(spark, sf_dir).collect()}
    got = {(r["src"], r["dst"]): (r["transitions"], r["share"])
           for r in event_transitions_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_event_pattern_match_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_pattern_match_chunked must be
    BIT-EQUAL to event_pattern_match (shared oracle SQL) -- the
    lead-chain chunked class via chunked_frame_list under reversed
    sort keys."""
    from s3_parquet_to_postgres_spark.plans.ext import (
        event_pattern_match, event_pattern_match_chunked,
    )

    key = lambda r: (r["user_id"], r["signup_event_id"])  # noqa: E731
    plain = {key(r): (r["error_event_id"], r["steps_to_error"])
             for r in event_pattern_match(spark, sf_dir).collect()}
    got = {key(r): (r["error_event_id"], r["steps_to_error"])
           for r in event_pattern_match_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


@pytest.mark.parametrize("width_sec", [7.0, 300.0, 10_000_000.0])
def test_chunked_frame_list_reversed_keys_is_lead_chain(spark, width_sec):
    """The lead-chain recipe (PLANS.md hot-key table): re-key by
    (timestamp_micros(-unix_micros(ts)), -event_id), assemble a
    4-row frame under the REVERSED order, and read lead(j) at
    0-based index size-1-j. Must equal F.lead(v, j) over the plain
    ascending window for j = 1..3 on the 80%-hot-key corpus at every
    bucket width, including duplicate-timestamp ties."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_frame_list,
    )

    df = _skewed_events(spark, n=1500).select(
        "event_id", "user_id", "ts", "v",
        F.timestamp_micros(
            -F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("__rev_ts"),
        (-F.col("event_id")).alias("__rev_id"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    plain = df.select(
        "event_id",
        *[F.lead("v", j).over(w).alias(f"lead{j}") for j in (1, 2, 3)],
    )
    framed = chunked_frame_list(
        df, ["user_id"], "__rev_ts", F.struct(F.col("v").alias("v")),
        out="__ahead", frame_rows=4, bucket_width_sec=width_sec,
        tiebreak_cols=["__rev_id"],
    )
    sz = F.size("__ahead")
    got_df = framed.select(
        "event_id",
        *[F.get("__ahead", sz - 1 - j)["v"].alias(f"lead{j}")
          for j in (1, 2, 3)],
    )
    want = {r["event_id"]: (r["lead1"], r["lead2"], r["lead3"])
            for r in plain.collect()}
    got = {r["event_id"]: (r["lead1"], r["lead2"], r["lead3"])
           for r in got_df.collect()}
    assert got == want and len(got) == 1500


def test_event_top_paths_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_top_paths_chunked must be BIT-EQUAL
    to event_top_paths (shared oracle SQL) -- the lag-1/lag-2 chain
    from one ascending chunked_frame_list pass."""
    from s3_parquet_to_postgres_spark.plans.ext import (
        event_top_paths, event_top_paths_chunked,
    )

    plain = [(r["path"], r["n_walks"], r["n_users"])
             for r in event_top_paths(spark, sf_dir).collect()]
    got = [(r["path"], r["n_walks"], r["n_users"])
           for r in event_top_paths_chunked(spark, sf_dir).collect()]
    assert got == plain and len(got) > 0


def test_event_bot_signals_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_bot_signals_chunked must be BIT-EQUAL
    to event_bot_signals (shared oracle SQL) -- chunked_lag on
    inter-arrival micros, the bot-detection hot-key case."""
    from s3_parquet_to_postgres_spark.plans.mining import (
        event_bot_signals, event_bot_signals_chunked,
    )

    cols = ["n_gaps", "sum_gap_s", "min_gap_s", "max_per_minute",
            "burstiness"]
    plain = {r["user_id"]: tuple(r[c] for c in cols)
             for r in event_bot_signals(spark, sf_dir).collect()}
    got = {r["user_id"]: tuple(r[c] for c in cols)
           for r in event_bot_signals_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_scd2_user_state_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: scd2_user_state_chunked must be BIT-EQUAL
    to scd2_user_state (shared oracle SQL) -- both ordered stages
    chunk-and-stitched (lag ascending, lead via reversed keys)."""
    from s3_parquet_to_postgres_spark.plans.curation import (
        scd2_user_state, scd2_user_state_chunked,
    )

    key = lambda r: (r["user_id"], r["valid_from"])  # noqa: E731
    plain = {key(r): (r["state"], r["valid_to"], r["is_current"])
             for r in scd2_user_state(spark, sf_dir).collect()}
    got = {key(r): (r["state"], r["valid_to"], r["is_current"])
           for r in scd2_user_state_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_event_concurrency_chunked_value_equal(spark, sf_dir):
    """Catalog-level pin: event_concurrency_chunked must produce the
    same per-day peaks and first-peak instants as event_concurrency
    (shared oracle SQL) -- the sweep-line running sum through
    chunked_cumsum with hour buckets inside the day key."""
    from s3_parquet_to_postgres_spark.plans.mining import (
        event_concurrency, event_concurrency_chunked,
    )

    plain = {r["day"]: (r["peak_concurrency"], r["first_peak_at"])
             for r in event_concurrency(spark, sf_dir).collect()}
    got = {r["day"]: (r["peak_concurrency"], r["first_peak_at"])
           for r in event_concurrency_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


@pytest.mark.parametrize("span", [120.0, 300.0, 10_000_000.0])
def test_chunked_range_agg_matches_plain_window(spark, span):
    """Ghost-row trailing-RANGE-frame aggregates must match the plain
    range window bit-for-bit on the 80%-hot-key corpus, for every
    range (the bucket width; up to one-bucket degenerate), including
    conditional aggregates with all-NULL frames."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_range_agg,
    )

    df = _skewed_events(spark, n=1500)
    us = F.unix_micros(F.col("ts"))
    cond = F.when(F.col("v") > 2, us)  # sparse: frames can be all-NULL
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-int(span * 1_000_000), 0)
    )
    plain = df.select(
        "event_id",
        F.count(cond).over(w).alias("n"),
        F.min(cond).over(w).alias("lo"),
        F.max(cond).over(w).alias("hi"),
    )
    got_df = chunked_range_agg(
        df, ["user_id"], "ts",
        {"n": F.count(cond), "lo": F.min(cond), "hi": F.max(cond)},
        range_sec=span,
    ).select("event_id", "n", "lo", "hi")
    want = {r["event_id"]: (r["n"], r["lo"], r["hi"])
            for r in plain.collect()}
    got = {r["event_id"]: (r["n"], r["lo"], r["hi"])
           for r in got_df.collect()}
    assert got == want and len(got) == 1500


def test_chunked_range_agg_bad_width_raises(spark):
    # The range is the bucket width, so a range under a microsecond
    # cannot bucket the timeline.
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_range_agg,
    )

    df = _skewed_events(spark, n=10)
    with pytest.raises(ValueError, match="bucket_width_sec must be > 0"):
        chunked_range_agg(df, ["user_id"], "ts", {"n": F.count("v")},
                          range_sec=0.0)


def test_chunked_range_agg_agg_name_collision_raises(spark):
    """An aggs key that shadows an input column (or a reserved __cw_*
    helper) must fail loud, not produce ambiguous duplicate columns
    downstream (round-8 advice)."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_range_agg,
    )

    df = _skewed_events(spark, n=10)
    with pytest.raises(ValueError, match="collides"):
        chunked_range_agg(df, ["user_id"], "ts", {"v": F.count("v")},
                          range_sec=60.0)
    with pytest.raises(ValueError, match="collides"):
        chunked_range_agg(df, ["user_id"], "ts",
                          {"__cw_ghost": F.count("v")}, range_sec=60.0)


def test_chunked_range_agg_fractional_seconds_round(spark):
    """A float range like 8.2 s must mean EXACTLY 8_200_000 us — the
    truncating int() would shrink the frame by 1 us versus a
    hand-written rangeBetween of the same nominal width (round-8
    advice). The data places an event exactly range_sec before
    another, so a 1 us shrink drops a frame-mate."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_range_agg,
    )

    span = 8.2  # 8.2 * 1e6 = 8199999.999... in binary floating point
    rows = [
        (1, "u", BASE, 1),
        (2, "u", BASE + datetime.timedelta(seconds=span), 1),
        (3, "u", BASE + datetime.timedelta(seconds=3 * span), 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, v long"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-8_200_000, 0)
    )
    plain = {r["event_id"]: r["n"] for r in df.select(
        "event_id", F.count("v").over(w).alias("n")
    ).collect()}
    got = {r["event_id"]: r["n"] for r in chunked_range_agg(
        df, ["user_id"], "ts", {"n": F.count("v")}, range_sec=span
    ).select("event_id", "n").collect()}
    assert got == plain
    assert got[2] == 2  # event 1 is exactly 8.2s back: IN the frame


def test_event_lookback_attribution_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_lookback_attribution_chunked must be
    BIT-EQUAL to event_lookback_attribution (shared oracle SQL) --
    the trailing-RANGE-frame class via ghost-row chunked_range_agg."""
    from s3_parquet_to_postgres_spark.plans.ext import (
        event_lookback_attribution, event_lookback_attribution_chunked,
    )

    cols = ["user_id", "purchase_ts", "n_clicks_1h", "first_click_ts",
            "last_click_ts"]
    plain = {r["event_id"]: tuple(r[c] for c in cols)
             for r in event_lookback_attribution(spark, sf_dir).collect()}
    got = {r["event_id"]: tuple(r[c] for c in cols)
           for r in event_lookback_attribution_chunked(
               spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_event_markov_stationary_chunked_bit_equal(spark, sf_dir):
    """Catalog-level pin: event_markov_stationary_chunked must be
    BIT-EQUAL to event_markov_stationary (shared oracle SQL) -- the
    mechanical chunked_lag swap under the quantized power rounds."""
    from s3_parquet_to_postgres_spark.plans.mining import (
        event_markov_stationary, event_markov_stationary_chunked,
    )

    plain = {r["state"]: r["pi_q"]
             for r in event_markov_stationary(spark, sf_dir).collect()}
    got = {r["state"]: r["pi_q"]
           for r in event_markov_stationary_chunked(spark, sf_dir).collect()}
    assert got == plain and len(got) > 0


def test_chunked_range_agg_null_partition_keys(spark):
    """NULL partition keys (the null-user hot-key case) group
    naturally under the window partitioning -- no join in this
    primitive, so no eqNullSafe subtlety -- but pin it explicitly
    like the other operators: results must match the plain range
    window including the NULL-key group, and no row may be lost."""
    from s3_parquet_to_postgres_spark.operators.chunked_window import (
        chunked_range_agg,
    )

    df = _skewed_events(spark, n=600)
    df = df.withColumn(
        "user_id",
        F.when(F.col("user_id") == "hot", F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-90_000_000, 0)
    )
    plain = df.select("event_id", F.count(us).over(w).alias("n"))
    got_df = chunked_range_agg(
        df, ["user_id"], "ts", {"n": F.count(us)}, range_sec=90.0,
    ).select("event_id", "n")
    want = {r["event_id"]: r["n"] for r in plain.collect()}
    got = {r["event_id"]: r["n"] for r in got_df.collect()}
    assert got == want and len(got) == 600
