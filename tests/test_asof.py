"""As-of join unit tests: tie semantics and directions."""


def test_asof_without_tolerance_keeps_latest(spark):
    from s3_parquet_to_postgres_spark.operators.asof import asof_join
    import datetime

    def ts(minute):
        return datetime.datetime(2024, 1, 1, 0, minute)

    left = spark.createDataFrame([(1, ts(40))], "k long, t timestamp")
    right = spark.createDataFrame(
        [(1, ts(9), "a"), (1, ts(11), "b"), (1, ts(41), "late")],
        "k long, t timestamp, v string",
    )
    out = asof_join(
        left, right.withColumnRenamed("t", "rt"),
        on="k", left_time="t", right_time="rt", right_payload=["v"],
    ).collect()
    # :11 is 29 minutes old and still matches: no match is dropped
    # for its age.
    assert [r["v"] for r in out] == ["b"]


def test_asof_right_order_breaks_equal_time_ties(spark):
    from s3_parquet_to_postgres_spark.operators.asof import asof_join
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 0, 10)
    left = spark.createDataFrame([(1, t0)], "k long, t timestamp")
    # Three right rows at the identical (key, time): the greatest
    # right_order value must win, independent of partition order.
    right = spark.createDataFrame(
        [(1, t0, 7, "lo"), (1, t0, 9, "hi"), (1, t0, 8, "mid")],
        "k long, rt timestamp, seq long, v string",
    ).repartition(4)
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        right_payload=["v"], right_order="seq",
    ).collect()
    assert len(out) == 1 and out[0]["v"] == "hi"


def test_asof_matches_brute_force_on_random_data(spark):
    """Randomized (seeded) differential test: the union+carry-forward
    plan must equal the obvious per-row definition -- latest right row
    with rt <= t, ties by right_order."""
    import datetime
    import random

    from s3_parquet_to_postgres_spark.operators.asof import asof_join

    rng = random.Random(0)
    base = datetime.datetime(2024, 1, 1)

    def ts(m):
        return base + datetime.timedelta(minutes=m)

    left_rows = [
        (rng.randrange(6), ts(rng.randrange(120)), i) for i in range(120)
    ]
    # ~1/4 NULL payloads: a matching right row with a NULL value must
    # yield NULL, never an older row's value (per-row definition; a
    # per-column last(ignorenulls) carry gets this wrong).
    right_rows = [
        (rng.randrange(6), ts(rng.randrange(120)), i,
         None if rng.random() < 0.25 else f"v{i}")
        for i in range(150)
    ]

    def expect(k, t):
        cands = [r for r in right_rows if r[0] == k and r[1] <= t]
        if not cands:
            return None
        return max(cands, key=lambda r: (r[1], r[2]))[3]

    left = spark.createDataFrame(left_rows, "k long, t timestamp, lid long")
    right = spark.createDataFrame(
        right_rows, "k long, rt timestamp, seq long, v string"
    ).repartition(7)
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        right_payload=["v"], right_order="seq",
    ).collect()
    assert len(out) == len(left_rows)
    got = {r["lid"]: r["v"] for r in out}
    want = {lid: expect(k, t) for k, t, lid in left_rows}
    assert got == want


def test_asof_forward_and_nearest_match_brute_force(spark):
    """Same randomized differential, for direction='forward' and
    'nearest' (pandas merge_asof semantics: forward = earliest
    rt >= t; nearest = closer side, ties to backward; greatest
    right_order wins equal-(key, time) ties in every direction)."""
    import datetime
    import random

    from s3_parquet_to_postgres_spark.operators.asof import asof_join

    rng = random.Random(7)
    base = datetime.datetime(2024, 1, 1)

    def ts(m):
        return base + datetime.timedelta(minutes=m)

    left_rows = [
        (rng.randrange(5), ts(rng.randrange(100)), i) for i in range(90)
    ]
    right_rows = [
        (rng.randrange(5), ts(rng.randrange(100)), i,
         None if rng.random() < 0.2 else f"v{i}")
        for i in range(110)
    ]

    def expect(k, t, direction):
        back = [r for r in right_rows if r[0] == k and r[1] <= t]
        fwd = [r for r in right_rows if r[0] == k and r[1] >= t]
        b = max(back, key=lambda r: (r[1], r[2])) if back else None
        f = min(fwd, key=lambda r: (r[1], -r[2])) if fwd else None
        if direction == "forward":
            return f[3] if f else None
        if b is not None and (f is None or t - b[1] <= f[1] - t):
            return b[3]
        return f[3] if f else None

    left = spark.createDataFrame(left_rows, "k long, t timestamp, lid long")
    right = spark.createDataFrame(
        right_rows, "k long, rt timestamp, seq long, v string"
    ).repartition(6)
    for direction in ("forward", "nearest"):
        out = asof_join(
            left, right, on="k", left_time="t", right_time="rt",
            right_payload=["v"], right_order="seq", direction=direction,
        ).collect()
        got = {r["lid"]: r["v"] for r in out}
        want = {lid: expect(k, t, direction) for k, t, lid in left_rows}
        assert got == want, direction
