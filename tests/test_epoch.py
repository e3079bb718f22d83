"""functions/epoch.py: epoch micros and days of NTZ, date, string and
LTZ columns are the same in every session time zone, including a wall
clock in the zone's DST gap and values before 1970; and
``unix_micros(`` lives in that module and nowhere else in the
package."""

from __future__ import annotations

import datetime
import pathlib

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.functions.epoch import (
    epoch_day,
    epoch_us,
    ntz_from_epoch_us,
)

PKG = pathlib.Path(__file__).parents[1] / "s3_parquet_to_postgres_spark"
HELPER = PKG / "functions" / "epoch.py"
ZONES = ["UTC", "America/Los_Angeles", "Asia/Kolkata"]
EPOCH = datetime.datetime(1970, 1, 1)
US = datetime.timedelta(microseconds=1)
# Los Angeles skips 02:00-03:00 on 2024-03-10: 01:30 -> 03:30 is two
# wall-clock hours (one elapsed hour there) and 02:30 is in the gap.
WALL = [
    datetime.datetime(2024, 3, 10, 1, 30, 0, 123456),
    datetime.datetime(2024, 3, 10, 2, 30),
    datetime.datetime(2024, 3, 10, 3, 30),
    datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
    datetime.datetime(1, 1, 1),
]


@pytest.fixture(params=ZONES)
def zoned(spark, request):
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", request.param)
    return s


def test_ntz_epoch_is_the_wall_clock_in_every_zone(zoned):
    df = zoned.createDataFrame(
        [(i, w) for i, w in enumerate(WALL)], "i int, ts timestamp_ntz"
    ).withColumns({"d": F.to_date("ts"), "s": F.col("ts").cast("string")})
    rows = df.orderBy("i").select(
        epoch_us(df, "ts").alias("us"),
        epoch_day(df, "ts").alias("day"),
        epoch_us(df, "d").alias("d_us"),
        epoch_us(df, "s").alias("s_us"),
        (ntz_from_epoch_us(epoch_us(df, "ts")) == F.col("ts")).alias("rt"),
    ).collect()
    want = [(w - EPOCH) // US for w in WALL]
    assert [r.us for r in rows] == want == [r.s_us for r in rows]
    assert want[3] == -1 and want[2] - want[0] == 2 * 3600 * 10**6 - 123456
    assert [r.day for r in rows] == [u // 86400_000_000 for u in want]
    assert [r.d_us for r in rows] == [r.day * 86400_000_000 for r in rows]
    assert all(r.rt for r in rows)


def test_ltz_epoch_is_the_instant_in_every_zone(zoned):
    instants = [(w - EPOCH) // US for w in WALL]
    df = zoned.createDataFrame([(u,) for u in instants], "u long").select(
        "u", F.timestamp_micros("u").alias("ts")
    )
    rows = df.select("u", epoch_us(df, "ts").alias("us")).collect()
    assert all(r.us == r.u for r in rows)


def test_unix_micros_lives_only_in_the_epoch_helper():
    offenders = [
        str(path.relative_to(PKG))
        for path in sorted(PKG.rglob("*.py"))
        if path != HELPER and "unix_micros(" in path.read_text()
    ]
    assert offenders == [], (
        "unix_micros of a TIMESTAMP_NTZ cast reads the session time "
        "zone; use functions/epoch.py (epoch_us / epoch_day) in: "
        f"{offenders}"
    )
