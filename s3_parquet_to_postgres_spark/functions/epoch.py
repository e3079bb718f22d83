"""Epoch arithmetic on timestamp columns that no session time zone
can move.

``unix_micros(ts.cast("timestamp"))`` reads a TIMESTAMP_NTZ wall clock
in ``spark.sql.session.timeZone``, and ``timestampdiff`` casts an NTZ
input the same way, so either gives a different epoch (and different
days, buckets and gaps) in a different session, and moves a wall
clock that falls in the zone's DST gap. NTZ minus NTZ subtracts wall
clocks with no zone at all, which is also what DuckDB's ``epoch_us``
of a naive TIMESTAMP computes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

_EPOCH_NTZ = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def epoch_us(df: DataFrame, name: str) -> Column:
    """Microseconds since 1970-01-01 00:00:00 of column ``name`` of
    ``df`` as a bigint, the same in every session. An LTZ timestamp
    holds an instant and counts from the UTC epoch; anything else is
    read as a wall clock (NTZ, a date's midnight, a timestamp string)
    and counts from the wall-clock epoch."""
    c = F.col(name)
    if isinstance(df.schema[name].dataType, TimestampType):
        return F.unix_micros(c)
    since = c.cast("timestamp_ntz") - F.expr(_EPOCH_NTZ)
    secs = since.cast("interval second").cast("decimal(18,6)")
    return (secs * F.lit(1_000_000)).cast("long")


def epoch_day(df: DataFrame, name: str) -> Column:
    """Whole days since the epoch of ``epoch_us``, floored (bigint)."""
    return F.floor(epoch_us(df, name) / F.lit(86400000000.0)).cast("long")


def ntz_from_epoch_us(us: Column) -> Column:
    """The TIMESTAMP_NTZ wall clock ``us`` microseconds after the
    epoch: the inverse of ``epoch_us`` on an NTZ column.
    ``timestampadd`` onto an NTZ value uses no zone."""
    return F.timestamp_add("MICROSECOND", us, F.expr(_EPOCH_NTZ))
