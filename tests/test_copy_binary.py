"""PG COPY BINARY encoder tests (reference: src/db.rs:167-177 uses
COPY ... FROM STDIN BINARY; this pins our wire-format encoder to the
PostgreSQL manual's "Binary Format" section without needing a live
PG: known byte vectors for every supported type, a NUMERIC round-trip
decoder under hypothesis, and stream-framing checks). The columnar
encoder the sink runs (``encode_batch_binary``) is pinned byte for
byte to the per-row reference encoder over every supported type, and
so is the TEXT batch encoder (``encode_batch_text``) to the per-row
``encode_rows`` over the Rows Spark builds."""

from __future__ import annotations

import itertools
import math
import struct
import time
from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from s3_parquet_to_postgres_spark.sinks.copy import (
    BINARY_HEADER,
    BINARY_TRAILER,
    CopySink,
    binary_encoders,
    encode_batch_binary,
    encode_batch_text,
    encode_numeric,
    encode_rows,
    encode_rows_binary,
)


def test_header_and_trailer_bytes():
    # 11-byte signature + int32 flags 0 + int32 extension length 0
    assert BINARY_HEADER == b"PGCOPY\n\xff\r\n\x00" + b"\x00" * 8
    assert BINARY_TRAILER == b"\xff\xff"


def _encs(spark, *cols):
    df = spark.createDataFrame([cols[1]], schema=cols[0])
    return binary_encoders(df.schema)


def test_scalar_field_encodings(spark):
    df = spark.createDataFrame(
        [(True, 1, 2, 3, 4, 1.5, 2.5, "hé", b"\x00\xff")],
        "b boolean, t tinyint, s smallint, i int, l bigint, "
        "f float, d double, txt string, byt binary",
    )
    encs = binary_encoders(df.schema)
    vals = (True, 1, 2, 3, 4, 1.5, 2.5, "hé", b"\x00\xff")
    out = [e(v) for e, v in zip(encs, vals)]
    assert out[0] == b"\x01"
    assert out[1] == struct.pack(">h", 1)  # tinyint widened to int2
    assert out[2] == struct.pack(">h", 2)
    assert out[3] == struct.pack(">i", 3)
    assert out[4] == struct.pack(">q", 4)
    assert out[5] == struct.pack(">f", 1.5)
    assert out[6] == struct.pack(">d", 2.5)
    assert out[7] == "hé".encode("utf-8")
    assert out[8] == b"\x00\xff"


def test_date_and_timestamp_encodings(spark):
    df = spark.createDataFrame(
        [(date(2000, 1, 1), datetime(2000, 1, 1))], "d date, ts timestamp"
    )
    d_enc, ts_enc = binary_encoders(df.schema)
    # PG epoch is 2000-01-01 -> 0
    assert d_enc(date(2000, 1, 1)) == struct.pack(">i", 0)
    assert d_enc(date(2000, 1, 2)) == struct.pack(">i", 1)
    assert d_enc(date(1999, 12, 31)) == struct.pack(">i", -1)
    assert ts_enc(datetime(2000, 1, 1)) == struct.pack(">q", 0)
    assert ts_enc(datetime(2000, 1, 1, 0, 0, 1)) == struct.pack(">q", 1_000_000)
    # tz-aware normalizes to UTC
    aware = datetime(2000, 1, 1, 1, 0, 0, tzinfo=timezone.utc)
    assert ts_enc(aware) == struct.pack(">q", 3_600_000_000)


# -- NUMERIC ---------------------------------------------------------------

def test_numeric_known_vectors():
    # ndigits, weight, sign, dscale, digits... (base-10000)
    assert encode_numeric(Decimal("0")) == struct.pack(">hhHh", 0, 0, 0, 0)
    assert encode_numeric(Decimal("0.00")) == struct.pack(">hhHh", 0, 0, 0, 2)
    assert encode_numeric(Decimal("1")) == struct.pack(">hhHhh", 1, 0, 0, 0, 1)
    assert encode_numeric(Decimal("-1")) == struct.pack(">hhHhh", 1, 0, 0x4000, 0, 1)
    assert encode_numeric(Decimal("10000")) == struct.pack(">hhHhh", 1, 1, 0, 0, 1)
    assert encode_numeric(Decimal("1234.5678")) == struct.pack(
        ">hhHhhh", 2, 0, 0, 4, 1234, 5678
    )
    # 0.001 -> single digit 10 at weight -1, dscale 3
    assert encode_numeric(Decimal("0.001")) == struct.pack(">hhHhh", 1, -1, 0, 3, 10)
    assert encode_numeric(Decimal("NaN")) == struct.pack(">hhHh", 0, 0, 0xC000, 0)
    # trailing zero digits are stripped: 1.0000 has ndigits=1, dscale=4
    assert encode_numeric(Decimal("1.0000")) == struct.pack(">hhHhh", 1, 0, 0, 4, 1)


def decode_numeric(b: bytes) -> Decimal:
    """Inverse of encode_numeric, for round-trip testing."""
    ndigits, weight, sign, dscale = struct.unpack_from(">hhHh", b)
    digits = struct.unpack_from(f">{ndigits}h", b, 8)
    if sign == 0xC000:
        return Decimal("NaN")
    total = Decimal(0)
    for i, d in enumerate(digits):
        total += Decimal(d) * (Decimal(10000) ** (weight - i))
    if sign == 0x4000:
        total = -total
    return total.quantize(Decimal(1).scaleb(-dscale)) if dscale else total


@settings(max_examples=300, deadline=None)
@given(
    st.decimals(
        allow_nan=False,
        allow_infinity=False,
        min_value=Decimal("-1e20"),
        max_value=Decimal("1e20"),
        places=6,
    )
)
def test_numeric_round_trip(d):
    assert decode_numeric(encode_numeric(d)) == d


def test_numeric_rejects_infinity():
    with pytest.raises(ValueError):
        encode_numeric(Decimal("Infinity"))


# -- tuple framing ---------------------------------------------------------

def test_tuple_framing_with_nulls(spark):
    df = spark.createDataFrame([(1, "a")], "i int, s string")
    encs = binary_encoders(df.schema)
    tuples = list(encode_rows_binary([(1, "a"), (None, None)], encs))
    assert tuples[0] == (
        struct.pack(">h", 2)
        + struct.pack(">i", 4) + struct.pack(">i", 1)
        + struct.pack(">i", 1) + b"a"
    )
    assert tuples[1] == struct.pack(">h", 2) + struct.pack(">i", -1) * 2


def test_unsupported_type_fails_at_plan_time(spark):
    df = spark.createDataFrame([([1, 2],)], "a array<int>")
    with pytest.raises(TypeError, match="array<int>.*'a'"):
        binary_encoders(df.schema)


def test_decimal_column_encoder(spark):
    df = spark.createDataFrame([(Decimal("12.34"),)], "d decimal(10,2)")
    (enc,) = binary_encoders(df.schema)
    assert enc(Decimal("12.34")) == struct.pack(">hhHhhh", 2, 0, 0, 2, 12, 3400)


def test_binary_sink_copy_sql_and_plan_time_gate(spark):
    sink = CopySink(conn_string="", table="t", columns=("a", "b"),
                    format="binary")
    assert sink.copy_sql() == 'COPY "t" ("a", "b") FROM STDIN BINARY'
    with pytest.raises(ValueError):
        CopySink(conn_string="", table="t", columns=("a",), format="csv")
    # unsupported column type raises on the driver, before any task
    df = spark.createDataFrame([({"k": 1},)], "a map<string,int>") \
        .withColumn("b", df_lit_one())
    with pytest.raises(TypeError, match="map<string,int>"):
        CopySink(conn_string="", table="t", columns=("a", "b"),
                 format="binary").write(df)


def df_lit_one():
    from pyspark.sql import functions as F

    return F.lit(1)


# -- full-row hypothesis round trip (all supported types) -------------------

def parse_tuples(blob: bytes, nfields: int):
    """Parse PGCOPY tuple stream (no header/trailer) back to rows of
    raw field bytes (None for NULL)."""
    rows, pos = [], 0
    while pos < len(blob):
        (nf,) = struct.unpack_from(">h", blob, pos)
        assert nf == nfields
        pos += 2
        row = []
        for _ in range(nf):
            (ln,) = struct.unpack_from(">i", blob, pos)
            pos += 4
            if ln < 0:
                row.append(None)
            else:
                row.append(blob[pos:pos + ln])
                pos += ln
        rows.append(row)
    return rows


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.booleans()),
            st.one_of(st.none(), st.integers(-2**31, 2**31 - 1)),
            st.one_of(st.none(), st.integers(-2**63, 2**63 - 1)),
            st.one_of(st.none(), st.floats(allow_nan=False, width=64)),
            st.one_of(st.none(), st.text(max_size=30)),
            st.one_of(st.none(), st.binary(max_size=20)),
            st.one_of(
                st.none(),
                st.dates(date(1900, 1, 1), date(2200, 1, 1)),
            ),
        ),
        max_size=10,
    )
)
def test_binary_rows_round_trip(rows):
    encs = [
        lambda v: b"\x01" if v else b"\x00",       # boolean
        lambda v: struct.pack(">i", v),            # int
        lambda v: struct.pack(">q", v),            # bigint
        lambda v: struct.pack(">d", v),            # double
        lambda v: str(v).encode("utf-8"),          # string
        bytes,                                     # binary
        lambda v: struct.pack(">i", (v - date(2000, 1, 1)).days),  # date
    ]
    blob = b"".join(encode_rows_binary(rows, encs))
    parsed = parse_tuples(blob, 7)
    assert len(parsed) == len(rows)
    for orig, got in zip(rows, parsed):
        b, i, l, d, s, by, dt = orig
        assert (got[0] is None) == (b is None)
        if b is not None:
            assert got[0] == (b"\x01" if b else b"\x00")
        if i is not None:
            assert struct.unpack(">i", got[1])[0] == i
        if l is not None:
            assert struct.unpack(">q", got[2])[0] == l
        if d is not None:
            assert struct.unpack(">d", got[3])[0] == d
        if s is not None:
            assert got[4].decode("utf-8") == s
        if by is not None:
            assert got[5] == by
        if dt is not None:
            assert date(2000, 1, 1) + __import__("datetime").timedelta(
                days=struct.unpack(">i", got[6])[0]
            ) == dt


# -- columnar encoder: byte parity with the per-row reference ---------------

# (column, Spark type, the Arrow type Spark's Arrow conversion emits for
# it under the UTC session this package builds)
_TYPES = [
    ("b", BooleanType(), pa.bool_()),
    ("t", ByteType(), pa.int8()),
    ("s", ShortType(), pa.int16()),
    ("i", IntegerType(), pa.int32()),
    ("l", LongType(), pa.int64()),
    ("f", FloatType(), pa.float32()),
    ("d", DoubleType(), pa.float64()),
    ("str", StringType(), pa.string()),
    ("bin", BinaryType(), pa.binary()),
    ("dt", DateType(), pa.date32()),
    ("ts", TimestampType(), pa.timestamp("us", tz="UTC")),
    ("ntz", TimestampNTZType(), pa.timestamp("us")),
    ("dec", DecimalType(18, 4), pa.decimal128(18, 4)),
]
_SPARK_SCHEMA = StructType([StructField(n, t) for n, t, _ in _TYPES])
_UTC = timezone.utc

_EDGE_ROWS = [
    (True, 127, 32767, 2**31 - 1, 2**63 - 1, 1.5, 2.5, "hé€😀", b"\x00\xff",
     date(2024, 1, 2), datetime(2024, 1, 2, 3, 4, 5, 6, _UTC),
     datetime(2024, 1, 2, 3, 4, 5, 6), Decimal("12.3400")),
    (None,) * 13,
    (False, -128, -32768, -2**31, -2**63, -0.0, -0.0, "", b"",
     date(1969, 12, 31), datetime(1969, 12, 31, 23, 59, 59, 999999, _UTC),
     datetime(1900, 1, 1), Decimal("-0.0001")),
    (True, 0, 0, 0, 0, math.nan, math.nan, "tab\tnew\nline\\", b"\x00",
     date(1999, 12, 31), datetime(1999, 12, 31, 23, 59, 59, 999999, _UTC),
     datetime(1999, 12, 31, 23, 59, 59), Decimal("0")),
    (None, 1, None, 2, None, math.inf, -math.inf, None, b"x" * 300, None,
     datetime(1900, 6, 1, tzinfo=_UTC), None, Decimal("99999999999999.9999")),
    (False, None, 3, None, 4, -math.inf, math.inf, "ß" * 40, None,
     date(1, 1, 1), None, datetime(9999, 12, 31, 23, 59, 59, 999999), None),
]


def _batch(rows) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [()] * len(_TYPES)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), type=t) for c, (_, _, t) in zip(cols, _TYPES)],
        names=[n for n, _, _ in _TYPES],
    )


def _row_reference(batch: pa.RecordBatch) -> bytes:
    """The per-row encoder over the same values (tz-aware timestamps
    are UTC instants, which the row encoder normalizes to UTC)."""
    rows = zip(*(c.to_pylist() for c in batch.columns))
    return b"".join(encode_rows_binary(rows, binary_encoders(_SPARK_SCHEMA)))


def _large(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Same values with 64-bit string/binary offsets."""
    return batch.cast(pa.schema([
        pa.field(f.name, {pa.string(): pa.large_string(),
                          pa.binary(): pa.large_binary()}.get(f.type, f.type))
        for f in batch.schema
    ]))


def test_batch_encoder_matches_row_encoder_every_type():
    batch = _batch(_EDGE_ROWS)
    want = _row_reference(batch)
    assert encode_batch_binary(batch) == want
    assert encode_batch_binary(_large(batch)) == want
    for sliced in (batch.slice(1), batch.slice(2, 3), batch.slice(5, 1)):
        assert sliced.column(0).offset > 0
        assert encode_batch_binary(sliced) == _row_reference(sliced)
        assert encode_batch_binary(_large(sliced)) == _row_reference(sliced)


_FIXED = [j for j, (n, _, _) in enumerate(_TYPES) if n not in ("str", "bin", "dec")]
_VARIABLE = [j for j, (n, _, _) in enumerate(_TYPES) if n in ("str", "bin", "dec")]
_DEC = _VARIABLE[-1]
_ORDERS = {
    "fixed_first": _FIXED + _VARIABLE,
    "variable_first": _VARIABLE + _FIXED,
    "alternating": [j for pair in itertools.zip_longest(_FIXED, _VARIABLE)
                    for j in pair if j is not None],
    "variable_alternating": [j for pair in itertools.zip_longest(_VARIABLE, _FIXED)
                             for j in pair if j is not None],
    "decimal_first": [_DEC] + [j for j in range(len(_TYPES)) if j != _DEC],
    "decimal_last": [j for j in range(len(_TYPES)) if j != _DEC] + [_DEC],
}


@pytest.mark.parametrize("order", _ORDERS.values(), ids=_ORDERS.keys())
def test_batch_encoder_parity_in_any_column_order(order):
    """Record runs end at every variable-width or nullable column, so
    the encoded bytes depend on where those columns sit. Rows 2-3 and
    row 0 hold no NULL, so their slices keep fixed-width columns in
    the runs; the others make every column nullable."""
    whole = _batch(_EDGE_ROWS)
    batch = pa.RecordBatch.from_arrays(
        [whole.column(j) for j in order], names=[_TYPES[j][0] for j in order])
    encoders = binary_encoders(StructType([_SPARK_SCHEMA.fields[j] for j in order]))
    for sliced in (batch, batch.slice(2, 2), batch.slice(0, 1),
                   batch.slice(1), batch.slice(3, 3)):
        rows = list(zip(*(c.to_pylist() for c in sliced.columns)))
        want = b"".join(encode_rows_binary(rows, encoders))
        assert encode_batch_binary(sliced) == want
        assert encode_batch_binary(_large(sliced)) == want


def test_batch_encoder_all_null_columns():
    n = 4
    valued = _batch([_EDGE_ROWS[0]] * n)
    for j, (name, _, t) in enumerate(_TYPES):
        batch = valued.set_column(j, name, pa.nulls(n, t))
        assert encode_batch_binary(batch) == _row_reference(batch)
    all_null = _batch([(None,) * len(_TYPES)] * n)
    assert encode_batch_binary(all_null) == _row_reference(all_null)
    assert encode_batch_binary(all_null) == (
        struct.pack(">h", len(_TYPES)) + struct.pack(">i", -1) * len(_TYPES)
    ) * n


@pytest.mark.parametrize("t", [pa.string(), pa.large_string(),
                               pa.binary(), pa.large_binary()])
def test_batch_encoder_null_slots_spanning_bytes(t):
    # Arrow lets a NULL slot's offsets span data bytes; they must not
    # leak into the neighbouring fields.
    values = pa.array(["ab", "cd", "", "éf", "gh"], type=t)
    validity = pa.py_buffer(bytes([0b11010]))  # rows 0 and 2 are NULL
    col = pa.Array.from_buffers(t, 5, [validity, *values.buffers()[1:]])
    assert col.to_pylist()[:2] == [None, values[1].as_py()]
    for arr in (col, col.slice(1)):
        batch = pa.RecordBatch.from_arrays([arr], names=["x"])
        text = pa.types.is_string(t) or pa.types.is_large_string(t)
        schema = StructType([StructField(
            "x", StringType() if text else BinaryType())])
        rows = ((v,) for v in arr.to_pylist())
        want = b"".join(encode_rows_binary(rows, binary_encoders(schema)))
        assert encode_batch_binary(batch) == want


def test_batch_encoder_empty_batch():
    assert encode_batch_binary(_batch([])) == b""
    assert encode_batch_binary(_batch(_EDGE_ROWS).slice(3, 0)) == b""


def test_batch_encoder_rejects_types_spark_does_not_emit():
    for t in (pa.uint32(), pa.timestamp("ns"), pa.list_(pa.int32())):
        with pytest.raises(TypeError, match="unsupported Arrow type"):
            encode_batch_binary(pa.RecordBatch.from_arrays(
                [pa.array([None], type=t)], names=["x"]))


def test_batch_encoder_nan_payloads_match_row_encoder():
    """double NaN payloads survive bit for bit (signalling ones too);
    float signalling NaNs come out quieted, as the row encoder's
    round trip through a Python float leaves them."""
    snan64 = struct.unpack("<d", struct.pack("<Q", 0x7FF544D4CA2D8191))[0]
    snan32 = struct.pack("<I", 0x7F812345)
    batch = pa.RecordBatch.from_arrays(
        [pa.Array.from_buffers(pa.float32(), 1, [None, pa.py_buffer(snan32)]),
         pa.array([snan64], pa.float64())],
        names=["f", "d"])
    got = encode_batch_binary(batch)
    rows = zip(*(c.to_pylist() for c in batch.columns))
    assert got == b"".join(encode_rows_binary(
        rows, binary_encoders(StructType([
            StructField("f", FloatType()), StructField("d", DoubleType())]))))
    assert got == (struct.pack(">hi", 2, 4) + struct.pack(">I", 0x7FC12345)
                   + struct.pack(">iQ", 8, 0x7FF544D4CA2D8191))


_row = st.tuples(
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), st.integers(-2**7, 2**7 - 1)),
    st.one_of(st.none(), st.integers(-2**15, 2**15 - 1)),
    st.one_of(st.none(), st.integers(-2**31, 2**31 - 1)),
    st.one_of(st.none(), st.integers(-2**63, 2**63 - 1)),
    st.one_of(st.none(), st.floats(width=32)),
    st.one_of(st.none(), st.floats()),
    st.one_of(st.none(), st.text(max_size=12)),
    st.one_of(st.none(), st.binary(max_size=12)),
    st.one_of(st.none(), st.dates()),
    st.one_of(st.none(), st.datetimes(timezones=st.just(_UTC))),
    st.one_of(st.none(), st.datetimes()),
    st.one_of(st.none(), st.decimals(
        min_value=Decimal("-1e13"), max_value=Decimal("1e13"),
        allow_nan=False, places=4)),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_row, max_size=12), st.integers(0, 3), st.booleans())
def test_batch_encoder_parity_property(rows, start, large):
    batch = _batch(rows)
    if large:
        batch = _large(batch)
    batch = batch.slice(min(start, len(rows)))
    assert encode_batch_binary(batch) == _row_reference(batch)


@pytest.mark.skipif(
    time.timezone != 0 or time.daylight,
    reason="the row path renders timestamps in the local zone; "
    "parity holds where that zone is UTC",
)
def test_batch_encoder_matches_row_encoder_through_spark(spark):
    """Spark's own Arrow batches (``mapInArrow``) against Spark's own
    rows (``collect``) under the package's UTC session."""
    rows = [
        tuple(v.replace(tzinfo=None) if isinstance(v, datetime) else v
              for v in r)
        for r in _EDGE_ROWS
    ]
    df = spark.createDataFrame(rows, _SPARK_SCHEMA).coalesce(1)

    def encode(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"blob": [encode_batch_binary(b)]})

    got = b"".join(r.blob for r in df.mapInArrow(encode, "blob binary").collect())
    want = encode_rows_binary(
        (tuple(r) for r in df.collect()), binary_encoders(df.schema))
    assert got == b"".join(want)


# TEXT escapes and values the edge rows above leave out.
_TEXT_ROWS = [
    (True, 1, 2, 3, 4, 0.1, 1e300, "cr\rlf\r\n\\N\tend\\", b"\t\n\\",
     date(1970, 1, 1), datetime(1970, 1, 1), datetime(1999, 1, 1, 0, 0, 0, 1),
     Decimal("100.0000")),
    (None, None, None, None, None, None, None, "\\N", b"\\N", None, None,
     None, Decimal("-0.1000")),
]


def test_text_batch_encoder_matches_row_path_through_spark(spark):
    """``encode_batch_text`` over Spark's own Arrow batches
    (``mapInArrow``) against ``encode_rows`` over Spark's own rows
    (``collect``), for every type ``binary_encoders`` accepts. Both
    sides render a ``timestamp`` through ``TimestampType.fromInternal``,
    so this needs no UTC zone."""
    rows = [
        tuple(v.replace(tzinfo=None) if isinstance(v, datetime) else v
              for v in r)
        for r in _EDGE_ROWS + _TEXT_ROWS
    ]
    df = spark.createDataFrame(rows, _SPARK_SCHEMA).coalesce(1)

    def encode(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"blob": [encode_batch_text(b)]})

    got = b"".join(r.blob for r in df.mapInArrow(encode, "blob binary").collect())
    want = "".join(encode_rows(tuple(r) for r in df.collect()))
    assert got == want.encode()


def test_text_batch_encoder_renders_local_wall_clock(monkeypatch):
    """A zone-aware timestamp comes out as the naive wall clock of the
    local zone, as PySpark's Row conversion renders it; a
    ``timestamp_ntz`` comes out as stored."""
    batch = pa.RecordBatch.from_arrays([
        pa.array([datetime(2024, 1, 2, 3, 4, 5, 6, _UTC), None,
                  datetime(1969, 7, 20, 20, 17, tzinfo=_UTC)],
                 pa.timestamp("us", tz="UTC")),
        pa.array([datetime(2024, 1, 2, 3, 4, 5), None, None],
                 pa.timestamp("us")),
    ], names=["ts", "ntz"])
    monkeypatch.setenv("TZ", "EST+5")  # POSIX: UTC-5 all year, no tzdata
    time.tzset()
    try:
        got = encode_batch_text(batch)
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == (b"2024-01-01 22:04:05.000006\t2024-01-02 03:04:05\n"
                   b"\\N\t\\N\n"
                   b"1969-07-20 15:17:00\t\\N\n")
