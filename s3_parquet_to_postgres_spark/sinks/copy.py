"""Postgres COPY sink: the reference's bulk-ingest fast path.

The reference streams each file through one ``COPY <t> (<cols>) FROM
STDIN BINARY`` (reference: src/db.rs:161-240, COPY SQL at :167-171) --
PG's fastest ingest path, well ahead of JDBC INSERT batches. Spark has
no built-in COPY writer, so this is the one custom *physical* sink this
engine needs (SURVEY.md §4.2): each non-empty partition opens its own
connection and streams itself through ``copy_expert`` as one COPY
statement.

Both COPY wire formats are implemented: TEXT (tab-separated, ``\\N``
nulls) and the reference's BINARY (PGCOPY header, int16 field count,
int32 length-prefixed big-endian fields, int16 -1 trailer -- the
format documented in the PostgreSQL manual, "Binary Format"). BINARY
skips PG's per-field text parse on ingest, which is the reference's
one stated performance feature; it needs the column types up front,
so ``CopySink(format="binary")`` checks the Spark schema on the driver
before any task starts (fail-fast on unsupported types, like the cast
planner).

Both formats share one write path. One ``mapInArrow`` job hands each
task its partition as Arrow record batches. BINARY turns a whole batch
into PGCOPY tuples with numpy (``encode_batch_binary``), so no row is
ever pickled into a Python ``Row``; TEXT feeds the batch's columns to
the per-row ``encode_rows`` (``encode_batch_text``). ``copy_expert``
reads the partition from a file object over header + encoded batches
+ trailer that encodes a batch only when it is read, so the partition
is never held whole, and that counts the rows it hands out. Each task
yields its row count and the driver sums them: the count comes from
the same single job as the COPY. Executors need pyarrow and numpy,
which the package's Arrow kernels already require. The per-row binary
encoder (``binary_encoders`` + ``encode_rows_binary``) stays as the
reference the columnar one is tested against byte for byte.

The executor connection resolves in order: an injected factory
(tests / alternative drivers), psycopg2 when the executor image has
it, else the bundled pure-stdlib v3 wire-protocol client
(``pgwire.py``) -- so the COPY path has no hard C-extension
dependency. The socket half (framing, one statement per partition,
commit/rollback, CopyFail) is exercised end-to-end against an
in-process fake PG wire server in tests/test_copy_socket_e2e.py. Error
semantics match the reference's fail-fast model: the first bad row or
constraint violation raises inside the partition, failing the task and
(with retries exhausted) the job (reference: src/db.rs:202-239).
Idempotence at scale: point ``table`` at a staging table and swap
atomically after the job, since a retried task replays its whole
partition.

Before any data moves, ``destination_types`` reads the table's column
types from the Postgres catalog over the same connection path and
fails on a missing table or column (reference: src/db.rs:37-75,
:50-54, :134-145). The CLI picks the format from those types:
BINARY with the cast plan when every column type is in
``BINARY_PG_TYPES``, TEXT otherwise.
"""

from __future__ import annotations

import itertools
import struct
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import date, datetime, timezone
from decimal import Decimal
from typing import Any, Callable, Iterable, Iterator

from ..session import conf_scope

# Int.MaxValue turns off Spark's per-row Arrow batch sizing for the
# COPY job (see CopySink); batches stay bounded by maxRecordsPerBatch.
_NO_ARROW_BYTE_CAP = {"spark.sql.execution.arrow.maxBytesPerBatch": str(2**31 - 1)}


def _encode_value(v: Any) -> str:
    r"""One value -> PG text-format COPY field (\N for NULL)."""
    if v is None:
        return r"\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, (bytes, bytearray)):
        return "\\\\x" + bytes(v).hex()
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    s = str(v)
    # COPY text format escapes: backslash, tab, newline, CR.
    return (
        s.replace("\\", "\\\\")
        .replace("\t", "\\t")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )


def encode_rows(rows: Iterable[tuple]) -> Iterator[str]:
    """Rows -> COPY TEXT lines. Pure function, unit-testable sans PG."""
    for row in rows:
        yield "\t".join(_encode_value(v) for v in row) + "\n"


def encode_batch_text(batch) -> bytes:
    """One Arrow ``RecordBatch`` -> its COPY TEXT lines as UTF-8: the
    batch's columns, as Python values, through ``encode_rows``.

    The bytes equal ``encode_rows`` over the Rows PySpark builds for
    the same partition. Arrow holds a ``timestamp`` as a UTC instant,
    while the Row conversion renders it as a naive wall clock in the
    Python worker's local zone; such columns go through that same
    conversion, ``TimestampType.fromInternal``, here.
    """
    import pyarrow as pa
    from pyspark.sql.types import TimestampType

    local = TimestampType().fromInternal
    cols = [
        [local(us) for us in col.cast(pa.int64()).to_pylist()]
        if pa.types.is_timestamp(col.type) and col.type.tz else col.to_pylist()
        for col in batch.columns
    ]
    return "".join(encode_rows(zip(*cols))).encode()


# ---------------------------------------------------------------------------
# BINARY format (reference: src/db.rs:167-177 -- COPY ... FROM STDIN BINARY)
# ---------------------------------------------------------------------------

BINARY_HEADER = b"PGCOPY\n\xff\r\n\x00" + struct.pack(">ii", 0, 0)
BINARY_TRAILER = struct.pack(">h", -1)

_PG_EPOCH_DATE = date(2000, 1, 1)
_PG_EPOCH_TS = datetime(2000, 1, 1)
_NUMERIC_NEG = 0x4000
_NUMERIC_NAN = 0xC000


def _bin_bool(v: Any) -> bytes:
    return b"\x01" if v else b"\x00"


def _bin_bytes(v: Any) -> bytes:
    return bytes(v)


def _bin_text(v: Any) -> bytes:
    return str(v).encode("utf-8")


def _bin_date(v: Any) -> bytes:
    # int32 days since 2000-01-01 (PG epoch)
    return struct.pack(">i", (v - _PG_EPOCH_DATE).days)


def _bin_timestamp(v: Any) -> bytes:
    # int64 microseconds since 2000-01-01 00:00:00; tz-aware inputs are
    # normalized to UTC first (PG stores timestamptz as UTC micros too).
    if v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    delta = v - _PG_EPOCH_TS
    micros = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
    return struct.pack(">q", micros)


def encode_numeric(v: Decimal) -> bytes:
    """Decimal -> PG NUMERIC binary: int16 ndigits, weight, sign,
    dscale, then ndigits base-10000 digits (PG manual, numeric.c's
    NumericVar layout). Weight = base-10000 exponent of the first
    digit; groups are aligned so the decimal point falls on a group
    boundary."""
    if v.is_nan():
        return struct.pack(">hhHh", 0, 0, _NUMERIC_NAN, 0)
    if not v.is_finite():
        raise ValueError("PG NUMERIC has no +/-Infinity binary form pre-PG14")
    sign = _NUMERIC_NEG if v < 0 else 0x0000
    t = abs(v).as_tuple()
    digits, exp = list(t.digits), t.exponent
    if exp > 0:  # e.g. 1E+3 -> shift into integer digits
        digits += [0] * exp
        exp = 0
    dscale = -exp
    int_len = len(digits) + exp  # decimal digits left of the point (may be <=0)
    pad_left = (-int_len) % 4
    digits = [0] * pad_left + digits
    digits += [0] * ((-len(digits)) % 4)
    groups = [
        digits[i] * 1000 + digits[i + 1] * 100 + digits[i + 2] * 10 + digits[i + 3]
        for i in range(0, len(digits), 4)
    ]
    weight = (int_len + pad_left) // 4 - 1
    while groups and groups[0] == 0:
        groups.pop(0)
        weight -= 1
    while groups and groups[-1] == 0:
        groups.pop()
    if not groups:  # zero: canonical ndigits=0, weight=0, positive
        return struct.pack(">hhHh", 0, 0, 0x0000, dscale)
    return struct.pack(">hhHh", len(groups), weight, sign, dscale) + struct.pack(
        f">{len(groups)}h", *groups
    )


# Spark simpleString (sans decimal precision) -> field encoder.
_BINARY_ENCODERS: dict[str, Callable[[Any], bytes]] = {
    "boolean": _bin_bool,
    "tinyint": lambda v: struct.pack(">h", v),  # PG has no int1; widen to int2
    "smallint": lambda v: struct.pack(">h", v),
    "int": lambda v: struct.pack(">i", v),
    "bigint": lambda v: struct.pack(">q", v),
    "float": lambda v: struct.pack(">f", v),
    "double": lambda v: struct.pack(">d", v),
    "string": _bin_text,
    "binary": _bin_bytes,
    "date": _bin_date,
    "timestamp": _bin_timestamp,
    "timestamp_ntz": _bin_timestamp,
    "decimal": lambda v: encode_numeric(v if isinstance(v, Decimal) else Decimal(str(v))),
}


def binary_encoders(schema) -> list[Callable[[Any], bytes]]:
    """Compile one encoder per column from a Spark StructType; raises
    at plan time on unsupported types (fail-fast, like the cast
    planner). Complex types (array/map/struct) have no COPY BINARY
    form -- flatten or serialize them first."""
    encs = []
    for f in schema.fields:
        key = f.dataType.simpleString().split("(")[0]
        enc = _BINARY_ENCODERS.get(key)
        if enc is None:
            raise TypeError(
                f"COPY BINARY: unsupported column type {f.dataType.simpleString()!r}"
                f" for column {f.name!r}"
            )
        encs.append(enc)
    return encs


def encode_rows_binary(
    rows: Iterable[tuple], encoders: list[Callable[[Any], bytes]]
) -> Iterator[bytes]:
    """Rows -> PGCOPY binary tuples (no header/trailer -- the caller
    frames the stream once per COPY statement)."""
    nfields = struct.pack(">h", len(encoders))
    null = struct.pack(">i", -1)
    for row in rows:
        parts = [nfields]
        for enc, v in zip(encoders, row):
            if v is None:
                parts.append(null)
            else:
                data = enc(v)
                parts.append(struct.pack(">i", len(data)))
                parts.append(data)
        yield b"".join(parts)


# -- columnar BINARY encoder (Arrow record batch -> PGCOPY tuples) ---------

_PG_EPOCH_DAYS = (_PG_EPOCH_DATE - date(1970, 1, 1)).days  # 10957
_PG_EPOCH_MICROS = _PG_EPOCH_DAYS * 86_400 * 1_000_000

# Arrow fixed-width type -> (source dtype, big-endian PG dtype, shift
# from the Unix epoch). tinyint widens to int2 like the row encoder.
# double moves as raw int64 bits: the row encoder packs the Python
# float bit for bit, signalling-NaN payloads included, and float
# arithmetic would quiet them. float stays float: the row encoder
# widens it to a Python float and back, which quiets signalling NaNs,
# and so does the (zero) shift below.
_ARROW_FIXED = {
    "int8": ("i1", ">i2", 0),
    "int16": ("i2", ">i2", 0),
    "int32": ("i4", ">i4", 0),
    "int64": ("i8", ">i8", 0),
    "float": ("f4", ">f4", 0),
    "double": ("i8", ">i8", 0),
    "date32[day]": ("i4", ">i4", _PG_EPOCH_DAYS),
}


def encode_batch_binary(batch) -> bytes:
    """One Arrow ``RecordBatch`` -> its PGCOPY binary tuples (no
    header/trailer), byte-identical to ``encode_rows_binary`` over the
    same rows.

    Vectorized with numpy: each field's size is known from the column
    buffers, so one row-major cumulative sum gives every field's
    offset and each column is scattered into one output buffer.
    Fixed-width columns are one big-endian ``astype``; date32 and
    timestamp values are shifted from the Unix to the PG epoch;
    strings and binary are gathered from the Arrow offset and data
    buffers (``string``/``large_string``/``binary``/``large_binary``,
    any slice offset); NULLs get a ``-1`` length header; decimals
    alone go value by value through ``encode_numeric``.

    Takes the Arrow types Spark's Arrow conversion emits for the
    types ``binary_encoders`` accepts, and raises TypeError on any
    other. Timestamps are encoded as the instant the column holds
    (microseconds since the Unix epoch, in UTC): Spark hands
    ``mapInArrow`` UTC instants, whatever the session time zone,
    while the row encoder renders a ``timestamp`` in the Python
    worker's local zone. The two agree when that zone is UTC, as in
    sessions this package builds; ``timestamp_ntz`` agrees always.
    """
    import numpy as np

    n, k = batch.num_rows, batch.num_columns
    if n == 0:
        return b""
    fields = [_arrow_field(col) for col in batch.columns]
    sizes = np.empty((n, k + 1), np.int64)
    sizes[:, 0] = 2  # int16 field count
    for j, (lens, _) in enumerate(fields):
        sizes[:, j + 1] = 4 + np.maximum(lens, 0)
    starts = np.cumsum(sizes).reshape(n, k + 1) - sizes
    out = np.empty(int(starts[-1, -1] + sizes[-1, -1]), np.uint8)
    out[starts[:, :1] + np.arange(2)] = np.frombuffer(struct.pack(">h", k), np.uint8)
    for j, (lens, blob) in enumerate(fields):
        at = starts[:, j + 1]
        out[at[:, None] + np.arange(4)] = lens.astype(">i4").view(np.uint8).reshape(n, 4)
        valid = lens >= 0
        at, lens = at[valid] + 4, lens[valid]
        seg = np.cumsum(lens) - lens
        out[np.repeat(at - seg, lens) + np.arange(len(blob))] = blob
    return out.tobytes()


def _arrow_field(col):
    """One Arrow column -> (int64 field length per row, -1 for NULL;
    uint8 concatenation of the non-NULL fields' bytes in row order)."""
    import numpy as np
    import pyarrow as pa

    n, off, t = len(col), col.offset, col.type
    valid = (
        np.ones(n, bool) if col.null_count == 0
        else col.is_valid().to_numpy(zero_copy_only=False)
    )
    buffers = col.buffers()
    if pa.types.is_boolean(t):
        bits = np.unpackbits(np.frombuffer(buffers[1], np.uint8), bitorder="little")
        return np.where(valid, 1, -1), bits[off:off + n][valid]
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        large = pa.types.is_large_string(t) or pa.types.is_large_binary(t)
        offs = np.frombuffer(buffers[1], np.int64 if large else np.int32,
                             count=off + n + 1)[off:]
        data = np.frombuffer(buffers[2] or b"", np.uint8)
        width = np.diff(offs).astype(np.int64)
        lens = np.where(valid, width, -1)
        if (lens == width).all():  # NULL slots span no bytes
            return lens, data[offs[0]:offs[-1]]
        kept, begin = width[valid], offs[:-1][valid]
        seg = np.cumsum(kept) - kept
        return lens, data[np.repeat(begin - seg, kept) + np.arange(kept.sum())]
    if pa.types.is_decimal(t):
        enc = [None if v is None else encode_numeric(v) for v in col.to_pylist()]
        lens = np.array([-1 if e is None else len(e) for e in enc], np.int64)
        return lens, np.frombuffer(b"".join(e for e in enc if e), np.uint8)
    if pa.types.is_timestamp(t) and t.unit == "us":
        src, dst, shift = "i8", ">i8", _PG_EPOCH_MICROS
    elif str(t) in _ARROW_FIXED:
        src, dst, shift = _ARROW_FIXED[str(t)]
    else:
        raise TypeError(f"COPY BINARY: unsupported Arrow type {t}")
    with np.errstate(invalid="ignore"):  # float NaNs, quieted on purpose
        values = np.frombuffer(buffers[1], src, count=off + n)[off:] - shift
    return (np.where(valid, np.dtype(dst).itemsize, -1),
            values.astype(dst)[valid].view(np.uint8))


@dataclass
class CopySink:
    """Writes a DataFrame with COPY ... FROM STDIN [BINARY]: one
    connection, one COPY statement and one transaction per non-empty
    partition.

    Both formats run one ``mapInArrow`` job over Arrow record batches.
    ``format="text"`` needs no type information and encodes with
    ``encode_batch_text``. ``format="binary"`` (the reference's fast
    path, src/db.rs:167-171) checks every column type on the driver in
    ``write``, then encodes with ``encode_batch_binary``, so rows never
    become Python objects.

    Each Arrow batch holds at most ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` rows (10,000 by default). The job runs with
    ``maxBytesPerBatch`` off (``Int.MaxValue``), set and restored by
    ``session.conf_scope`` around this one job only: with any other
    value Spark sizes the Arrow writer's vectors after every row it
    hands to Python, which measured as most of the executor CPU of a
    bulk COPY. The row cap still bounds a batch; it only passes
    the 64 MiB byte default when rows average more than 6.5 KiB.
    """

    conn_string: str
    table: str
    columns: tuple[str, ...]
    format: str = "text"  # "text" | "binary"
    # Injectable for tests / alternative drivers: a picklable callable
    # (conn_string) -> DB-API connection. None -> psycopg2.connect on
    # the executor. Lets the full executor path (framing, commit /
    # rollback, row counts) run end-to-end without a live Postgres.
    connection_factory: Callable[[str], Any] | None = None

    def __post_init__(self) -> None:
        if self.format not in ("text", "binary"):
            raise ValueError(f"CopySink format must be text|binary, got {self.format!r}")

    def copy_sql(self) -> str:
        cols = ", ".join(f'"{c}"' for c in self.columns)
        suffix = " BINARY" if self.format == "binary" else ""
        return f'COPY "{self.table}" ({cols}) FROM STDIN{suffix}'

    def write(self, df) -> int:
        """Write df and return rows written, counted by the same single
        ``mapInArrow`` job that runs the COPY -- no second scan: each
        task yields its partition's row count and the driver sums the
        collected counts."""
        sink = self  # capture a picklable copy for executors
        projected = df.select(*self.columns)
        encode = encode_batch_text
        if self.format == "binary":
            # Plan-time fail-fast: unsupported binary column types raise
            # here on the driver, before any task launches.
            binary_encoders(projected.schema)
            encode = encode_batch_binary

        def write_partition(batches: Iterator) -> Iterator:
            import pyarrow as pa

            n = sink._copy_partition((encode(b), b.num_rows) for b in batches)
            yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

        with conf_scope(df.sparkSession, _NO_ARROW_BYTE_CAP):
            counts = projected.mapInArrow(write_partition, "n long").collect()
        return sum(r.n for r in counts)

    def _copy_partition(self, chunks: Iterable[tuple[bytes, int]]) -> int:
        """Executor side: stream ``(encoded chunk, rows in it)`` pairs
        through one COPY statement and return the rows committed.

        The connection opens on the first chunk that holds rows, so an
        empty partition costs no connect. ``copy_expert`` reads the
        whole stream (for BINARY: header + tuples + trailer) from one
        ``_CopyStream``, which pulls each chunk only when it is read.
        The partition commits once, all-or-nothing; any error, one
        raised by the chunk source mid-stream included, rolls back and
        fails the task (fail-fast like the reference,
        src/db.rs:202-239)."""
        chunks = iter(chunks)
        first = next((c for c in chunks if c[1]), None)
        if first is None:
            return 0
        head, tail = (BINARY_HEADER, BINARY_TRAILER) if self.format == "binary" else (b"", b"")
        stream = _CopyStream(itertools.chain([(head, 0), first], chunks, [(tail, 0)]))
        with _transaction(self.conn_string, self.connection_factory) as cur:
            cur.copy_expert(self.copy_sql(), stream)
        return stream.rows


class _CopyStream:
    """Read-only file object over ``(bytes, rows)`` chunks, pulled one
    at a time as ``read`` needs them; ``rows`` sums the rows of every
    chunk pulled so far. A sized read returns at most the rest of one
    chunk, which is all a COPY driver asks of its file."""

    def __init__(self, chunks: Iterator[tuple[bytes, int]]):
        self._chunks = chunks
        self._cur = memoryview(b"")
        self.rows = 0

    def read(self, size: int = -1) -> bytes:
        if size < 0:
            return b"".join(iter(lambda: self.read(1 << 20), b""))
        while not self._cur:
            chunk = next(self._chunks, None)
            if chunk is None:
                return b""
            self._cur = memoryview(chunk[0])
            self.rows += chunk[1]
        part, self._cur = self._cur[:size], self._cur[size:]
        return bytes(part)


# Destination column types (pg_type.typname) that BINARY can load: the
# cast plan maps each to a Spark type whose encoding above is what the
# type's binary receive function reads. inet, cidr and jsonb are left
# out (their receive functions take no UTF-8 text), and so is "char",
# whose receive function takes exactly one byte. Checked against PG 15.
BINARY_PG_TYPES = frozenset({
    "bool", "int2", "int4", "int8", "float4", "float8", "numeric", "date",
    "timestamp", "timestamptz", "varchar", "text", "bpchar", "json", "bytea",
})


class SchemaValidationError(RuntimeError):
    """Destination table or column missing, or the catalog unreadable."""


def check_destination_columns(
    table: str,
    dest_cols: list[str] | set[str] | tuple[str, ...],
    expected_columns: list[str] | tuple[str, ...],
) -> None:
    """Every expected column must exist in the destination column set,
    else abort naming the gap (reference: src/db.rs:134-145 -- "Column
    '{}' not found"). Matching is case-sensitive like the reference's
    HashMap lookup; PG folds unquoted identifiers to lowercase, so
    configs should use the exact stored spelling."""
    dest = set(dest_cols)
    missing = [c for c in expected_columns if c not in dest]
    if missing:
        raise SchemaValidationError(
            f"destination table {table!r} lacks column(s) {missing}; "
            f"has {sorted(dest)}"
        )


def destination_types(
    conn_string: str, table: str, columns: tuple[str, ...]
) -> dict[str, str]:
    """Read ``table``'s column types from the catalog and return
    ``{column: typname}`` for ``columns``. The table resolves like
    ``CopySink.copy_sql`` names it. A failed connect, a missing table
    or a missing column raises SchemaValidationError."""
    relation = f'"{table}"'.replace("'", "''")
    sql = (
        "SELECT a.attname, t.typname FROM pg_attribute a "
        "JOIN pg_type t ON t.oid = a.atttypid "
        f"WHERE a.attrelid = '{relation}'::regclass "
        "AND a.attnum > 0 AND NOT a.attisdropped"
    )
    try:
        with _transaction(conn_string) as cur:
            cur.execute(sql)
            found = dict(cur.fetchall())
    except Exception as e:  # psycopg2 and pgwire errors share no base
        raise SchemaValidationError(
            f"cannot read the columns of destination table {table!r}: {e}"
        ) from e
    check_destination_columns(table, found, columns)
    return {c: found[c] for c in columns}


@contextmanager
def _transaction(conn_string: str, factory: "Callable[[str], Any] | None" = None):
    """One connection and one transaction around a cursor: commit when
    the block completes, roll back when it raises, close either way.
    The all-or-nothing unit of every PG sink here."""
    conn = _connect(conn_string, factory)
    try:
        with conn.cursor() as cur:
            yield cur
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def _connect(conn_string: str, factory: "Callable[[str], Any] | None" = None):
    """Executor-side connect: injected factory, psycopg2 when present,
    else the bundled pure-stdlib v3 wire client (pgwire.py) -- so the
    COPY fast path works on executors without the C extension."""
    if factory is not None:
        return factory(conn_string)
    try:
        import psycopg2  # preferred when the executor image has it
    except ImportError:
        from . import pgwire

        try:
            return pgwire.connect(conn_string)
        except OSError as e:
            # Spark's simplified worker traceback drops the chained
            # ImportError, so the error itself names the fallback.
            e.add_note("psycopg2 is not installed; the bundled pgwire "
                       "client could not connect")
            raise
    return psycopg2.connect(conn_string)
