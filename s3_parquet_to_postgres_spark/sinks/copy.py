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
into PGCOPY tuples (``encode_batch_binary``): runs of null-free
fixed-width fields become one packed numpy record per row, every other
column an Arrow ``large_binary`` piece, and one Arrow
``binary_join_element_wise`` concatenates each row's pieces, so no row
is ever pickled into a Python ``Row``; TEXT feeds the batch's columns
to the per-row ``encode_rows`` (``encode_batch_text``). ``copy_expert``
reads the partition from a file object over header + encoded batches
+ trailer that encodes a batch only when it is read, so the partition
is never held whole, and that counts the rows it hands out. Each task
yields its row count and the driver sums them: the count comes from
the same single job as the COPY. Executors need pyarrow and numpy,
which the package's Arrow kernels already require. The per-row binary
encoder (``binary_encoders`` + ``encode_rows_binary``) stays as the
reference the columnar one is tested against byte for byte. Each COPY
task first stops its Python worker from re-reading unchanged zip
archives such as ``pyspark.zip`` at the start of every later task
(``_reread_changed_zips_only``), about 0.2 CPU-s per task on CPython
3.12 and older.

The executor connects through an injected factory (tests /
alternative drivers), else the bundled pure-stdlib v3 wire-protocol
client (``pgwire.py``), so the COPY path has no C-extension
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

    Record runs joined by Arrow. Walking the columns in order, every
    null-free fixed-width column adds its field (a constant ``>i4``
    length and the big-endian value) to the current *record run*: one
    packed numpy structured record per row, which starts with the
    int16 field count. A column of any other kind (string, binary,
    decimal, or fixed-width with NULLs in this batch) adds only its
    ``>i4`` lengths (-1 for NULL) to the run, closes it, and adds its
    values as a ``large_binary`` piece whose NULL slots are null. One
    ``pyarrow.compute.binary_join_element_wise`` over the pieces, with
    nulls skipped, then yields every row's tuple. date32 and
    timestamp values are shifted from the Unix to the PG epoch, and
    decimals alone go value by value through ``encode_numeric``.

    Takes the Arrow types Spark's Arrow conversion emits for the
    types ``binary_encoders`` accepts (``string``/``large_string``/
    ``binary``/``large_binary``, any slice offset), and raises
    TypeError on any other. Timestamps are encoded as the instant the
    column holds (microseconds since the Unix epoch, in UTC): Spark
    hands ``mapInArrow`` UTC instants, whatever the session time
    zone, while the row encoder renders a ``timestamp`` in the Python
    worker's local zone. The two agree when that zone is UTC, as in
    sessions this package builds; ``timestamp_ntz`` agrees always.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    if n == 0:
        return b""
    pieces, run = [], [(">i2", batch.num_columns)]
    for col in batch.columns:
        values, dtype = _fixed_values(col)
        if dtype is not None and col.null_count == 0:
            run += [(">i4", dtype.itemsize), (dtype, values)]
            continue
        piece = _binary_piece(col, values, dtype)
        valid = piece.is_valid().to_numpy(zero_copy_only=False)
        run.append((">i4", np.where(valid, np.diff(_offsets(piece)), -1)))
        pieces += [_record_run(run, n), piece]
        run = []
    if run:
        pieces.append(_record_run(run, n))
    joined = pc.binary_join_element_wise(
        *pieces, pa.scalar(b"", pa.large_binary()), null_handling="skip")
    offs = _offsets(joined)
    return joined.buffers()[2].slice(offs[0], offs[-1] - offs[0]).to_pybytes()


def _offsets(arr):
    """A ``large_binary`` array's ``len(arr) + 1`` value offsets."""
    import numpy as np

    return np.frombuffer(arr.buffers()[1], np.int64,
                         count=arr.offset + len(arr) + 1)[arr.offset:]


def _fixed_values(col):
    """A fixed-width Arrow column -> (its values as numpy, shifted to
    the PG epoch, in row order; the big-endian PG dtype), or (None,
    None) for a variable-width column. Raises TypeError on a type
    ``encode_batch_binary`` does not take."""
    import numpy as np
    import pyarrow as pa

    n, off, t = len(col), col.offset, col.type
    if pa.types.is_boolean(t):
        bits = np.unpackbits(np.frombuffer(col.buffers()[1], np.uint8),
                             bitorder="little")
        return bits[off:off + n], np.dtype("u1")
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)
            or pa.types.is_decimal(t)):
        return None, None
    if pa.types.is_timestamp(t) and t.unit == "us":
        src, dst, shift = "i8", ">i8", _PG_EPOCH_MICROS
    elif str(t) in _ARROW_FIXED:
        src, dst, shift = _ARROW_FIXED[str(t)]
    else:
        raise TypeError(f"COPY BINARY: unsupported Arrow type {t}")
    with np.errstate(invalid="ignore"):  # float NaNs, quieted on purpose
        values = np.frombuffer(col.buffers()[1], src, count=off + n)[off:] - shift
    return values, np.dtype(dst)


def _binary_piece(col, values, dtype):
    """One column that leaves the record run -> a ``large_binary``
    array of its PG field bytes per row, null where the column is."""
    import numpy as np
    import pyarrow as pa

    if pa.types.is_decimal(col.type):
        return pa.array([None if v is None else encode_numeric(v)
                         for v in col.to_pylist()], pa.large_binary())
    if dtype is None:
        return col.cast(pa.large_binary())
    n = len(col)
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    return pa.Array.from_buffers(pa.large_binary(), n, [
        pa.py_buffer(np.packbits(valid, bitorder="little")),
        pa.py_buffer(np.arange(n + 1, dtype=np.int64) * dtype.itemsize),
        pa.py_buffer(values.astype(dtype)),
    ])


def _record_run(run, n):
    """``[(big-endian dtype, values or one scalar), ...]`` -> a
    ``large_binary`` array whose value ``i`` is row ``i``'s packed
    record of those fields, in that order."""
    import numpy as np
    import pyarrow as pa

    recs = np.empty(n, [(f"f{i}", dt) for i, (dt, _) in enumerate(run)])
    for i, (_, v) in enumerate(run):
        recs[f"f{i}"] = v
    return pa.Array.from_buffers(pa.large_binary(), n, [
        None, pa.py_buffer(np.arange(n + 1, dtype=np.int64) * recs.dtype.itemsize),
        pa.py_buffer(recs)])


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

    Each task starts with ``_reread_changed_zips_only``: PySpark calls
    ``importlib.invalidate_caches()`` before every task, which on
    CPython 3.12 and older makes each zipimporter re-read its whole
    archive directory; the helper keeps an unchanged archive's. It
    runs in the worker only, never on the driver.
    """

    conn_string: str
    table: str
    columns: tuple[str, ...]
    format: str = "text"  # "text" | "binary"
    # Injectable for tests / alternative drivers: a picklable callable
    # (conn_string) -> DB-API connection. None -> the bundled pgwire
    # client on the executor. Lets the full executor path (framing,
    # commit / rollback, row counts) run end-to-end without a live
    # Postgres.
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

            _reread_changed_zips_only()
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


def _reread_changed_zips_only() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size,
    st_ino)`` changed since this process last read it. Idempotent.

    The Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task. Up to CPython 3.12, each zipimporter then
    re-reads its archive's whole directory in pure Python, and a
    worker holds one zipimporter per package directory it imported
    from ``pyspark.zip``: some 15 re-reads of 1,328 entries, about
    0.2 CPU-s per task. A rewritten or new archive is still read
    again; an unchanged one keeps the directory already cached.
    Where ``zipimporter`` already invalidates lazily (it reads its
    directory through ``_get_files``, CPython 3.13+), this does
    nothing. Installed from the COPY task, so it takes effect from
    the worker's next task on.
    """
    import os
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return reread(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        read_at[self.archive] = key
        reread(self)

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches


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
    except Exception as e:  # OSError and pgwire errors share no base
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
    """Executor-side connect: the injected factory, else the bundled
    pure-stdlib v3 wire client (pgwire.py)."""
    if factory is not None:
        return factory(conn_string)
    from . import pgwire

    try:
        return pgwire.connect(conn_string)
    except OSError as e:
        # Spark's simplified worker traceback drops the context, so the
        # error itself names the client that could not connect.
        e.add_note("the bundled pgwire client could not connect")
        raise
