"""CLI entry-point parity with the reference binary (reference:
src/main.rs:1-23, src/cmd_args.rs:16-28): YAML config in, work-list
drain to a sink, fail-fast exit codes for bad input."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_parquet_to_postgres_spark.__main__ import main

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def staged_cli(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    keys = []
    for i in range(2):
        path = tmp_path / f"obj{i}.parquet"
        orders.filter(F.col("o_orderkey") % 2 == i).coalesce(1).write.parquet(
            str(path)
        )
        keys.append(str(path))
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text("\n".join(keys) + "\n")
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"""
s3:
  download_batch_size: 1
  work_lists_dir: {work}
parquet:
  desired_fields: [o_orderkey, o_totalprice, o_orderstatus]
  parquet_to_db:
    o_orderkey: id
    o_totalprice: price
    o_orderstatus: null
"""
    )
    return tmp_path, cfg, orders


def test_cli_drains_to_parquet_sink(spark, staged_cli):
    tmp_path, cfg, orders = staged_cli
    out_dir = tmp_path / "out"
    rc = main([str(cfg), "--output-dir", str(out_dir)])
    assert rc == 0
    got = spark.read.parquet(str(out_dir))
    assert sorted(got.columns) == ["id", "o_orderstatus", "price"]
    assert got.count() == orders.count()
    completed = (tmp_path / "work" / "completed").read_text().strip()
    assert len(completed.splitlines()) == 2


def test_cli_batch_write_is_single_job(spark, staged_cli):
    """The per-batch row count must ride the write job via the
    Observation API, never a second full scan (reference parity: the
    one-pass loop in src/runner.rs:17-45). Measured: each batch costs
    exactly TWO jobs -- the parquet schema/footer read at
    spark.read time plus the observed write. Replacing _observed with
    a df.count() would add a third job per batch and trip the bound.
    Job-group attribution is thread-local, so main() running in this
    thread inherits it."""
    tmp_path, cfg, orders = staged_cli
    sc = spark.sparkContext
    sc.setJobGroup("cli-drain-jobcount", "single-job-per-batch assertion")
    try:
        rc = main([str(cfg), "--output-dir", str(tmp_path / "out_jobcount")])
    finally:
        sc.setJobGroup("", "")
    assert rc == 0
    ids = sc.statusTracker().getJobIdsForGroup("cli-drain-jobcount")
    n_batches = 2  # staged_cli: 2 files, download_batch_size 1
    assert len(ids) <= 2 * n_batches, (
        f"CLI drain ran {len(ids)} jobs for {n_batches} batches -- "
        "a second scan per batch has been reintroduced"
    )


def test_cli_bad_config_is_exit_2(tmp_path):
    cfg = tmp_path / "bad.yml"
    cfg.write_text("s3: {}\n")  # missing parquet section
    assert main([str(cfg), "--output-dir", "x"]) == 2


def test_cli_missing_db_section_is_exit_2(staged_cli, capsys):
    # With neither a db section nor --output-dir there is no sink:
    # the error names both ways to give one.
    _, cfg, _ = staged_cli
    assert main([str(cfg)]) == 2
    err = capsys.readouterr().err
    assert "db.table" in err and "--output-dir" in err


def test_cli_missing_output_dir_is_exit_2(staged_cli, capsys):
    # A db section without a table is no sink either, and nothing
    # connects: the error is the missing key, not a failed connect.
    _, cfg, _ = staged_cli
    cfg.write_text(cfg.read_text() + 'db:\n  conn_string: "postgresql://'
                   'x@127.0.0.1:1/etl?sslmode=disable"\n')
    assert main([str(cfg)]) == 2
    err = capsys.readouterr().err
    assert "are required" in err and "--output-dir" in err


def test_cli_failed_batch_is_exit_1_and_preserves_wip(spark, tmp_path):
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text(str(tmp_path / "missing.parquet") + "\n")
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"""
s3:
  download_batch_size: 1
  work_lists_dir: {work}
parquet:
  desired_fields: [o_orderkey]
"""
    )
    out_dir = tmp_path / "out"
    rc = main([str(cfg), "--output-dir", str(out_dir)])
    assert rc == 1
    # Fail-fast: nothing marked completed; the failed key stays in wip
    # so a rerun resumes it (reference: src/db.rs:202-239 semantics).
    assert not (work / "completed").exists() or not (
        work / "completed"
    ).read_text().strip()
    assert (work / "wip").read_text().strip().endswith("missing.parquet")


def test_cli_parquet_sink_accepts_nested_columns(spark, tmp_path):
    # Nested projection columns are fine for --output-dir (parquet
    # is a nested format); the flat-schema gate belongs to the
    # Postgres sink only (require_flat in __main__._postgres_sink).
    src = tmp_path / "nested.parquet"
    spark.createDataFrame(
        [(1, {"a": 1}), (2, {"a": 2})], "id long, props map<string,int>"
    ).coalesce(1).write.parquet(str(src))
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text(f"{src}\n")
    cfg = tmp_path / "config.yml"
    cfg.write_text(
        f"""
s3:
  download_batch_size: 1
  work_lists_dir: {work}
parquet:
  desired_fields: [id, props]
  parquet_to_db:
    id: null
    props: null
"""
    )
    out_dir = tmp_path / "out"
    rc = main([str(cfg), "--output-dir", str(out_dir)])
    assert rc == 0
    got = spark.read.parquet(str(out_dir))
    assert dict(got.dtypes)["props"] == "map<string,int>"
    assert got.count() == 2


# -- the Postgres path: catalog check, then COPY over the wire --------------
# The fake wire server answers the catalog query from a recorded
# {table: [(column, typname)]} dict and spools every committed COPY.

ORDERS_PG = [("id", "int4"), ("amount", "numeric"), ("day", "date"),
             ("name", "text")]


@pytest.fixture()
def pg_cli(spark, tmp_path):
    """Two one-file batches of int64/decimal/date/string/double rows
    (``rows`` leaves out the double, ``o_id / 4``), and a
    config naming the destination table ``orders`` (the conn string is
    filled in per test)."""
    import datetime as dt
    from decimal import Decimal

    rows = [
        (i, Decimal(f"{i * 37 - 100}.{i % 100:02d}"),
         dt.date(1999, 12, 30) + dt.timedelta(days=i * 41),
         None if i % 5 == 0 else f"n\t{i}é")
        for i in range(12)
    ]
    keys = []
    for b in range(2):
        path = tmp_path / f"batch{b}.parquet"
        spark.createDataFrame(
            [r + (r[0] / 4,) for r in rows if r[0] % 2 == b],
            "o_id long, o_amount decimal(10,2), o_day date, o_name string, "
            "o_ratio double",
        ).coalesce(1).write.parquet(str(path))
        keys.append(str(path))
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text("\n".join(keys) + "\n")

    def config(conn_string: str, fields=("o_id", "o_amount", "o_day",
                                         "o_name")) -> str:
        cfg = tmp_path / "pg.yml"
        renames = "".join(f"    {f}: {f[2:]}\n" for f in fields)
        cfg.write_text(
            f"""
s3:
  download_batch_size: 1
  work_lists_dir: {work}
parquet:
  desired_fields: [{", ".join(fields)}]
  parquet_to_db:
{renames}db:
  conn_string: "{conn_string}"
  table: orders
"""
        )
        return str(cfg)

    return rows, work, config


def _binary_rows(blob: bytes, decoders) -> list[tuple]:
    from s3_parquet_to_postgres_spark.sinks.copy import (
        BINARY_HEADER,
        BINARY_TRAILER,
    )

    from .test_copy_binary import parse_tuples

    assert blob.startswith(BINARY_HEADER) and blob.endswith(BINARY_TRAILER)
    body = blob[len(BINARY_HEADER):-len(BINARY_TRAILER)]
    return [
        tuple(None if f is None else dec(f) for dec, f in zip(decoders, row))
        for row in parse_tuples(body, len(decoders))
    ]


def test_cli_drains_into_postgres_with_copy_binary_and_casts(
        pg_cli, tmp_path, capsys):
    import datetime as dt
    import struct

    from .fake_pg_wire import FakePgServer
    from .test_copy_binary import decode_numeric

    rows, work, config = pg_cli
    with FakePgServer(str(tmp_path / "spool"),
                      catalog={"orders": ORDERS_PG}) as srv:
        rc = main([config(srv.conn_string)])
        sql, copies = srv.committed_sql(), srv.committed_copies()
    assert rc == 0
    assert capsys.readouterr().out.strip() == "completed 2 batches, 12 rows"
    assert sql and set(sql) == {
        'COPY "orders" ("id", "amount", "day", "name") FROM STDIN BINARY'}
    decoders = [
        lambda b: struct.unpack(">i", b)[0],  # int4: the int64 was cast
        decode_numeric,
        lambda b: dt.date(2000, 1, 1) + dt.timedelta(
            days=struct.unpack(">i", b)[0]),
        lambda b: b.decode(),
    ]
    got = sorted(r for blob in copies for r in _binary_rows(blob, decoders))
    assert got == rows
    # numeric keeps the source's scale: 1.00 stays 1.00, not 1.000...0
    assert [str(r[1]) for r in got] == [str(r[1]) for r in rows]
    assert len(work.joinpath("completed").read_text().split()) == 2


@pytest.mark.parametrize("catalog, conn", [
    ({"orders": ORDERS_PG[:3]}, None),  # no column "name"
    ({"other": ORDERS_PG}, None),  # no table "orders"
    ({}, "postgresql://x@127.0.0.1:1/etl?sslmode=disable"),  # no server
])
def test_cli_bad_destination_is_exit_2_before_any_copy(
        pg_cli, tmp_path, capsys, catalog, conn):
    from .fake_pg_wire import FakePgServer

    _, work, config = pg_cli
    todo = work.joinpath("todo").read_text()
    with FakePgServer(str(tmp_path / "spool"), catalog=catalog) as srv:
        rc = main([config(conn or srv.conn_string)])
        sent = srv.committed_sql() + srv.pending_files()
    assert rc == 2
    assert "orders" in capsys.readouterr().err
    assert sent == []
    assert work.joinpath("todo").read_text() == todo
    assert not work.joinpath("wip").exists()


@pytest.mark.parametrize("catalog, fields", [
    # jsonb's binary receive function takes a version byte first
    ({"orders": [("id", "int8"), ("name", "jsonb")]}, ("o_id", "o_name")),
    # int64 -> text is outside the cast matrix: Postgres parses it
    ({"orders": [("id", "text"), ("day", "date")]}, ("o_id", "o_day")),
    # Postgres parses a timestamp string in its own TimeZone
    ({"orders": [("id", "int8"), ("name", "timestamptz")]},
     ("o_id", "o_name")),
    # no decimal holds a double's shortest digits
    ({"orders": [("id", "int8"), ("ratio", "numeric")]}, ("o_id", "o_ratio")),
])
def test_cli_copies_text_when_binary_cannot_load(
        pg_cli, tmp_path, catalog, fields):
    from .fake_pg_wire import FakePgServer

    rows, _, config = pg_cli
    with FakePgServer(str(tmp_path / "spool"), catalog=catalog) as srv:
        rc = main([config(srv.conn_string, fields)])
        sql, copies = srv.committed_sql(), srv.committed_copies()
    assert rc == 0
    cols = ", ".join(f'"{f[2:]}"' for f in fields)
    assert sql and set(sql) == {f'COPY "orders" ({cols}) FROM STDIN'}
    lines = b"".join(copies).decode().splitlines()
    assert len(lines) == len(rows)
    assert sorted(int(line.split("\t")[0]) for line in lines) == list(range(12))


def test_cli_numeric_keeps_the_source_scale(spark, tmp_path):
    """An unconstrained numeric column stores what Postgres would parse
    from the value's text: a decimal keeps its scale and its integer
    digits (10**25 overflows a decimal(38,18)), an integer gets scale 0.
    The batch still goes as COPY BINARY."""
    from decimal import Decimal

    from .fake_pg_wire import FakePgServer
    from .test_copy_binary import decode_numeric

    src = tmp_path / "num.parquet"
    spark.createDataFrame(
        [(Decimal("1234.25"), Decimal(10**25), 5)],
        "o_amount decimal(6,2), o_big decimal(38,0), o_n long",
    ).coalesce(1).write.parquet(str(src))
    work = tmp_path / "work"
    work.mkdir()
    (work / "todo").write_text(f"{src}\n")
    with FakePgServer(str(tmp_path / "spool"), catalog={"nums": [
            ("amount", "numeric"), ("big", "numeric"), ("n", "numeric")]}) \
            as srv:
        cfg = tmp_path / "num.yml"
        cfg.write_text(
            f"s3:\n  work_lists_dir: {work}\n"
            "parquet:\n  desired_fields: [o_amount, o_big, o_n]\n"
            "  parquet_to_db: {o_amount: amount, o_big: big, o_n: n}\n"
            f"db:\n  conn_string: \"{srv.conn_string}\"\n  table: nums\n"
        )
        assert main([str(cfg)]) == 0
        sql, copies = srv.committed_sql(), srv.committed_copies()
    assert sql == ['COPY "nums" ("amount", "big", "n") FROM STDIN BINARY']
    got = _binary_rows(b"".join(copies), [decode_numeric] * 3)
    assert [tuple(map(str, r)) for r in got] == [
        ("1234.25", "10000000000000000000000000", "5")]


def test_db_mode_is_a_config_error(tmp_path, capsys):
    # The sink runs once per batch, so a per-write mode such as
    # overwrite would have kept only a drain's last batch.
    cfg = tmp_path / "mode.yml"
    cfg.write_text(
        """
s3: {work_lists_dir: work}
parquet: {desired_fields: [a]}
db: {conn_string: "postgresql://x@127.0.0.1:1/etl", table: t, mode: overwrite}
"""
    )
    assert main([str(cfg)]) == 2
    err = capsys.readouterr().err
    assert "db.mode" in err and "appends" in err
