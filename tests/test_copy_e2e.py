"""End-to-end CopySink tests through the REAL executor path (one
mapInArrow job for both TEXT and BINARY), using an injected
connection factory instead of live Postgres: framing, row counts,
commit/rollback semantics -- the 'socket half' the container
otherwise can't reach (reference e2e runs against real PG,
src/runner.rs:163-374). Two test names still say foreachPartition,
the job TEXT and BINARY ran before both moved to mapInArrow."""

from __future__ import annotations

import glob
import os
import struct
import uuid
from functools import partial

import pytest

from s3_parquet_to_postgres_spark.sinks.copy import (
    BINARY_HEADER,
    BINARY_TRAILER,
    CopySink,
)


class _FakeCursor:
    def __init__(self, outdir: str, mode: str):
        self.outdir, self.mode = outdir, mode

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def copy_expert(self, sql, buf):
        data = buf.read()
        raw = data.encode() if isinstance(data, str) else data
        path = os.path.join(self.outdir, f"{uuid.uuid4().hex}.copy")
        with open(path, "wb") as fh:
            fh.write(raw)
        with open(os.path.join(self.outdir, f"{uuid.uuid4().hex}.sql"), "w") as fh:
            fh.write(sql)


class _FakeConn:
    def __init__(self, outdir: str, fail: bool):
        self.outdir, self.fail = outdir, fail

    def cursor(self):
        if self.fail:
            raise RuntimeError("constraint violation (simulated)")
        return _FakeCursor(self.outdir, "w")

    def commit(self):
        with open(os.path.join(self.outdir, f"{uuid.uuid4().hex}.commit"), "w"):
            pass

    def rollback(self):
        with open(os.path.join(self.outdir, f"{uuid.uuid4().hex}.rollback"), "w"):
            pass

    def close(self):
        pass


def fake_factory(outdir: str, fail: bool, conn_string: str):
    return _FakeConn(outdir, fail)


def test_text_copy_through_foreachpartition(spark, tmp_path):
    out = str(tmp_path)
    df = spark.createDataFrame(
        [(i, f"name-{i}") for i in range(1000)], "id long, name string"
    ).repartition(4)
    sink = CopySink("postgresql://fake", "t", ("id", "name"),
                    connection_factory=partial(fake_factory, out, False))
    assert sink.write(df) == 1000
    lines = []
    for f in glob.glob(os.path.join(out, "*.copy")):
        lines += open(f, "rb").read().decode().splitlines()
    assert len(lines) == 1000
    assert sorted(lines)[0].split("\t")[1] == "name-0"
    # one commit per partition
    assert len(glob.glob(os.path.join(out, "*.commit"))) == 4
    for f in glob.glob(os.path.join(out, "*.sql")):
        assert open(f).read() == 'COPY "t" ("id", "name") FROM STDIN'


def test_binary_copy_through_foreachpartition(spark, tmp_path):
    out = str(tmp_path)
    df = spark.createDataFrame(
        [(i, float(i) / 2, f"s{i}") for i in range(500)],
        "id long, x double, s string",
    ).repartition(3)
    sink = CopySink("postgresql://fake", "t", ("id", "x", "s"),
                    format="binary",
                    connection_factory=partial(fake_factory, out, False))
    assert sink.write(df) == 500
    total = 0
    ids = set()
    for f in glob.glob(os.path.join(out, "*.copy")):
        blob = open(f, "rb").read()
        assert blob.startswith(BINARY_HEADER) and blob.endswith(BINARY_TRAILER)
        pos = len(BINARY_HEADER)
        while pos < len(blob) - len(BINARY_TRAILER):
            (nfields,) = struct.unpack_from(">h", blob, pos)
            assert nfields == 3
            pos += 2
            row = []
            for _ in range(nfields):
                (ln,) = struct.unpack_from(">i", blob, pos)
                pos += 4
                if ln >= 0:
                    row.append(blob[pos:pos + ln])
                    pos += ln
                else:
                    row.append(None)
            ids.add(struct.unpack(">q", row[0])[0])
            total += 1
    assert total == 500 and ids == set(range(500))
    for f in glob.glob(os.path.join(out, "*.sql")):
        assert open(f).read().endswith("FROM STDIN BINARY")


def test_failure_rolls_back_and_fails_job(spark, tmp_path):
    out = str(tmp_path)
    df = spark.createDataFrame([(1,), (2,)], "id long").repartition(1)
    sink = CopySink("postgresql://fake", "t", ("id",),
                    connection_factory=partial(fake_factory, out, True))
    with pytest.raises(Exception):
        sink.write(df)
    assert glob.glob(os.path.join(out, "*.rollback"))
    assert not glob.glob(os.path.join(out, "*.commit"))


def test_staged_load_executes_prepare_then_swap(tmp_path):
    # Full staged-load orchestration against the fake connection:
    # prepare clones the staging table, swap promotes in one script.
    from s3_parquet_to_postgres_spark.sinks.staging import StagedLoad

    out = str(tmp_path)
    executed = []

    class _RecConn(_FakeConn):
        def cursor(self):
            outer = self

            class _C(_FakeCursor):
                def __init__(self):
                    super().__init__(outer.outdir, "w")

                def execute(self, sql):
                    executed.append(sql)

            return _C()

    staged = StagedLoad("postgresql://fake", table="events",
                        connection_factory=lambda cs: _RecConn(out, False))
    staged.prepare()
    staged.swap()
    assert 'CREATE TABLE "events__staging" (LIKE "events" INCLUDING ALL);' in executed[0]
    assert executed[1].startswith("BEGIN;")
    assert 'ALTER TABLE "events__staging" RENAME TO "events";' in executed[1]
    # two scripts, each followed by a commit
    assert len(glob.glob(os.path.join(out, "*.commit"))) == 2
