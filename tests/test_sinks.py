"""COPY-encoder unit tests (the pure-Python piece of the Postgres COPY
sink), the destination column check, and the staging-swap SQL. The
socket half runs against the fake wire server in
test_copy_socket_e2e.py and test_cli.py. The COPY task's zip
directory helper is tested here on a zip package of its own."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from datetime import date, datetime

import pytest

from s3_parquet_to_postgres_spark.sinks.copy import (
    SchemaValidationError,
    _reread_changed_zips_only,
    check_destination_columns,
    encode_rows,
)


def enc(*row):
    return list(encode_rows([row]))[0]


def test_basic_row():
    assert enc(1, "x", 2.5) == "1\tx\t2.5\n"


def test_null_is_backslash_n():
    assert enc(None, "a") == "\\N\ta\n"


def test_bool_and_bytes():
    assert enc(True, False) == "t\tf\n"
    assert enc(b"\x01\xff") == "\\\\x01ff\n"


def test_escapes():
    assert enc("a\tb") == "a\\tb\n"
    assert enc("a\nb") == "a\\nb\n"
    assert enc("a\\b") == "a\\\\b\n"
    assert enc("a\rb") == "a\\rb\n"


def test_dates_and_timestamps():
    assert enc(date(2024, 1, 2)) == "2024-01-02\n"
    assert enc(datetime(2024, 1, 2, 3, 4, 5)) == "2024-01-02 03:04:05\n"


def test_multiple_rows_stream():
    lines = list(encode_rows([(1,), (2,)]))
    assert lines == ["1\n", "2\n"]


def test_copy_sink_unreachable_server_names_pgwire(spark):
    # An unreachable DSN fails the job with the bundled pgwire client's
    # connect error, which names the client even through Spark's
    # simplified worker traceback.
    from s3_parquet_to_postgres_spark.sinks.copy import CopySink

    sink = CopySink(conn_string="postgresql://nope", table="t",
                    columns=("a",))
    df = spark.createDataFrame([(1,), (2,)], ["a"])
    with pytest.raises(Exception, match="pgwire client could not connect"):
        sink.write(df)


def test_copy_sql_quotes_identifiers():
    from s3_parquet_to_postgres_spark.sinks.copy import CopySink

    sink = CopySink(conn_string="", table="my table",
                    columns=("a", "select"))
    assert sink.copy_sql() == 'COPY "my table" ("a", "select") FROM STDIN'


# -- destination column check (reference: src/db.rs:134-145) ---------------

# The reference's users example table
# (reference: README.md config example; src/db.rs:385-502 tests).
USERS_COLS = ["id", "email", "age", "signup_date"]


def test_all_expected_columns_present_passes():
    check_destination_columns("users", USERS_COLS, ["id", "email"])
    check_destination_columns("users", USERS_COLS, USERS_COLS)


def test_missing_column_aborts_naming_it():
    # reference: src/db.rs:134-145 "Column '{}' not found in table"
    with pytest.raises(SchemaValidationError, match=r"\['nickname'\]"):
        check_destination_columns("users", USERS_COLS, ["id", "nickname"])


def test_multiple_missing_columns_all_named():
    with pytest.raises(SchemaValidationError, match="a.*b") as ei:
        check_destination_columns("users", USERS_COLS, ["a", "b", "id"])
    assert "users" in str(ei.value)


def test_case_sensitive_like_reference_hashmap():
    # PG folds unquoted identifiers to lowercase; the reference's
    # column lookup is a case-sensitive HashMap hit. 'ID' != 'id'.
    with pytest.raises(SchemaValidationError):
        check_destination_columns("users", USERS_COLS, ["ID"])


def test_empty_expected_is_vacuously_valid():
    check_destination_columns("users", USERS_COLS, [])


# -- staging swap (the exactly-once promote; SQL pure, no PG needed) --------

def test_clone_ddl_quotes_and_targets_staging():
    from s3_parquet_to_postgres_spark.sinks.staging import clone_then_swap_ddl

    ddl = clone_then_swap_ddl("events")
    assert 'DROP TABLE IF EXISTS "events__staging";' in ddl
    assert 'CREATE TABLE "events__staging" (LIKE "events" INCLUDING ALL);' in ddl


def test_swap_is_one_transaction_ordered():
    from s3_parquet_to_postgres_spark.sinks.staging import swap_by_rename

    sql = swap_by_rename("events")
    lines = sql.splitlines()
    assert lines[0] == "BEGIN;" and lines[-1] == "COMMIT;"
    # old dropped first, live -> old, staging -> live, old dropped
    assert lines[1] == 'DROP TABLE IF EXISTS "events__old";'
    assert lines[2] == 'ALTER TABLE "events" RENAME TO "events__old";'
    assert lines[3] == 'ALTER TABLE "events__staging" RENAME TO "events";'
    assert lines[4] == 'DROP TABLE "events__old";'


def test_identifier_quoting_doubles_embedded_quotes():
    from s3_parquet_to_postgres_spark.sinks.staging import swap_by_rename

    sql = swap_by_rename('we"ird')
    assert '"we""ird"' in sql


def test_staged_load_unreachable_server_is_a_connect_error():
    # StagedLoad connects through the bundled pure-stdlib wire client
    # (sinks/pgwire.py), which must surface a clean CONNECTION error
    # for an unreachable DSN.
    from s3_parquet_to_postgres_spark.sinks.staging import StagedLoad

    staged = StagedLoad("postgresql://nope", table="t")
    assert staged.staging_table == "t__staging"
    with pytest.raises(OSError) as err:
        staged.prepare()
    assert "the bundled pgwire client could not connect" in err.value.__notes__


# -- zip directories re-read only when the archive changed -------------------

def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                    reason="this zipimport re-reads directories lazily")
def test_zip_directory_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    archive = tmp_path / "zipped_pkg.zip"
    modules = {"zipped_pkg/__init__.py": "", "zipped_pkg/sub/__init__.py": "",
               "zipped_pkg/sub/a.py": "A = 1\n"}
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(str(archive))
    cls = zipimport.zipimporter
    try:
        assert importlib.import_module("zipped_pkg.sub.a").A == 1
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, cls) and f.archive == str(archive)]
        assert len(importers) >= 2  # the archive root and zipped_pkg/

        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or read_directory(a))
        monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
        _reread_changed_zips_only()
        patched = cls.invalidate_caches
        _reread_changed_zips_only()
        assert cls.invalidate_caches is patched  # idempotent

        importlib.invalidate_caches()  # the first call records the archive
        assert reads.count(str(archive)) == 1
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        _write_zip(archive, {**modules, "zipped_pkg/sub/b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("zipped_pkg.sub.b").B == 2
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zipped_pkg"]:
            del sys.modules[name]
        for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[path]
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_zip_helper_leaves_a_lazy_zipimporter_alone(monkeypatch):
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "_get_files", lambda self: {}, raising=False)
    lazy = cls.invalidate_caches
    monkeypatch.setattr(cls, "invalidate_caches", lazy)
    _reread_changed_zips_only()
    assert cls.invalidate_caches is lazy
