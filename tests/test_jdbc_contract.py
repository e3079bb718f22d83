"""Contract tests for the PG-facing fail-fast validation, driven with
recorded JDBC schemas instead of a live Postgres (the reference's e2e
runs against real PG + localstack, src/runner.rs:163-374 and
src/test_setup.rs:433-456; this container has neither, so the
fail-fast matrix of src/db.rs:50-54,134-145,385-502 is pinned at the
contract seam instead)."""

from __future__ import annotations

import pytest

from s3_parquet_to_postgres_spark.sinks.jdbc import (
    JdbcSink,
    SchemaValidationError,
    check_destination_columns,
    validate_target_schema,
)

# A recorded destination schema, as a JDBC introspection of the
# reference's users example table would return it
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


def test_unreachable_or_missing_table_wraps_to_schema_error(spark):
    # The JDBC read fails (no PG driver / no server here) and must
    # surface as SchemaValidationError naming the table -- the
    # missing-table abort path (reference: src/db.rs:50-54).
    with pytest.raises(SchemaValidationError, match="'nope'"):
        validate_target_schema(
            spark, "jdbc:postgresql://localhost:1/void", "nope", ["id"]
        )


def test_jdbc_sink_validate_delegates(spark):
    sink = JdbcSink(url="jdbc:postgresql://localhost:1/void", table="t")
    with pytest.raises(SchemaValidationError):
        sink.validate(spark, ["id"])


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


def test_swap_keep_old_retains_backup():
    from s3_parquet_to_postgres_spark.sinks.staging import swap_by_rename

    sql = swap_by_rename("t", keep_old=True)
    assert 'DROP TABLE "t__old";' not in sql
    assert sql.count("DROP TABLE IF EXISTS") == 1


def test_identifier_quoting_doubles_embedded_quotes():
    from s3_parquet_to_postgres_spark.sinks.staging import swap_by_rename

    sql = swap_by_rename('we"ird')
    assert '"we""ird"' in sql


def test_staged_load_fails_cleanly_without_psycopg2():
    # psycopg2 is absent in this container; StagedLoad falls back to
    # the bundled pure-stdlib wire client (sinks/pgwire.py), which
    # must surface a clean CONNECTION error for an unreachable DSN --
    # never an ImportError.
    from s3_parquet_to_postgres_spark.sinks.staging import StagedLoad

    staged = StagedLoad("postgresql://nope", table="t")
    assert staged.staging_table == "t__staging"
    with pytest.raises(OSError):
        staged.prepare()
