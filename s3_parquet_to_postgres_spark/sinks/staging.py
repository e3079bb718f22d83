"""Staging-table + atomic-swap: the idempotence half of the PG sinks.

Spark tasks retry; a retried COPY partition replays its whole
partition, so writing straight into the live table is at-least-once.
The exactly-once pattern at any scale is: write the job's output into
a staging table, then swap it into place in ONE transaction -- readers
see the old table or the new one, never a partial load. (The reference
has no answer here at all: its serial loop simply aborts mid-table on
failure, reference: src/db.rs:202-239 -- this module is the Spark-era
completion of that gap, documented in SURVEY.md §7.3.)

All SQL generation is pure and unit-tested without a database; the
execution half goes through the same connection and transaction
helper as CopySink (``copy._transaction``). Both swap styles are
provided:

* ``swap_by_rename`` -- ALTER TABLE RENAME shuffle inside a
  transaction. Fully atomic in Postgres (DDL is transactional), takes
  an ACCESS EXCLUSIVE lock for the instant of the swap.
* ``clone_then_swap_ddl`` -- CREATE TABLE staging (LIKE live INCLUDING
  ALL), for bootstrapping the staging table with identical schema,
  defaults, and indexes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable


def _q(ident: str) -> str:
    """Quote a PG identifier (embedded quotes doubled)."""
    return '"' + ident.replace('"', '""') + '"'


def _staging(table: str) -> str:
    return f"{table}__staging"


def clone_then_swap_ddl(table: str) -> str:
    """DDL that (re)creates an empty staging clone of the live table."""
    stg = _staging(table)
    return (
        f"DROP TABLE IF EXISTS {_q(stg)};\n"
        f"CREATE TABLE {_q(stg)} (LIKE {_q(table)} INCLUDING ALL);"
    )


def swap_by_rename(table: str) -> str:
    """One transaction that promotes the staging table to live.

    The old live table moves to ``<table>__old`` and is dropped, the
    staging table takes the live name. Readers block for the duration
    of the two renames (microseconds), then see the complete new data
    -- never a partial load.
    """
    stg = _staging(table)
    old = f"{table}__old"
    return "\n".join([
        "BEGIN;",
        f"DROP TABLE IF EXISTS {_q(old)};",
        f"ALTER TABLE {_q(table)} RENAME TO {_q(old)};",
        f"ALTER TABLE {_q(stg)} RENAME TO {_q(table)};",
        f"DROP TABLE {_q(old)};",
        "COMMIT;",
    ])


@dataclass
class StagedLoad:
    """Orchestrates sink -> staging table -> atomic swap.

    Usage::

        staged = StagedLoad(conn_string, table="events")
        sink = CopySink(conn_string, staged.staging_table, cols,
                        format="binary")
        staged.prepare()          # clone schema into staging
        rows = sink.write(df)     # parallel COPY into staging
        staged.swap()             # one-transaction promote

    A failed job leaves the live table untouched; rerunning starts by
    re-cloning staging, so partial staged data never leaks.
    """

    conn_string: str
    table: str
    # Injectable for tests / alternative drivers (same contract as
    # CopySink.connection_factory); None -> the bundled pgwire client.
    connection_factory: Callable[[str], Any] | None = None

    @property
    def staging_table(self) -> str:
        return _staging(self.table)

    def prepare(self) -> None:
        self._execute(clone_then_swap_ddl(self.table))

    def swap(self) -> None:
        self._execute(swap_by_rename(self.table))

    def _execute(self, script: str) -> None:
        from .copy import _transaction

        with _transaction(self.conn_string, self.connection_factory) as cur:
            cur.execute(script)
