"""Staging-table + atomic-swap: the idempotence half of the PG sinks.

Spark tasks retry; a retried COPY/JDBC partition replays its whole
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


def clone_then_swap_ddl(table: str, staging: str | None = None) -> str:
    """DDL that (re)creates an empty staging clone of the live table."""
    stg = staging or f"{table}__staging"
    return (
        f"DROP TABLE IF EXISTS {_q(stg)};\n"
        f"CREATE TABLE {_q(stg)} (LIKE {_q(table)} INCLUDING ALL);"
    )


def swap_by_rename(table: str, staging: str | None = None,
                   keep_old: bool = False) -> str:
    """One transaction that promotes the staging table to live.

    The old live table moves to ``<table>__old`` (dropped unless
    ``keep_old``), the staging table takes the live name. Readers
    block for the duration of the two renames (microseconds), then
    see the complete new data -- never a partial load.
    """
    stg = staging or f"{table}__staging"
    old = f"{table}__old"
    stmts = [
        "BEGIN;",
        f"DROP TABLE IF EXISTS {_q(old)};",
        f"ALTER TABLE {_q(table)} RENAME TO {_q(old)};",
        f"ALTER TABLE {_q(stg)} RENAME TO {_q(table)};",
    ]
    if not keep_old:
        stmts.append(f"DROP TABLE {_q(old)};")
    stmts.append("COMMIT;")
    return "\n".join(stmts)


def merge_upsert_sql(
    table: str,
    key_cols: list[str],
    update_cols: list[str],
    staging: str | None = None,
) -> str:
    """One-statement UPSERT promote: merge the staging table into the
    live table keyed on ``key_cols`` (INSERT .. ON CONFLICT DO
    UPDATE), the incremental alternative to the full-table swap --
    right when a load carries only changed rows and the live table
    must keep its unmatched history. Requires a unique index on the
    key columns (the ON CONFLICT arbiter). With no ``update_cols``
    the conflict action is DO NOTHING (insert-only dedup load).
    """
    stg = staging or f"{table}__staging"
    keys = ", ".join(_q(c) for c in key_cols)
    cols = key_cols + update_cols
    collist = ", ".join(_q(c) for c in cols)
    if update_cols:
        sets = ", ".join(
            f"{_q(c)} = EXCLUDED.{_q(c)}" for c in update_cols
        )
        action = f"DO UPDATE SET {sets}"
    else:
        action = "DO NOTHING"
    return (
        f"INSERT INTO {_q(table)} ({collist})\n"
        f"SELECT {collist} FROM {_q(stg)}\n"
        f"ON CONFLICT ({keys}) {action};"
    )


def applied_log_ddl(log_table: str = "__applied_batches") -> str:
    """The batch-id dedup log behind exactly-once foreachBatch sinks."""
    return (
        f"CREATE TABLE IF NOT EXISTS {_q(log_table)} "
        f"(batch_id BIGINT PRIMARY KEY, applied_at TIMESTAMPTZ "
        f"DEFAULT now());"
    )


def exactly_once_merge_sql(
    table: str,
    key_cols: list[str],
    update_cols: list[str],
    batch_id: int,
    staging: str | None = None,
    log_table: str = "__applied_batches",
) -> str:
    """ONE atomic statement that claims ``batch_id`` and merges the
    staging table into the live table only if the claim succeeded:
    a data-modifying CTE (INSERT .. ON CONFLICT DO NOTHING RETURNING)
    gates the upsert with WHERE EXISTS. A replayed micro-batch finds
    its id already logged, the CTE returns no row, and the merge
    no-ops -- exactly-once without procedural branching, holding for
    batch retries AND whole-query restarts (Spark's foreachBatch
    batch_id is stable across both).
    """
    stg = staging or f"{table}__staging"
    cols = key_cols + update_cols
    collist = ", ".join(_q(c) for c in cols)
    keys = ", ".join(_q(c) for c in key_cols)
    if update_cols:
        sets = ", ".join(f"{_q(c)} = EXCLUDED.{_q(c)}" for c in update_cols)
        action = f"DO UPDATE SET {sets}"
    else:
        action = "DO NOTHING"
    return (
        f"WITH claimed AS (\n"
        f"  INSERT INTO {_q(log_table)} (batch_id) VALUES ({int(batch_id)})\n"
        f"  ON CONFLICT DO NOTHING RETURNING batch_id\n"
        f")\n"
        f"INSERT INTO {_q(table)} ({collist})\n"
        f"SELECT {collist} FROM {_q(stg)}\n"
        f"WHERE EXISTS (SELECT 1 FROM claimed)\n"
        f"ON CONFLICT ({keys}) {action};"
    )


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
    staging: str | None = None
    keep_old: bool = False
    # Injectable for tests / alternative drivers (same contract as
    # CopySink.connection_factory); None -> psycopg2.connect.
    connection_factory: Callable[[str], Any] | None = None

    @property
    def staging_table(self) -> str:
        return self.staging or f"{self.table}__staging"

    def prepare(self) -> None:
        self._execute(clone_then_swap_ddl(self.table, self.staging_table))

    def swap(self) -> None:
        self._execute(
            swap_by_rename(self.table, self.staging_table, self.keep_old)
        )

    def merge(self, key_cols: list[str], update_cols: list[str]) -> None:
        """UPSERT promote (see ``merge_upsert_sql``): incremental
        alternative to ``swap`` for changed-rows-only loads."""
        self._execute(
            merge_upsert_sql(
                self.table, key_cols, update_cols, self.staging_table
            )
        )

    def _execute(self, script: str) -> None:
        from .copy import _transaction

        with _transaction(self.conn_string, self.connection_factory) as cur:
            cur.execute(script)


@dataclass
class ExactlyOnceBatchSink:
    """foreachBatch sink with transactional batch-id dedup -- the
    exactly-once bridge from ``streaming.ingest.foreach_batch_load``
    to the PG sinks, and the streaming completion of the reference's
    completed-list idempotence (reference: src/work_lists.rs:83-108,
    which dedups at file granularity but replays a half-written COPY).

    Per micro-batch:

    1. ``stage_fn(df)`` (re)loads the batch's rows into the staging
       table after ``prepare()`` re-clones it -- an idempotent
       overwrite, safe to repeat on task or batch retry;
    2. ONE atomic statement (``exactly_once_merge_sql``) claims the
       batch id in the applied log and merges staging into the live
       table only if the claim succeeded.

    A replayed batch re-stages its rows, then no-ops at step 2: the
    merge never applies twice.
    """

    staged: StagedLoad
    key_cols: list[str]
    update_cols: list[str]
    stage_fn: Callable[[Any], Any]
    log_table: str = "__applied_batches"

    def ensure_log(self) -> None:
        self.staged._execute(applied_log_ddl(self.log_table))

    def __call__(self, df: Any, batch_id: int) -> None:
        self.staged.prepare()
        self.stage_fn(df)
        self.staged._execute(
            exactly_once_merge_sql(
                self.staged.table,
                self.key_cols,
                self.update_cols,
                batch_id,
                self.staged.staging_table,
                self.log_table,
            )
        )
