"""Resumable work-list manifest: todo -> wip -> completed.

Behavioral parity with the reference's checkpointing scheme
(reference: src/work_lists.rs):

* three plain-text files in one directory: ``todo``, ``wip``,
  ``completed`` (reference: src/work_lists.rs:49-58)
* ``next_batch(n)`` pops up to n keys from todo, skipping blank and
  ``#``-comment lines, writes them to wip, rewrites the remainder to
  todo (reference: src/work_lists.rs:110-208, filter at :141-151)
* on startup, a non-empty wip file is reloaded as in-flight work so a
  crashed run resumes (reference: src/work_lists.rs:20-43,61-81)
* consistency check: if in-memory wip and the wip file disagree, abort
  (reference: src/work_lists.rs:111-125)
* ``mark_completed`` appends to completed FIRST, then rewrites wip
  without the key -- at-least-once with completed-log dedup
  (reference: src/work_lists.rs:83-108)

Deliberate parity DEVIATION: duplicate keys are deduplicated to their
first occurrence (in resume, ``next_batch`` and the consistency
check). The reference takes the first batch_size work lines verbatim,
duplicates included (src/work_lists.rs:141-151 filters only blanks and
comments); re-processing the same key twice in one batch is never
what an operator wants, so this engine treats the work list as an
ordered SET of keys.

This is driver-side bookkeeping (tiny files, one writer); the data
path itself stays fully distributed. This manifest is the engine's
one resumable drain (``pipeline.run``): explicit, human-editable key
lists like the reference's.
"""

from __future__ import annotations

import os


class WorkListError(RuntimeError):
    pass


def _read_lines(path: str) -> list[str]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [ln.rstrip("\n") for ln in fh]


def _write_lines(path: str, lines: list[str]) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for ln in lines:
            fh.write(ln + "\n")
    os.replace(tmp, path)


def _is_work(line: str) -> bool:
    s = line.strip()
    return bool(s) and not s.startswith("#")


class WorkList:
    """todo/wip/completed manifest over a directory."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.todo_path = os.path.join(work_dir, "todo")
        self.wip_path = os.path.join(work_dir, "wip")
        self.completed_path = os.path.join(work_dir, "completed")
        if not os.path.exists(self.todo_path) and not os.path.exists(self.wip_path):
            raise WorkListError(f"no todo or wip file under {work_dir!r}")
        # Resume: whatever was in-flight when the last run died is the
        # first batch of this run. Deduped (first occurrence wins):
        # a key listed twice must not be scanned twice in one batch --
        # downstream scan_parquet would double-count its rows.
        self.wip: list[str] = list(dict.fromkeys(
            ln for ln in _read_lines(self.wip_path) if _is_work(ln)
        ))

    # -- batch lifecycle ------------------------------------------------

    def next_batch(self, batch_size: int) -> list[str]:
        """Return the current in-flight batch, drawing from todo if wip
        is empty. Empty result means the list is drained."""
        if batch_size < 1:
            raise WorkListError(f"batch_size must be >= 1, got {batch_size}")
        self._check_wip_consistency()
        if self.wip:
            return list(self.wip)

        todo_lines = _read_lines(self.todo_path)
        # Collapse duplicate keys (first occurrence wins) before
        # slicing the batch: a todo listing one object twice would
        # otherwise stage and scan it twice -- double-counted rows.
        work = list(dict.fromkeys(
            ln for ln in todo_lines if _is_work(ln)
        ))
        batch, remainder = work[:batch_size], work[batch_size:]
        if not batch:
            return []
        # Ordering matters for crash-safety: persist wip before
        # shrinking todo, so a crash in between duplicates work rather
        # than losing it (at-least-once, deduped by the completed log).
        self.wip = batch
        _write_lines(self.wip_path, batch)
        _write_lines(self.todo_path, remainder)
        return list(batch)

    def mark_completed(self, key: str) -> None:
        if key not in self.wip:
            raise WorkListError(f"key not in wip: {key!r}")
        with open(self.completed_path, "a") as fh:
            fh.write(key + "\n")
        self.wip.remove(key)
        _write_lines(self.wip_path, self.wip)

    # -- invariants ------------------------------------------------------

    def _check_wip_consistency(self) -> None:
        on_disk = list(dict.fromkeys(
            ln for ln in _read_lines(self.wip_path) if _is_work(ln)
        ))
        if on_disk != self.wip:
            raise WorkListError(
                "wip file and in-memory wip list diverged "
                f"(disk={on_disk!r}, memory={self.wip!r}); "
                "refusing to continue"
            )
