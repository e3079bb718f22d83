"""Work-list manifest unit tests, mirroring the reference's coverage
(reference: src/work_lists.rs:211-571 -- resume, comment/whitespace
skipping, inconsistent-wip detection, batch > todo, missing todo) with
the reference's error-path-first philosophy."""

from __future__ import annotations

import pytest

from s3_parquet_to_postgres_spark.sources.work_list import (
    WorkList,
    WorkListError,
)


def make(tmp_path, todo=None, wip=None, completed=None):
    if todo is not None:
        (tmp_path / "todo").write_text(todo)
    if wip is not None:
        (tmp_path / "wip").write_text(wip)
    if completed is not None:
        (tmp_path / "completed").write_text(completed)
    return WorkList(str(tmp_path))


def test_missing_todo_and_wip_raises(tmp_path):
    with pytest.raises(WorkListError, match="no todo or wip"):
        WorkList(str(tmp_path))


def test_batch_pops_and_rewrites_todo(tmp_path):
    wl = make(tmp_path, todo="a\nb\nc\n")
    assert wl.next_batch(2) == ["a", "b"]
    assert (tmp_path / "todo").read_text() == "c\n"
    assert (tmp_path / "wip").read_text() == "a\nb\n"


def test_comments_and_blanks_skipped(tmp_path):
    wl = make(tmp_path, todo="# header\n\na\n   \n# x\nb\n")
    assert wl.next_batch(10) == ["a", "b"]


def test_batch_larger_than_todo(tmp_path):
    wl = make(tmp_path, todo="only\n")
    assert wl.next_batch(5) == ["only"]
    for key in list(wl.wip):
        wl.mark_completed(key)
    assert wl.next_batch(5) == []
    assert (tmp_path / "todo").read_text() == ""
    assert (tmp_path / "wip").read_text() == ""


def test_resume_from_wip(tmp_path):
    # A crashed run left keys in wip: they are the first batch again.
    wl = make(tmp_path, todo="c\n", wip="a\nb\n")
    assert wl.next_batch(10) == ["a", "b"]


def test_mark_completed_appends_first(tmp_path):
    wl = make(tmp_path, todo="a\nb\n")
    wl.next_batch(2)
    wl.mark_completed("a")
    assert (tmp_path / "completed").read_text() == "a\n"
    assert (tmp_path / "wip").read_text() == "b\n"


def test_mark_completed_unknown_key(tmp_path):
    wl = make(tmp_path, todo="a\n")
    wl.next_batch(1)
    with pytest.raises(WorkListError, match="not in wip"):
        wl.mark_completed("zzz")


def test_external_wip_tamper_detected(tmp_path):
    wl = make(tmp_path, todo="a\nb\n")
    wl.next_batch(2)
    (tmp_path / "wip").write_text("a\nTAMPERED\n")
    with pytest.raises(WorkListError, match="diverged"):
        wl.next_batch(2)


def test_bad_batch_size(tmp_path):
    wl = make(tmp_path, todo="a\n")
    with pytest.raises(WorkListError, match="batch_size"):
        wl.next_batch(0)


def test_duplicate_keys_collapsed_in_batch(tmp_path):
    """A todo listing a key twice yields it ONCE per batch: duplicate
    positions used to flow to scan_parquet and double-count that
    object's rows (first occurrence wins, order otherwise kept)."""
    wl = make(tmp_path, todo="a\nb\na\nc\nb\n")
    assert wl.next_batch(10) == ["a", "b", "c"]
    assert (tmp_path / "wip").read_text() == "a\nb\nc\n"


def test_duplicate_keys_collapsed_across_batch_boundary(tmp_path):
    """Dedup happens before the batch slice, so a duplicate cannot
    smuggle a key into a later batch either."""
    wl = make(tmp_path, todo="a\na\nb\n")
    assert wl.next_batch(2) == ["a", "b"]
    assert (tmp_path / "todo").read_text() == ""


def test_duplicate_keys_collapsed_on_wip_resume(tmp_path):
    """A crashed run's wip file with a duplicated key resumes as one
    occurrence, and the consistency check accepts the on-disk dup."""
    wl = make(tmp_path, todo="", wip="a\nb\na\n")
    assert wl.next_batch(10) == ["a", "b"]
    wl.mark_completed("a")
    wl.mark_completed("b")
    assert wl.next_batch(10) == []
    assert (tmp_path / "completed").read_text() == "a\nb\n"
