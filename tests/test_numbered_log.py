"""commit.NumberedLog's batch-id lookup: a new id reads no entry however
long the log is, and every state a crash can leave answers right."""

from __future__ import annotations

import os

import pytest

from weatherflow_spark.operators import commit
from weatherflow_spark.operators.commit import NumberedLog, write_json_atomic


def _log(tmp_path) -> NumberedLog:
    d = tmp_path / "log"
    d.mkdir()
    return NumberedLog(str(d), "v", "_last", "n", "b")


def _fill(log: NumberedLog, n: int) -> None:
    for i in range(1, n + 1):
        log.append(i, {"n": i, "batch_id": f"b{i}"}, f"b{i}")


@pytest.fixture
def entry_reads(monkeypatch):
    """Counts the entry files ``commit`` opens."""
    reads: list[str] = []

    def counting_open(p, *a, **kw):
        if os.path.basename(str(p)).startswith("v"):
            reads.append(str(p))
        return open(p, *a, **kw)

    monkeypatch.setattr(commit, "open", counting_open, raising=False)
    return reads


def test_new_batch_id_reads_no_entry(tmp_path, entry_reads):
    log = _log(tmp_path)
    _fill(log, 200)
    entry_reads.clear()
    assert log.batch_number("never-committed") is None
    assert entry_reads == []
    assert log.batch_number("b137") == 137  # marker answers a replay
    assert entry_reads == []


def test_crash_before_marker_and_pointer(tmp_path, entry_reads):
    """Entry written, marker and pointer not: the entry above the
    pointer is found by reading it, and the next append marks it
    before the pointer moves past."""
    log = _log(tmp_path)
    _fill(log, 3)
    write_json_atomic(log.path(4), {"n": 4, "batch_id": "lost"})
    entry_reads.clear()
    assert log.batch_number("lost") == 4
    assert entry_reads == [log.path(4)]
    assert log.batch_number("other") is None
    log.append(5, {"n": 5, "batch_id": "b5"}, "b5")
    assert os.path.isfile(log.marker("lost"))
    entry_reads.clear()
    assert log.batch_number("lost") == 4
    assert log.batch_number("other") is None
    assert entry_reads == []


def test_crash_before_pointer(tmp_path):
    log = _log(tmp_path)
    _fill(log, 3)
    write_json_atomic(log.path(4), {"n": 4, "batch_id": "p"})
    write_json_atomic(log.marker("p"), {"batch_id": "p", "n": 4})
    assert log.pointed() == 3
    assert log.batch_number("p") == 4
    assert log.head() == 4


def test_drop_marks_entries_above_a_lagging_pointer(tmp_path):
    """A vacuum that moves a lagging pointer marks what it passes."""
    log = _log(tmp_path)
    _fill(log, 3)
    write_json_atomic(log.path(4), {"n": 4, "batch_id": "lost"})
    log.drop([1, 2], [3, 4])
    assert log.pointed() == 4
    assert log.batch_number("lost") == 4
    assert log.batch_number("b1") is None
    assert log.batch_number("b3") == 3


def test_missing_pointer_scans_every_entry(tmp_path):
    log = _log(tmp_path)
    _fill(log, 3)
    os.unlink(log.pointer)
    os.unlink(log.marker("b2"))
    assert log.batch_number("b2") == 2
    log.append(4, {"n": 4}, None)
    assert os.path.isfile(log.marker("b2"))
