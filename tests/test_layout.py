"""Layout-operator tests: range-sorted writes must produce
non-overlapping files whose min/max stats prune range scans, and
compaction must hit the target file count idempotently."""

from __future__ import annotations

import shutil
import tempfile

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL
from weatherflow_spark.io import load_table
from weatherflow_spark.operators.layout import compact, parquet_files, write_range_sorted


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="wf-layout-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_range_sorted_files_do_not_overlap(spark, tmpdir):
    df = load_table(spark, SF_SMALL, "orders")
    path = f"{tmpdir}/orders_sorted"
    write_range_sorted(df, path, "o_totalprice", num_partitions=4)

    spans = []
    for f in parquet_files(path):
        t = pq.read_table(f, columns=["o_totalprice"]).column(0).to_pylist()
        if t:
            spans.append((min(t), max(t)))
    spans.sort()
    assert len(spans) >= 2
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo  # ranges are disjoint → min/max stats can prune


def test_range_scan_prunes_row_groups(spark, tmpdir):
    df = load_table(spark, SF_SMALL, "orders")
    path = f"{tmpdir}/orders_sorted"
    write_range_sorted(df, path, "o_totalprice", num_partitions=4)

    # A selective range predicate must read fewer rows than the table
    # holds (parquet row-group skipping via min/max on the sort key).
    pruned = (
        spark.read.parquet(path).where("o_totalprice > 490000").count()
    )
    total = spark.read.parquet(path).count()
    assert pruned < total


def test_compact_reaches_target_and_is_idempotent(spark, tmpdir):
    df = load_table(spark, SF_SMALL, "lineitem").repartition(16)
    path = f"{tmpdir}/li"
    df.write.parquet(path)
    assert len(parquet_files(path)) == 16

    before = spark.read.parquet(path).count()
    n1 = compact(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n1 < 16
    assert spark.read.parquet(path).count() == before  # no data loss
    n2 = compact(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert n2 == n1  # idempotent


def test_compact_with_sort_restores_clustering(spark, tmpdir):
    df = load_table(spark, SF_SMALL, "orders").repartition(8)
    path = f"{tmpdir}/orders"
    df.write.parquet(path)

    compact(spark, path, target_file_bytes=32 * 1024, sort_col="o_orderkey")
    spans = []
    for f in parquet_files(path):
        t = pq.read_table(f, columns=["o_orderkey"]).column(0).to_pylist()
        if t:
            assert t == sorted(t)  # sorted within file
            spans.append((min(t), max(t)))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo


def test_compaction_aborts_when_load_races_and_loses_nothing(spark, tmp_path):
    """Verdict r7 #5: a load committing between compaction's read and
    its swap must NOT be clobbered. The optimistic validate-and-swap
    aborts with CompactionConflict, every row (initial + raced batch)
    survives, and a re-run compacts cleanly."""
    from pyspark.sql import functions as F

    from weatherflow_spark.operators.commit import CompactionConflict
    from weatherflow_spark.operators.upsert import overwrite_partitions

    path = str(tmp_path / "facts")
    base = (
        spark.range(0, 1000)
        .select(
            F.col("id"),
            (F.col("id") % 4).alias("d"),
            (F.col("id") * 2).alias("v"),
        )
    )
    overwrite_partitions(base, path, ["d"])

    batch = spark.range(1000, 1100).select(
        F.col("id"), F.lit(9).alias("d"), (F.col("id") * 2).alias("v")
    )

    def racing_load():
        overwrite_partitions(batch, path, ["d"])

    with pytest.raises(CompactionConflict):
        compact(spark, path, target_file_bytes=1 << 30, _before_swap=racing_load)

    got = spark.read.parquet(path)
    assert got.count() == 1100  # nothing lost
    assert got.where(F.col("d") == 9).count() == 100

    n_files = compact(spark, path, target_file_bytes=1 << 30)  # retry is clean
    assert n_files >= 1
    assert spark.read.parquet(path).count() == 1100


def test_dataset_lock_is_exclusive_reentrant_and_breaks_stale(tmp_path):
    """The advisory commit lock: a FOREIGN live holder blocks the
    acquirer until timeout; the same process re-enters its own lock
    (writers lock their whole read-modify-write and the inner
    overwrite helper locks again); a crashed holder's lock (dead pid
    or stale age) is broken by the next acquirer."""
    import os
    import time

    from weatherflow_spark.operators.commit import (
        DatasetLockTimeout,
        dataset_lock,
    )

    import socket

    path = str(tmp_path / "ds")
    os.makedirs(path)
    lp = path + ".__lock"
    host = socket.gethostname()

    # same-host LIVE holder (pid 1 exists): acquirer must time out
    with open(lp, "w") as f:
        f.write(f"{host} 1 deadbeef {time.time()}\n")
    with pytest.raises(DatasetLockTimeout):
        with dataset_lock(path, timeout=0.3):
            pass
    os.unlink(lp)

    # reentrancy: the same process may nest its own lock
    with dataset_lock(path):
        with dataset_lock(path, timeout=0.3):
            pass
        assert os.path.exists(lp)  # inner exit keeps the outer hold
    assert not os.path.exists(lp)

    # crashed SAME-HOST holder: dead pid breaks immediately (age > 1 s)
    with open(lp, "w") as f:
        f.write(f"{host} 999999999 deadbeef 0\n")
    old = time.time() - 10
    os.utime(lp, (old, old))
    with dataset_lock(path, timeout=5.0, stale_after=600):
        pass
    assert not os.path.exists(lp)

    # crashed holder: un-parseable token falls back to age-based break
    with open(lp, "w") as f:
        f.write("garbage\n")
    old = time.time() - 10_000
    os.utime(lp, (old, old))
    with dataset_lock(path, timeout=1.0, stale_after=600):
        pass
    assert not os.path.exists(lp)


def test_lock_foreign_host_is_never_pid_probed(tmp_path):
    """r9 ADVICE fix: on a shared filesystem another host's LIVE
    holder must not be broken just because its pid isn't visible
    locally — the pid probe applies only when the recorded hostname
    is ours; a foreign holder expires only when its heartbeat stops
    (mtime older than stale_after)."""
    import os
    import time

    from weatherflow_spark.operators.commit import (
        DatasetLockTimeout,
        dataset_lock,
    )

    path = str(tmp_path / "ds")
    os.makedirs(path)
    lp = path + ".__lock"

    # Foreign host, nonexistent pid, FRESH heartbeat: must block.
    with open(lp, "w") as f:
        f.write(f"some-other-host 999999999 cafebabe {time.time()}\n")
    now = time.time() - 3  # past the 1 s grace, well inside stale_after
    os.utime(lp, (now, now))
    with pytest.raises(DatasetLockTimeout):
        with dataset_lock(path, timeout=0.4, stale_after=600):
            pass

    # Same file with a STOPPED heartbeat (mtime beyond stale_after):
    # presumed crashed, broken, acquired.
    old = time.time() - 30
    os.utime(lp, (old, old))
    with dataset_lock(path, timeout=2.0, stale_after=10):
        pass
    assert not os.path.exists(lp)


def test_lock_release_spares_successor_and_heartbeats(tmp_path):
    """r9 ADVICE fix: release re-reads the lock file and unlinks only
    if the token is still OURS — a holder whose lock was broken and
    re-taken must not delete the successor's lock (that reopened the
    lost-update window). Also: the heartbeat keeps a live holder's
    mtime fresh so long writes never age into staleness."""
    import os
    import time

    from weatherflow_spark.operators import commit as C

    path = str(tmp_path / "ds")
    os.makedirs(path)
    lp = path + ".__lock"

    cm = C.dataset_lock(path, stale_after=2.0)
    cm.__enter__()
    try:
        tok = C._read_token(lp)
        assert tok is not None and len(tok.split()) == 3
        # heartbeat: after > stale_after/4, mtime must still be fresh
        time.sleep(1.2)
        assert time.time() - os.path.getmtime(lp) < 1.0
    finally:
        # Simulate a waiter breaking the lock and re-acquiring while
        # the original holder is still inside its critical section.
        os.unlink(lp)
        with open(lp, "w") as f:
            f.write(f"successor-host 123 0123abcd {time.time()}\n")
        cm.__exit__(None, None, None)
    # The original holder's release must have spared the successor.
    assert os.path.exists(lp)
    assert C._read_token(lp) == "successor-host 123 0123abcd"
    os.unlink(lp)


def test_heartbeat_never_refreshes_a_successors_lock(tmp_path):
    """r10 ADVICE fix (commit.py heartbeat): a holder that resumes
    after its stale lock was broken must not refresh the SUCCESSOR'S
    lock file mtime — otherwise a crashed successor's lock could not
    age into staleness until the zombie's write finished, stalling
    every waiter past stale_after. The beat now verifies the token
    is still ours before each utime."""
    import os
    import time

    from weatherflow_spark.operators import commit as C

    path = str(tmp_path / "ds")
    os.makedirs(path)
    lp = path + ".__lock"

    cm = C.dataset_lock(path, stale_after=2.0)  # beat interval 0.5 s
    cm.__enter__()
    try:
        # Simulate: our lock was broken as stale and a successor
        # re-acquired, then crashed (heartbeat stopped, old mtime).
        os.unlink(lp)
        with open(lp, "w") as f:
            f.write(f"successor-host 123 0123abcd {time.time()}\n")
        crashed_at = time.time() - 100
        os.utime(lp, (crashed_at, crashed_at))
        time.sleep(1.3)  # >= 2 beat intervals while we're the zombie
        # The zombie's beat must NOT have touched the successor's file:
        # its mtime still reads as crashed long ago, so waiters can
        # expire it on schedule.
        assert abs(os.path.getmtime(lp) - crashed_at) < 5.0
    finally:
        cm.__exit__(None, None, None)
    # and release spared it too (token isn't ours)
    assert C._read_token(lp) == "successor-host 123 0123abcd"
    os.unlink(lp)


def test_compact_partitions_plans_from_segments(spark, tmpdir, snap_mode):
    """E101 (r12): partition-scoped small-file compaction planned
    entirely from the head entry's segments — only partitions over
    the file threshold are rewritten (one file each, one scoped
    commit each), untouched partitions stay byte-identical, content
    survives exactly, time travel keeps the pre-compaction layout,
    and a second run is a no-op."""
    import os

    from pyspark.sql import functions as F

    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
        versions,
    )

    path = f"{tmpdir}/pc"
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    hot = "1-URGENT"
    # cold partitions: one file each; hot partition: 12 small files
    orders.where(F.col("o_orderpriority") != hot).coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(path)
    orders.where(F.col("o_orderpriority") == hot).repartition(12).write.mode(
        "append"
    ).partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    record_commit(path)  # v1

    def digest():
        live = read_version(spark, path)
        r = live.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(o_orderkey)").alias("x"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("c"),
        ).first()
        return (r.n, r.x, r.c)

    def file_state():
        return {
            os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        }

    d0 = digest()
    before = file_state()
    out = compact_partitions(
        spark, path, ["o_orderpriority"], max_files=8
    )
    assert out["partitions_compacted"] == 1
    assert out["files_before"] == 12
    assert out["files_after"] == 1
    assert versions(path) == [1, 2]
    assert digest() == d0, "compaction changed content"
    # untouched partitions byte-identical
    after = file_state()
    for p, m in before.items():
        if f"o_orderpriority={hot}" not in p:
            assert after.get(p) == m, f"cold partition touched: {p}"
    # the hot partition's LIVE file count really dropped (the head
    # entry lists one)
    from weatherflow_spark.operators.snaplog import entry_files

    hot_live = [
        r
        for r, _ in entry_files(path, 2)
        if r.startswith(f"o_orderpriority={hot}/")
    ]
    assert len(hot_live) == 1, hot_live
    # time travel: v1 still reads the pre-compaction content
    assert read_version(spark, path, 1).count() == d0[0]
    # idempotent: nothing left over the threshold
    out2 = compact_partitions(
        spark, path, ["o_orderpriority"], max_files=8
    )
    assert out2["partitions_compacted"] == 0
    assert versions(path) == [1, 2]


def test_lock_blocks_cross_thread_same_path(tmp_path):
    """r12 ADVICE: the reentrancy counter is per (path, THREAD), not
    per path — two threads of one process writing the SAME dataset
    must serialize through the lock file instead of both passing the
    'already ours' check and entering the critical section together."""
    import os
    import threading
    import time

    from weatherflow_spark.operators.commit import dataset_lock

    path = str(tmp_path / "ds")
    os.makedirs(path)
    events: list[str] = []
    inner_started = threading.Event()

    def other():
        inner_started.set()
        with dataset_lock(path, timeout=10.0):
            events.append("other-in")

    with dataset_lock(path):
        t = threading.Thread(target=other)
        t.start()
        inner_started.wait(5.0)
        time.sleep(0.4)  # give the other thread time to (wrongly) enter
        events.append("holder-out")
    t.join(10.0)
    assert events == ["holder-out", "other-in"], events

    # same-THREAD reentrancy still works after the keying change
    with dataset_lock(path):
        with dataset_lock(path, timeout=0.3):
            pass


def test_unescape_rejects_non_ascii_hex_forms():
    """r12 ADVICE: Python's int(s, 16) accepts whitespace/sign/unicode
    digits that Java's Integer.parseInt rejects — such sequences must
    pass through undecoded so externally-written directory names round
    trip exactly as a Spark read would see them."""
    from weatherflow_spark.operators.commit import (
        escape_path_name,
        unescape_path_name,
    )

    assert unescape_path_name("%41") == "A"
    assert unescape_path_name("g%3A0") == "g:0"
    # forms int(_, 16) would decode but Spark would not:
    assert unescape_path_name("% 4") == "% 4"
    assert unescape_path_name("%+4") == "%+4"
    assert unescape_path_name("%-4") == "%-4"
    assert unescape_path_name("%٤٤") == "%٤٤"
    # truncated escape at end-of-string passes through
    assert unescape_path_name("%4") == "%4"
    assert unescape_path_name("%") == "%"
    # round trip over every escaped char
    for s in ["a:b", "x=y", "p%q", "h#1", "a/b", 'q"r']:
        assert unescape_path_name(escape_path_name(s)) == s
