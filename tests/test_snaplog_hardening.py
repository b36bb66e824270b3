"""Round-11 hardening regressions over the snapshot/commit tier:
hive-escaped partition values through scoped commits and emptied-dir
removal (r10 ADVICE #1), change-feed bootstrap on vacuumed tables and
the mid-trail refusal (#2), null-key diff round trip (#3), the lock
hold across the deferred emptied-partition snapshot (#4), and the
vacuum/feed-export interlock (r10 verdict #8)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from weatherflow_spark.operators.snaplog import (
    diff_versions,
    export_change_feed,
    exported_feed_versions,
    init_snapshot_log,
    read_version,
    record_commit,
    vacuum_versions,
    versions,
)
from weatherflow_spark.operators.upsert import apply_changes, upsert_by_key


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="wf-snaphard-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_escape_path_name_matches_spark_layout(spark, tmpdir):
    """partition_key must emit EXACTLY the directory name Spark
    writes for special-char values, or every path derived from it
    (scope walks, rmtree) silently misses."""
    from weatherflow_spark.operators.commit import (
        escape_path_name,
        partition_key,
    )

    path = f"{tmpdir}/layout"
    # "" rides along: Spark routes the EMPTY STRING to the default
    # partition dir exactly like NULL (r11 review) — a bare `grp=`
    # key would match nothing on disk.
    vals = ["g:0", "a/b", "p%q", "x=y", "h#1", "plain", ""]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, grp string"
    )
    df.write.mode("overwrite").partitionBy("grp").parquet(path)
    on_disk = {n for n in os.listdir(path) if n.startswith("grp=")}
    derived = {partition_key(["grp"], (v,)) for v in vals}
    assert derived == on_disk, (derived, on_disk)
    assert escape_path_name("g:0") == "g%3A0"
    assert escape_path_name("plain-1.URGENT_x") == "plain-1.URGENT_x"


def test_scoped_commit_handles_escaped_partition_values(spark, tmpdir):
    """A ':'-valued partition: the scoped snapshot commit must walk
    the hive-ESCAPED directory — the raw `grp=g:0` string matches
    nothing on disk, so pre-fix the new version silently re-recorded
    the previous state and never linked the commit's files
    (r10 ADVICE #1)."""
    path = f"{tmpdir}/esc"
    rows = [(i, f"g:{i % 2}", float(i)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "k long, grp string, val double")
    df.write.mode("overwrite").partitionBy("grp").parquet(path)
    assert os.path.isdir(os.path.join(path, "grp=g%3A0"))
    init_snapshot_log(path)
    record_commit(path)  # v1: full walk (escaping not in play yet)

    batch = spark.createDataFrame(
        [(2, "g:0", 999.0)], "k long, grp string, val double"
    )
    upsert_by_key(spark, batch, path, ["k"], ["grp"])  # v2: SCOPED commit
    assert versions(path) == [1, 2]
    v2 = read_version(spark, path, 2)
    got = {r.k: r.val for r in v2.where(F.col("grp") == "g:0").collect()}
    assert got[2] == 999.0, "scoped commit missed the escaped partition"
    assert len(got) == 20
    v1 = read_version(spark, path, 1)
    assert v1.where("k = 2").first().val == 2.0  # history intact


def test_apply_changes_removes_escaped_emptied_partition(spark, tmpdir):
    """Deletes that empty a ':'-valued partition must rmtree the
    hive-escaped directory; the raw-path form was a silent no-op and
    the 'deleted' rows survived (r10 ADVICE #1, second site)."""
    path = f"{tmpdir}/escdel"
    rows = [(i, "a:x" if i <= 5 else "b", float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "k long, grp string, val double")
    df.write.mode("overwrite").partitionBy("grp").parquet(path)

    changes = spark.createDataFrame(
        [(i, "a:x", float(i), "D") for i in range(1, 6)],
        "k long, grp string, val double, op string",
    )
    apply_changes(spark, changes, path, ["k"], partition_cols=["grp"])
    assert not os.path.exists(os.path.join(path, "grp=a%3Ax"))
    live = spark.read.parquet(path)
    assert live.where(F.col("grp") == "a:x").count() == 0
    assert live.count() == 5


def _three_versions(spark, path):
    """k→v table with three full-overwrite versions; returns the
    expected head rows."""
    init_snapshot_log(path)
    s = "k int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], s).write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v1
    spark.createDataFrame([(1, "a2"), (2, "b"), (3, "c")], s).write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v2
    spark.createDataFrame([(1, "a2"), (3, "c3")], s).write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v3
    return {(1, "a2"), (3, "c3")}


def test_change_feed_seeds_from_first_retained_version(spark, tmpdir):
    """A fresh feed on a vacuumed table must bootstrap from the first
    RETAINED version as an all-'U' seed — pre-fix it called
    diff_versions against the vacuumed base and raised, so no
    vacuumed table could ever start a feed (r10 ADVICE #2)."""
    path = f"{tmpdir}/seed"
    head = _three_versions(spark, path)
    vacuum_versions(path, keep_last=2)  # drops v1
    assert versions(path) == [2, 3]

    feed_dir = f"{tmpdir}/feed"
    assert export_change_feed(spark, path, feed_dir, ["k"]) == [2, 3]
    fd = spark.read.parquet(feed_dir)
    seed = fd.where("change_version = 2")
    assert {r.op for r in seed.collect()} == {"U"}
    assert seed.count() == read_version(spark, path, 2).count()
    # seed + diff replays to the head state
    state = {(r.k, r.v) for r in seed.collect()}
    for r in fd.where("change_version = 3").collect():
        state = {(k, v) for k, v in state if k != r.k}
        if r.op == "U":
            state.add((r.k, r.v))
    assert state == head


def test_change_feed_mid_trail_vacuum_raises(spark, tmpdir):
    """If the feed already exported earlier versions but a later
    version's diff base was vacuumed, the exact delta is gone — a
    silent snapshot re-seed would drop the intervening deletes for
    keyed consumers, so the export must refuse."""
    path = f"{tmpdir}/trail"
    _three_versions(spark, path)
    feed_dir = f"{tmpdir}/feed"
    export_change_feed(spark, path, feed_dir, ["k"])  # 1..3 exported
    spark.createDataFrame([(9, "z")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v4 — NOT exported
    spark.createDataFrame([(9, "z9")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v5 — NOT exported
    vacuum_versions(path, keep_last=1)  # drops 1..4: v5's base is gone
    with pytest.raises(ValueError, match="underivable"):
        export_change_feed(spark, path, feed_dir, ["k"])


def test_vacuum_require_exported_interlock(spark, tmpdir):
    """vacuum_versions(require_exported=feed_dir) must refuse to drop
    any version whose own diff OR whose successor's diff base would
    be destroyed unexported (r10 verdict #8)."""
    path = f"{tmpdir}/lock"
    _three_versions(spark, path)
    feed_dir = f"{tmpdir}/feed"

    with pytest.raises(ValueError, match="refusing to vacuum"):
        vacuum_versions(path, keep_last=1, require_exported=feed_dir)
    assert versions(path) == [1, 2, 3]  # nothing was dropped

    export_change_feed(spark, path, feed_dir, ["k"])
    out = vacuum_versions(path, keep_last=1, require_exported=feed_dir)
    assert out["dropped_versions"] == 2 and versions(path) == [3]

    # a new unexported head protects its predecessor (the diff base)
    spark.createDataFrame([(7, "g")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v4, unexported
    with pytest.raises(ValueError, match="refusing to vacuum"):
        vacuum_versions(path, keep_last=1, require_exported=feed_dir)
    export_change_feed(spark, path, feed_dir, ["k"])
    assert exported_feed_versions(feed_dir) == {1, 2, 3, 4}
    vacuum_versions(path, keep_last=1, require_exported=feed_dir)
    assert versions(path) == [4]


def test_diff_versions_null_key_rows_round_trip(spark, tmpdir):
    """An unchanged NULL-key row (externally written — the engine's
    own writers refuse NULL keys) must NOT emit a tombstone every
    diff: the D side's key match is null-safe (r10 ADVICE #3)."""
    path = f"{tmpdir}/nulls"
    init_snapshot_log(path)
    s = "k int, v string"
    spark.createDataFrame(
        [(1, "a"), (None, "n"), (2, "b")], s
    ).write.mode("overwrite").parquet(path)
    record_commit(path)  # v1
    spark.createDataFrame(
        [(1, "a2"), (None, "n"), (3, "c")], s
    ).write.mode("overwrite").parquet(path)
    record_commit(path)  # v2

    feed = diff_versions(spark, path, 1, 2, ["k"]).collect()
    d = sorted((r.k, r.v) for r in feed if r.op == "D")
    u = sorted((r.k, r.v) for r in feed if r.op == "U")
    assert d == [(2, "b")], f"spurious/missing tombstones: {d}"
    assert u == [(1, "a2"), (3, "c")]


def test_apply_changes_deferred_snapshot_stays_locked(spark, tmpdir, monkeypatch):
    """The emptied-partition branch defers the snapshot record past
    the inner overwrite — sound only under apply_changes' outer
    reentrant lock hold. Verify the hold is live at record time, and
    that a direct un-locked call of the internal helper is refused
    (r10 ADVICE #4)."""
    import weatherflow_spark.operators.upsert as upsert_mod
    from weatherflow_spark.operators import commit as commit_mod

    path = f"{tmpdir}/held"
    rows = [(i, "p1" if i <= 5 else "p2", float(i)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "k long, grp string, val double")
    df.write.mode("overwrite").partitionBy("grp").parquet(path)
    init_snapshot_log(path)
    record_commit(path)

    held_at_record = []
    orig = upsert_mod._record_snapshot

    def spy(p, scope=None, batch_id=None):
        held_at_record.append(commit_mod.lock_held_by_me(p))
        return orig(p, scope=scope, batch_id=batch_id)

    monkeypatch.setattr(upsert_mod, "_record_snapshot", spy)
    changes = spark.createDataFrame(
        [(i, "p1", float(i), "D") for i in range(1, 6)],
        "k long, grp string, val double, op string",
    )
    apply_changes(spark, changes, path, ["k"], partition_cols=["grp"])
    assert held_at_record and all(held_at_record), (
        "snapshot recorded outside the dataset lock hold"
    )
    assert read_version(spark, path).count() == 5  # head matches live

    with pytest.raises(RuntimeError, match="requires the caller"):
        upsert_mod._merge_locked(
            spark, changes, path, ["k"], "op", ["grp"]
        )


def test_change_feed_schema_evolution_fail_fast(spark, tmpdir):
    """r10 verdict #7: a running feed consumer pins its schema at
    start; an E94 evolution exported afterwards must fail the
    consumer's next micro-batch (naming the column) instead of
    silently nulling it, a restart must pick the column up, and
    starting with an explicitly stale schema must raise up front."""
    from weatherflow_spark.operators.snaplog import (
        check_feed_schema,
        read_change_feed,
    )

    path = f"{tmpdir}/src"
    feed_dir = f"{tmpdir}/feed"
    init_snapshot_log(path)
    s1 = "k int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], s1).write.mode(
        "overwrite"
    ).parquet(path)
    record_commit(path)  # v1
    export_change_feed(spark, path, feed_dir, ["k"])

    seen: list[list[str]] = []

    def consume(batch, _bid):
        vs = [r.change_version for r in
              batch.select("change_version").distinct().collect()]
        check_feed_schema(feed_dir, batch.columns, vs)
        seen.append(sorted(batch.columns))

    ckpt = f"{tmpdir}/ckpt"
    stream = read_change_feed(spark, feed_dir, streaming=True)
    q = (
        stream.writeStream.foreachBatch(consume)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen and "w" not in seen[-1]

    # the source evolves: v2 adds column w; its diff is exported
    spark.createDataFrame(
        [(1, "a", 10), (2, "b2", 20)], "k int, v string, w int"
    ).write.mode("overwrite").parquet(path)
    record_commit(path)  # v2
    export_change_feed(spark, path, feed_dir, ["k"])

    # the PRE-evolution consumer (same pinned schema, same checkpoint)
    # must fail fast at its next batch, naming the dropped column
    q2 = (
        stream.writeStream.foreachBatch(consume)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="absent from the consumer"):
        q2.awaitTermination(120)
        if q2.exception() is not None:
            raise q2.exception()

    # restart = re-resolve the feed schema: the column arrives
    seen.clear()
    fresh = read_change_feed(spark, feed_dir, streaming=True)
    q3 = (
        fresh.writeStream.foreachBatch(consume)
        .option("checkpointLocation", f"{tmpdir}/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(120)
    assert seen and "w" in seen[-1]

    # an explicitly stale schema= is refused at START, not at batch N
    stale = spark.createDataFrame([], s1 + ", op string").schema
    with pytest.raises(ValueError, match="absent from the consumer"):
        read_change_feed(spark, feed_dir, streaming=True, schema=stale)


def test_packaged_feed_consumer_replicates_orders_and_evolution(spark, tmpdir):
    """r11: foreach_batch_apply_change_feed is the packaged CDC
    replication consumer — in-batch version ordering, idempotent
    replay, schema fail-fast on mid-stream evolution, and replica
    evolution after restart, all built in."""
    from weatherflow_spark.operators.upsert import upsert_by_key
    from weatherflow_spark.operators.snaplog import read_change_feed
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_apply_change_feed,
    )

    src = f"{tmpdir}/src"
    init_snapshot_log(src)
    s1 = "k int, grp string, v string"
    seed = spark.createDataFrame(
        [(i, f"g{i % 2}", f"v{i}") for i in range(1, 9)], s1
    )
    seed.write.mode("overwrite").partitionBy("grp").parquet(src)
    record_commit(src)  # v1
    upsert_by_key(
        spark,
        spark.createDataFrame([(2, "g0", "V2"), (9, "g1", "v9")], s1),
        src,
        ["k"],
        ["grp"],
    )  # v2
    feed_dir = f"{tmpdir}/feed"
    export_change_feed(spark, src, feed_dir, ["k"])

    replica = f"{tmpdir}/replica"
    sink = foreach_batch_apply_change_feed(
        feed_dir, replica, ["k"], ["grp"]
    )
    ckpt = f"{tmpdir}/ckpt"

    def drain(stream):
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()

    stream = read_change_feed(spark, feed_dir, streaming=True)
    drain(stream)  # one micro-batch carries versions 1 AND 2: ordered
    got = {(r.k, r.v) for r in spark.read.parquet(replica).collect()}
    want = {(r.k, r.v) for r in spark.read.parquet(src).collect()}
    assert got == want and (2, "V2") in got and (9, "v9") in got

    # mid-stream evolution: source gains a column, export, the
    # PRE-evolution consumer fails fast naming it
    evolved = spark.createDataFrame(
        [(2, "g0", "V2b", 7)], s1 + ", w int"
    )
    upsert_by_key(spark, evolved, src, ["k"], ["grp"], merge_schema=True)
    export_change_feed(spark, src, feed_dir, ["k"])
    with pytest.raises(Exception, match="absent from the consumer"):
        drain(stream)  # same pinned schema

    # restart re-resolves the schema; the replica evolves with it
    fresh = read_change_feed(spark, feed_dir, streaming=True)
    drain(fresh)
    rep = spark.read.option("mergeSchema", "true").parquet(replica)
    assert rep.where("k = 2").first().w == 7
    assert rep.where("k = 3").first().w is None  # untouched rows NULL
    assert rep.count() == spark.read.option(
        "mergeSchema", "true"
    ).parquet(src).count()


def test_string_zone_maps_prune_without_false_drops(spark, tmpdir):
    """r12 verdict #3: truncation-aware string bounds (Iceberg
    truncate(k)). Pruning on a string range must be real for
    well-separated values AND lossless under adversarial ones —
    common prefixes longer than the truncation width, unicode,
    bound-equal keys."""
    from weatherflow_spark.operators.snaplog import (
        STR_STAT_TRUNC,
        _trunc_lower,
        _trunc_upper,
        scan_version,
        set_stats_columns,
    )
    from pyspark.sql import functions as F

    # --- unit contract of the truncated bounds ---------------------
    assert _trunc_upper("short") == "short"          # <= k: exact
    long = "prefix" * 5                              # 30 chars
    up = _trunc_upper(long)
    assert len(up) <= STR_STAT_TRUNC and up > long   # strict superset
    assert _trunc_lower(long) <= long
    # unicode: multibyte code points increment in code-point order
    uni = "é" * (STR_STAT_TRUNC + 4)
    assert _trunc_upper(uni) > uni
    # incrementing into the surrogate gap skips it
    edge = "a" * (STR_STAT_TRUNC - 1) + "퟿" + "zz"
    up_edge = _trunc_upper(edge)
    assert up_edge > edge and "" in up_edge
    # un-incrementable prefix: no finite bound
    assert _trunc_upper(chr(0x10FFFF) * (STR_STAT_TRUNC + 1)) is None

    # --- integration: prune + losslessness -------------------------
    path = f"{tmpdir}/strmap"
    prefix = "x" * (STR_STAT_TRUNC + 2)  # longer than the truncation
    rows = (
        # file-separable short values (one per range file)
        [(i, f"g{i % 4}") for i in range(40)]
        # adversarial: shared long prefix, distinct tails; bound-equal
        + [(100 + i, prefix + c) for i, c in enumerate("abcd")]
        + [(200, "g1"), (201, "g1")]  # bound-equal keys (min == max)
    )
    df = spark.createDataFrame(rows, "k long, s string")
    df.repartitionByRange(4, F.col("s")).write.parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["s"])
    record_commit(path)

    # a well-separated point range prunes to fewer files
    got, info = scan_version(spark, path, "s", lo="g0", hi="g0")
    assert info["files_scanned"] < info["files_total"]
    assert got.where(F.col("s") == "g0").count() == 10

    # adversarial long-prefix band: every qualifying row survives
    lo, hi = prefix + "a", prefix + "d"
    got2, _ = scan_version(spark, path, "s", lo=lo, hi=hi)
    assert got2.where(F.col("s").between(lo, hi)).count() == 4

    # a range ABOVE the truncated upper bound of every file still
    # never drops rows it shouldn't (superset contract): full scan of
    # the right-most file only
    got3, info3 = scan_version(spark, path, "s", lo=prefix, hi=prefix + "zz")
    assert got3.where(F.col("s") >= prefix).count() == 4
    assert info3["files_scanned"] < info3["files_total"]


def test_checkpoint_pointer_bounds_head_resolution_io(spark, tmpdir, monkeypatch, snap_mode):
    """r12 verdict #6: snapshot-log checkpoints. Entries are already
    self-contained state maps, so the ``_last_checkpoint`` pointer is
    the whole fix: head resolution (read_version / head_version /
    read_live / record_commit's predecessor lookup) must never LIST
    the log directory — at 288 loads/day a year of history is ~10^5
    entries per table, paid on every read without the pointer. A
    lagging pointer self-heals by forward probe (entries are gap-free
    above it); a corrupt or missing pointer falls back to the full
    listing; vacuum refreshes it."""
    import json as _json

    from weatherflow_spark.operators.snaplog import _log, head_version

    def _ckpt_path(p):
        return _log(p).pointer

    path = f"{tmpdir}/ckpt"
    s = "k int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], s).write.parquet(path)
    init_snapshot_log(path)
    record_commit(path)
    for i in range(2, 6):
        upsert_by_key(
            spark,
            spark.createDataFrame([(1, f"a{i}")], s),
            path,
            ["k"],
        )
    vs = versions(path)
    assert len(vs) == 5 and head_version(path) == vs[-1]

    # Instrument: head reads must not list the log directory.
    calls: list[str] = []
    real_listdir = os.listdir

    def spy(p="."):
        calls.append(str(p))
        return real_listdir(p)

    monkeypatch.setattr(os, "listdir", spy)
    assert head_version(path) == vs[-1]
    got = read_version(spark, path)
    assert got.where("k = 1").first().v == "a5"
    log_listings = [c for c in calls if c.endswith(".__snaplog")]
    assert not log_listings, log_listings
    monkeypatch.undo()

    # Lagging pointer (crash between entry and pointer): forward
    # probe self-heals without a listing.
    with open(_ckpt_path(path), "w") as f:
        _json.dump({"version": 1}, f)
    calls.clear()
    monkeypatch.setattr(os, "listdir", spy)
    assert head_version(path) == vs[-1]
    assert not [c for c in calls if c.endswith(".__snaplog")]
    monkeypatch.undo()

    # Corrupt pointer: falls back to the listing, still correct.
    with open(_ckpt_path(path), "w") as f:
        f.write("not json")
    assert head_version(path) == vs[-1]
    # Missing pointer (pre-r13 log): same fallback.
    os.unlink(_ckpt_path(path))
    assert head_version(path) == vs[-1]
    # The next commit restores the pointer.
    upsert_by_key(
        spark, spark.createDataFrame([(2, "z")], s), path, ["k"]
    )
    with open(_ckpt_path(path)) as f:
        assert _json.load(f)["version"] == vs[-1] + 1

    # Vacuum keeps the pointer at the surviving head.
    vacuum_versions(path, keep_last=2)
    with open(_ckpt_path(path)) as f:
        assert _json.load(f)["version"] == head_version(path)
    assert read_version(spark, path).count() == 2


def test_export_pointer_bounds_feed_export_io(spark, tmpdir, monkeypatch):
    """r13 'What's missing' #3: a scheduled feed export must not pay
    an O(#versions) log listing + O(#versions) marker stats per call
    forever — the feed's _WF_LAST_EXPORT pointer bounds incremental
    passes to O(new versions) entry probes, while correctness
    (markers, mid-trail underivability) is untouched."""
    import json as _json

    path = f"{tmpdir}/feedptr"
    feed = f"{tmpdir}/feedptr_feed"
    s = "k int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], s).write.parquet(path)
    init_snapshot_log(path)
    record_commit(path)
    for i in range(2, 5):
        upsert_by_key(
            spark, spark.createDataFrame([(1, f"a{i}")], s), path, ["k"]
        )
    assert sorted(
        export_change_feed(spark, path, feed, ["k"])
    ) == [1, 2, 3, 4]
    ptr = os.path.join(feed, "_WF_LAST_EXPORT")
    assert _json.load(open(ptr))["version"] == 4

    # two more commits; the incremental pass must export exactly them
    # WITHOUT listing the log directory or re-statting old markers
    for i in range(5, 7):
        upsert_by_key(
            spark, spark.createDataFrame([(1, f"a{i}")], s), path, ["k"]
        )
    calls: list[str] = []
    real_listdir = os.listdir

    def spy(p="."):
        calls.append(str(p))
        return real_listdir(p)

    monkeypatch.setattr(os, "listdir", spy)
    got = export_change_feed(spark, path, feed, ["k"])
    monkeypatch.undo()
    assert sorted(got) == [5, 6]
    log_listings = [c for c in calls if c.rstrip("/").endswith(".__snaplog")]
    assert not log_listings, log_listings
    assert _json.load(open(ptr))["version"] == 6
    # replay: nothing new, pointer stands
    assert export_change_feed(spark, path, feed, ["k"]) == []
    assert _json.load(open(ptr))["version"] == 6
    # corrupt pointer falls back to the full listing, still idempotent
    with open(ptr, "w") as f:
        f.write("not json")
    assert export_change_feed(spark, path, feed, ["k"]) == []
    assert _json.load(open(ptr))["version"] == 6
    # feed content unaffected: full trail still reads back
    assert sorted(exported_feed_versions(feed)) == [1, 2, 3, 4, 5, 6]


def test_clustering_status_tracks_decay_and_restore(spark, tmp_path):
    """r14 clustering-health diagnostic: metadata-only, tracks the
    decay appends cause and the restore a sorted compaction buys —
    the signal a maintenance scheduler keys re-clustering on."""
    from weatherflow_spark.operators.layout import compact
    from weatherflow_spark.operators.snaplog import (
        clustering_status,
        init_snapshot_log,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark import sql as wf_sql

    path = str(tmp_path / "t")
    spark.range(0, 4000).selectExpr(
        "id AS k", "cast(id as double) AS v"
    ).repartitionByRange(4, "k").write.mode("overwrite").parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["k"])
    record_commit(path)
    st = clustering_status(path, ["k"])
    assert st["files_total"] == 4
    assert st["columns"]["k"]["disjoint"]
    assert st["columns"]["k"]["files_with_stats"] == 4

    # append traffic: two whole-range files decay the clustering
    spark.range(0, 4000).selectExpr(
        "id AS k", "cast(id + 1 as double) AS v"
    ).repartition(2).write.mode("append").parquet(path)
    record_commit(path)
    m = clustering_status(path, ["k"])["columns"]["k"]
    assert not m["disjoint"]
    assert m["max_overlap_depth"] >= 3  # every point now opens >=3 files
    assert m["overlap_fraction"] > 0

    # sorted compaction restores range-disjoint files
    compact(spark, path, sort_col="k", target_file_bytes=20_000)
    st3 = clustering_status(path, ["k"])
    assert st3["columns"]["k"]["disjoint"]
    assert st3["columns"]["k"]["files_with_stats"] == st3["files_total"]

    # a column with no recorded stats reports zeros, never raises
    z = clustering_status(path, ["v"])["columns"]["v"]
    assert z == {
        "files_with_stats": 0, "max_overlap_depth": 0,
        "overlap_fraction": 0.0, "disjoint": True,
    }

    # SQL surface: one flattened diagnostic row
    rep = wf_sql.execute(
        spark, f"CALL clustering_status('{path}', 'k,v')"
    ).first()
    assert rep["k_disjoint"] == "True"
    assert rep["v_files"] == "0"
    assert int(rep["files_total"]) == int(rep["k_files"])


def test_clustering_status_zorder_axes_overlap_by_design(spark, tmp_path):
    """A healthy Morton layout is NOT per-axis disjoint — each axis
    shows ~sqrt(n) depth (the grid's stripes), far from full overlap:
    the diagnostic must report the numbers, not a false alarm."""
    from weatherflow_spark.operators.snaplog import (
        clustering_status,
        init_snapshot_log,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark.operators.zorder import write_zordered

    path = str(tmp_path / "z")
    df = spark.createDataFrame(
        [(i, (i * 37) % 4096, float(i)) for i in range(4096)],
        "a long, b long, v double",
    )
    write_zordered(df, path, "a", "b", num_files=16, bits=None)
    init_snapshot_log(path)
    set_stats_columns(path, ["a", "b"])
    record_commit(path)
    st = clustering_status(path, ["a", "b"])
    for c in ("a", "b"):
        m = st["columns"][c]
        assert m["files_with_stats"] == 16
        assert not m["disjoint"]
        # stripes: depth around sqrt(16)=4, well below all-16 overlap
        assert 2 <= m["max_overlap_depth"] <= 8
        assert m["overlap_fraction"] < 0.8


def test_compact_partitions_recluster_repairs_decayed_partition(
    spark, tmp_path
):
    """r14 third offender class: a partition whose live files overlap
    on sort_col is planned for rewrite even under max_files, the
    rewrite restores range-disjoint files, and partitions still
    clustered stay byte-identical."""
    import os as _os

    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        clustering_status,
        init_snapshot_log,
        read_version,
        record_commit,
        set_stats_columns,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, "d1" if i % 2 == 0 else "d2", float(i)) for i in range(4000)],
        "k long, day string, v double",
    ).repartitionByRange(2, "k").write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["k"])
    record_commit(path)

    # decay ONE partition: a whole-range append lands next to the
    # two range-disjoint files
    spark.createDataFrame(
        [(i + 10_000, "d1", float(i)) for i in range(0, 4000, 7)],
        "k long, day string, v double",
    ).withColumn("k", (F.col("k") - 10_000)).repartition(1).write.mode(
        "append"
    ).partitionBy("day").parquet(path)
    record_commit(path)
    n_before = read_version(spark, path).count()

    def inodes(day):
        d = _os.path.join(path, f"day={day}")
        return {
            f: _os.stat(_os.path.join(d, f)).st_ino
            for f in _os.listdir(d)
            if f.endswith(".parquet")
        }

    d2_before = inodes("d2")

    with pytest.raises(ValueError, match="recluster=True needs sort_col"):
        compact_partitions(spark, path, ["day"], recluster=True)

    rep = compact_partitions(
        spark, path, ["day"], max_files=8, sort_col="k", recluster=True
    )
    assert rep["partitions_compacted"] == 1  # only the decayed one
    assert inodes("d2") == d2_before  # clean partition untouched
    assert read_version(spark, path).count() == n_before
    st = clustering_status(path, ["k"])
    assert st["columns"]["k"]["disjoint"]

    # replay: nothing left to repair
    rep2 = compact_partitions(
        spark, path, ["day"], max_files=8, sort_col="k", recluster=True
    )
    assert rep2["partitions_compacted"] == 0
