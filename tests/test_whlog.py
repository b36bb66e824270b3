"""Warehouse-level consistent snapshots (E97, r10 verdict #1): one
logical-load entry maps table → snapshot version, recorded under ALL
member locks — so "the warehouse as of load N" reads fact and dims
from one consistent cut, never fact-at-N joined to dim-at-M."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from weatherflow_spark.operators.snaplog import vacuum_versions, versions
from weatherflow_spark.operators.upsert import upsert_by_key
from weatherflow_spark.operators.whlog import (
    commit_warehouse,
    init_warehouse_log,
    load_entry,
    pinned_load,
    read_warehouse,
    warehouse_loads,
)


@pytest.fixture()
def wh(tmp_path):
    d = tempfile.mkdtemp(prefix="wf-wh-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _seed(spark, wh_dir):
    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(1, 31)],
        "k long, cust long, amt double",
    )
    dim = spark.createDataFrame(
        [(c, f"seg{c}", 100.0 * (c + 1)) for c in range(3)],
        "cust long, seg string, bal double",
    )
    fact.write.mode("overwrite").parquet(os.path.join(wh_dir, "fact"))
    dim.write.mode("overwrite").parquet(os.path.join(wh_dir, "dim"))
    init_warehouse_log(wh_dir)


def _joined_digest(tables):
    j = tables["fact"].join(tables["dim"], "cust")
    r = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("cast(floor(amt * 100 + 0.5) as bigint)")).alias("amt_c"),
        F.sum(F.expr("cast(floor(bal * 100 + 0.5) as bigint)")).alias("bal_c"),
    ).first()
    return (r.n, r.amt_c, r.bal_c)


def test_loads_are_consistent_cuts(spark, wh):
    _seed(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1
    d1 = _joined_digest(read_warehouse(spark, wh, 1))

    # both tables mutate between loads, through the keyed choke point
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 999.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )
    upsert_by_key(
        spark,
        spark.createDataFrame([(0, "seg0", 777.0)], "cust long, seg string, bal double"),
        os.path.join(wh, "dim"),
        ["cust"],
    )
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L2") == 2
    d2 = _joined_digest(read_warehouse(spark, wh))

    # a POST-load single-table commit is invisible at every load
    upsert_by_key(
        spark,
        spark.createDataFrame([(2, 1, 0.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )
    assert _joined_digest(read_warehouse(spark, wh, 1)) == d1
    assert _joined_digest(read_warehouse(spark, wh, 2)) == d2
    assert d1 != d2

    # load1 must pair the ORIGINAL dim with the ORIGINAL fact: bal_c
    # for cust 0 rows would differ if dim@head leaked into load1
    t1 = read_warehouse(spark, wh, 1)
    bal0 = t1["dim"].where("cust = 0").first().bal
    assert bal0 == 100.0  # not the 777.0 written after load 1


def test_commit_reuses_existing_versions(spark, wh):
    """A member table whose writers already versioned the current
    state must not be re-versioned by the warehouse commit — loads
    after normal upserts are pure metadata."""
    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"])  # mints v1 for both
    v_fact = versions(os.path.join(wh, "fact"))
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 5.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )  # the upsert records fact v2 itself
    commit_warehouse(wh, ["fact", "dim"])
    e = load_entry(wh, 2)
    assert e["tables"]["fact"] == max(versions(os.path.join(wh, "fact")))
    assert versions(os.path.join(wh, "fact")) == v_fact + [v_fact[-1] + 1]
    assert versions(os.path.join(wh, "dim")) == [1]  # unchanged: reused
    t2 = read_warehouse(spark, wh, 2)
    assert t2["fact"].count() == 30  # the replaced row is not resurrected
    assert t2["fact"].where("k = 1").first().amt == 5.0


def test_replayed_load_is_exactly_once(spark, wh):
    _seed(spark, wh)
    n1 = commit_warehouse(wh, ["fact", "dim"], batch_id="batch-7")
    n2 = commit_warehouse(wh, ["fact", "dim"], batch_id="batch-7")
    assert n1 == n2 == 1
    assert warehouse_loads(wh) == [1]


def test_all_member_locks_held_across_records(spark, wh, monkeypatch):
    """The consistency mechanism itself: while ANY member's version
    is being recorded, EVERY member's commit lock file must exist on
    disk — a cross-process writer on any member blocks until the
    whole load entry is durable, so no entry can pair versions from
    different instants."""
    import weatherflow_spark.operators.whlog as whlog_mod

    _seed(spark, wh)
    observed = []
    orig = whlog_mod._record_or_reuse

    def spy(path, batch_id):
        observed.append(
            tuple(
                os.path.exists(os.path.join(wh, t) + ".__lock")
                for t in ("fact", "dim")
            )
        )
        return orig(path, batch_id)

    monkeypatch.setattr(whlog_mod, "_record_or_reuse", spy)
    commit_warehouse(wh, ["fact", "dim"])
    assert len(observed) == 2
    assert all(locks == (True, True) for locks in observed), observed


def test_pinned_load_survives_vacuum_and_stale_load_raises(spark, wh):
    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"])
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 5.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )
    commit_warehouse(wh, ["fact", "dim"])

    with pinned_load(wh, 1) as entry:
        # vacuum drops nothing pinned: load-1 read still works inside
        vacuum_versions(os.path.join(wh, "fact"), keep_last=1)
        t = read_warehouse(spark, wh, 1)
        assert t["fact"].count() == 30
        assert entry["load"] == 1

    # after the pin: vacuum may drop load 1's fact version …
    vacuum_versions(os.path.join(wh, "fact"), keep_last=1)
    # … and the stale load read fails deterministically, never mixes
    with pytest.raises(ValueError, match="version"):
        read_warehouse(spark, wh, 1)
    assert _joined_digest(read_warehouse(spark, wh, 2))[0] == 30


def test_vacuum_warehouse_keeps_retained_loads_readable(spark, wh):
    """Load-aware vacuum (r11): per-table vacuum_versions is
    load-blind and can drop versions older load entries reference;
    vacuum_warehouse keeps every version the surviving loads point at
    and drops everything else."""
    from weatherflow_spark.operators.whlog import vacuum_warehouse

    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"])  # load 1
    for i in range(2, 5):  # loads 2..4, fact mutates each time
        upsert_by_key(
            spark,
            spark.createDataFrame(
                [(1, 0, float(i))], "k long, cust long, amt double"
            ),
            os.path.join(wh, "fact"),
            ["k"],
        )
        commit_warehouse(wh, ["fact", "dim"])
    assert warehouse_loads(wh) == [1, 2, 3, 4]
    assert versions(os.path.join(wh, "fact")) == [1, 2, 3, 4]

    out = vacuum_warehouse(wh, keep_last_loads=2)
    assert out["__loads__"]["dropped_loads"] == 2
    assert warehouse_loads(wh) == [3, 4]
    # fact keeps exactly the versions loads 3 and 4 reference
    assert versions(os.path.join(wh, "fact")) == [3, 4]
    # both retained loads still read consistently
    assert read_warehouse(spark, wh, 3)["fact"].where("k = 1").first().amt == 3.0
    assert read_warehouse(spark, wh, 4)["fact"].where("k = 1").first().amt == 4.0
    # the dropped load fails deterministically
    with pytest.raises(ValueError, match="load"):
        read_warehouse(spark, wh, 1)


def test_batch_markers_and_recycled_id_scoping(spark, wh):
    """r11 review: committed_load resolves O(1) via a marker index
    (entry = source of truth, crash-lost markers fall back to the
    scan), vacuum GCs markers with their loads, and recycled
    micro-batch numbers in a DIFFERENT query scope mint new loads
    instead of being swallowed by old entries."""
    import glob

    from weatherflow_spark.operators.whlog import committed_load

    _seed(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="q1:0") == 1
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="q1:0") == 1
    # same numeric suffix, different query scope: a NEW load
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="q2:0") == 2
    assert warehouse_loads(wh) == [1, 2]

    # marker index exists and resolves; a crash that lost the newest
    # load's marker and pointer falls back to reading that entry
    assert committed_load(wh, "q1:0") == 1
    markers = glob.glob(os.path.join(wh, ".__whlog", "B_q1_0_*.json"))
    assert len(markers) == 1
    markers = glob.glob(os.path.join(wh, ".__whlog", "B_q2_0_*.json"))
    os.remove(markers[0])
    with open(os.path.join(wh, ".__whlog", "_last_load"), "w") as f:
        f.write('{"load": 1}')
    assert committed_load(wh, "q2:0") == 2  # entry fallback
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="q2:0") == 2
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="q1:0") == 1

    # vacuum drops load 1 (and its markers); replay protection for
    # q1:0 intentionally ends with retention
    from weatherflow_spark.operators.whlog import vacuum_warehouse

    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 5.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="q1:1") == 3
    vacuum_warehouse(wh, keep_last_loads=1)
    assert warehouse_loads(wh) == [3]
    assert committed_load(wh, "q1:0") is None
    assert not glob.glob(os.path.join(wh, ".__whlog", "B_q1_0_*.json"))
    assert committed_load(wh, "q1:1") == 3  # kept load's marker survives


def test_stale_marker_never_vouches_for_a_gone_load(spark, wh):
    """r11 review: a vacuum that crashes between entry removal and
    marker GC leaves a marker without its entry — the fast path must
    not let it swallow a post-retention recycled batch id."""
    import glob

    from weatherflow_spark.operators.whlog import committed_load

    _seed(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="r:0") == 1
    # simulate the crash window: entry gone, marker left behind
    os.remove(os.path.join(wh, ".__whlog", "L000001.json"))
    assert glob.glob(os.path.join(wh, ".__whlog", "B_r_0_*.json"))
    assert committed_load(wh, "r:0") is None
    # the recycled id mints a fresh load instead of being swallowed
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="r:0") == 1
    assert warehouse_loads(wh) == [1]
    assert committed_load(wh, "r:0") == 1


def test_covered_member_reuse_pays_zero_file_walks(spark, wh, monkeypatch):
    """r11 verdict #5: a mirror-mode member whose writers all record
    commits (the engine's choke points do) must be reused via the
    O(dirs) fingerprint stamp — ZERO _walk_data_files calls inside
    commit_warehouse — while a BULK-written member (files added behind
    the snapshot log's back) falls back to the stat walk and gets a
    fresh version."""
    import weatherflow_spark.operators.snaplog as S

    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"])  # load 1 seeds both (walks)
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 5.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )  # fact v2 via the choke point (stamps the fingerprint)

    walks = []
    real_walk = S._walk_data_files
    monkeypatch.setattr(
        S,
        "_walk_data_files",
        lambda *a, **k: (walks.append(a and a[0]), real_walk(*a, **k))[1],
    )
    # No prelink exclusion needed: the dirstamp gates the lock-free
    # prelink walk too (r12 review), so a covered member's load is
    # zero-file-walk END TO END, not just inside the locks.

    assert commit_warehouse(wh, ["fact", "dim"]) == 2
    assert walks == [], f"covered members paid {len(walks)} stat walk(s)"
    e = load_entry(wh, 2)
    assert e["tables"]["fact"] == 2  # the upsert's own version, reused
    assert e["tables"]["dim"] == 1

    # Bulk write behind the log: drop a raw parquet file into dim.
    spark.createDataFrame(
        [(9, "seg9", 1.0)], "cust long, seg string, bal double"
    ).coalesce(1).write.mode("append").parquet(os.path.join(wh, "dim"))
    walks.clear()
    assert commit_warehouse(wh, ["fact", "dim"]) == 3
    e3 = load_entry(wh, 3)
    assert e3["tables"]["dim"] == 2, "bulk write must mint a new version"
    assert e3["tables"]["fact"] == 2  # fact unchanged: still zero-walk reused
    assert any(str(p).endswith("dim") for p in walks), walks
    assert not any(str(p).endswith("fact") for p in walks), walks
    # and the new version really carries the bulk row
    assert read_warehouse(spark, wh, 3)["dim"].where("cust = 9").count() == 1


def test_first_time_members_prelink_before_the_locks(spark, wh, monkeypatch):
    """r12 advice: a member FIRST initialised by commit_warehouse must
    still get its retention mirror pre-linked in the lock-free phase —
    prelink is a no-op on an uninitialised table, so init must run
    pre-lock too, or the first commit bulk-links the whole tree under
    every member lock."""
    import weatherflow_spark.operators.snaplog as S

    _seed(spark, wh)  # bulk tables, NO snapshot logs yet
    linked = {}
    real = S.prelink_retained

    def spy(path):
        n = real(path)
        linked[os.path.basename(path)] = n
        return n

    monkeypatch.setattr(S, "prelink_retained", spy)
    commit_warehouse(wh, ["fact", "dim"])
    assert linked.get("fact", 0) > 0 and linked.get("dim", 0) > 0, (
        f"first-time members were not pre-linked lock-free: {linked}"
    )


def test_vacuum_warehouse_refuses_unexported_feeds_atomically(spark, wh):
    """r11 verdict #4: vacuum_warehouse(require_exported={table:
    feed}) must refuse — dropping NOTHING, neither load entries nor
    member versions — while any would-dropped member version's change
    feed is unexported; after export_change_feed it proceeds."""
    from weatherflow_spark.operators.snaplog import export_change_feed
    from weatherflow_spark.operators.whlog import vacuum_warehouse

    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"])  # load 1
    for i in range(2, 5):  # loads 2..4, fact mutates each time
        upsert_by_key(
            spark,
            spark.createDataFrame(
                [(1, 0, float(i))], "k long, cust long, amt double"
            ),
            os.path.join(wh, "fact"),
            ["k"],
        )
        commit_warehouse(wh, ["fact", "dim"])
    feed = os.path.join(wh, "__fact_feed")
    # mid-trail gap: nothing exported yet
    with pytest.raises(ValueError, match="not fully exported"):
        vacuum_warehouse(
            wh, keep_last_loads=1, require_exported={"fact": feed}
        )
    # atomic refusal: nothing was dropped anywhere
    assert warehouse_loads(wh) == [1, 2, 3, 4]
    assert versions(os.path.join(wh, "fact")) == [1, 2, 3, 4]
    assert versions(os.path.join(wh, "dim")) == [1]

    export_change_feed(spark, os.path.join(wh, "fact"), feed, ["k"])
    out = vacuum_warehouse(
        wh, keep_last_loads=1, require_exported={"fact": feed}
    )
    assert out["__loads__"]["dropped_loads"] == 3
    assert warehouse_loads(wh) == [4]
    assert versions(os.path.join(wh, "fact")) == [4]
    assert read_warehouse(spark, wh, 4)["fact"].where("k = 1").first().amt == 4.0


def test_warehouse_feed_bundle_replicates_load_by_load(spark, wh):
    """r11 verdict #7: export a per-LOAD multi-table feed bundle and
    rebuild a replica warehouse from it — the replica must equal
    read_warehouse(source, n) at EVERY load, applying each load
    atomically (never fact-at-N with dim-at-M), replaying
    exactly-once, and picking up later loads incrementally."""
    from weatherflow_spark.operators.whlog import (
        apply_warehouse_feed,
        export_warehouse_feed,
    )

    keys = {"fact": ["k"], "dim": ["cust"]}
    parts = {}

    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"], batch_id="L1")
    # both tables mutate between loads; fact also mutates TWICE before
    # load 2 (two feed versions inside one load interval — ordering)
    for amt in (101.0, 102.0):
        upsert_by_key(
            spark,
            spark.createDataFrame(
                [(1, 0, amt)], "k long, cust long, amt double"
            ),
            os.path.join(wh, "fact"),
            ["k"],
        )
    upsert_by_key(
        spark,
        spark.createDataFrame(
            [(0, "seg0", 777.0)], "cust long, seg string, bal double"
        ),
        os.path.join(wh, "dim"),
        ["cust"],
    )
    commit_warehouse(wh, ["fact", "dim"], batch_id="L2")

    bundle = os.path.join(wh, "__bundle")
    replica = os.path.join(wh, "__replica")
    out = export_warehouse_feed(spark, wh, bundle, keys)
    assert out["tables"] == 2
    assert apply_warehouse_feed(spark, bundle, replica, keys, parts) == [1, 2]

    def digest(wh_dir, load):
        return _joined_digest(read_warehouse(spark, wh_dir, load))

    for n in (1, 2):
        assert digest(replica, n) == digest(wh, n), f"load {n} diverged"
    # post-load source commits are invisible to the replica (they
    # belong to no load yet)
    upsert_by_key(
        spark,
        spark.createDataFrame([(2, 1, 0.5)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )
    # replayed apply: exactly-once, nothing new
    assert apply_warehouse_feed(spark, bundle, replica, keys, parts) == []
    assert warehouse_loads(replica) == [1, 2]
    assert digest(replica, 2) == digest(wh, 2)

    # incremental: load 3 at the source, re-export, re-apply
    commit_warehouse(wh, ["fact", "dim"], batch_id="L3")
    export_warehouse_feed(spark, wh, bundle, keys)
    assert apply_warehouse_feed(spark, bundle, replica, keys, parts) == [3]
    assert digest(replica, 3) == digest(wh, 3)
    assert read_warehouse(spark, replica, 3)["fact"].where(
        "k = 2"
    ).first().amt == 0.5


def test_warehouse_feed_export_requires_keys_and_derivable_versions(
    spark, wh
):
    """Bundle guardrails: a load-referenced table without key_cols
    refuses; a load whose feed versions were vacuumed before first
    export refuses by naming the gap."""
    from weatherflow_spark.operators.snaplog import vacuum_versions
    from weatherflow_spark.operators.whlog import export_warehouse_feed

    _seed(spark, wh)
    commit_warehouse(wh, ["fact", "dim"])
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 5.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
    )
    commit_warehouse(wh, ["fact", "dim"])

    with pytest.raises(ValueError, match="no key_cols"):
        export_warehouse_feed(
            spark, wh, os.path.join(wh, "__b1"), {"fact": ["k"]}
        )

    # vacuum fact v1 away before any export: load 1 is now
    # unreplicatable and the export must say so
    vacuum_versions(os.path.join(wh, "fact"), keep_last=1)
    with pytest.raises(ValueError, match="not exportable"):
        export_warehouse_feed(
            spark, wh, os.path.join(wh, "__b2"),
            {"fact": ["k"], "dim": ["cust"]},
        )


# ---------------------------------------------------------------- E103
# maintain_warehouse: the between-loads maintenance entry point.


def _seed_partitioned(spark, wh_dir, hot_files=6):
    """fact partitioned by `cust`, cust=0 fragmented into hot_files."""
    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(1, 31)],
        "k long, cust long, amt double",
    )
    fp = os.path.join(wh_dir, "fact")
    fact.where("cust <> 0").coalesce(1).write.mode("overwrite").partitionBy(
        "cust"
    ).parquet(fp)
    fact.where("cust = 0").repartition(hot_files).write.mode(
        "append"
    ).partitionBy("cust").parquet(fp)
    dim = spark.createDataFrame(
        [(c, f"seg{c}", 100.0 * (c + 1)) for c in range(3)],
        "cust long, seg string, bal double",
    )
    dim.write.mode("overwrite").parquet(os.path.join(wh_dir, "dim"))
    init_warehouse_log(wh_dir)


def test_maintain_warehouse_compacts_recuts_and_vacuums(spark, wh):
    from weatherflow_spark.operators.whlog import (
        bundle_loads,
        maintain_warehouse,
    )

    _seed_partitioned(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1
    # streaming-cadence load 2: touches only cust=1
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 1, 999.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
        ["cust"],
    )
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L2") == 2
    digest_l2 = _joined_digest(read_warehouse(spark, wh, 2))

    bundle = os.path.join(wh, "bundle")
    args = dict(
        partition_cols={"fact": ["cust"]},
        max_files=3,
        feed_bundle=bundle,
        key_cols={"fact": ["k"], "dim": ["cust"]},
        keep_last_loads=2,
        batch_id="M1",
    )
    rep = maintain_warehouse(spark, wh, **args)
    assert rep["members"] == ["dim", "fact"]
    assert rep["compaction"]["fact"]["partitions_compacted"] == 1
    assert rep["load"] == 3
    assert rep["feed"]["tables"] == 2
    assert rep["vacuum"]["__loads__"]["dropped_loads"] == 1
    assert warehouse_loads(wh) == [2, 3]
    assert bundle_loads(bundle) == [1, 2, 3]
    # maintenance is content-neutral: load 2 and head digests equal
    assert _joined_digest(read_warehouse(spark, wh, 2)) == digest_l2
    assert _joined_digest(read_warehouse(spark, wh)) == digest_l2
    # hot partition really has one live file at the head
    from weatherflow_spark.operators.snaplog import entry_files

    fp = os.path.join(wh, "fact")
    hot = [
        r
        for r, _ in entry_files(fp, versions(fp)[-1])
        if r.startswith("cust=0/")
    ]
    assert len(hot) == 1
    # replay: keyed load returned, nothing compacted, nothing dropped
    rep2 = maintain_warehouse(spark, wh, **args)
    assert rep2["load"] == 3
    assert rep2["compaction"]["fact"]["partitions_compacted"] == 0
    assert rep2["vacuum"]["__loads__"]["dropped_loads"] == 0


def test_maintain_warehouse_noop_mints_no_load(spark, wh):
    from weatherflow_spark.operators.whlog import maintain_warehouse

    _seed_partitioned(spark, wh, hot_files=2)  # under max_files
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1
    rep = maintain_warehouse(
        spark, wh, partition_cols={"fact": ["cust"]}, max_files=3
    )
    assert rep["compaction"]["fact"]["partitions_compacted"] == 0
    assert rep["load"] is None
    assert warehouse_loads(wh) == [1]


def test_maintain_warehouse_guards(spark, wh):
    from weatherflow_spark.operators.whlog import maintain_warehouse

    with pytest.raises(ValueError, match="no committed warehouse loads"):
        init_warehouse_log(wh)
        maintain_warehouse(spark, wh)
    _seed_partitioned(spark, wh)
    commit_warehouse(wh, ["fact", "dim"], batch_id="L1")
    with pytest.raises(ValueError, match="unknown member"):
        maintain_warehouse(
            spark, wh, partition_cols={"factt": ["cust"]}
        )
    with pytest.raises(ValueError, match="requires key_cols"):
        maintain_warehouse(
            spark, wh, feed_bundle=os.path.join(wh, "b")
        )


def test_maintain_vacuum_without_feed_is_not_interlocked(spark, wh):
    """No bundle -> the vacuum is load-aware only (the caller opted
    out of replication); with a bundle the interlock is automatic."""
    from weatherflow_spark.operators.whlog import maintain_warehouse

    _seed_partitioned(spark, wh)
    commit_warehouse(wh, ["fact", "dim"], batch_id="L1")
    upsert_by_key(
        spark,
        spark.createDataFrame([(2, 1, 5.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"),
        ["k"],
        ["cust"],
    )
    commit_warehouse(wh, ["fact", "dim"], batch_id="L2")
    rep = maintain_warehouse(
        spark, wh, partition_cols={"fact": ["cust"]}, max_files=3,
        keep_last_loads=1, batch_id="M1",
    )
    assert rep["feed"] is None
    assert rep["vacuum"]["__loads__"]["dropped_loads"] == 2
    assert warehouse_loads(wh) == [rep["load"]]


def test_member_delete_needs_a_recut_load(spark, wh):
    """GDPR shape (E102 × E97): a member-level delete_where is
    invisible to warehouse readers until a load re-cut —
    read_warehouse serves the load entry's recorded (pre-delete)
    version by design. A metadata re-cut load exposes the post-delete
    cut, and the load-aware vacuum then ages the pre-delete history
    out."""
    from weatherflow_spark.operators.upsert import delete_where
    from weatherflow_spark.operators.whlog import vacuum_warehouse

    _seed(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1
    fact_p = os.path.join(wh, "fact")

    rep = delete_where(spark, fact_p, "cust = 1", ["k"])
    assert rep["rows_matched"] == 10
    # warehouse head STILL serves the pre-delete cut (by design)
    assert read_warehouse(spark, wh)["fact"].count() == 30
    # metadata re-cut: version reuse, no data I/O
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L2") == 2
    assert read_warehouse(spark, wh)["fact"].count() == 20
    # pre-delete load still time-travels until the vacuum ages it out
    assert read_warehouse(spark, wh, 1)["fact"].count() == 30
    vacuum_warehouse(wh, keep_last_loads=1)
    assert warehouse_loads(wh) == [2]
    assert read_warehouse(spark, wh)["fact"].count() == 20


def test_restore_warehouse_load_rolls_back_every_member(spark, wh):
    """E104 × E97: a bad multi-table load rolls back as ONE new load
    — every member O(diff)-restored to the target entry's version,
    read_warehouse serving the rolled-back cut immediately, history
    append-only, replay keyed exactly-once."""
    from weatherflow_spark.operators.whlog import restore_warehouse_load

    _seed(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1
    good = _joined_digest(read_warehouse(spark, wh, 1))

    # bad load: both members mutated
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 1, 9999.0)], "k long, cust long, amt double"),
        os.path.join(wh, "fact"), ["k"],
    )
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, "segX", 0.0)], "cust long, seg string, bal double"),
        os.path.join(wh, "dim"), ["cust"],
    )
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L2") == 2
    assert _joined_digest(read_warehouse(spark, wh)) != good

    keys = {"fact": ["k"], "dim": ["cust"]}
    rep = restore_warehouse_load(spark, wh, 1, keys, batch_id="R1")
    assert rep["load"] == 3
    assert rep["restored"]["fact"] == 1 and rep["restored"]["dim"] == 1
    assert _joined_digest(read_warehouse(spark, wh)) == good
    # the bad load still time-travels
    assert _joined_digest(read_warehouse(spark, wh, 2)) != good
    # replay: keyed re-cut returned, nothing re-applied
    rep2 = restore_warehouse_load(spark, wh, 1, keys, batch_id="R1")
    assert rep2["load"] == 3
    assert rep2["restored"] == {"dim": 0, "fact": 0}
    # keyless member refused before anything is touched
    with pytest.raises(ValueError, match="no key_cols"):
        restore_warehouse_load(spark, wh, 1, {"fact": ["k"]})


def test_load_checkpoint_bounds_head_resolution_io(spark, wh, monkeypatch):
    """r13 (the warehouse analog of the snapshot-log checkpoint): the
    latest load resolves by the _last_load pointer + forward probe —
    no listing of the load log on the read path; lagging / corrupt /
    missing pointers self-heal or fall back; vacuum refreshes the
    pointer."""
    import json as _json

    from weatherflow_spark.operators.whlog import (
        _loads,
        head_load,
        vacuum_warehouse,
    )

    def _load_ckpt_path(wh_dir):
        return _loads(wh_dir).pointer

    _seed(spark, wh)
    for i in range(1, 4):
        batch = spark.createDataFrame(
            [(1, 1, float(100 * i))], "k long, cust long, amt double"
        )
        upsert_by_key(spark, batch, os.path.join(wh, "fact"), ["k"])
        commit_warehouse(wh, ["fact", "dim"], batch_id=f"L{i}")
    assert warehouse_loads(wh) == [1, 2, 3]
    assert head_load(wh) == 3

    calls: list[str] = []
    real_listdir = os.listdir

    def spy(p="."):
        calls.append(str(p))
        return real_listdir(p)

    monkeypatch.setattr(os, "listdir", spy)
    assert head_load(wh) == 3
    entry = load_entry(wh)
    assert entry["load"] == 3
    log_listings = [c for c in calls if c.endswith(".__whlog")]
    assert not log_listings, log_listings
    monkeypatch.undo()

    # lagging pointer self-heals by forward probe (no listing)
    with open(_load_ckpt_path(wh), "w") as f:
        _json.dump({"load": 1}, f)
    calls.clear()
    monkeypatch.setattr(os, "listdir", spy)
    assert head_load(wh) == 3
    assert not [c for c in calls if c.endswith(".__whlog")]
    monkeypatch.undo()

    # corrupt + missing pointer fall back to the listing
    with open(_load_ckpt_path(wh), "w") as f:
        f.write("junk")
    assert head_load(wh) == 3
    os.unlink(_load_ckpt_path(wh))
    assert head_load(wh) == 3
    # next commit restores it
    commit_warehouse(wh, ["fact", "dim"], batch_id="L4")
    with open(_load_ckpt_path(wh)) as f:
        assert _json.load(f)["load"] == 4
    # vacuum keeps the pointer at the surviving head
    vacuum_warehouse(wh, keep_last_loads=2)
    with open(_load_ckpt_path(wh)) as f:
        assert _json.load(f)["load"] == head_load(wh) == 4
    assert _joined_digest(read_warehouse(spark, wh))[0] > 0


def test_maintenance_folds_member_deletion_vectors(spark, wh):
    """r13: the right-to-be-forgotten shape BETWEEN loads — a DV
    delete on a member (zero files rewritten) followed by
    maintain_warehouse, whose compaction pass plans DV-covered
    partitions as offenders: the DVs fold into data files, the re-cut
    load serves the post-delete cut, and the feed bundle ships the
    tombstones so replicas converge."""
    from weatherflow_spark.operators.snaplog import head_dv
    from weatherflow_spark.operators.upsert import delete_where
    from weatherflow_spark.operators.whlog import maintain_warehouse

    _seed_partitioned(spark, wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1
    fp = os.path.join(wh, "fact")

    # RTBF by key: victims scatter across every cust partition
    rep = delete_where(
        spark, fp, "k % 10 = 7", ["k"], partition_cols=["cust"],
        use_dv=True,
    )
    assert rep["files_rewritten"] == 0 and rep["partitions_touched"] == 3
    assert head_dv(fp)

    bundle = os.path.join(wh, "bundle")
    out = maintain_warehouse(
        spark, wh,
        partition_cols={"fact": ["cust"]},
        max_files=100,  # nothing is fragmented: ONLY the DV fold plans
        feed_bundle=bundle,
        key_cols={"fact": ["k"], "dim": ["cust"]},
        keep_last_loads=2,
        batch_id="M1",
    )
    assert out["compaction"]["fact"]["partitions_compacted"] == 3
    assert head_dv(fp) == {}, "maintenance must fold the member's DVs"
    # the re-cut load serves the post-delete cut
    tables = read_warehouse(spark, wh)
    ks = {r["k"] for r in tables["fact"].collect()}
    assert ks == {i for i in range(1, 31) if i % 10 != 7}
    # and the feed bundle carries the delete as tombstones
    fact_feed = spark.read.parquet(os.path.join(bundle, "fact"))
    dels = fact_feed.where("op = 'D'")
    assert {r["k"] for r in dels.collect()} == {7, 17, 27}
