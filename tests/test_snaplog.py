"""Snapshot log + time travel (E90): every commit through the write
choke point becomes a readable version; old versions survive dynamic
overwrite AND compaction (retained hard links); vacuum bounds history
without touching live data."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from weatherflow_spark.io import load_table
from weatherflow_spark.operators.snaplog import (
    init_snapshot_log,
    read_version,
    record_commit,
    snapshot_enabled,
    vacuum_versions,
    versions,
)
from weatherflow_spark.operators.upsert import upsert_by_key


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="wf-snaplog-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _digest(df):
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("o_orderkey").alias("ks"),
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("cents"),
    ).first()
    return (r.n, r.ks, r.cents)


def _build_versioned(spark, path):
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    base = orders.where(F.col("o_orderkey") % 3 != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    record_commit(path)  # v1
    batch = orders.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])  # v2
    return orders, base, batch


def test_commits_become_versions_and_time_travel_reads(spark, tmpdir, snap_mode):
    path = f"{tmpdir}/tt"
    orders, base, batch = _build_versioned(spark, path)
    assert snapshot_enabled(path)
    assert versions(path) == [1, 2]

    # v1 is the pre-upsert base — bit-for-bit, partition column included
    v1 = read_version(spark, path, 1)
    assert sorted(v1.columns) == sorted(base.columns)
    assert _digest(v1) == _digest(base)

    # v2 == merged == the live table
    merged = base.join(
        batch.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(batch)
    v2 = read_version(spark, path, 2)
    assert _digest(v2) == _digest(merged)
    assert _digest(v2) == _digest(spark.read.parquet(path))
    # default = latest
    assert _digest(read_version(spark, path)) == _digest(v2)


def test_versions_survive_compaction_and_replay(spark, tmpdir, snap_mode):
    from weatherflow_spark.operators.layout import compact

    path = f"{tmpdir}/tt"
    orders, base, batch = _build_versioned(spark, path)
    d1 = _digest(read_version(spark, path, 1))
    d2 = _digest(read_version(spark, path, 2))

    # replayed batch: new version, identical content (idempotent merge)
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])
    assert versions(path) == [1, 2, 3]
    assert _digest(read_version(spark, path, 3)) == d2

    # compaction rewrites every file; old versions must still read
    compact(spark, path, target_file_bytes=1 << 30)
    assert versions(path) == [1, 2, 3, 4]
    assert _digest(read_version(spark, path, 1)) == d1
    assert _digest(read_version(spark, path, 2)) == d2
    assert _digest(read_version(spark, path, 4)) == d2


def test_vacuum_bounds_history_and_gcs_files(spark, tmpdir, snap_mode):
    path = f"{tmpdir}/tt"
    _build_versioned(spark, path)
    d2 = _digest(read_version(spark, path, 2))
    gc_root = path + ".__retain"

    def _n_gc_files():
        return sum(
            1
            for _, _, fs in os.walk(gc_root)
            for f in fs
            if not f.startswith(("_", "."))
        )

    n_before = _n_gc_files()

    out = vacuum_versions(path, keep_last=1)
    assert out["dropped_versions"] == 1
    assert out["removed_files"] > 0
    assert versions(path) == [2]
    # the kept version still reads; the dropped one is gone for good
    assert _digest(read_version(spark, path, 2)) == d2
    with pytest.raises(ValueError, match="vacuumed"):
        read_version(spark, path, 1)
    n_after = _n_gc_files()
    assert n_after < n_before
    # logical head untouched: vacuum sweeps only the retention mirror
    assert _digest(spark.read.parquet(path)) == d2


def test_unversioned_tables_pay_nothing(spark, tmpdir):
    path = f"{tmpdir}/plain"
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    batch = orders.limit(5)
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])
    assert not snapshot_enabled(path)
    assert versions(path) == []
    assert not os.path.exists(path + ".__snaplog")
    with pytest.raises(ValueError, match="no committed versions"):
        read_version(spark, path)


def test_unpartitioned_table_round_trip(spark, tmpdir, snap_mode):
    path = f"{tmpdir}/flat"
    nation = load_table(spark, SF_SMALL, "nation")
    nation.write.mode("overwrite").parquet(path)
    init_snapshot_log(path)
    record_commit(path)
    got = read_version(spark, path, 1)
    assert sorted(got.columns) == sorted(nation.columns)
    assert got.count() == nation.count()


def test_emptied_partition_head_version_matches_live(spark, tmpdir, snap_mode):
    """r10 ADVICE fix (high): a CDC apply whose deletes EMPTY a
    partition must record the snapshot AFTER the emptied directory is
    removed — the head version previously still listed the deleted
    rows' files, so read_version() at the head resurrected deleted
    data."""
    from weatherflow_spark.operators.upsert import apply_changes

    path = f"{tmpdir}/cdc"
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(path)
    init_snapshot_log(path)
    record_commit(path)  # v1

    # Tombstone EVERY key of one region (empties its partition) and
    # upsert one row elsewhere in the same feed.
    doomed = nation.where(F.col("n_regionkey") == 0).withColumn(
        "op", F.lit("D")
    )
    kept_region = (
        nation.where(F.col("n_regionkey") == 1)
        .limit(1)
        .withColumn("n_name", F.upper(F.col("n_name")))
        .withColumn("op", F.lit("U"))
    )
    apply_changes(
        spark,
        doomed.unionByName(kept_region),
        path,
        ["n_nationkey"],
        partition_cols=["n_regionkey"],
    )

    live = spark.read.parquet(path)
    assert live.where(F.col("n_regionkey") == 0).count() == 0
    head = read_version(spark, path)  # latest version
    assert head.where(F.col("n_regionkey") == 0).count() == 0
    assert head.count() == live.count()
    # v1 still shows the pre-delete state (time travel intact)
    assert read_version(spark, path, 1).where(
        F.col("n_regionkey") == 0
    ).count() == nation.where(F.col("n_regionkey") == 0).count()


def test_unpartitioned_upsert_records_versions(spark, tmpdir, snap_mode):
    """r10 ADVICE fix (medium): unpartitioned upsert_by_key (and the
    seed branch) now route through the snapshot choke point — a full
    overwrite deletes the old files, so without a recorded version
    the pre-merge state was unrecoverable."""
    path = f"{tmpdir}/flat"
    init_snapshot_log(path)  # sibling dirs exist before the dataset
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name"
    )
    upsert_by_key(spark, nation, path, ["n_nationkey"])  # seed -> v1
    assert versions(path) == [1]
    batch = nation.limit(3).withColumn("n_name", F.lower(F.col("n_name")))
    upsert_by_key(spark, batch, path, ["n_nationkey"])  # merge -> v2
    assert versions(path) == [1, 2]
    v1 = read_version(spark, path, 1)
    # v1 predates the lowercasing merge entirely
    assert v1.where(F.col("n_name") == F.lower(F.col("n_name"))).count() == 0
    v2 = read_version(spark, path, 2)
    assert v2.count() == nation.count()
    assert (
        v2.where(F.col("n_name") == F.lower(F.col("n_name"))).count() == 3
    )


def test_partitioned_seed_and_cdc_record_versions(spark, tmpdir, snap_mode):
    """Seed-branch + unpartitioned apply_changes coverage of the same
    choke-point contract (r10 ADVICE, medium)."""
    from weatherflow_spark.operators.upsert import apply_changes

    path = f"{tmpdir}/seeded"
    init_snapshot_log(path)
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    upsert_by_key(
        spark, nation, path, ["n_nationkey"], partition_cols=["n_regionkey"]
    )
    assert versions(path) == [1]

    flat = f"{tmpdir}/flat_cdc"
    init_snapshot_log(flat)
    seed = nation.withColumn("op", F.lit("U"))
    apply_changes(spark, seed, flat, ["n_nationkey"])  # seed -> v1
    feed = nation.limit(2).withColumn("op", F.lit("D"))
    apply_changes(spark, feed, flat, ["n_nationkey"])  # delete -> v2
    assert versions(flat) == [1, 2]
    assert read_version(spark, flat, 2).count() == nation.count() - 2
    assert read_version(spark, flat, 1).count() == nation.count()


def test_partition_commit_walks_only_touched_scope(spark, tmpdir, snap_mode):
    """r9 verdict #4: the upsert/CDC choke points pass their touched
    partition list into record_commit(scope=...), so a one-partition
    micro-batch commit walks ONLY that partition directory — never the
    whole tree — and carries every untouched file forward from the
    previous version's entry. Proven by instrumenting the walk."""
    from weatherflow_spark.operators import snaplog as S

    path = f"{tmpdir}/scoped"
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        path
    )
    init_snapshot_log(path)
    record_commit(path)  # v1: full walk (first version, nothing to carry)

    one_prio = orders.select("o_orderpriority").first()[0]
    batch = (
        orders.where(F.col("o_orderpriority") == one_prio)
        .limit(3)
        .select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
            "o_orderpriority",
        )
    )

    calls = []
    real_walk = S._walk_data_files

    def spy(p, subdirs=None):
        calls.append(subdirs)
        return real_walk(p, subdirs)

    S._walk_data_files = spy
    try:
        upsert_by_key(
            spark, batch, path, ["o_orderkey"], ["o_orderpriority"]
        )  # v2
    finally:
        S._walk_data_files = real_walk

    # Every walk during the commit was scoped to the touched partition.
    assert calls, "record_commit never listed files"
    assert all(sd == [f"o_orderpriority={one_prio}"] for sd in calls), calls

    # And the scoped entry is COMPLETE: v2 == the expected merge.
    v2 = read_version(spark, path, 2)
    merged = orders.join(
        batch.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(batch)
    assert _digest(v2) == _digest(merged)
    # untouched partitions' files carried forward verbatim
    from weatherflow_spark.operators.snaplog import entry_files

    v2_files = {r for r, _ in entry_files(path, 2)}
    v1_files = {r for r, _ in entry_files(path, 1)}
    untouched_v1 = {
        r for r in v1_files if not r.startswith(f"o_orderpriority={one_prio}/")
    }
    assert untouched_v1 <= v2_files


def test_batch_keyed_commit_is_replay_idempotent(spark, tmpdir, snap_mode):
    """record_commit(batch_id=...) must mint exactly one version per
    batch id: a re-delivered micro-batch returns the original version
    instead of a duplicate (the foreachBatch exactly-once contract)."""
    from weatherflow_spark.operators.snaplog import committed_batch_version

    path = f"{tmpdir}/keyed"
    nation = load_table(spark, SF_SMALL, "nation")
    nation.write.mode("overwrite").parquet(path)
    init_snapshot_log(path)
    v = record_commit(path, batch_id=7)
    assert v == 1
    assert committed_batch_version(path, 7) == 1
    assert record_commit(path, batch_id=7) == 1  # replay: no new version
    assert versions(path) == [1]
    assert record_commit(path, batch_id=8) == 2
    assert versions(path) == [1, 2]


def test_pinned_reader_survives_concurrent_vacuum(spark, tmpdir, snap_mode):
    """r9 verdict #3: a reader pinned to version N survives a vacuum
    whose keep_last would drop N — the pin is taken under the dataset
    lock, vacuum honors it, and once released the next vacuum reclaims
    the version. Pinning an already-vacuumed version fails
    deterministically BEFORE any file is read."""
    from weatherflow_spark.operators.snaplog import (
        pinned_version,
        pinned_versions,
    )

    path = f"{tmpdir}/tt"
    orders, base, batch = _build_versioned(spark, path)  # v1, v2
    d1 = _digest(read_version(spark, path, 1))

    with pinned_version(path, 1) as v:
        assert v == 1
        assert pinned_versions(path) == {1}
        out = vacuum_versions(path, keep_last=1)
        # v1 pinned -> survives; nothing else was old enough to drop
        assert out["dropped_versions"] == 0
        assert versions(path) == [1, 2]
        # the pinned read still works mid-vacuum-era, bit for bit
        assert _digest(read_version(spark, path, 1)) == d1
    assert pinned_versions(path) == set()

    # released: the next vacuum reclaims it
    out = vacuum_versions(path, keep_last=1)
    assert out["dropped_versions"] == 1
    assert versions(path) == [2]

    # deterministic refusal BEFORE reading: the version is gone
    with pytest.raises(ValueError, match="cannot pin"):
        with pinned_version(path, 1):
            raise AssertionError("must not yield for a vacuumed version")


def test_streaming_versioned_upsert_replay_mints_no_duplicate_version(spark, tmpdir, snap_mode):
    """r9 verdict #7: the foreachBatch snapshot sink records exactly
    one version per micro-batch id — a re-delivered batch neither
    duplicates rows nor mints a duplicate version, and each version
    is the table as of that batch (streaming time travel)."""
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_versioned_upsert,
    )

    path = f"{tmpdir}/stream_tbl"
    init_snapshot_log(path)
    sink = foreach_batch_versioned_upsert(
        path, ["o_orderkey"], ["o_orderpriority"]
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    b0 = orders.where(F.col("o_orderkey") % 2 == 0)
    b1 = orders.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )

    sink(b0, 0)  # -> v1
    sink(b1, 1)  # -> v2
    assert versions(path) == [1, 2]
    d2 = _digest(spark.read.parquet(path))

    # at-least-once re-delivery of BOTH batches: no new versions, no
    # content change
    sink(b0, 0)
    sink(b1, 1)
    assert versions(path) == [1, 2]
    assert _digest(spark.read.parquet(path)) == d2

    # each version is the table as of that batch
    assert _digest(read_version(spark, path, 1)) == _digest(b0)
    merged = b0.join(
        b1.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(b1)
    assert _digest(read_version(spark, path, 2)) == _digest(merged)

    # and a genuinely new batch continues the trail
    b2 = orders.where(F.col("o_orderkey") % 7 == 0)
    sink(b2, 2)
    assert versions(path) == [1, 2, 3]


def test_diff_versions_emits_exact_cdc_feed_and_round_trips(spark, tmpdir, snap_mode):
    """E91 (r10): diff_versions between two retained versions yields
    exactly the U/D feed that transforms the older into the newer —
    changed rows carry NEW values, deletes carry OLD rows (partition
    values included), unchanged rows are absent — and applying the
    feed to a copy of the older version reconstructs the newer one."""
    from weatherflow_spark.operators.snaplog import diff_versions
    from weatherflow_spark.operators.upsert import apply_changes

    path = f"{tmpdir}/vd"
    orders, base, batch = _build_versioned(spark, path)  # v1, v2 (upsert)

    feed = diff_versions(spark, path, 1, 2, ["o_orderkey"])
    u = feed.where(F.col("op") == "U").drop("op")
    d = feed.where(F.col("op") == "D")
    # the upsert batch changed/inserted exactly its own rows; nothing
    # was deleted between v1 and v2
    assert d.count() == 0
    assert _digest(u) == _digest(batch)
    # U rows carry the NEW price (+1.0 vs raw orders)
    joined = u.alias("u").join(
        orders.alias("o"), on="o_orderkey"
    ).where(F.expr("abs(u.o_totalprice - (o.o_totalprice + 1.0)) > 1e-9"))
    assert joined.count() == 0

    # now delete some keys -> v3; diff(2,3) must be pure tombstones
    doomed = (
        spark.read.parquet(path)
        .where(F.col("o_orderkey") % 4 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .withColumn("op", F.lit("D"))
    )
    n_doomed = doomed.count()
    assert n_doomed > 0
    apply_changes(
        spark, doomed, path, ["o_orderkey"], "op", ["o_orderpriority"]
    )  # v3
    feed23 = diff_versions(spark, path, 2, 3, ["o_orderkey"])
    assert feed23.where(F.col("op") == "U").count() == 0
    assert feed23.where(F.col("op") == "D").count() == n_doomed

    # round-trip across BOTH steps: v1 copy + diff(1,3) == v3
    rt = f"{tmpdir}/rt"
    from weatherflow_spark.operators.snaplog import read_version

    read_version(spark, path, 1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(rt)
    feed13 = diff_versions(spark, path, 1, 3, ["o_orderkey"])
    apply_changes(
        spark, feed13, rt, ["o_orderkey"], "op", ["o_orderpriority"]
    )
    assert _digest(spark.read.parquet(rt)) == _digest(
        read_version(spark, path, 3)
    )


def test_delta_update_agg_matches_direct_reaggregation(spark):
    """E92 (r10): delta maintenance over an insert+update+delete+
    group-move feed must equal direct re-aggregation — including the
    xor digest (self-inverse algebra) — and groups emptied by deletes
    must vanish like a direct agg's."""
    from weatherflow_spark.operators.ivm import delta_update_agg

    old = spark.createDataFrame(
        [
            (1, "a", 10),  # will be updated in place
            (2, "a", 20),  # will move to group b with a new value
            (3, "b", 30),  # untouched
            (4, "c", 40),  # deleted; group c becomes empty
        ],
        "k int, g string, v int",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 11),
            (2, "b", 25),
            (3, "b", 30),
            (5, "d", 50),  # insert into a brand-new group
        ],
        "k int, g string, v int",
    )
    plus = new.subtract(old)  # U rows (new values): k=1,2,5
    d_keys = old.join(new, "k", "left_anti")  # k=4
    minus = old.join(
        plus.select("k").union(d_keys.select("k")), "k", "left_semi"
    )  # pre-images of changed keys + deleted rows: k=1,2,4

    measures = {
        "n": ("sum", "1"),
        "sv": ("sum", "v"),
        "xk": ("xor", "k"),
    }

    def direct(df):
        from pyspark.sql import functions as F

        return df.groupBy("g").agg(
            F.sum(F.expr("cast(1 as bigint)")).alias("n"),
            F.sum(F.expr("cast(v as bigint)")).alias("sv"),
            F.expr("bit_xor(cast(k as bigint))").alias("xk"),
        )

    refreshed = delta_update_agg(
        direct(old), plus, minus, ["g"], measures, count_col="n"
    )
    got = {r.g: (r.n, r.sv, r.xk) for r in refreshed.collect()}
    want = {r.g: (r.n, r.sv, r.xk) for r in direct(new).collect()}
    assert got == want
    assert "c" not in got  # emptied group dropped
    assert "d" in got  # new group created


def test_streaming_version_trail_drives_incremental_aggregate(spark, tmpdir, snap_mode):
    """Composition (r10): the E90 streaming version trail feeds E91
    diffs into E92 delta maintenance — a continuously-maintained
    aggregate that tracks a micro-batch stream without ever rescanning
    the table, converging to the direct aggregation of the live data.
    Replayed batches mint no version, so the maintenance loop (driven
    by versions()) naturally skips them."""
    from weatherflow_spark.operators.ivm import delta_update_agg
    from weatherflow_spark.operators.snaplog import (
        diff_versions,
        read_version,
        versions,
    )
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_versioned_upsert,
    )

    path = f"{tmpdir}/stream_agg_tbl"
    init_snapshot_log(path)
    sink = foreach_batch_versioned_upsert(
        path, ["o_orderkey"], ["o_orderpriority"]
    )
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    batches = [
        orders.where(F.col("o_orderkey") % 2 == 0),
        orders.where(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            "o_custkey",
            (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
            "o_orderpriority",
        ),
        orders.where(F.col("o_orderkey") % 5 == 0),
    ]

    MEASURES = {
        "n_rows": ("sum", "1"),
        "sum_cents": ("sum", "floor(o_totalprice * 100 + 0.5)"),
        "key_xor": ("xor", "o_orderkey"),
    }

    def direct(df):
        return df.groupBy("o_orderpriority").agg(
            F.sum(F.expr("cast(1 as bigint)")).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("sum_cents"),
            F.expr("bit_xor(cast(o_orderkey as bigint))").alias("key_xor"),
        )

    agg = None
    applied_through = 0
    for i, b in enumerate(batches):
        sink(b, i)
        if i == 1:
            sink(b, i)  # replay mid-stream: no version, no double count
        # maintenance loop: catch up on any versions minted since
        for v in versions(path):
            if v <= applied_through:
                continue
            if agg is None:
                agg = direct(read_version(spark, path, v))
            else:
                feed = diff_versions(
                    spark, path, applied_through, v, ["o_orderkey"]
                ).localCheckpoint(eager=True)
                u = feed.where(F.col("op") == "U").drop("op")
                d = feed.where(F.col("op") == "D").drop("op")
                old_changed = read_version(
                    spark, path, applied_through
                ).join(
                    F.broadcast(u.select("o_orderkey")),
                    "o_orderkey",
                    "left_semi",
                )
                agg = delta_update_agg(
                    agg,
                    plus=u,
                    minus=old_changed.unionByName(d),
                    group_cols=["o_orderpriority"],
                    measures=MEASURES,
                    count_col="n_rows",
                )
            agg = agg.localCheckpoint(eager=True)
            applied_through = v

    assert applied_through == 3  # three versions, replay minted none
    got = {
        r.o_orderpriority: (r.n_rows, r.sum_cents, r.key_xor)
        for r in agg.collect()
    }
    want = {
        r.o_orderpriority: (r.n_rows, r.sum_cents, r.key_xor)
        for r in direct(spark.read.parquet(path)).collect()
    }
    assert got == want


def test_batch_markers_collision_proof_and_crash_safe(spark, tmpdir, snap_mode):
    """r10 review fixes: (1) distinct batch ids that sanitize to the
    same name must not collide ('8.1' vs '8_1'); (2) the version
    entry is the replay-key source of truth — losing the marker file
    to a crash between the two writes must not re-mint a version;
    (3) vacuum GCs markers along with their dropped versions."""
    import glob
    import os as _os

    from weatherflow_spark.operators.snaplog import committed_batch_version

    path = f"{tmpdir}/mk"
    nation = load_table(spark, SF_SMALL, "nation")
    nation.write.mode("overwrite").parquet(path)
    init_snapshot_log(path)

    v1 = record_commit(path, batch_id="8.1")
    assert committed_batch_version(path, "8.1") == v1
    assert committed_batch_version(path, "8_1") is None  # no collision
    v2 = record_commit(path, batch_id="8_1")
    assert v2 == v1 + 1  # a real new version, not a skipped replay

    # crash window: the entry landed, its marker and the head pointer
    # did not
    v3 = record_commit(path, batch_id="later")
    for m in glob.glob(path + ".__snaplog/b_later_*.json"):
        _os.unlink(m)
    with open(path + ".__snaplog/_last_checkpoint", "w") as f:
        f.write('{"version": %d}' % v2)
    assert committed_batch_version(path, "later") == v3  # entry fallback
    assert record_commit(path, batch_id="later") == v3  # replay: no mint
    assert versions(path)[-1] == v3

    # vacuum GCs markers of dropped versions
    n_markers = len(glob.glob(path + ".__snaplog/b_*.json"))
    vacuum_versions(path, keep_last=1)
    left = glob.glob(path + ".__snaplog/b_*.json")
    assert len(left) < n_markers
    # the surviving version's marker (if any) still resolves
    assert committed_batch_version(path, "later") == v3


def test_stale_marker_never_vouches_for_a_gone_version(spark, tmpdir, snap_mode):
    """The snapshot-log twin of test_whlog's stale-marker test: a
    marker whose version entry is gone must not answer
    committed_batch_version, and the recycled batch id must then
    commit a fresh version instead of being swallowed."""
    import glob

    from weatherflow_spark.operators.snaplog import committed_batch_version

    path = f"{tmpdir}/stale"
    load_table(spark, SF_SMALL, "nation").write.mode("overwrite").parquet(path)
    init_snapshot_log(path)
    assert record_commit(path, batch_id="r:0") == 1
    # entry gone, marker left behind
    os.remove(path + ".__snaplog/v000001.json")
    assert glob.glob(path + ".__snaplog/b_r_0_*.json")
    assert committed_batch_version(path, "r:0") is None
    assert record_commit(path, batch_id="r:0") == 1
    assert versions(path) == [1]
    assert committed_batch_version(path, "r:0") == 1


def test_change_feed_streams_with_checkpoint_continuity(spark, tmpdir, snap_mode):
    """E95 (r10): the materialized change feed is stream-consumable —
    a file-source stream over the feed dir delivers every exported
    change, and after MORE versions are exported a resumed stream
    (same checkpoint) delivers exactly the new partitions, nothing
    twice."""
    from weatherflow_spark.operators.snaplog import (
        export_change_feed,
        read_change_feed,
    )
    from weatherflow_spark.operators.upsert import upsert_by_key

    path = f"{tmpdir}/cf"
    orders, base, batch = _build_versioned(spark, path)  # v1, v2
    feed_dir = f"{tmpdir}/cf_feed"
    ckpt = f"{tmpdir}/cf_ckpt"
    assert sorted(export_change_feed(spark, path, feed_dir, ["o_orderkey"])) == [1, 2]

    out = f"{tmpdir}/cf_out"

    def drain():
        # parquet sink: the memory sink cannot recover from a
        # checkpoint, and checkpoint continuity is the claim under test
        q = (
            read_change_feed(spark, feed_dir, streaming=True)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out)

    got1 = drain()
    # round 1 = seed inserts + the diff feed
    n_v1 = base.count()
    assert got1.where(F.col("change_version") == 1).count() == n_v1
    n_u2 = got1.where(
        (F.col("change_version") == 2) & (F.col("op") == "U")
    ).count()
    assert n_u2 == batch.count()
    n_round1 = got1.count()

    # new version lands; incremental export + resumed stream
    b2 = orders.where(F.col("o_orderkey") % 11 == 0)
    upsert_by_key(spark, b2, path, ["o_orderkey"], ["o_orderpriority"])  # v3
    assert export_change_feed(spark, path, feed_dir, ["o_orderkey"]) == [3]
    got2 = drain()
    # the RESUMED stream (same checkpoint) appended only version 3's
    # rows — nothing re-delivered
    new_rows = got2.count() - n_round1
    assert new_rows == got2.where(F.col("change_version") == 3).count()
    # the feed is CHANGE-only: b2 rows identical to their v2 image
    # produce no event — expected U = b2 exceptAll v2
    from weatherflow_spark.operators.snaplog import read_version

    v2 = read_version(spark, path, 2)
    expected_u = b2.select(*v2.columns).exceptAll(v2).count()
    assert expected_u > 0
    assert (
        got2.where((F.col("change_version") == 3) & (F.col("op") == "U"))
        .count()
        == expected_u
    )


def test_change_feed_replicates_table_end_to_end(spark, tmpdir, snap_mode):
    """E95 composition: streaming the materialized change feed into a
    replica via foreachBatch apply_changes reproduces the source table
    — CDC replication on plain parquet, replayed micro-batches and
    all. The replica consumes ONLY the feed; it never reads the
    source."""
    from weatherflow_spark.operators.snaplog import (
        export_change_feed,
        read_change_feed,
    )
    from weatherflow_spark.operators.upsert import apply_changes

    path = f"{tmpdir}/src"
    orders, base, batch = _build_versioned(spark, path)  # v1, v2
    feed_dir = f"{tmpdir}/feed"
    export_change_feed(spark, path, feed_dir, ["o_orderkey"])
    replica = f"{tmpdir}/replica"

    def apply_batch(df, batch_id):
        # change_version ordering inside a micro-batch: apply versions
        # in order (a micro-batch can carry several exports)
        vs = sorted(
            r.change_version
            for r in df.select("change_version").distinct().collect()
        )
        for v in vs:
            apply_changes(
                df.sparkSession,
                df.where(F.col("change_version") == v).drop(
                    "change_version"
                ),
                replica,
                ["o_orderkey"],
                "op",
                ["o_orderpriority"],
            )

    q = (
        read_change_feed(spark, feed_dir, streaming=True)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _digest(spark.read.parquet(replica)) == _digest(
        spark.read.parquet(path)
    )

    # source advances (incl. deletes); only the feed flows to the replica
    feed2 = (
        spark.read.parquet(path)
        .where(F.col("o_orderkey") % 4 == 0)
        .withColumn("op", F.lit("D"))
    )
    apply_changes(
        spark, feed2, path, ["o_orderkey"], "op", ["o_orderpriority"]
    )  # v3
    export_change_feed(spark, path, feed_dir, ["o_orderkey"])
    q = (
        read_change_feed(spark, feed_dir, streaming=True)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert _digest(spark.read.parquet(replica)) == _digest(
        spark.read.parquet(path)
    )


def test_export_marker_and_partial_export_recovery(spark, tmpdir, snap_mode):
    """r10 third-review fixes: a crashed partial export (directory
    exists, no completion marker) is re-exported instead of skipped
    forever; the marker is the engine's own file, independent of the
    _SUCCESS setting; NULL-key and post-cast-collision batches are
    refused by the guard."""
    import os as _os

    import pytest

    from weatherflow_spark.operators.snaplog import export_change_feed
    from weatherflow_spark.operators.upsert import upsert_by_key

    path = f"{tmpdir}/pe"
    orders, base, batch = _build_versioned(spark, path)  # v1, v2
    feed_dir = f"{tmpdir}/pe_feed"
    assert sorted(
        export_change_feed(spark, path, feed_dir, ["o_orderkey"])
    ) == [1, 2]
    # simulate a crashed partial export of a NEW version: dir without
    # the completion marker must be re-exported, not skipped
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])
    part3 = _os.path.join(feed_dir, "change_version=3")
    _os.makedirs(part3, exist_ok=True)  # job-start artifact, no marker
    assert export_change_feed(spark, path, feed_dir, ["o_orderkey"]) == [3]
    assert _os.path.isfile(_os.path.join(part3, "_WF_EXPORTED"))
    # and now it's committed: the next run skips it
    assert export_change_feed(spark, path, feed_dir, ["o_orderkey"]) == []

    # guard hardening: NULL keys refused
    null_batch = batch.limit(1).withColumn(
        "o_orderkey", F.lit(None).cast("bigint")
    )
    with pytest.raises(ValueError, match="NULL"):
        upsert_by_key(
            spark, null_batch, path, ["o_orderkey"], ["o_orderpriority"]
        )

    # guard hardening: keys that collide only AFTER the table-type
    # cast ('7' vs '07' -> bigint 7) are refused too
    k = orders.select("o_orderkey", "o_custkey", "o_totalprice",
                      "o_orderpriority").first()
    cast_batch = spark.createDataFrame(
        [
            (str(k.o_orderkey), k.o_custkey, k.o_totalprice,
             k.o_orderpriority),
            ("0" + str(k.o_orderkey), k.o_custkey, k.o_totalprice,
             k.o_orderpriority),
        ],
        "o_orderkey string, o_custkey bigint, o_totalprice double, "
        "o_orderpriority string",
    )
    with pytest.raises(ValueError, match="type alignment"):
        upsert_by_key(
            spark, cast_batch, path, ["o_orderkey"], ["o_orderpriority"]
        )


def test_clone_table_zero_copy_and_divergence_isolation(spark, tmpdir, snap_mode):
    """E96 (r10): shallow clone hard-links the source's files (same
    inodes — zero copy), refuses non-empty destinations, diverges
    safely in BOTH directions (writers replace files, never modify
    inodes), and with_history seeds the clone's own v1."""
    from weatherflow_spark.operators.snaplog import clone_table

    src = f"{tmpdir}/src"
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(src)
    d0 = spark.read.parquet(src).count()

    dst = f"{tmpdir}/dst"
    n = clone_table(src, dst, with_history=True)
    assert n > 0
    # zero-copy: at least one linked pair shares an inode
    shared = 0
    for root, _, files in os.walk(dst):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            rel = os.path.relpath(os.path.join(root, f), dst)
            s_stat = os.stat(os.path.join(src, rel))
            d_stat = os.stat(os.path.join(dst, rel))
            if s_stat.st_ino == d_stat.st_ino:
                shared += 1
    assert shared == n
    assert spark.read.parquet(dst).count() == d0
    assert versions(dst) == [1]  # with_history seeds the clone's v1
    assert versions(src) == []  # source history untouched

    # clone diverges; source unchanged — and vice versa
    batch = nation.limit(3).withColumn("n_name", F.lower(F.col("n_name")))
    upsert_by_key(spark, batch, dst, ["n_nationkey"], ["n_regionkey"])
    assert (
        spark.read.parquet(dst)
        .where(F.col("n_name") == F.lower(F.col("n_name")))
        .count()
        == 3
    )
    assert (
        spark.read.parquet(src)
        .where(F.col("n_name") == F.lower(F.col("n_name")))
        .count()
        == 0
    )
    src_batch = nation.limit(1).withColumn("n_name", F.lit("XX"))
    upsert_by_key(spark, src_batch, src, ["n_nationkey"], ["n_regionkey"])
    assert spark.read.parquet(dst).where(F.col("n_name") == "XX").count() == 0

    with pytest.raises(ValueError, match="non-empty"):
        clone_table(src, dst)

    # r10 review: a DROPPED table's stale siblings must not graft its
    # history onto a new clone at the same path
    shutil.rmtree(dst)
    assert versions(dst) != []  # stale log still on disk (v1 + upsert's v2)
    clone_table(src, dst, with_history=True)
    assert versions(dst) == [1]  # fresh history, not v2 of the dead one
    assert spark.read.parquet(dst).count() == spark.read.parquet(src).count()

    # destination-is-a-file refuses with the documented error
    f_dst = f"{tmpdir}/afile"
    with open(f_dst, "w") as fh:
        fh.write("x")
    with pytest.raises(ValueError, match="not a directory"):
        clone_table(src, f_dst)


def test_scoped_commit_entry_io_bounded_by_touched_partitions(
    spark, tmpdir, snap_mode
):
    """r11 verdict #3 (segmented manifests): a partition-scoped commit
    must not re-read or re-write the untouched partitions' file lists.
    Entries are split into one immutable content-addressed segment per
    partition directory; after a one-partition upsert on a 5-partition
    table, (a) every NEW log file is the v2 entry or a segment whose
    recorded dir is the touched partition, (b) no pre-existing log
    file changed (immutability), (c) the commit's new log bytes are a
    fraction of v1's full listing, and (d) both versions still
    reconstruct exactly: untouched segments carry by name."""
    import json

    path = f"{tmpdir}/seg"
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        path
    )
    init_snapshot_log(path)
    record_commit(path)  # v1 (full listing, segmented)

    logd = path + ".__snaplog"

    def log_state():
        out = {}
        for root, _, files in os.walk(logd):
            for f in files:
                p = os.path.join(root, f)
                out[os.path.relpath(p, logd)] = os.path.getsize(p)
        return out

    v1_state = log_state()
    v1_bytes = sum(v1_state.values())
    assert any(p.startswith("seg/") for p in v1_state), v1_state

    touched = "1-URGENT"
    batch = (
        orders.where(F.col("o_orderpriority") == touched)
        .limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    upsert_by_key(
        spark, batch, path, ["o_orderkey"], ["o_orderpriority"]
    )
    assert versions(path) == [1, 2]

    after = log_state()
    # (b) immutability: nothing that existed before the commit changed
    for p, sz in v1_state.items():
        assert after.get(p) == sz, f"scoped commit rewrote {p}"
    new = {p: sz for p, sz in after.items() if p not in v1_state}
    assert new, "commit wrote no log files?"
    # (a) new log files: the v2 entry + touched-partition segments only
    for p in new:
        if p.startswith("seg/"):
            with open(os.path.join(logd, p)) as f:
                assert (
                    json.load(f)["dir"] == f"o_orderpriority={touched}"
                ), p
        else:
            assert p == "v000002.json", p
    # the v2 entry references segments, never an inline file list
    with open(os.path.join(logd, "v000002.json")) as f:
        entry = json.load(f)
    assert "segments" in entry and "files" not in entry
    assert len(entry["segments"]) == 5  # one per partition dir
    # (c) bounded bytes: far less than re-writing the full listing
    assert sum(new.values()) < v1_bytes / 2, (sum(new.values()), v1_bytes)
    # (d) both versions reconstruct exactly
    n = orders.count()
    assert read_version(spark, path, 1).count() == n
    v2 = read_version(spark, path, 2)
    assert v2.count() == n
    assert (
        v2.where(F.col("o_orderpriority") == touched).count()
        == orders.where(F.col("o_orderpriority") == touched).count()
    )


def test_file_skipping_stats_prune_and_carry(spark, tmpdir, snap_mode):
    """E100 (r12): file-skipping statistics ride the segments. A
    range-partitioned seed records per-file o_orderkey min/max;
    scan_version over a selective range opens only intersecting files
    yet returns exactly the full-scan rows after the residual filter.
    A scoped commit computes stats ONLY for its new files while
    untouched segments keep theirs (carry), and files without stats
    are always kept (pruning is an optimization, never a filter)."""
    from weatherflow_spark.operators.snaplog import (
        scan_version,
        set_stats_columns,
    )

    path = f"{tmpdir}/fs"
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.repartitionByRange(8, F.col("o_orderkey")).write.mode(
        "overwrite"
    ).parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["o_orderkey"])
    record_commit(path)  # v1: stats for every file

    lo, hi = 100, 200
    df, info = scan_version(spark, path, "o_orderkey", lo=lo, hi=hi)
    assert info["files_scanned"] < info["files_total"], info
    got = sorted(
        tuple(r)
        for r in df.where(F.col("o_orderkey").between(lo, hi)).collect()
    )
    want = sorted(
        tuple(r)
        for r in orders.where(
            F.col("o_orderkey").between(lo, hi)
        ).collect()
    )
    assert got == want and got, "pruned scan lost or invented rows"

    # out-of-range scan prunes everything yet keeps the schema
    empty, info0 = scan_version(
        spark, path, "o_orderkey", lo=10**12, hi=10**12 + 1
    )
    assert info0["files_scanned"] == 0
    assert empty.count() == 0
    assert set(empty.columns) == set(orders.columns)

    # stats-less files are never pruned: a column with no stats
    df_all, info_all = scan_version(spark, path, "o_totalprice", lo=0.0)
    assert info_all["files_scanned"] == info_all["files_total"]


def test_file_skipping_stats_carry_across_scoped_commits(
    spark, tmpdir, monkeypatch, snap_mode
):
    """E100 carry contract (r12 review: the first test never exercised
    it): a partition-scoped upsert computes footer stats ONLY for its
    new files — untouched segments keep their recorded bounds without
    a single footer re-read — and pruning over the merged version
    still partitions the file set correctly."""
    import weatherflow_spark.operators.snaplog as S
    from weatherflow_spark.operators.snaplog import (
        scan_version,
        set_stats_columns,
    )

    path = f"{tmpdir}/fsc"
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        path
    )
    init_snapshot_log(path)
    set_stats_columns(path, ["o_orderkey"])
    record_commit(path)  # v1: stats for every file

    # instrument footer reads
    reads = []
    real = S._file_stats
    monkeypatch.setattr(
        S, "_file_stats", lambda p, rel, cols: (reads.append(rel), real(p, rel, cols))[1]
    )

    touched = "1-URGENT"
    batch = (
        orders.where(F.col("o_orderpriority") == touched)
        .limit(5)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])
    assert versions(path) == [1, 2]
    # stats were computed ONLY for the touched partition's new files
    assert reads, "scoped commit read no footers at all"
    assert all(r.startswith(f"o_orderpriority={touched}/") for r in reads), reads

    # the merged version still carries bounds for EVERY file (carried
    # segments kept theirs): a full-range scan prunes nothing, and a
    # max-key probe prunes at least the files whose range ends early
    from weatherflow_spark.operators.snaplog import (
        _entry_stats,
        _load_entry,
        entry_files,
    )

    files2 = entry_files(path, 2)
    stats2 = _entry_stats(path, _load_entry(path, 2))
    missing = [r for r, _ in files2 if "o_orderkey" not in stats2.get(r, {})]
    assert not missing, f"files lost their stats across the carry: {missing}"

    top = orders.agg(F.max("o_orderkey")).first()[0]
    df, info = scan_version(spark, path, "o_orderkey", lo=top, hi=top)
    assert info["files_scanned"] < info["files_total"], info
    got = df.where(F.col("o_orderkey") == top).count()
    assert got == orders.where(F.col("o_orderkey") == top).count()


def test_feed_marker_formats_and_scan_bound_normalization(tmp_path):
    """r12 review #5 coverage (pure-python, no Spark): the
    partial-copy guard's three marker outcomes — legacy bare-int →
    None (check skipped), valid JSON → stamped count, truncated/
    garbage → RAISE (a torn marker IS partial-copy evidence) — and
    the scan-bound normalizer's date/datetime unification."""
    import json as _json

    import pytest as _pytest

    from weatherflow_spark.operators.snaplog import (
        _scan_cmp_key,
        feed_version_rows,
    )

    feed = tmp_path / "feed"

    def marker(v, content):
        d = feed / f"change_version={v}"
        d.mkdir(parents=True, exist_ok=True)
        (d / "_WF_EXPORTED").write_text(content)

    marker(1, "1\n")  # legacy
    marker(2, _json.dumps({"version": 2, "n_rows": 17}))
    marker(3, '{"version": 3, "n_r')  # torn mid-copy
    marker(4, "")  # torn at zero bytes

    assert feed_version_rows(str(feed), 1) is None
    assert feed_version_rows(str(feed), 2) == 17
    assert feed_version_rows(str(feed), 99) is None  # absent
    with _pytest.raises(ValueError, match="unreadable export marker"):
        feed_version_rows(str(feed), 3)
    with _pytest.raises(ValueError, match="unreadable export marker"):
        feed_version_rows(str(feed), 4)

    # bound normalization: dates meet datetimes at the midnight
    # instant, str(datetime) space form and reduced precision unify,
    # non-date strings and numbers pass through untouched
    k = _scan_cmp_key
    assert k("2020-01-01") == "2020-01-01T00:00:00"
    assert k("2020-01-01 12:00:00") == "2020-01-01T12:00:00"
    assert k("2020-01-01T12:00") == "2020-01-01T12:00:00"
    assert k("2020-01-01T12:00:00.000000") == "2020-01-01T12:00:00"
    assert k("2020-01-01T12:00:00.500") == "2020-01-01T12:00:00.500"
    assert k("2020-01-01 daily") == "2020-01-01 daily"
    assert k(42) == 42
    assert not (k("2020-01-01") < k("2020-01-01 00:00:00"))
    assert k("2020-01-01") < k("2020-01-01T12:00:00")
