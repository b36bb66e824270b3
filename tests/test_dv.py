"""Merge-on-read deletion vectors (r12 verdict #1): delete_where
(use_dv=True) commits the victim KEYS as a sidecar parquet recorded in
the version entry — zero data files rewritten — and every reader
anti-joins them until a rewrite of the covered partition folds the
delete into data files. The reference's warehouse cannot delete at all
(reference dags/utils/database.py:25-34); the eager mode (E102) can
but rewrites every victim partition — DV mode is what makes a
scattered-key right-to-be-forgotten O(victims) instead of O(table)."""

import os

import pytest
from pyspark.sql import Row, functions as F


def _mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def _seed(spark, path):
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        set_stats_columns,
    )

    # k scattered across all three day partitions — the RTBF shape
    rows = [
        {"k": i, "day": f"2026-01-0{1 + i % 3}", "v": float(i)}
        for i in range(30)
    ]
    _mk(spark, rows).repartition(1).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["k"])
    record_commit(path)
    return rows


def _inodes(path):
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = os.stat(full).st_ino
    return out


def test_dv_delete_rewrites_zero_files_and_time_travels(spark, tmp_path, snap_mode):
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        read_live,
        read_version,
        scan_version,
        versions,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    v1 = versions(path)[-1]
    before = _inodes(path)

    # RTBF by key: victims k % 10 == 3 scatter across EVERY partition
    rep = delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    assert rep["rows_matched"] == 3 and rep["keys_deleted"] == 3
    assert rep["partitions_touched"] == 3
    assert rep["files_rewritten"] == 0
    # THE claim: not one data file rewritten — all inodes identical
    assert _inodes(path) == before
    assert head_dv(path), "head entry must carry the DV"

    got = {r["k"] for r in read_version(spark, path).collect()}
    assert got == {i for i in range(30) if i % 10 != 3}
    # read_live agrees (the live tree still holds the rows physically)
    assert {r["k"] for r in read_live(spark, path).collect()} == got
    # pruned scan applies the DV too
    df, info = scan_version(spark, path, "k", lo=0, hi=29)
    assert {r["k"] for r in df.collect()} == got
    # time travel: pre-delete version intact
    assert read_version(spark, path, v1).count() == 30
    # replay: same predicate matches nothing post-DV → no new version
    head = versions(path)[-1]
    rep2 = delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    assert rep2["rows_matched"] == 0
    assert versions(path)[-1] == head


def test_dv_batch_id_replay_returns_prior_version(spark, tmp_path):
    from weatherflow_spark.operators.snaplog import versions
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    rep = delete_where(
        spark, path, "k = 7", ["k"], partition_cols=["day"],
        use_dv=True, snapshot_batch_id="job-42",
    )
    assert rep["keys_deleted"] == 1
    head = versions(path)[-1]
    rep2 = delete_where(
        spark, path, "k = 8", ["k"], partition_cols=["day"],
        use_dv=True, snapshot_batch_id="job-42",  # re-delivered batch
    )
    assert rep2["new_version"] == rep["new_version"]
    assert versions(path)[-1] == head  # nothing minted, k=8 survives


def test_upsert_folds_dv_on_touched_partition_only(spark, tmp_path, snap_mode):
    """A keyed upsert into a covered partition reads post-DV content,
    rewrites it, and the new entry drops THAT partition's DV while
    untouched partitions carry theirs — re-inserted keys come back."""
    from weatherflow_spark.operators.snaplog import head_dv, read_version
    from weatherflow_spark.operators.upsert import delete_where, upsert_by_key

    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    # k=3 lives on day=2026-01-01 (3 % 3 == 0 → day index 1)
    batch = _mk(spark, [{"k": 3, "day": "2026-01-01", "v": 300.0}])
    upsert_by_key(spark, batch, path, ["k"], ["day"])
    dv = head_dv(path)
    assert "day=2026-01-01" not in dv, "touched partition must fold"
    assert "day=2026-01-02" in dv and "day=2026-01-03" in dv
    rows = {r["k"]: r["v"] for r in read_version(spark, path).collect()}
    assert rows[3] == 300.0          # re-inserted key visible
    assert 13 not in rows and 23 not in rows  # carried DVs still apply


def test_compaction_folds_dvs_and_vacuum_gcs_them(spark, tmp_path, snap_mode):
    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        _dv_dir,
        head_dv,
        read_version,
        vacuum_versions,
        versions,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    assert len(os.listdir(_dv_dir(path))) == 1
    # DV-covered partitions are offenders regardless of file count
    out = compact_partitions(spark, path, ["day"], max_files=100)
    assert out["partitions_compacted"] == 3
    assert head_dv(path) == {}, "fold must drop every DV"
    got = {r["k"] for r in read_version(spark, path).collect()}
    assert got == {i for i in range(30) if i % 10 != 3}
    # history: the DV version still time-travels until vacuum
    pre_fold = versions(path)[-2]
    assert read_version(spark, path, pre_fold).count() == 27
    vacuum_versions(path, keep_last=1)
    assert os.listdir(_dv_dir(path)) == [], "unreferenced DV not GC'd"
    assert {r["k"] for r in read_version(spark, path).collect()} == got


def test_dv_fold_that_empties_a_partition_deletes_it(spark, tmp_path):
    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import head_dv, read_version
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    # wipe one whole partition by key predicate (day 3 ⇔ k % 3 == 2)
    delete_where(
        spark, path, "k % 3 = 2", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    compact_partitions(spark, path, ["day"], max_files=100)
    assert head_dv(path) == {}
    assert not os.path.isdir(os.path.join(path, "day=2026-01-03"))
    got = read_version(spark, path)
    assert got.count() == 20
    assert {
        str(r["day"]) for r in got.select("day").distinct().collect()
    } == {"2026-01-01", "2026-01-02"}


def test_dv_requires_versioned_table_and_nonnull_keys(spark, tmp_path):
    from weatherflow_spark.operators.upsert import delete_where

    bare = str(tmp_path / "bare")
    _mk(spark, [{"k": 1, "day": "d", "v": 1.0}]).write.parquet(bare)
    with pytest.raises(ValueError, match="snapshot log"):
        delete_where(spark, bare, "k = 1", ["k"], use_dv=True)

    path = str(tmp_path / "t")
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
    )

    rows = [{"k": None, "day": "2026-01-01", "v": 0.0}] + [
        {"k": i, "day": "2026-01-01", "v": float(i)} for i in range(1, 4)
    ]
    spark.createDataFrame(
        rows, "k long, day string, v double"
    ).write.partitionBy("day").parquet(path)
    init_snapshot_log(path)
    record_commit(path)
    with pytest.raises(ValueError, match="NULL in key"):
        delete_where(
            spark, path, "v < 10", ["k"], partition_cols=["day"],
            use_dv=True,
        )


def test_clone_refuses_live_dvs(spark, tmp_path):
    from weatherflow_spark.operators.snaplog import clone_table
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(
        spark, path, "k = 5", ["k"], partition_cols=["day"], use_dv=True
    )
    with pytest.raises(ValueError, match="deletion vectors"):
        clone_table(path, str(tmp_path / "c"))


def test_dv_delete_conflicts_cas_writers(spark, tmp_path):
    """A DV delete bumps the covered partitions' CAS versions: a
    writer whose batch predates the delete must raise, not silently
    merge over it."""
    from weatherflow_spark.operators.commit import (
        UpsertConflict,
        partition_versions,
    )
    from weatherflow_spark.operators.upsert import delete_where, upsert_by_key

    path = str(tmp_path / "t")
    _seed(spark, path)
    expected = partition_versions(path)
    delete_where(
        spark, path, "k = 6", ["k"], partition_cols=["day"], use_dv=True
    )
    batch = _mk(spark, [{"k": 6, "day": "2026-01-01", "v": -1.0}])
    with pytest.raises(UpsertConflict):
        upsert_by_key(
            spark, batch, path, ["k"], ["day"],
            expected_versions=expected,
        )


def test_dv_restore_rolls_back_a_dv_delete(spark, tmp_path):
    """RESTORE across a DV version: the diff re-inserts the deleted
    rows through apply_changes (which reads post-DV), and the covered
    partitions fold on the rewrite."""
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        read_version,
        versions,
    )
    from weatherflow_spark.operators.upsert import delete_where, restore_version

    path = str(tmp_path / "t")
    _seed(spark, path)
    v1 = versions(path)[-1]
    delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    out = restore_version(spark, path, v1, ["k"], ["day"])
    assert out["changes_applied"] == 3  # the three deleted rows return
    assert read_version(spark, path).count() == 30
    assert head_dv(path) == {}, "restored partitions must fold their DVs"


def test_dv_read_plans_broadcast_anti_join(spark, tmp_path):
    """The DV read tax must be a BROADCAST anti-join (victim keys are
    small by contract) — a shuffled SMJ anti-join would pay two
    exchanges per covered directory group at every read."""
    from weatherflow_spark.operators.snaplog import read_version
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    df = read_version(spark, path)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    import re

    assert not re.search(r"\bExchange hashpartitioning\b", plan), plan


def test_delete_where_multi_range_prune(spark, tmp_path):
    """E102×E106: prune accepts a list of (col, lo, hi) ranges ANDed
    at file granularity — on a two-column-clustered layout the victim
    rectangle opens fewer files than either axis alone, in BOTH
    delete modes, with identical results to the unpruned delete."""
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark.operators.upsert import delete_where
    from weatherflow_spark.operators.zorder import write_zordered
    from pyspark.sql import functions as F

    for mode, use_dv in (("eager", False), ("dv", True)):
        path = str(tmp_path / f"t_{mode}")
        rows = [(i, i % 64, float(i)) for i in range(4096)]
        df = spark.createDataFrame(rows, "k long, g long, v double")
        write_zordered(df, path, "g", "k", num_files=16, bits=13)
        init_snapshot_log(path)
        set_stats_columns(path, ["k", "g"])
        record_commit(path)
        pred = (
            (F.col("g").between(0, 7))
            & (F.col("k").between(0, 511))
            & (F.col("k") % 2 == 0)
        )
        rep = delete_where(
            spark, path, pred, ["k"],
            prune=[("g", 0, 7), ("k", 0, 511)],
            use_dv=use_dv,
        )
        assert rep["rows_matched"] > 0
        assert 0 < rep["files_scanned"] < rep["files_total"], rep
        got = read_version(spark, path)
        assert got.count() == 4096 - rep["keys_deleted"]
        assert got.where(pred).count() == 0


def test_table_status_reports_dv_and_checkpoint_state(spark, tmp_path):
    """table_status: the metadata-only DESCRIBE DETAIL an operator
    polls before scheduling maintenance — correct head/file/partition
    counts, live-DV signal that clears after the fold, checkpoint
    freshness."""
    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import table_status
    from weatherflow_spark.operators.upsert import delete_where

    bare = str(tmp_path / "bare")
    _mk(spark, [{"k": 1, "day": "d", "v": 1.0}]).write.parquet(bare)
    assert table_status(bare) == {
        "versioned": False, "head_version": None,
    }

    path = str(tmp_path / "t")
    _seed(spark, path)
    st = table_status(path)
    assert st["versioned"]
    assert st["head_version"] == 1 and st["n_versions"] == 1
    assert st["partitions"] == 3 and st["files"] >= 3
    assert st["bytes"] > 0 and st["dv_dirs"] == 0
    assert st["stats_columns"] == ["k"]
    assert st["checkpoint_fresh"], "commit must leave a fresh pointer"

    delete_where(
        spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    st = table_status(path)
    assert st["head_version"] == 2
    assert st["dv_dirs"] == 3 and st["dv_files"] == 1
    assert st["checkpoint_fresh"]

    compact_partitions(spark, path, ["day"], max_files=100)
    st = table_status(path)
    assert st["dv_dirs"] == 0 and st["dv_files"] == 0
    assert st["checkpoint_fresh"]


def test_compact_swap_conflicts_on_concurrent_dv_delete(spark, tmp_path, snap_mode):
    """A merge-on-read DV delete rewrites ZERO data files, so the
    file-set fingerprint alone waves it through compact()'s swap-time
    re-check — the pre-DV rewrite would then swap in un-deleted rows
    and its full-walk commit would drop the fresh DV: a silently lost
    RTBF delete (r13 advice, high). The head-version half of the swap
    token must catch it."""
    from weatherflow_spark.operators.commit import CompactionConflict
    from weatherflow_spark.operators.layout import compact
    from weatherflow_spark.operators.snaplog import head_dv, read_version
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)

    def racing_dv_delete():
        delete_where(
            spark, path, "k % 10 = 3", ["k"], partition_cols=["day"],
            use_dv=True,
        )

    with pytest.raises(CompactionConflict):
        compact(spark, path, _before_swap=racing_dv_delete)
    # the delete survived: DV still on the head, victims invisible
    assert head_dv(path), "the racing DV must still be on the head"
    got = {r["k"] for r in read_version(spark, path).collect()}
    assert got == {i for i in range(30) if i % 10 != 3}
    # the retry reads the post-DV head, folds, and succeeds
    compact(spark, path)
    assert head_dv(path) == {}
    assert {r["k"] for r in read_version(spark, path).collect()} == got


def test_widen_swap_conflicts_on_concurrent_dv_delete(spark, tmp_path, snap_mode):
    """Same race as the compact form, through rewrite_widen's swap."""
    from weatherflow_spark.operators.commit import CompactionConflict
    from weatherflow_spark.operators.layout import rewrite_widen
    from weatherflow_spark.operators.snaplog import head_dv, read_version
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)

    def racing_dv_delete():
        delete_where(
            spark, path, "k = 7", ["k"], partition_cols=["day"],
            use_dv=True,
        )

    with pytest.raises(CompactionConflict):
        rewrite_widen(
            spark, path, {"k": "bigint"}, partition_cols=["day"],
            _before_swap=racing_dv_delete,
        )
    assert head_dv(path), "the racing DV must still be on the head"
    got = {r["k"] for r in read_version(spark, path).collect()}
    assert 7 not in got and len(got) == 29


def test_dv_fold_partition_key_compares_typed(spark, tmp_path):
    """A DV whose key columns include a PARTITION column must fold on
    typed values (r13 advice, medium): the directory spelling
    ('p=0.0001') and Spark's cast-to-string of the typed DV value
    ('1.0E-4' for double 1e-4) can disagree — a stringified compare
    silently misses, the scoped commit drops the DV, and the victims
    resurrect. The fold casts the dir-spelled literal to the DV
    column's type instead."""
    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        _dv_dir,
        head_dv,
        init_snapshot_log,
        read_version,
        record_commit,
        record_dv_commit,
    )

    path = str(tmp_path / "t")
    # dirs spelled in Python-str form (a non-Spark writer laid the
    # table out); double 1e-4 is exactly the spelling Spark's own
    # cast-to-string would NOT reproduce
    for p_spell, p_val in [("0.0001", 1e-4), ("2.5", 2.5)]:
        _mk(
            spark,
            [{"k": i, "v": float(i)} for i in range(10)],
        ).repartition(1).write.mode("overwrite").parquet(
            os.path.join(path, f"p={p_spell}")
        )
    init_snapshot_log(path)
    record_commit(path)
    # handcrafted DV covering p=0.0001 with a TYPED partition column:
    # victims k in {1, 2} of that partition only
    dv = _mk(spark, [{"k": 1, "p": 1e-4}, {"k": 2, "p": 1e-4}])
    name = "dv_typed_part"
    dv.coalesce(1).write.parquet(os.path.join(_dv_dir(path), name))
    record_dv_commit(path, name, ["p=0.0001"])
    got = read_version(spark, path)
    assert got.where("p = 0.0001").count() == 8  # read path: typed join
    # the fold must remove the victims, not silently drop the DV
    compact_partitions(spark, path, ["p"], max_files=100)
    assert head_dv(path) == {}
    post = read_version(spark, path)
    assert post.where("p = 0.0001").count() == 8
    assert {
        r["k"] for r in post.where("p = 0.0001").collect()
    } == set(range(10)) - {1, 2}
    assert post.where("p = 2.5").count() == 10


def test_dv_fold_preserves_range_clustering(spark, tmp_path):
    """compact_partitions(sort_col=...) — the clustering-preserving
    fold (r13 verdict #2): a DV fold on a range-clustered table must
    NOT collapse each partition to one wide-min/max file, or
    scan_version pruning silently decays until a full rewrite. With
    sort_col the offender rewrites as the same number of
    range-disjoint sorted files."""
    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        init_snapshot_log,
        read_version,
        record_commit,
        scan_version,
        set_stats_columns,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    rows = [
        {"k": i, "day": f"2026-01-0{1 + i % 2}", "v": float(i)}
        for i in range(400)
    ]
    # range-clustered layout: 4 range-disjoint sorted files per
    # partition directory (each range task writes into both days)
    _mk(spark, rows).repartitionByRange(4, F.col("k")).sortWithinPartitions(
        "k"
    ).write.mode("overwrite").partitionBy("day").parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["k"])
    record_commit(path)

    def band_scan():
        df, info = scan_version(spark, path, "k", lo=0, hi=79)
        return df, info

    _, pre = band_scan()
    assert pre["files_total"] == 8
    assert pre["files_scanned"] <= 4, "seed layout must already prune"

    # scattered-key RTBF across both partitions
    delete_where(
        spark, path, "k % 25 = 7", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    out = compact_partitions(
        spark, path, ["day"], max_files=100, sort_col="k"
    )
    assert out["partitions_compacted"] == 2
    assert head_dv(path) == {}, "fold must drop the DV"
    got = {r["k"] for r in read_version(spark, path).collect()}
    assert got == {i for i in range(400) if i % 25 != 7}

    df, post = band_scan()
    # clustering preserved: same file count, same pruning fraction
    assert post["files_total"] == pre["files_total"]
    assert post["files_scanned"] <= pre["files_scanned"]
    assert {r["k"] for r in df.where("k between 0 and 79").collect()} == {
        i for i in range(80) if i % 25 != 7
    }


def test_dv_commit_merges_same_schema_sidecars(spark, tmp_path, snap_mode):
    """K deletes between folds must cost ONE anti-join per covered
    directory, not K (r13 verdict #4): same-key-schema sidecars merge
    at DV-commit time; a heterogeneous-key DV stays separate (a
    null-padded union would resurrect every victim)."""
    from weatherflow_spark.operators.snaplog import (
        _dv_dir,
        head_dv,
        read_version,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    # three scattered-key deletes, each covering ALL three day dirs
    for pred in ["k % 10 = 3", "k % 10 = 4", "k % 10 = 5"]:
        delete_where(
            spark, path, pred, ["k"], partition_cols=["day"],
            use_dv=True,
        )
    victims = {3, 13, 23, 4, 14, 24, 5, 15, 25}
    dv = head_dv(path)
    # every covered dir references exactly ONE (merged) sidecar
    assert dv and all(len(names) == 1 for names in dv.values()), dv
    df = read_version(spark, path)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    n_anti = plan.count("LeftAnti")
    # all three dirs share ONE merged DV name → one DV-set branch →
    # ONE anti-join total (was 3 pre-merge: one per delete)
    assert n_anti == 1, f"{n_anti} anti-joins in plan:\n{plan}"
    assert {r["k"] for r in df.collect()} == set(range(30)) - victims

    # heterogeneous key schema: must NOT merge with the (k) sidecar
    delete_where(
        spark, path, "k = 7", ["k", "day"], partition_cols=["day"],
        use_dv=True,
    )
    dv = head_dv(path)
    covered_day = "day=2026-01-02"  # k=7 → day index 1 + 7%3=1 → 02
    assert len(dv[covered_day]) == 2, dv
    df = read_version(spark, path)
    assert {r["k"] for r in df.collect()} == set(range(30)) - victims - {7}
    # a fifth delete with the (k) schema merges into the existing
    # (k)-sidecar, never into the (k, day) one
    delete_where(
        spark, path, "k = 8", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    dv = head_dv(path)
    assert all(len(names) <= 2 for names in dv.values()), dv
    assert {r["k"] for r in read_version(spark, path).collect()} == (
        set(range(30)) - victims - {7, 8}
    )


def test_append_to_dv_covered_dir_is_refused(spark, tmp_path):
    """The DV-carry rule drops a directory's DVs whenever its segment
    changes, relying on every writer REWRITING from a post-DV read. A
    rogue append (old files kept + new added) would drop the DV and
    resurrect the deleted rows with no diagnostic — record_commit must
    refuse it (r13 advice, low)."""
    import shutil

    from weatherflow_spark.operators.snaplog import record_commit
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _seed(spark, path)
    delete_where(
        spark, path, "k = 7", ["k"], partition_cols=["day"],
        use_dv=True,
    )
    # rogue append: keep the covered dir's files, add one more
    covered = os.path.join(path, "day=2026-01-02")
    src = next(
        f for f in os.listdir(covered) if f.endswith(".parquet")
    )
    shutil.copy2(
        os.path.join(covered, src),
        os.path.join(covered, "part-rogue-append.parquet"),
    )
    with pytest.raises(ValueError, match="covered directory"):
        record_commit(path, scope=["day=2026-01-02"])
