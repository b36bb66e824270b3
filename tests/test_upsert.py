"""Idempotent write disciplines (operators/upsert.py): dynamic
partition overwrite and keyed upsert — the engine's replacement for
the reference's blind-append + uuid4 loads (SURVEY §2.1 K2/K3)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import Row, functions as F

from weatherflow_spark.operators.upsert import overwrite_partitions, upsert_by_key


def _mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


DAY1 = [
    {"k": 1, "day": "2026-01-01", "v": 10.0},
    {"k": 2, "day": "2026-01-01", "v": 20.0},
]
DAY2 = [
    {"k": 3, "day": "2026-01-02", "v": 30.0},
    {"k": 4, "day": "2026-01-02", "v": 40.0},
]


def _read_sorted(spark, path):
    # partition-type inference reads `day` back as DATE; normalize to
    # its string form for comparison.
    return [
        (r.k, str(r.day), r.v)
        for r in spark.read.parquet(path).orderBy("k").collect()
    ]


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, DAY1 + DAY2).write.partitionBy("day").parquet(path)

    # rewrite day2 with corrected values; day1 files must survive
    fixed = _mk(spark, [{"k": 3, "day": "2026-01-02", "v": 99.0}])
    overwrite_partitions(fixed, path, ["day"])

    assert _read_sorted(spark, path) == [
        (1, "2026-01-01", 10.0),
        (2, "2026-01-01", 20.0),
        (3, "2026-01-02", 99.0),
    ]


def test_overwrite_partitions_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = _mk(spark, DAY1)
    overwrite_partitions(batch, path, ["day"])
    overwrite_partitions(batch, path, ["day"])  # retry of the same load
    assert _read_sorted(spark, path) == [
        (1, "2026-01-01", 10.0),
        (2, "2026-01-01", 20.0),
    ]


def test_upsert_by_key_updates_and_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(spark, _mk(spark, DAY1 + DAY2), path, ["k"], ["day"])
    batch = _mk(
        spark,
        [
            {"k": 2, "day": "2026-01-01", "v": 21.0},  # update
            {"k": 5, "day": "2026-01-01", "v": 50.0},  # insert
        ],
    )
    upsert_by_key(spark, batch, path, ["k"], ["day"])
    assert _read_sorted(spark, path) == [
        (1, "2026-01-01", 10.0),
        (2, "2026-01-01", 21.0),
        (3, "2026-01-02", 30.0),
        (4, "2026-01-02", 40.0),
        (5, "2026-01-01", 50.0),
    ]


def test_upsert_by_key_rerun_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(spark, _mk(spark, DAY1), path, ["k"], ["day"])
    before = _read_sorted(spark, path)
    upsert_by_key(spark, _mk(spark, DAY1), path, ["k"], ["day"])  # retry
    assert _read_sorted(spark, path) == before


def test_upsert_untouched_partition_files_not_rewritten(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(spark, _mk(spark, DAY1 + DAY2), path, ["k"], ["day"])
    day1_dir = os.path.join(path, "day=2026-01-01")
    before = {n: os.path.getmtime(os.path.join(day1_dir, n))
              for n in os.listdir(day1_dir) if n.endswith(".parquet")}

    # a batch touching only day2 must not rewrite day1's files
    upsert_by_key(
        spark, _mk(spark, [{"k": 4, "day": "2026-01-02", "v": 41.0}]),
        path, ["k"], ["day"],
    )
    after = {n: os.path.getmtime(os.path.join(day1_dir, n))
             for n in os.listdir(day1_dir) if n.endswith(".parquet")}
    assert after == before
    assert (4, "2026-01-02", 41.0) in _read_sorted(spark, path)


def test_upsert_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_by_key(spark, _mk(spark, DAY1), path, ["k"])
    upsert_by_key(
        spark, _mk(spark, [{"k": 1, "day": "2026-01-01", "v": 11.0}]), path, ["k"]
    )
    assert _read_sorted(spark, path) == [
        (1, "2026-01-01", 11.0),
        (2, "2026-01-01", 20.0),
    ]


def test_stream_foreach_batch_upsert_replay_no_duplicates(spark, tmp_path):
    """Replaying a stream into the upsert sink (fresh checkpoint, same
    data — at-least-once delivery) must not duplicate any row."""
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_upsert,
        read_events_stream,
    )
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "events_sink")
    sink = foreach_batch_upsert(path, ["event_id"])

    def run_once(ckpt):
        q = (
            read_events_stream(spark, SF_SMALL)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("ckpt1")
    n_first = spark.read.parquet(path).count()
    run_once("ckpt2")  # full replay
    got = spark.read.parquet(path)
    assert got.count() == n_first
    assert got.select("event_id").distinct().count() == n_first


def test_apply_changes_deletes_upserts_and_replays(spark, tmp_path):
    """CDC apply (r8): tombstones remove keys, upserts replace-or-
    insert, untouched partitions keep their files, and re-applying the
    same feed is a content no-op."""
    import os

    from pyspark.sql import functions as F

    from weatherflow_spark.operators.upsert import apply_changes

    path = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "a"), (3, 30.0, "b"), (4, 40.0, "c")],
        ["k", "v", "p"],
    )
    base.write.mode("overwrite").partitionBy("p").parquet(path)
    untouched_files = set(os.listdir(os.path.join(path, "p=c")))

    feed = spark.createDataFrame(
        [
            (2, 0.0, "a", "D"),     # tombstone (non-key cols ignored)
            (3, 33.0, "b", "U"),    # replace
            (9, 90.0, "b", "U"),    # insert
        ],
        ["k", "v", "p", "op"],
    )
    apply_changes(spark, feed, path, ["k"], "op", ["p"])

    def state():
        return {
            r.k: (r.v, r.p) for r in spark.read.parquet(path).collect()
        }

    expected = {1: (10.0, "a"), 3: (33.0, "b"), 4: (40.0, "c"), 9: (90.0, "b")}
    assert state() == expected
    # partition c was never touched by the feed: same files on disk
    assert set(os.listdir(os.path.join(path, "p=c"))) == untouched_files

    apply_changes(spark, feed, path, ["k"], "op", ["p"])  # replay
    assert state() == expected


def test_apply_changes_delete_and_upsert_same_key(spark, tmp_path):
    """A key carrying both a tombstone and an upsert in one feed
    resolves to the upsert (delete-then-insert, the MERGE order)."""
    from weatherflow_spark.operators.upsert import apply_changes

    path = str(tmp_path / "cdc2")
    spark.createDataFrame([(1, 10.0)], ["k", "v"]).write.mode(
        "overwrite"
    ).parquet(path)
    feed = spark.createDataFrame(
        [(1, 0.0, "D"), (1, 11.0, "U")], ["k", "v", "op"]
    )
    apply_changes(spark, feed, path, ["k"], "op")
    assert {(r.k, r.v) for r in spark.read.parquet(path).collect()} == {(1, 11.0)}


def test_apply_changes_delete_can_empty_a_partition(spark, tmp_path):
    """Code-review r8: a feed whose deletes remove EVERY row of a
    touched partition must actually empty it — dynamic partition
    overwrite alone never rewrites a partition absent from the merged
    output, so the old files would silently survive."""
    from weatherflow_spark.operators.upsert import apply_changes

    path = str(tmp_path / "cdc3")
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "b")], ["k", "v", "p"]
    )
    base.write.mode("overwrite").partitionBy("p").parquet(path)
    feed = spark.createDataFrame(
        [(2, 0.0, "b", "D"), (3, 0.0, "b", "D")], ["k", "v", "p", "op"]
    )
    apply_changes(spark, feed, path, ["k"], "op", ["p"])
    got = {(r.k, r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 10.0, "a")}
    # replay is still a no-op
    apply_changes(spark, feed, path, ["k"], "op", ["p"])
    assert {(r.k, r.v, r.p) for r in spark.read.parquet(path).collect()} == {
        (1, 10.0, "a")
    }


def test_upsert_cas_detects_concurrent_content_merge(spark, tmp_path):
    """r9 (VERDICT r8 'Next round' #4): two writers each compute a
    batch FROM a read of the same partition — without CAS the second
    commit silently discards the first's merge (last-writer-wins on
    content). With the partition-version manifest: writer B, holding
    the versions it read BEFORE A committed, raises UpsertConflict and
    nothing is written; B re-reads, recomputes, retries, and the final
    table holds BOTH merges."""
    from weatherflow_spark.operators.commit import (
        UpsertConflict,
        partition_key,
        partition_versions,
    )
    from weatherflow_spark.operators.upsert import upsert_by_key

    path = str(tmp_path / "cas_tbl")
    seed = spark.createDataFrame(
        [(1, 10.0, "p1"), (2, 20.0, "p1"), (9, 90.0, "p2")], ["k", "v", "p"]
    )
    upsert_by_key(spark, seed, path, ["k"], ["p"])

    # Both writers read the table + versions at the same instant.
    v_read = partition_versions(path)
    k_p1 = partition_key(["p"], ("p1",))
    assert v_read[k_p1] == 1

    # A: increments k=1 (batch computed from the read), commits first.
    a_batch = spark.createDataFrame([(1, 11.0, "p1")], ["k", "v", "p"])
    upsert_by_key(spark, a_batch, path, ["k"], ["p"], expected_versions=v_read)

    # B: computed k=2's update from the SAME stale read — must conflict.
    b_batch = spark.createDataFrame([(2, 21.0, "p1")], ["k", "v", "p"])
    with pytest.raises(UpsertConflict) as exc:
        upsert_by_key(
            spark, b_batch, path, ["k"], ["p"], expected_versions=v_read
        )
    assert k_p1 in exc.value.stale_partitions
    # nothing written by the failed attempt: A's merge intact
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 11.0), (2, 20.0), (9, 90.0)}

    # B retries against a fresh read → both merges land.
    v_retry = partition_versions(path)
    upsert_by_key(
        spark, b_batch, path, ["k"], ["p"], expected_versions=v_retry
    )
    got = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 11.0), (2, 21.0), (9, 90.0)}
    # untouched partition p2 never bumped
    assert partition_versions(path)[partition_key(["p"], ("p2",))] == 1


def test_upsert_cas_opt_out_and_unpartitioned_table(spark, tmp_path):
    """Without expected_versions the behavior is unchanged (bump only);
    unpartitioned tables CAS through the single __TABLE__ key, and the
    sibling manifest survives the full-directory overwrite."""
    from weatherflow_spark.operators.commit import (
        UpsertConflict,
        partition_versions,
    )
    from weatherflow_spark.operators.upsert import upsert_by_key

    path = str(tmp_path / "cas_flat")
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 1.0)], ["k", "v"]),
        path,
        ["k"],
    )
    v1 = partition_versions(path)
    assert v1 == {"__TABLE__": 1}
    upsert_by_key(
        spark, spark.createDataFrame([(2, 2.0)], ["k", "v"]), path, ["k"]
    )  # no expected_versions: plain bump
    assert partition_versions(path) == {"__TABLE__": 2}
    with pytest.raises(UpsertConflict):
        upsert_by_key(
            spark,
            spark.createDataFrame([(3, 3.0)], ["k", "v"]),
            path,
            ["k"],
            expected_versions=v1,  # stale
        )
    assert {r.k for r in spark.read.parquet(path).collect()} == {1, 2}


def test_cas_sees_non_upsert_content_writers(spark, tmp_path):
    """r9 review: the CAS must conflict on ANY concurrent content
    merge, not only other upserts — overwrite_partitions (the choke
    point every rollup refresh / CDC apply routes through) bumps the
    touched versions, so an upsert computed from a read taken before
    such a write raises instead of silently discarding it."""
    from weatherflow_spark.operators.commit import (
        UpsertConflict,
        partition_versions,
    )
    from weatherflow_spark.operators.upsert import (
        overwrite_partitions,
        upsert_by_key,
    )

    path = str(tmp_path / "cas_mixed")
    seed = spark.createDataFrame([(1, 10.0, "p1")], ["k", "v", "p"])
    upsert_by_key(spark, seed, path, ["k"], ["p"])
    v_read = partition_versions(path)

    # a NON-upsert content writer replaces p1's content
    overwrite_partitions(
        spark.createDataFrame([(1, 99.0, "p1")], ["k", "v", "p"]), path, ["p"]
    )
    with pytest.raises(UpsertConflict):
        upsert_by_key(
            spark,
            spark.createDataFrame([(1, 11.0, "p1")], ["k", "v", "p"]),
            path,
            ["k"],
            ["p"],
            expected_versions=v_read,
        )
    # the non-upsert writer's content survived
    assert {(r.k, r.v) for r in spark.read.parquet(path).collect()} == {(1, 99.0)}


def test_upsert_merge_schema_add_column_and_guards(spark, tmp_path):
    """E94 (r10): merge_schema=True lets a batch add columns (existing
    rows read back NULL through the merge-read); by default an
    unknown batch column raises instead of being silently dropped,
    and a batch missing table columns still fails (null-overwrite
    protection). A later batch WITHOUT the evolved column gets NULLs
    under the flag."""
    import pytest
    from pyspark.sql import functions as F

    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.upsert import upsert_by_key
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "evolve")
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, SF_SMALL, "orders").select(*cols)
    base = orders.where(F.col("o_orderkey") % 3 != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)

    batch = orders.where(F.col("o_orderkey") % 5 == 0).withColumn(
        "score", (F.col("o_orderkey") % 7).cast("long")
    )
    # default: unknown column is refused, not dropped
    with pytest.raises(ValueError, match="merge_schema"):
        upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])

    upsert_by_key(
        spark, batch, path, ["o_orderkey"], ["o_orderpriority"],
        merge_schema=True,
    )
    served = spark.read.option("mergeSchema", "true").parquet(path)
    assert "score" in served.columns
    n_batch = batch.count()
    assert served.where(F.col("score").isNotNull()).count() == n_batch
    kept = served.where(F.col("score").isNull())
    assert kept.count() == base.join(
        batch.select("o_orderkey"), "o_orderkey", "left_anti"
    ).count()

    # a later SHORT batch (no evolved column): refused by default
    # even under merge_schema (null-overwrite protection, r10 review),
    # allowed only with the explicit allow_missing_columns opt-in
    n_before = served.count()
    short = orders.where(F.col("o_orderkey") % 11 == 0).limit(5)
    short = short.localCheckpoint(eager=True)
    n_new_keys = short.join(
        served.select("o_orderkey"), "o_orderkey", "left_anti"
    ).count()
    with pytest.raises(ValueError, match="allow_missing_columns"):
        upsert_by_key(
            spark, short, path, ["o_orderkey"], ["o_orderpriority"],
            merge_schema=True,
        )
    upsert_by_key(
        spark, short, path, ["o_orderkey"], ["o_orderpriority"],
        merge_schema=True, allow_missing_columns=True,
    )
    served2 = spark.read.option("mergeSchema", "true").parquet(path)
    assert served2.count() == n_before + n_new_keys
    assert (
        served2.join(short.select("o_orderkey"), "o_orderkey", "left_semi")
        .where(F.col("score").isNotNull())
        .count()
        == 0
    )


def test_apply_changes_merge_schema_symmetry(spark, tmp_path):
    """E94 symmetry: the CDC apply path accepts evolving feeds under
    the same flag and default guard as the keyed upsert."""
    import pytest
    from pyspark.sql import functions as F

    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.upsert import apply_changes
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "evolve_cdc")
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(path)

    feed = (
        nation.limit(4)
        .withColumn("op", F.lit("U"))
        .withColumn("grade", (F.col("n_nationkey") % 3).cast("long"))
    )
    with pytest.raises(ValueError, match="merge_schema"):
        apply_changes(
            spark, feed, path, ["n_nationkey"], "op", ["n_regionkey"]
        )
    apply_changes(
        spark, feed, path, ["n_nationkey"], "op", ["n_regionkey"],
        merge_schema=True,
    )
    served = spark.read.option("mergeSchema", "true").parquet(path)
    assert served.where(F.col("grade").isNotNull()).count() == 4
    assert served.count() == nation.count()


def test_merge_schema_refuses_case_variant_columns(spark, tmp_path):
    """r10 review: Spark resolves case-insensitively, so a batch
    column differing only in case would silently REPLACE the existing
    column with NULLs if treated as an add — it must raise instead."""
    import pytest
    from pyspark.sql import functions as F

    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.upsert import upsert_by_key
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "case")
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(path)
    bad = nation.limit(2).withColumnRenamed("n_name", "N_NAME")
    with pytest.raises(ValueError, match="case"):
        upsert_by_key(
            spark, bad, path, ["n_nationkey"], ["n_regionkey"],
            merge_schema=True,
        )


def test_duplicate_key_batches_are_refused(spark, tmp_path):
    """r10 hardening: a batch (or CDC feed upsert side) carrying the
    same key twice would write both rows — the anti-join removes
    existing rows, the union keeps every batch row — silently
    key-duplicating the table. Both merge paths refuse before
    writing."""
    import pytest
    from pyspark.sql import functions as F

    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.upsert import (
        apply_changes,
        upsert_by_key,
    )
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "dup")
    nation = load_table(spark, SF_SMALL, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(path)

    dup_batch = nation.limit(2).unionAll(nation.limit(1))
    with pytest.raises(ValueError, match="duplicate or NULL"):
        upsert_by_key(
            spark, dup_batch, path, ["n_nationkey"], ["n_regionkey"]
        )
    # table untouched
    assert spark.read.parquet(path).count() == nation.count()

    dup_feed = dup_batch.withColumn("op", F.lit("U"))
    with pytest.raises(ValueError, match="duplicate or NULL"):
        apply_changes(
            spark, dup_feed, path, ["n_nationkey"], "op", ["n_regionkey"]
        )

    # a D and a U on the SAME key in one feed stays legal (replace)
    mixed = (
        nation.limit(1)
        .withColumn("op", F.lit("D"))
        .unionByName(
            nation.limit(1)
            .withColumn("n_name", F.lower(F.col("n_name")))
            .withColumn("op", F.lit("U"))
        )
    )
    apply_changes(spark, mixed, path, ["n_nationkey"], "op", ["n_regionkey"])
    assert spark.read.parquet(path).count() == nation.count()


# ---------------------------------------------------------------- E102
# delete_where: predicate-scoped row-level delete.


def _dw_seed(spark, path, versioned=True, mode="mirror"):
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        set_stats_columns,
    )

    rows = [
        {"k": i, "day": f"2026-01-0{1 + i % 3}", "v": float(i)}
        for i in range(30)
    ]
    _mk(spark, rows).repartition(1).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    if versioned:
        init_snapshot_log(path, mode=mode)
        set_stats_columns(path, ["k"])
        record_commit(path)
    return rows


@pytest.mark.parametrize("mode", ["mirror", "manifest"])
def test_delete_where_scoped_and_time_travels(spark, tmp_path, mode):
    from weatherflow_spark.operators.snaplog import read_version, versions
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _dw_seed(spark, path, mode=mode)
    v1 = versions(path)[-1]

    def day_files(day):
        d = os.path.join(path, f"day={day}")
        return {
            n: os.stat(os.path.join(d, n)).st_ino
            for n in os.listdir(d)
            if not n.startswith(("_", "."))
        }

    cold_before = day_files("2026-01-02")
    rep = delete_where(
        spark, path,
        (F.col("day") == "2026-01-01") & (F.col("k") % 2 == 0),
        ["k"], partition_cols=["day"], prune=("k", 0, 28),
    )
    # k%3==0 puts k ∈ {0,6,12,18,24} ∩ even on day 1 → 5 victims
    assert rep["rows_matched"] == 5 and rep["keys_deleted"] == 5
    assert rep["partitions_touched"] == 1
    # prune bound covers nearly everything here — counters recorded,
    # superset contract: never fewer rows than the predicate matches
    assert 0 <= rep["files_scanned"] <= rep["files_total"]
    # untouched partition byte-identical
    assert day_files("2026-01-02") == cold_before
    # deleted keys gone at head, present at v1 (read_version: a
    # manifest-mode live tree keeps superseded files until vacuum)
    head = read_version(spark, path)
    assert head.where((F.col("day") == "2026-01-01")).count() == 5
    assert read_version(spark, path, v1).count() == 30
    assert read_version(spark, path).count() == 25
    # replay: victims gone -> zero matches, no new version
    n_vs = len(versions(path))
    rep2 = delete_where(
        spark, path,
        (F.col("day") == "2026-01-01") & (F.col("k") % 2 == 0),
        ["k"], partition_cols=["day"], prune=("k", 0, 28),
    )
    assert rep2["rows_matched"] == 0
    assert len(versions(path)) == n_vs


@pytest.mark.parametrize("mode", ["mirror", "manifest"])
def test_delete_where_can_empty_a_partition(spark, tmp_path, mode):
    from weatherflow_spark.operators.snaplog import read_version, versions
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _dw_seed(spark, path, mode=mode)
    v1 = versions(path)[-1]
    rep = delete_where(
        spark, path, F.col("day") == "2026-01-03", ["k"],
        partition_cols=["day"],
    )
    assert rep["rows_matched"] == 10 and rep["partitions_touched"] == 1
    # head: the emptied partition is really gone (no resurrection)
    assert read_version(spark, path).where(
        F.col("day") == "2026-01-03"
    ).count() == 0
    assert read_version(spark, path).count() == 20
    # time travel still serves the deleted partition
    assert read_version(spark, path, v1).count() == 30


def test_delete_where_unversioned_and_unpartitioned(spark, tmp_path):
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    rows = [{"k": i, "v": float(i)} for i in range(10)]
    _mk(spark, rows).write.mode("overwrite").parquet(path)
    # prune requested but no snapshot log: falls back to a plain scan
    rep = delete_where(
        spark, path, "k >= 7", ["k"], prune=("k", 7, 9)
    )
    assert rep["rows_matched"] == 3
    assert rep["files_scanned"] == -1  # not stats-pruned
    assert sorted(
        r.k for r in spark.read.parquet(path).collect()
    ) == list(range(7))


def test_delete_where_prunes_with_stats(spark, tmp_path):
    """A narrow key-range delete on a range-clustered versioned table
    must open only intersecting files (zone-map prune, E100×E102)."""
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    rows = [{"k": i, "v": float(i)} for i in range(1000)]
    _mk(spark, rows).repartitionByRange(10, F.col("k")).write.mode(
        "overwrite"
    ).parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["k"])
    record_commit(path)
    rep = delete_where(
        spark, path, "k BETWEEN 100 AND 150 AND k % 2 = 0", ["k"],
        prune=("k", 100, 150),
    )
    assert rep["rows_matched"] == 26
    assert rep["files_total"] >= 8
    assert rep["files_scanned"] <= max(1, rep["files_total"] // 4)
    assert spark.read.parquet(path).count() == 1000 - 26


def test_concurrent_merges_into_different_tables_stay_scoped(spark, tmp_path):
    """r12.2: the dynamic-overwrite mode rides on each writer, not on
    the session conf — two threads merging DIFFERENT tables at once
    must each rewrite only their touched partitions. Under the old
    global set/restore, one thread's restore-to-static could turn the
    other's scoped overwrite into a whole-table replace."""
    from concurrent.futures import ThreadPoolExecutor

    paths = [str(tmp_path / f"t{i}") for i in range(4)]
    for p in paths:
        _mk(spark, DAY1 + DAY2).write.partitionBy("day").parquet(p)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        == "static"
    )

    def merge(p):
        upsert_by_key(
            spark,
            _mk(spark, [{"k": 1, "day": "2026-01-01", "v": 99.0}]),
            p,
            ["k"],
            ["day"],
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(merge, p) for p in paths]:
            f.result()
    for p in paths:
        rows = _read_sorted(spark, p)
        # day 2 untouched in every table — a static overwrite would
        # have dropped it
        assert (3, "2026-01-02", 30.0) in rows and (4, "2026-01-02", 40.0) in rows
        assert (1, "2026-01-01", 99.0) in rows and len(rows) == 4, (p, rows)


def _star_batch(spark, ids):
    from weatherflow_spark.operators.star import build_weather_star

    events = spark.createDataFrame(
        [
            (i, 7, f"2026-01-0{1 + i % 2} 00:00:{i:02d}",
             f"2026-01-0{1 + i % 2}", 20.0 + i)
            for i in ids
        ],
        "event_id long, station_id long, recorded_datetime_local string, "
        "recorded_date_local string, temp double",
    )
    return build_weather_star(
        events, station_col="station_id", natural_key_cols=["event_id"],
        denormalize_date=True,
    )


def _spy_bumps(monkeypatch, fail: str | None = None) -> list[str]:
    """Record, in order, the table of every committed version bump.
    ``w_temp_dim`` validates only after ``w_fact`` has validated (plus
    a beat), so without the fact's gate the fact would commit first;
    with ``fail`` set it raises there instead."""
    import threading
    import time

    from weatherflow_spark.operators import commit as commit_mod

    real = commit_mod.check_and_bump_versions
    bumps, lock = [], threading.Lock()
    fact_validated = threading.Event()

    def spy(path, keys, expected_versions=None, *, bump=True):
        name = os.path.basename(path)
        if not bump and name == "w_fact":
            fact_validated.set()
        if not bump and name == "w_temp_dim":
            fact_validated.wait(timeout=30)
            time.sleep(0.5)
            if fail:
                raise RuntimeError(fail)
        real(path, keys, expected_versions, bump=bump)
        if bump:
            with lock:
                bumps.append(name)

    # upsert.py imports the CAS core at call time from the commit module
    monkeypatch.setattr(commit_mod, "check_and_bump_versions", spy)
    return bumps


def test_star_load_commits_fact_after_every_dim(spark, tmp_path, monkeypatch):
    """Dims and fact prepare concurrently, but the fact's version bump
    lands after every dim's, on the first load (seed writes) and on a
    later one (partition merges), even when a dim commits late."""
    from weatherflow_spark.operators.star import (
        STAR_DATE_PARTITIONING,
        STAR_KEYS,
        load_star_warehouse,
    )

    bumps = _spy_bumps(monkeypatch)
    wh = str(tmp_path / "wh")
    for n, (batch_id, ids) in enumerate(
        [("b1", range(0, 6)), ("b2", range(3, 9))], start=1
    ):
        bumps.clear()
        assert load_star_warehouse(
            spark, _star_batch(spark, ids), wh, batch_id=batch_id,
            partition_cols=STAR_DATE_PARTITIONING,
        ) == n
        star = [b for b in bumps if b in STAR_KEYS]
        assert sorted(star) == sorted(STAR_KEYS), (batch_id, bumps)
        assert star[-1] == "w_fact", (batch_id, bumps)


def _data_files(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
        and not any(
            part.startswith(("_", "."))
            for part in os.path.relpath(d, path).split(os.sep)
            if part != "."
        )
    )


@pytest.mark.parametrize("first_load", [True, False], ids=["first", "later"])
def test_star_load_dim_failure_writes_no_fact(
    spark, tmp_path, monkeypatch, first_load
):
    """A dim merge that raises leaves w_fact without a new version or
    file, and no load entry is written."""
    from weatherflow_spark.operators.commit import partition_versions
    from weatherflow_spark.operators.star import (
        STAR_DATE_PARTITIONING,
        load_star_warehouse,
    )
    from weatherflow_spark.operators.whlog import head_load

    wh = str(tmp_path / "wh")
    fact = os.path.join(wh, "w_fact")
    if not first_load:
        load_star_warehouse(
            spark, _star_batch(spark, range(0, 6)), wh, batch_id="b1",
            partition_cols=STAR_DATE_PARTITIONING,
        )
    versions, head, files = (
        partition_versions(fact), head_load(wh), _data_files(fact)
    )
    bumps = _spy_bumps(monkeypatch, fail="w_temp_dim merge failed")
    with pytest.raises(RuntimeError, match="w_temp_dim merge failed"):
        load_star_warehouse(
            spark, _star_batch(spark, range(3, 9)), wh, batch_id="b2",
            partition_cols=STAR_DATE_PARTITIONING,
        )
    assert "w_fact" not in bumps, bumps
    assert partition_versions(fact) == versions
    assert _data_files(fact) == files
    assert head_load(wh) == head


@pytest.mark.parametrize(
    "branch",
    ["seed", "partitioned", "unpartitioned", "manifest", "manifest_unpartitioned"],
)
def test_before_write_gates_every_write_branch(spark, tmp_path, branch):
    """upsert_by_key calls before_write once on every write branch,
    before any file is written; a gate that raises leaves the table's
    files and versions as they were."""
    from weatherflow_spark.operators.commit import partition_versions
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
    )

    path = str(tmp_path / "t")
    pc = None if branch.endswith("unpartitioned") else ["day"]
    if branch != "seed":
        writer = _mk(spark, DAY1 + DAY2).write
        (writer.partitionBy(*pc) if pc else writer).parquet(path)
        if branch.startswith("manifest"):
            init_snapshot_log(path, mode="manifest")
            record_commit(path)
    files, versions = _data_files(path), partition_versions(path)
    batch = _mk(spark, [{"k": 1, "day": "2026-01-01", "v": 99.0}])

    def closed():
        raise RuntimeError("gate closed")

    with pytest.raises(RuntimeError, match="gate closed"):
        upsert_by_key(spark, batch, path, ["k"], pc, before_write=closed)
    assert _data_files(path) == files
    assert partition_versions(path) == versions

    calls = []
    upsert_by_key(
        spark, batch, path, ["k"], pc, before_write=lambda: calls.append(1)
    )
    assert calls == [1]
    assert partition_versions(path) != versions


def test_delete_where_serializable_holds_the_lock(spark, tmp_path):
    """serializable=True runs both phases under one dataset-lock hold
    (reentrant through apply_changes) and deletes correctly."""
    from weatherflow_spark.operators import commit as commit_mod
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    _dw_seed(spark, path)
    rep = delete_where(
        spark, path, "k >= 25", ["k"], partition_cols=["day"],
        serializable=True,
    )
    assert rep["rows_matched"] == 5
    # lock released after the call
    assert not commit_mod.lock_held_by_me(path)
    from weatherflow_spark.operators.snaplog import read_version

    assert read_version(spark, path).count() == 25


def test_delete_where_refuses_null_key_victims(spark, tmp_path):
    """A NULL-key victim cannot be removed by the null-unsafe keyed
    anti-join — the delete must refuse loudly, never report success
    while the row silently survives (r12.2 review)."""
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 1.0), (None, 2.0), (3, 3.0)], "k long, v double"
    ).write.mode("overwrite").parquet(path)
    with pytest.raises(ValueError, match="NULL in key column"):
        delete_where(spark, path, "v >= 2.0", ["k"])
    # table untouched
    assert spark.read.parquet(path).count() == 3


# ---------------------------------------------------------------- E104
# restore_version: roll a versioned table back as a new commit.


@pytest.mark.parametrize("mode", ["mirror", "manifest"])
def test_restore_version_rolls_back_as_new_commit(spark, tmp_path, mode):
    from weatherflow_spark.operators.snaplog import read_version, versions
    from weatherflow_spark.operators.upsert import restore_version

    path = str(tmp_path / "t")
    _dw_seed(spark, path, mode=mode)  # 30 rows over 3 day partitions
    v1 = versions(path)[-1]

    def day_files(day):
        d = os.path.join(path, f"day={day}")
        return {
            n: os.stat(os.path.join(d, n)).st_ino
            for n in os.listdir(d)
            if not n.startswith(("_", "."))
        }

    # bad load: replace day-1 rows and insert strays (day-2 untouched)
    bad = _mk(
        spark,
        [{"k": 0, "day": "2026-01-01", "v": 999.0},
         {"k": 100, "day": "2026-01-01", "v": 100.0}],
    )
    upsert_by_key(spark, bad, path, ["k"], ["day"])
    cold_before = day_files("2026-01-02")

    rep = restore_version(spark, path, v1, ["k"], ["day"])
    # one replaced row back + one inserted key tombstoned
    assert rep["changes_applied"] == 2
    assert rep["new_version"] > rep["from_version"]
    # content == v1 exactly; untouched partition byte-identical
    assert read_version(spark, path).exceptAll(
        read_version(spark, path, v1)
    ).count() == 0
    assert read_version(spark, path).count() == 30
    assert day_files("2026-01-02") == cold_before
    # the bad version still time-travels (history append-only)
    bad_v = rep["from_version"]
    assert read_version(spark, path, bad_v).where("k = 100").count() == 1
    # idempotent: a second restore applies an empty diff, mints nothing
    n_vs = len(versions(path))
    rep2 = restore_version(spark, path, v1, ["k"], ["day"])
    assert rep2["changes_applied"] == 0
    assert len(versions(path)) == n_vs
    # roll FORWARD to the bad version — same verb, no branch surgery
    rep3 = restore_version(spark, path, bad_v, ["k"], ["day"])
    assert rep3["changes_applied"] == 2
    assert read_version(spark, path).where("k = 100").count() == 1


def test_restore_version_guards(spark, tmp_path):
    from weatherflow_spark.operators.upsert import restore_version

    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="no committed versions"):
        _mk(spark, DAY1).write.mode("overwrite").parquet(path)
        from weatherflow_spark.operators.snaplog import init_snapshot_log

        init_snapshot_log(path)
        restore_version(spark, path, 1, ["k"])
    from weatherflow_spark.operators.snaplog import record_commit

    record_commit(path)
    with pytest.raises(ValueError, match="not in log"):
        restore_version(spark, path, 99, ["k"])


def test_apply_changes_aligns_feed_partition_types(spark, tmp_path):
    """r14 review: a STRING-typed partition value in a feed against a
    DATE-partitioned table flowed into the touched set as a string
    while the merged output collected dates — every touched partition
    compared 'emptied' and was rmtree'd after the merge (silent loss
    of whole partitions). The feed's partition/key columns now cast
    to the table's types first; values that cannot cast are refused
    loudly instead of redirecting to the NULL partition."""
    from pyspark.sql import Row

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
    )
    from weatherflow_spark.operators.upsert import apply_changes

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [
            Row(k=i, day=f"2026-01-0{1 + i % 3}", v=float(i))
            for i in range(30)
        ]
    ).repartition(1).write.mode("overwrite").partitionBy("day").parquet(
        path
    )
    init_snapshot_log(path)
    record_commit(path)

    # string-typed day in the feed; the table's day reads as DATE
    ch = spark.createDataFrame(
        [
            Row(k=5, day="2026-01-03", v=500.0, op="U"),
            Row(k=7, day="2026-01-02", v=0.0, op="D"),
        ]
    )
    apply_changes(spark, ch, path, ["k"], "op", ["day"])
    head = read_version(spark, path)
    assert head.count() == 29  # 30 - 1 delete
    assert head.where("k = 5").first()["v"] == 500.0
    assert head.where("k = 7").count() == 0
    assert head.groupBy("day").count().count() == 3  # no partition lost

    bad = spark.createDataFrame([Row(k=1, day="not-a-date", v=1.0, op="D")])
    with pytest.raises(ValueError, match="do not cast"):
        apply_changes(spark, bad, path, ["k"], "op", ["day"])
