"""Every snapshot-log entry records its version's schema, and reads use
it instead of inferring one: for every writer path, ``read_version``
must give the schema and rows a mergeSchema inference over the
version's files gives."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import group_jobs
from weatherflow_spark.operators.snaplog import (
    _resolve_version,
    clone_table,
    head_dv,
    head_version,
    init_snapshot_log,
    read_version,
    record_commit,
    versions,
)
from weatherflow_spark.operators.upsert import (
    apply_changes,
    delete_where,
    restore_version,
    upsert_by_key,
)

SCHEMA = "k long, v string, d string"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="wf-snapschema-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _inferred(spark, path, v):
    _, files, base = _resolve_version(path, v)
    return (
        spark.read.option("basePath", base)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(base, r) for r, _ in files])
    )


def _assert_exact(spark, path, v, hidden=None):
    """``read_version(v)`` equals the inferring read of v's files;
    ``hidden`` is the predicate a deletion vector hides."""
    got = read_version(spark, path, v)
    want = _inferred(spark, path, v)
    assert got.schema == want.schema, (
        v, got.schema.simpleString(), want.schema.simpleString()
    )
    if hidden is not None:
        want = want.where(~hidden)
    assert got.exceptAll(want).count() == 0, v
    assert want.exceptAll(got).count() == 0, v


def _checked(spark, path, seen: set[int], hidden=None) -> None:
    for v in versions(path):
        if v not in seen:
            _assert_exact(spark, path, v, hidden)
            seen.add(v)
    if not head_dv(path):
        # The live tree IS the head version: any parquet reader of the
        # directory sees exactly the committed table.
        head = read_version(spark, path)
        live = spark.read.option("mergeSchema", "true").parquet(path)
        assert sorted(live.dtypes) == sorted(head.dtypes), (
            live.schema.simpleString(), head.schema.simpleString()
        )
        live = live.select(*head.columns)
        assert live.exceptAll(head).count() == 0
        assert head.exceptAll(live).count() == 0


def test_every_writer_path_records_the_inferred_schema(spark, tmpdir, snap_mode):
    from weatherflow_spark.operators.layout import compact_partitions

    path = os.path.join(tmpdir, "t")
    init_snapshot_log(path)
    seen: set[int] = set()
    rows = [(i, f"a{i}", f"2024-01-0{1 + i % 3}") for i in range(1, 13)]
    # seed: partition values are strings in the frame, dates on read
    upsert_by_key(spark, spark.createDataFrame(rows, SCHEMA), path, ["k"], ["d"])
    assert dict(read_version(spark, path).dtypes)["d"] == "date"
    _checked(spark, path, seen)

    # scoped upsert: one partition rewritten, two carried
    upsert_by_key(
        spark, spark.createDataFrame([(3, "b3", "2024-01-01")], SCHEMA),
        path, ["k"], ["d"],
    )
    _checked(spark, path, seen)

    # add-column evolution: only one partition's footers carry `extra`
    upsert_by_key(
        spark,
        spark.createDataFrame(
            [(1, "c1", "2024-01-02", 7)], SCHEMA + ", extra int"
        ),
        path, ["k"], ["d"], merge_schema=True,
    )
    assert "extra" in read_version(spark, path).columns
    _checked(spark, path, seen)

    # NULL partition value
    upsert_by_key(
        spark,
        spark.createDataFrame([(99, "n", None, 1)], SCHEMA + ", extra int"),
        path, ["k"], ["d"],
    )
    assert read_version(spark, path).where("d IS NULL").count() == 1
    _checked(spark, path, seen)

    # CDC apply whose deletes empty a partition
    on_03 = [r[0] for r in rows if r[2] == "2024-01-03"]
    feed = spark.createDataFrame(
        [(k, None, "2024-01-03", None, "D") for k in on_03]
        + [(2, "u2", "2024-01-02", 5, "U")],
        SCHEMA + ", extra int, op string",
    )
    apply_changes(spark, feed, path, ["k"], partition_cols=["d"])
    assert read_version(spark, path).where("d = '2024-01-03'").count() == 0
    _checked(spark, path, seen)

    # merge-on-read delete: the version reads with its deletion vector
    victim = F.col("k") == 6
    delete_where(spark, path, victim, ["k"], partition_cols=["d"], use_dv=True)
    dv_version = head_version(path)
    _checked(spark, path, seen, hidden=victim)

    # compaction folds the deletion vector into the partition's files
    out = compact_partitions(spark, path, ["d"])
    assert out["partitions_compacted"] == 1
    _checked(spark, path, seen)

    # restore to the evolved version, as a new commit
    restore_version(spark, path, dv_version - 3, ["k"], partition_cols=["d"])
    _checked(spark, path, seen)
    assert len(seen) == 8

    # clone with history: its seed version is inferred once
    dst = os.path.join(tmpdir, "clone")
    clone_table(path, dst, with_history=True)
    _checked(spark, dst, set())
    assert read_version(spark, dst).schema == read_version(spark, path).schema


def test_merge_after_an_unrecorded_bulk_write_reads_the_live_tree(spark, tmpdir):
    """A live tree ahead of its head version (a bulk append the log
    never recorded) is merged from the directory, not from the head:
    the head lists neither the appended rows nor their new column."""
    path = os.path.join(tmpdir, "t")
    init_snapshot_log(path)
    upsert_by_key(
        spark,
        spark.createDataFrame([(i, f"a{i}", "2024-01-01") for i in range(4)], SCHEMA),
        path, ["k"], ["d"],
    )
    spark.createDataFrame(
        [(10, "bulk", "2024-01-01", 5)], SCHEMA + ", extra int"
    ).write.mode("append").partitionBy("d").parquet(path)
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, "u", "2024-01-01", 6)], SCHEMA + ", extra int"),
        path, ["k"], ["d"], merge_schema=True,
    )
    got = {r.k: r.extra for r in read_version(spark, path).collect()}
    assert got == {0: None, 1: 6, 2: None, 3: None, 10: 5}
    _checked(spark, path, set())


def test_warehouse_feed_apply_records_the_inferred_schema(spark, tmpdir):
    from weatherflow_spark.operators.whlog import (
        apply_warehouse_feed,
        commit_warehouse,
        export_warehouse_feed,
        init_warehouse_log,
    )

    wh = os.path.join(tmpdir, "wh")
    fact = os.path.join(wh, "fact")
    spark.createDataFrame(
        [(i, float(i), f"2024-01-0{1 + i % 2}") for i in range(1, 9)],
        "k long, amt double, d string",
    ).write.partitionBy("d").parquet(fact)
    init_warehouse_log(wh)
    commit_warehouse(wh, ["fact"], batch_id="L1")
    upsert_by_key(
        spark,
        spark.createDataFrame(
            [(1, 10.0, "2024-01-02", "x")], "k long, amt double, d string, tag string"
        ),
        fact, ["k"], ["d"], merge_schema=True,
    )
    commit_warehouse(wh, ["fact"], batch_id="L2")
    bundle = os.path.join(tmpdir, "bundle")
    replica = os.path.join(tmpdir, "replica")
    export_warehouse_feed(spark, wh, bundle, {"fact": ["k"]})
    assert apply_warehouse_feed(
        spark, bundle, replica, {"fact": ["k"]}, {"fact": ["d"]}
    ) == [1, 2]
    rfact = os.path.join(replica, "fact")
    _checked(spark, rfact, set())
    assert "tag" in read_version(spark, rfact).columns


def test_partition_compaction_infers_no_schema(spark, tmpdir):
    """Compacting a versioned table reads each offender partition with
    the head entry's schema and rewrites it by name: three jobs per
    offender (the staging write and the clustered rewrite's two), no
    schema inference and no partition-key collect."""
    from weatherflow_spark.operators.layout import compact_partitions

    path = os.path.join(tmpdir, "t")
    for i in range(3):
        spark.createDataFrame(
            [(10 * i + j, f"v{i}", f"2024-01-0{1 + j % 3}") for j in range(6)],
            SCHEMA,
        ).coalesce(1).write.mode("append").partitionBy("d").parquet(path)
    init_snapshot_log(path)
    record_commit(path)
    out = {}
    jobs = group_jobs(
        spark, "compact-partitions-jobs",
        lambda: out.update(compact_partitions(spark, path, ["d"], max_files=2)),
    )
    assert out == {"partitions_compacted": 3, "files_before": 9, "files_after": 3}
    assert jobs == 3 * 3, jobs
    _checked(spark, path, set())


def test_version_reads_start_no_job(spark, tmpdir):
    """Building a version read, or a whole warehouse read, runs no
    Spark job: the schema comes from the entry."""
    from weatherflow_spark.operators.whlog import (
        commit_warehouse,
        init_warehouse_log,
        read_warehouse,
    )

    wh = os.path.join(tmpdir, "wh")
    init_warehouse_log(wh)
    for name in ("a", "b"):
        upsert_by_key(
            spark,
            spark.createDataFrame(
                [(i, f"v{i}", f"2024-01-0{1 + i % 2}") for i in range(6)], SCHEMA
            ),
            os.path.join(wh, name), ["k"], ["d"],
        )
    commit_warehouse(wh, ["a", "b"])
    path = os.path.join(wh, "a")
    assert group_jobs(spark, "read-version-jobs", lambda: read_version(spark, path)) == 0
    assert group_jobs(
        spark, "read-warehouse-jobs", lambda: read_warehouse(spark, wh)
    ) == 0
    assert read_warehouse(spark, wh)["b"].count() == 6
