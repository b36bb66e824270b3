"""Widen-via-rewrite (r10 verdict #4): the E94 upsert refuses type
changes and names a table rewrite as the path — rewrite_widen IS that
path: lossless type widening through a partition-preserving
validate-and-swap rewrite, versioned, with pre-widen time travel
intact and widened upserts accepted afterward."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from weatherflow_spark.operators.layout import rewrite_widen
from weatherflow_spark.operators.snaplog import (
    init_snapshot_log,
    read_version,
    record_commit,
    vacuum_versions,
    versions,
)
from weatherflow_spark.operators.upsert import upsert_by_key


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="wf-widen-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _seed(spark, path):
    rows = [(i, f"p{i % 2}", i * 10) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "k int, grp string, amount int")
    df.write.mode("overwrite").partitionBy("grp").parquet(path)
    return df


def test_widen_preserves_partitions_history_and_accepts_wide_upserts(
    spark, tmpdir
):
    path = f"{tmpdir}/t"
    _seed(spark, path)
    init_snapshot_log(path)
    record_commit(path)  # v1: narrow footers

    # A bigint upsert is refused pre-widen: int32/int64 footers can't
    # schema-merge (the E94 contract this operator completes).
    wide_batch = spark.createDataFrame(
        [(3, "p1", 5_000_000_000)], "k int, grp string, amount bigint"
    )
    with pytest.raises(Exception):
        upsert_by_key(spark, wide_batch, path, ["k"], ["grp"])
        spark.read.parquet(path).collect()

    rewrite_widen(
        spark, path, {"amount": "bigint", "k": "bigint"},
        partition_cols=["grp"],
    )
    live = spark.read.parquet(path)
    assert dict(live.dtypes)["amount"] == "bigint"
    assert dict(live.dtypes)["k"] == "bigint"
    # partition layout survived the rewrite
    assert sorted(
        n for n in os.listdir(path) if n.startswith("grp=")
    ) == ["grp=p0", "grp=p1"]
    assert live.count() == 20
    assert versions(path) == [1, 2]

    # pre-widen version still reads with its ORIGINAL narrow footers
    v1 = read_version(spark, path, 1)
    assert dict(v1.dtypes)["amount"] == "int"
    assert v1.count() == 20

    # the widened upsert is now accepted, value out of int32 range
    upsert_by_key(spark, wide_batch, path, ["k"], ["grp"])
    got = spark.read.parquet(path).where("k = 3").first()
    assert got.amount == 5_000_000_000
    assert versions(path) == [1, 2, 3]

    # vacuum sweeps the retained narrow footers; the head still reads
    out = vacuum_versions(path, keep_last=1)
    assert out["removed_files"] > 0
    assert read_version(spark, path).count() == 20


def test_widen_refuses_lossy_and_unknown_and_partition_columns(
    spark, tmpdir
):
    path = f"{tmpdir}/t"
    _seed(spark, path)
    with pytest.raises(ValueError, match="not a lossless widening"):
        rewrite_widen(spark, path, {"amount": "float"}, ["grp"])
    with pytest.raises(ValueError, match="no column"):
        rewrite_widen(spark, path, {"missing": "bigint"}, ["grp"])
    with pytest.raises(ValueError, match="partition column"):
        rewrite_widen(spark, path, {"grp": "bigint"}, ["grp"])
    # nothing was swapped by the refusals
    assert dict(spark.read.parquet(path).dtypes)["amount"] == "int"


def test_widen_aborts_on_concurrent_commit(spark, tmpdir):
    """Same optimistic contract as compact: a writer committing
    between the snapshot and the swap must abort the widen, leaving
    the table exactly as the writer left it."""
    from weatherflow_spark.operators.commit import CompactionConflict

    path = f"{tmpdir}/t"
    _seed(spark, path)

    # rewrite_widen imports dataset_snapshot at CALL time, so patching
    # the commit module injects deterministically: right after the
    # pre-rewrite snapshot is taken, a concurrent writer lands a batch.
    import weatherflow_spark.operators.commit as commit_mod

    real_snapshot = commit_mod.dataset_snapshot
    calls = {"n": 0}

    def racing_snapshot(p):
        snap = real_snapshot(p)
        calls["n"] += 1
        if calls["n"] == 1:
            extra = spark.createDataFrame(
                [(99, "p0", 1)], "k int, grp string, amount int"
            )
            extra.write.mode("append").partitionBy("grp").parquet(p)
        return snap

    try:
        commit_mod.dataset_snapshot = racing_snapshot
        with pytest.raises(CompactionConflict):
            rewrite_widen(spark, path, {"amount": "bigint"}, ["grp"])
    finally:
        commit_mod.dataset_snapshot = real_snapshot

    live = spark.read.parquet(path)
    assert dict(live.dtypes)["amount"] == "int"  # swap never happened
    assert live.count() == 21  # the racing writer's row survived
    assert not os.path.exists(path.rstrip("/") + "__widening")


def test_widen_token_precedes_listing(spark, tmpdir):
    """r12 advice (medium): Spark freezes the parquet file listing at
    DataFrame creation; if the optimistic token were taken AFTER the
    listing, a commit landing in between is inside the token but
    outside the rewrite — the swap check passes while that commit's
    rows are silently dropped. Inject a commit immediately after the
    listing resolves and require the widen to ABORT, not lose rows."""
    from pyspark.sql.readwriter import DataFrameReader

    from weatherflow_spark.operators.commit import CompactionConflict

    path = f"{tmpdir}/t"
    _seed(spark, path)

    real_parquet = DataFrameReader.parquet
    fired = {"done": False}

    def racing_parquet(self, *paths, **kw):
        df = real_parquet(self, *paths, **kw)
        if not fired["done"] and paths and paths[0] == path:
            fired["done"] = True  # listing frozen; now a writer lands
            spark.createDataFrame(
                [(99, "p0", 1)], "k int, grp string, amount int"
            ).write.mode("append").partitionBy("grp").parquet(path)
        return df

    try:
        DataFrameReader.parquet = racing_parquet
        with pytest.raises(CompactionConflict):
            rewrite_widen(spark, path, {"amount": "bigint"}, ["grp"])
    finally:
        DataFrameReader.parquet = real_parquet

    assert fired["done"]
    live = spark.read.parquet(path)
    assert dict(live.dtypes)["amount"] == "int"  # swap never happened
    assert live.count() == 21  # the racing commit's row survived


def test_widen_translates_vanished_files_into_conflict(spark, tmpdir):
    """A file the unlocked rewrite listed can vanish under a concurrent
    dynamic overwrite; the widen raises the retryable
    CompactionConflict, as compact does, and leaves no sibling dir."""
    from weatherflow_spark.operators.commit import CompactionConflict

    path = f"{tmpdir}/t"
    _seed(spark, path)

    def vanished():
        raise FileNotFoundError("part-00000.parquet")

    with pytest.raises(CompactionConflict, match="files changed"):
        rewrite_widen(
            spark, path, {"amount": "bigint"}, ["grp"],
            _before_swap=vanished,
        )
    assert dict(spark.read.parquet(path).dtypes)["amount"] == "int"
    assert not os.path.exists(path.rstrip("/") + "__widening")
