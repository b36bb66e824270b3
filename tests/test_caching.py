"""Cache hygiene: every query that materialises a relation through
``tracked_persist`` must leave ZERO pinned blocks once the caller
releases tracked caches — a long-lived shared session must not
accumulate storage from query to query (bench.py releases between
queries; the per-job driver gets the same effect from JVM exit)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap

import pytest

from pyspark.sql import Row, functions as F

from weatherflow_spark.operators.caching import release_caches, tracked_persist
from weatherflow_spark.plans import QUERIES
from tests.conftest import REPO_DIR, SF_SMALL

# Every query whose plan materialises a relation through tracked_persist.
CACHE_USERS = [
    "q_pagerank",
    "q_kmeans",
    "q_dedup_clusters",
    "q_source_mixture",
    "q_simhash_near_dup",
    "q_embedding_near_dup",
    "q_iterative_suite",
    "q_text_mining_suite",
    "q_ann_suite",
]


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.parametrize("name", CACHE_USERS)
def test_release_caches_leaves_no_blocks(spark, name):
    release_caches()  # drain anything a prior test left tracked
    spark.catalog.clearCache()
    assert _n_persistent(spark) == 0

    QUERIES[name](spark, SF_SMALL).collect()
    assert release_caches() >= 1, f"{name} no longer persists anything tracked"
    assert _n_persistent(spark) == 0, (
        f"{name} left cached blocks after release_caches()"
    )


def test_semantically_equal_builds_materialise_once(spark):
    """Two independent builds of one plan (the stats cov/PCA branches,
    the quality digest in fingerprint + report) share a checkpoint.
    Plan equality erases alias names, so builds that differ only in
    their output names (two aliases swapped) share one too, and each
    gets it back under its own names."""
    release_caches()

    def build():
        return (
            spark.range(200)
            .withColumn("g", F.col("id") % 7)
            .groupBy("g")
            .agg(F.sum("id").alias("s"))
        )

    x = spark.range(5).select(
        F.col("id").alias("a"), (F.col("id") * 10).alias("b")
    )
    try:
        a = tracked_persist(build())
        b = tracked_persist(build())
        assert b is a
        assert _n_persistent(spark) == 1
        c = tracked_persist(build().where("g > 2"))
        assert c is not a
        assert _n_persistent(spark) == 2
        assert sorted(b.collect()) == sorted(build().collect())

        pq = tracked_persist(x.select(F.col("a").alias("p"), F.col("b").alias("q")))
        qp = tracked_persist(x.select(F.col("a").alias("q"), F.col("b").alias("p")))
        assert _n_persistent(spark) == 3
        assert pq.columns == ["p", "q"] and qp.columns == ["q", "p"]
        want = [(i, 10 * i) for i in range(5)]
        assert sorted(map(tuple, pq.collect())) == want  # p = a, q = b
        assert sorted(map(tuple, qp.collect())) == want  # q = a, p = b
    finally:
        assert release_caches() == 3
    assert _n_persistent(spark) == 0


def test_build_over_rewritten_path_is_not_shared(spark, tmp_path):
    """A path rewritten between two builds of one plan holds new
    files, so the second build materialises the new contents instead
    of getting the first build's checkpoint back."""
    release_caches()
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    try:
        first = tracked_persist(spark.read.parquet(path).groupBy().sum("id"))
        spark.range(10).write.mode("overwrite").parquet(path)
        second = tracked_persist(spark.read.parquet(path).groupBy().sum("id"))
        assert _n_persistent(spark) == 2
        assert first.collect()[0][0] == 3 and second.collect()[0][0] == 45
    finally:
        release_caches()


def test_repeated_upserts_leave_no_pinned_blocks(spark, tmp_path):
    """The batch and merge checkpoints of every keyed write and rollup
    merge are released once the write commits or refuses, so a loop of
    loads does not grow executor storage."""
    import datetime as dt

    from weatherflow_spark.operators.commit import UpsertConflict
    from weatherflow_spark.operators.rollup import merge_rollup, write_rollup
    from weatherflow_spark.operators.upsert import apply_changes, upsert_by_key

    path = str(tmp_path / "t")
    before = _n_persistent(spark)
    for i in range(4):
        batch = spark.createDataFrame(
            [Row(k=k, day=f"2026-01-0{1 + k % 2}", v=float(i)) for k in range(6)]
        )
        upsert_by_key(spark, batch, path, ["k"], ["day"])
    apply_changes(
        spark,
        spark.createDataFrame([Row(k=0, day="2026-01-01", v=0.0, op="D")]),
        path, ["k"], partition_cols=["day"],
    )
    assert _n_persistent(spark) == before
    assert spark.read.parquet(path).count() == 5

    dup = spark.createDataFrame([Row(k=1, day="2026-01-02", v=9.0)] * 2)
    with pytest.raises(ValueError, match="duplicate or NULL keys"):
        upsert_by_key(spark, dup, path, ["k"], ["day"])
    with pytest.raises(UpsertConflict):
        # every touched partition has moved past version 0
        upsert_by_key(spark, batch, path, ["k"], ["day"], expected_versions={})
    assert _n_persistent(spark) == before
    assert spark.read.parquet(path).count() == 5

    rollup = str(tmp_path / "rollup")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def events(i):
        ts = dt.datetime(2024, 1, 1 + i % 2, 12, 0)
        return spark.createDataFrame([(i, ts, i, "view", float(i), "{}")], cols)

    write_rollup(events(0), rollup)
    for i in range(1, 4):
        merge_rollup(spark, events(i), rollup)
    assert _n_persistent(spark) == before
    assert spark.read.parquet(rollup).agg(F.sum("n")).collect()[0][0] == 4


_OOM_LOOP = textwrap.dedent(
    """
    import hashlib, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.plans import QUERIES

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    for _ in range(12):
        rows = QUERIES["q_iterative_suite"](spark, {sf!r}).collect()
        print(hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest())
        release_caches()
    spark.stop()
    """
)


def test_iterative_suite_repeats_on_default_driver_heap(tmp_path):
    """Guards the plan-string cap's removal: 12 same-session runs of
    q_iterative_suite on a plain session with the default 1 GiB driver
    heap and the UI on, which retains every AQE plan string. Before
    the suite's lineage was cut this loop ran the driver out of heap
    unless plan strings were capped."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["TMPDIR"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", _OOM_LOOP.format(repo=REPO_DIR, sf=SF_SMALL)],
        capture_output=True, text=True, env=env, timeout=1500,
    )
    hashes = re.findall(r"^[0-9a-f]{64}$", proc.stdout, flags=re.M)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert len(hashes) == 12, proc.stdout
    assert len(set(hashes)) == 1, hashes
