"""Continuous-aggregate tests (operators/rollup.py): partials must
merge to exactly the direct aggregate at every grain, incremental
refresh must touch only the affected buckets, and replay must be
idempotent."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import textwrap

import pytest

from pyspark.sql import functions as F

from tests.conftest import REPO_DIR, SF_SMALL
from weatherflow_spark.io import load_table
from weatherflow_spark.operators.rollup import (
    event_partials,
    read_rollup,
    refresh_rollup,
    write_rollup,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="wf-rollup-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _direct_daily(events):
    p = F.lit(100.0)
    return (
        events.withColumn("event_date", F.to_date("ts"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * p + F.lit(0.5))) / p).alias("sum_value"),
        )
    )


def _as_dict(df, keys, vals):
    return {
        tuple(str(r[k]) for k in keys): tuple(r[v] for v in vals)
        for r in df.collect()
    }


def test_rollup_matches_direct_aggregate(spark, tmpdir):
    events = load_table(spark, SF_SMALL, "events")
    path = f"{tmpdir}/rollup"
    write_rollup(events, path)

    got = _as_dict(
        read_rollup(spark, path),
        ["event_date", "event_type"],
        ["n", "sum_value"],
    )
    want = _as_dict(
        _direct_daily(events), ["event_date", "event_type"], ["n", "sum_value"]
    )
    assert got == want  # bit-exact: counts + integer-scaled sums


def test_rollup_merges_to_coarser_grain(spark, tmpdir):
    events = load_table(spark, SF_SMALL, "events")
    path = f"{tmpdir}/rollup"
    write_rollup(events, path)

    monthly = read_rollup(spark, path, grain="month")
    p = F.lit(100.0)
    direct = (
        events.withColumn("month", F.date_trunc("month", F.to_date("ts")).cast("date"))
        .groupBy("month", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * p + F.lit(0.5))) / p).alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )
    got = _as_dict(monthly, ["month", "event_type"],
                   ["n", "sum_value", "min_value", "max_value"])
    want = _as_dict(direct, ["month", "event_type"],
                    ["n", "sum_value", "min_value", "max_value"])
    assert got == want  # merging daily partials == direct monthly agg


def test_refresh_touches_only_affected_buckets(spark, tmpdir):
    events = load_table(spark, SF_SMALL, "events")
    path = f"{tmpdir}/rollup"
    write_rollup(events, path)

    dates = sorted(
        r.event_date for r in
        spark.read.parquet(path).select("event_date").distinct().collect()
    )
    target = dates[0]
    untouched_dirs = [
        f"{path}/event_date={d}" for d in dates[1:3]
    ]
    before = {
        d: sorted(os.listdir(d)) for d in untouched_dirs
    }
    mtimes = {
        d: [os.path.getmtime(os.path.join(d, f)) for f in before[d]]
        for d in untouched_dirs
    }

    batch = events.where(F.to_date("ts") == F.lit(str(target)))
    refresh_rollup(spark, batch, path)

    # untouched buckets: same files, same mtimes (not rewritten)
    for d in untouched_dirs:
        assert sorted(os.listdir(d)) == before[d]
        assert [os.path.getmtime(os.path.join(d, f)) for f in before[d]] == mtimes[d]

    # and the whole table still matches the direct aggregate (replay
    # of an identical batch is a content no-op)
    got = _as_dict(read_rollup(spark, path), ["event_date", "event_type"],
                   ["n", "sum_value"])
    want = _as_dict(_direct_daily(events), ["event_date", "event_type"],
                    ["n", "sum_value"])
    assert got == want


def test_stream_rollup_matches_batch_and_replays_clean(spark, tmpdir):
    """The foreachBatch continuous-aggregate sink must produce the
    same rollup as the batch path, and a full replay (fresh
    checkpoint, same data) must leave it unchanged."""
    import os

    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_rollup,
        read_events_stream,
    )

    path = f"{tmpdir}/rollup"
    sink = foreach_batch_rollup(path)

    def run_once(ckpt):
        q = (
            read_events_stream(spark, SF_SMALL)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(tmpdir, ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once("ckpt1")
    events = load_table(spark, SF_SMALL, "events")
    got = _as_dict(read_rollup(spark, path), ["event_date", "event_type"],
                   ["n", "sum_value"])
    want = _as_dict(_direct_daily(events), ["event_date", "event_type"],
                    ["n", "sum_value"])
    assert got == want

    run_once("ckpt2")  # replay
    again = _as_dict(read_rollup(spark, path), ["event_date", "event_type"],
                     ["n", "sum_value"])
    assert again == want


def test_stream_rollup_survives_mid_stream_crash(spark, tmpdir):
    """At-least-once crash/replay: kill the stream AFTER a batch's
    sink has committed but BEFORE Spark records the batch as
    complete, then restart from the same checkpoint. The restarted
    stream re-delivers that batch (at-least-once), so the sink runs
    twice on identical data — the dynamic-partition-overwrite rollup
    must absorb the replay and the final partials must be byte-equal
    to a single clean batch computation."""
    import os

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from weatherflow_spark.operators.rollup import refresh_rollup
    from weatherflow_spark.streaming.pipeline import read_events_stream

    events = load_table(spark, SF_SMALL, "events")

    # Landing dir: three files, each holding COMPLETE dates (the
    # rollup sink's date-complete-per-batch contract), streamed one
    # file per micro-batch.
    landing = f"{tmpdir}/landing"
    dates = sorted(
        r.d for r in events.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    for i in range(3):
        chunk = [str(d) for d in dates[i::3]]
        events.where(F.to_date("ts").cast("string").isin(chunk)).coalesce(
            1
        ).write.mode("append").parquet(landing)

    path = f"{tmpdir}/rollup"
    ckpt = f"{tmpdir}/ckpt_crash"
    state = {"crashed": False}

    def sink(batch_df, batch_id):
        refresh_rollup(batch_df.sparkSession, batch_df, path)
        # Crash exactly once, after the second batch's sink effects
        # are durable but before the batch commit is checkpointed.
        if batch_id == 1 and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected mid-stream failure")

    def run(max_batches=None):
        q = (
            read_events_stream(spark, landing, glob="*.parquet",
                               max_files_per_trigger=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        run()
    assert state["crashed"]

    run()  # restart: replays batch 1, then drains the backlog

    # Final partials must equal one clean computation over all facts —
    # every column of the mergeable state, bit-exact.
    got = _as_dict(
        spark.read.parquet(path),
        ["event_date", "event_type"],
        ["n", "sum_scaled", "min_value", "max_value"],
    )
    want = _as_dict(
        event_partials(events),
        ["event_date", "event_type"],
        ["n", "sum_scaled", "min_value", "max_value"],
    )
    assert got == want


def test_partials_are_split_invariant(spark):
    """merge(partials(A), partials(B)) == partials(A ∪ B) — the
    mergeability algebra, independent of how facts are split."""
    events = load_table(spark, SF_SMALL, "events")
    a = events.where(F.col("user_id") % 2 == 0)
    b = events.where(F.col("user_id") % 2 == 1)
    merged = (
        event_partials(a).unionByName(event_partials(b))
        .groupBy("event_date", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_scaled").alias("sum_scaled"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    whole = event_partials(events)
    cols = ["event_date", "event_type"]
    vals = ["n", "sum_scaled", "min_value", "max_value"]
    assert _as_dict(merged, cols, vals) == _as_dict(whole, cols, vals)


def test_merge_rollup_folds_late_data_without_fact_reread(spark, tmpdir):
    """Late-data maintenance (r8): a late batch for already-
    materialized buckets merges into the partials by the aggregate
    algebra — the served rollup equals a full recompute over all
    facts, untouched buckets keep their files, and the fact table is
    never read (there is none at the partial path)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from weatherflow_spark.operators.rollup import (
        event_partials,
        merge_rollup,
        read_rollup,
        write_rollup,
    )

    def ev(eid, day, typ, val):
        return (eid, dt.datetime(2024, 1, day, 12, 0), eid, typ, val, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    initial = spark.createDataFrame(
        [ev(1, 1, "view", 1.0), ev(2, 1, "view", 3.0), ev(3, 2, "click", 5.0)],
        cols,
    )
    late = spark.createDataFrame(
        [ev(4, 1, "view", 7.0), ev(5, 1, "buy", 2.0)], cols  # day 1 only
    )
    path = f"{tmpdir}/partials"
    write_rollup(initial, path)
    day2_files = set(os.listdir(os.path.join(path, "event_date=2024-01-02")))

    merge_rollup(spark, late, path)

    got = {
        (str(r.event_date), r.event_type): (r.n, r.sum_value, r.min_value, r.max_value)
        for r in read_rollup(spark, path).collect()
    }
    # full recompute over ALL facts = expected state
    full = event_partials(initial.unionByName(late))
    expect = {
        (str(r.event_date), r.event_type): (
            r.n,
            r.sum_scaled / 100.0,
            r.min_value,
            r.max_value,
        )
        for r in full.collect()
    }
    assert got == expect
    # day-2 bucket untouched by the late batch: same files on disk
    assert set(os.listdir(os.path.join(path, "event_date=2024-01-02"))) == day2_files


def test_merge_rollup_preserves_null_date_bucket(spark, tmpdir):
    """r9 ADVICE fix: a NULL event_date (null ts →
    __HIVE_DEFAULT_PARTITION__) late batch must MERGE with that
    bucket's existing partials, not replace them — isin() never
    matches NULL, so the old pruning skipped the existing rows and
    the dynamic overwrite dropped them silently."""
    import datetime as dt

    from weatherflow_spark.operators.rollup import (
        merge_rollup,
        read_rollup,
        write_rollup,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    initial = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 12, 0), 1, "view", 1.0, "{}"),
            (2, None, 2, "view", 3.0, "{}"),  # NULL-ts bucket, pre-existing
        ],
        cols,
    )
    late = spark.createDataFrame(
        [(3, None, 3, "view", 7.0, "{}")],  # NULL-ts again, late
        initial.schema,
    )
    path = f"{tmpdir}/partials_null"
    write_rollup(initial, path)
    merge_rollup(spark, late, path)

    got = {
        (r.event_date, r.event_type): (r.n, r.sum_value)
        for r in read_rollup(spark, path).collect()
    }
    # the NULL bucket holds BOTH events (3.0 + 7.0), not just the late one
    assert got[(None, "view")] == (2, 10.0)
    assert got[(dt.date(2024, 1, 1), "view")] == (1, 1.0)


def test_versioned_rollup_merge_matches_full_recompute(spark, tmp_path):
    """On a versioned rollup table every maintenance write mints one
    version, and the merged partials still equal a full recompute."""
    from pyspark.sql import functions as F

    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.rollup import (
        merge_rollup,
        read_rollup,
        write_rollup,
    )
    from weatherflow_spark.operators.snaplog import init_snapshot_log, versions
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "partials")
    init_snapshot_log(path)
    events = load_table(spark, SF_SMALL, "events")
    half = events.where(F.col("event_id") % 2 == 0)
    late = events.where(F.col("event_id") % 2 == 1)
    write_rollup(half, path)  # seeds v1 through the choke point
    assert versions(path) == [1]
    merge_rollup(spark, late, path)  # folds into EXISTING partials
    assert versions(path) == [1, 2]

    got = {
        (r.event_date, r.event_type): (r.n, r.sum_value)
        for r in read_rollup(spark, path).collect()
    }
    p = F.lit(100.0)
    want = {
        (r.event_date, r.event_type): (r.n, r.sum_value)
        for r in (
            events.withColumn("event_date", F.to_date("ts"))
            .groupBy("event_date", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(F.floor(F.col("value") * p + F.lit(0.5))) / p).alias(
                    "sum_value"
                ),
            )
        ).collect()
    }
    assert got == want


_SCRATCH_CHILD = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession
    from weatherflow_spark.plans import QUERIES
    from weatherflow_spark.plans.serving import _scratch_dir

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    QUERIES["q_rollup_serve"](spark, {sf!r}).count()
    print("pid", os.getpid(), os.path.isdir(_scratch_dir({sf!r})))
    spark.stop()
    """
)


def test_process_scratch_is_removed_at_exit(tmp_path):
    """The per-process serving scratch dir (wf_rollup_serve_<sf>_<pid>)
    goes away when its process exits: a child runs one scratch-writing
    row and exits, and no dir tagged with its pid is left in its TMPDIR."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["TMPDIR"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD.format(repo=REPO_DIR, sf=SF_SMALL)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    pid, existed = proc.stdout.split("pid ", 1)[1].split()[:2]
    assert existed == "True", "the row wrote no scratch dir"
    left = [n for n in os.listdir(tmp_path) if n.endswith(f"_{pid}")]
    assert left == [], left
