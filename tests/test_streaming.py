"""Phase 4 streaming parity: the same transform core must produce
identical results under Structured Streaming (availableNow) and
batch, plus the streaming-only semantics (stateful dedup, custom
stateful operator, star-schema foreachBatch load)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from weatherflow_spark.plans.relational import q_tumbling_window_agg
from weatherflow_spark.streaming.pipeline import (
    EVENTS_FALLBACK_SCHEMA,
    dedup_events_stream,
    read_events_stream,
    run_available_now,
    running_user_stats,
    tumbling_value_agg,
    weather_etl_stream,
)
from tests.conftest import SF_SMALL


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_stream_window_agg_matches_batch(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMALL)
    assert stream.isStreaming
    got = run_available_now(
        tumbling_value_agg(stream),
        "win_agg_test",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    # streaming event time is TIMESTAMP (watermark requirement);
    # normalize to NTZ for comparison with the batch plan (UTC session
    # ⇒ same wall-clock values).
    got = got.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))
    want = q_tumbling_window_agg(spark, SF_SMALL)
    assert _sorted_rows(got, "window_start") == _sorted_rows(want, "window_start")


def test_stream_dedup_within_watermark(spark, tmp_path):
    # Two micro-batch files with overlapping event_ids: the second
    # batch's duplicates must be dropped by the stateful dedup.
    src = tmp_path / "landing"
    base = spark.createDataFrame(
        [(i, 1_700_000_000_000_000_000 + i * 1_000_000_000, i % 3, "t", float(i), "{}")
         for i in range(10)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    dup = base.where(F.col("event_id") < 5)  # replayed rows
    base.coalesce(1).write.mode("overwrite").parquet(str(src))
    dup.coalesce(1).write.mode("append").parquet(str(src))

    stream = read_events_stream(spark, str(src), glob="*.parquet")
    got = run_available_now(
        dedup_events_stream(stream), "dedup_test", str(tmp_path / "ckpt2")
    )
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert sorted(ids) == list(range(10))  # 15 input rows → 10 unique


def test_running_user_stats_stateful(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMALL)
    got = run_available_now(
        running_user_stats(stream),
        "user_stats_test",
        str(tmp_path / "ckpt3"),
        output_mode="update",
    ).toPandas()
    # final state per user must equal the batch aggregate
    from weatherflow_spark.io import load_table

    want = (
        load_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5))) / 100.0).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    # update mode may emit a row per user per batch; keep the last
    got = got.groupby("user_id").last().reset_index()
    g = got.sort_values("user_id").reset_index(drop=True)
    w = want.sort_values("user_id").reset_index(drop=True)
    assert (g.user_id == w.user_id).all()
    assert (g.n_events == w.n_events).all()
    assert (abs(g.sum_value - w.sum_value) < 1e-9).all()
    assert (g.max_value == w.max_value).all()


def test_weather_etl_stream_star_load(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    q = weather_etl_stream(spark, SF_SMALL, wh, str(tmp_path / "ckpt4"))
    q.awaitTermination()
    fact = spark.read.parquet(os.path.join(wh, "w_fact"))
    time_dim = spark.read.parquet(os.path.join(wh, "w_time_dim"))
    n_events = spark.read.parquet(os.path.join(SF_SMALL, "events.parquet")).count()
    assert fact.count() == n_events
    assert time_dim.count() == n_events
    # referential integrity fact → time dim
    joined = fact.join(time_dim, "time_id", "inner")
    assert joined.count() == n_events
    # deterministic surrogate keys: re-running the stream with a fresh
    # checkpoint appends byte-identical keys → join keys still unique
    assert fact.select("record_id").distinct().count() == n_events


def test_weather_etl_stream_matches_batch_and_replays_idempotently(spark, tmp_path):
    """End-to-end batch/stream parity: the streamed warehouse must
    equal the same transform core run in batch (one core, two
    runners), and re-running the stream with a fresh checkpoint (an
    at-least-once replay of every batch) must not change the
    warehouse (the keyed-upsert sink contract)."""
    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.star import build_weather_star
    from weatherflow_spark.streaming.pipeline import (
        events_as_weather_stream,
        weather_transform_core,
    )

    wh = str(tmp_path / "warehouse")
    q = weather_etl_stream(spark, SF_SMALL, wh, str(tmp_path / "ckpt_parity_1"))
    q.awaitTermination()

    # batch twin: identical transform core on the batch-loaded events
    # (denormalize_date matches the sink — the partition column reads
    # back LAST, which is exactly where build_weather_star appends it)
    batch_events = load_table(spark, SF_SMALL, "events")
    batch_star = build_weather_star(
        weather_transform_core(events_as_weather_stream(batch_events)),
        station_col="station_id",
        denormalize_date=True,
    )
    for name in ("w_fact", "w_time_dim", "w_param_dim", "w_temp_dim",
                 "w_heat_index_dim"):
        streamed = spark.read.parquet(os.path.join(wh, name))
        want = batch_star[name]
        assert streamed.columns == want.columns, name
        key = streamed.columns[0]
        got_rows = [tuple(r) for r in streamed.orderBy(key).collect()]
        want_rows = [tuple(r) for r in want.orderBy(key).collect()]
        assert got_rows == want_rows, f"{name}: stream != batch"

    # full replay (fresh checkpoint, same warehouse): upsert by
    # surrogate key keeps every table byte-stable — append would
    # have doubled it
    n_before = spark.read.parquet(os.path.join(wh, "w_fact")).count()
    q2 = weather_etl_stream(spark, SF_SMALL, wh, str(tmp_path / "ckpt_parity_2"))
    q2.awaitTermination()
    assert spark.read.parquet(os.path.join(wh, "w_fact")).count() == n_before


def test_weather_etl_stream_touches_only_its_date_partitions(spark, tmp_path):
    """r11 verdict #1: the adopted streaming topology must be
    date-partitioned — a micro-batch's five keyed merges may rewrite
    ONLY the batch's date partitions. Two micro-batches on disjoint
    dates through one logical query (same checkpoint, the second
    availableNow run picks up only the new source file): after batch 2
    lands, every part file batch 1 wrote must be byte-identical —
    same path, inode, mtime, size — in all five star tables. An
    unpartitioned load would have re-written them all."""
    import os

    from weatherflow_spark.operators.star import STAR_KEYS
    from weatherflow_spark.operators.whlog import warehouse_loads

    src = tmp_path / "landing"
    src.mkdir()
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt_iso")

    def events(day: int, ids):
        # ts pinned inside one UTC day; user_id % 25 == 12 keeps the
        # timezone offset 0 so the LOCAL date equals the UTC date and
        # the two batches stay on disjoint local dates.
        base_ns = (1_700_000_000 + day * 86_400) * 1_000_000_000
        return spark.createDataFrame(
            [(i, base_ns + i * 1_000_000, 12, "t", float(i), "{}")
             for i in ids],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )

    def snapshot():
        out = {}
        for name in STAR_KEYS:
            for root, _, files in os.walk(os.path.join(wh, name)):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    def land(day: int, ids, name: str) -> None:
        # The stream's pathGlobFilter matches LEAF file names, so land
        # each batch as ONE file named events.parquet_* (the
        # production shape: files dropping into a landing dir).
        stage = tmp_path / f"stage_{name}"
        events(day, ids).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        os.rename(str(stage / part), str(src / name))

    # micro-batch 1: day-0 events only
    land(0, range(10), "events.parquet_b1")
    weather_etl_stream(spark, str(src), wh, ckpt).awaitTermination()
    assert warehouse_loads(wh) == [1]
    before = snapshot()
    day0_dirs = {p for p in before if "recorded_date=2023-11-14" in p}
    assert day0_dirs, sorted(before)

    # micro-batch 2: day-1 events, SAME checkpoint — the file source
    # remembers batch 1's file, so only the new file forms batch 2.
    land(1, range(10, 20), "events.parquet_b2")
    weather_etl_stream(spark, str(src), wh, ckpt).awaitTermination()
    assert warehouse_loads(wh) == [1, 2], "expected a second load"

    after = snapshot()
    # Batch 1's files are bitwise-untouched (same inode/mtime/size)…
    for p, v in before.items():
        assert after.get(p) == v, f"batch 2 rewrote {p}"
    # …and batch 2's rows landed under its OWN date partitions only.
    new_files = set(after) - set(before)
    assert new_files, "batch 2 wrote nothing"
    assert all("recorded_date=2023-11-15" in p for p in new_files), sorted(
        new_files
    )
    # all five tables gained day-1 partitions
    for name in STAR_KEYS:
        assert any(f"/{name}/" in p for p in new_files), name


def test_stream_session_window_matches_batch(spark, tmp_path):
    """Streaming sessionization (availableNow) must equal the
    batch/oracle-checked q_session_window on the same data."""
    from weatherflow_spark.plans.advanced import q_session_window
    from weatherflow_spark.streaming.pipeline import session_value_agg

    stream = read_events_stream(spark, SF_SMALL)
    got = run_available_now(
        session_value_agg(stream),
        "session_agg_test",
        str(tmp_path / "ckpt_sess"),
        output_mode="complete",
    )
    got = got.withColumn(
        "session_start", F.col("session_start").cast("timestamp_ntz")
    ).withColumn("last_event_ts", F.col("last_event_ts").cast("timestamp_ntz"))
    want = q_session_window(spark, SF_SMALL)
    assert _sorted_rows(got, "user_id", "session_start") == _sorted_rows(
        want, "user_id", "session_start"
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join must produce the
    same purchase-click pairs as the identical plan run in batch."""
    from weatherflow_spark.io import load_table
    from weatherflow_spark.streaming.pipeline import purchases_clicks_interval_join

    got = run_available_now(
        purchases_clicks_interval_join(read_events_stream(spark, SF_SMALL)),
        "ss_join_test",
        str(tmp_path / "ckpt_ssj"),
    )
    want = purchases_clicks_interval_join(load_table(spark, SF_SMALL, "events"))
    assert _sorted_rows(got, "purchase_id", "click_id") == _sorted_rows(
        want, "purchase_id", "click_id"
    )
    assert got.count() > 0


def test_stream_starts_on_empty_landing_dir(spark, tmp_path):
    """Production shape: the stream is constructed before the first
    file lands. With no parquet footer to infer from, the reader must
    fall back to the canonical events schema instead of throwing —
    and pick up files that land afterward."""
    import datetime as dt

    src = tmp_path / "landing_cold"
    src.mkdir()
    stream = read_events_stream(spark, str(src), glob="*.parquet")
    # fallback schema, post shared normalize (ts → µs TIMESTAMP_NTZ)
    assert stream.schema.fieldNames() == EVENTS_FALLBACK_SCHEMA.fieldNames()
    assert stream.schema["ts"].dataType.typeName() == "timestamp_ntz"

    rows = [
        (i, dt.datetime(2024, 1, 1, 0, 0, i), i % 3, "t", float(i), "{}")
        for i in range(5)
    ]
    spark.createDataFrame(rows, EVENTS_FALLBACK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    got = run_available_now(
        stream, "cold_start_test", str(tmp_path / "ckpt_cold")
    )
    assert got.count() == 5


def test_watermark_drops_late_rows(spark, tmp_path):
    """T2 late-data semantics: once the committed watermark passes a
    window, a later out-of-order row for that window must be DROPPED,
    not aggregated. Spark applies the late-row filter with the
    watermark committed at the END of the previous batch (restored
    from the checkpoint across restarts), so the straggler must
    arrive two batches after the event that advanced the watermark.
    One availableNow pass per file against a SHARED checkpoint forces
    the batch order deterministically — no mtime ordering, no sleeps
    (the old single-run + maxFilesPerTrigger shape flaked on
    coarse-mtime filesystems where the three files collapsed into
    fewer ordered batches): pass 1 puts two rows in the 00:00 window
    plus a 10:30 row (watermark → 08:30 at commit); pass 2 is an
    11:30 heartbeat (filtered against 08:30; watermark → 09:30);
    pass 3 is a 00:45 straggler — filtered, and visible in pass 3's
    progress as numRowsDroppedByWatermark. In update mode each pass
    emits that pass's refreshed aggregates (captured via foreachBatch
    — the memory sink cannot recover from a checkpoint) — a surviving
    straggler would surface as a 00:00-window refresh in pass 3."""
    import datetime as dt

    src = tmp_path / "landing_late"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_late")

    def _write(rows):
        spark.createDataFrame(rows, EVENTS_FALLBACK_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    emitted: dict[int, list] = {}

    def _run_pass(idx: int):
        rows_out: list = []
        emitted[idx] = rows_out
        q = (
            tumbling_value_agg(read_events_stream(spark, str(src), glob="*.parquet"))
            .writeStream.foreachBatch(
                lambda df, _bid: rows_out.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )

    _write(
        [
            (1, dt.datetime(2024, 1, 1, 0, 30), 1, "t", 1.0, "{}"),
            (2, dt.datetime(2024, 1, 1, 0, 40), 2, "t", 1.0, "{}"),
            (3, dt.datetime(2024, 1, 1, 10, 30), 3, "t", 1.0, "{}"),
        ]
    )
    dropped1 = _run_pass(1)
    _write([(5, dt.datetime(2024, 1, 1, 11, 30), 3, "t", 1.0, "{}")])
    dropped2 = _run_pass(2)
    _write([(4, dt.datetime(2024, 1, 1, 0, 45), 1, "t", 1.0, "{}")])
    dropped3 = _run_pass(3)

    assert (dropped1, dropped2, dropped3) == (0, 0, 1)

    w0 = dt.datetime(2024, 1, 1, 0, 0)

    def _w0_rows(idx: int):
        return [
            r
            for r in emitted[idx]
            if r.window_start.replace(tzinfo=None) == w0
        ]

    # Pass 1 emitted the 00:00 window with both on-time rows; the
    # straggler pass emitted NO refresh for it (dropped, not merged).
    assert [r.n_events for r in _w0_rows(1)] == [2]
    assert _w0_rows(3) == []


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static dimension join: enriching the event stream with
    the broadcast user dimension must equal the identical plan run in
    batch, keep every event (left join), and stay stateless (no
    watermark needed)."""
    from weatherflow_spark.io import load_table
    from weatherflow_spark.streaming.pipeline import (
        enrich_with_static_dim,
        user_dim,
    )

    dim = user_dim(spark, SF_SMALL)
    got = run_available_now(
        enrich_with_static_dim(read_events_stream(spark, SF_SMALL), dim),
        "enrich_test",
        str(tmp_path / "ckpt_enrich"),
    )
    want = enrich_with_static_dim(load_table(spark, SF_SMALL, "events"), dim)
    assert got.count() == load_table(spark, SF_SMALL, "events").count()
    key = ["event_id"]
    assert _sorted_rows(got.select("event_id", "segment", "acctbal"), *key) == (
        _sorted_rows(want.select("event_id", "segment", "acctbal"), *key)
    )


def test_running_user_ewma_matches_batch(spark, tmp_path):
    """Custom stateful EWMA: after draining three TIME-ORDERED
    micro-batches, each user's GroupState must equal the batch
    q_ewma sorted fold bit-for-bit — the streaming recurrence
    replays the identical IEEE op sequence, so even the e6-rounded
    integers match exactly. One availableNow pass per slice against
    a shared checkpoint pins the batch order (the watermark-test
    pattern)."""
    import math

    from pyspark.sql import Window

    from weatherflow_spark.io import load_table
    from weatherflow_spark.plans.timeseries import q_ewma
    from weatherflow_spark.streaming.pipeline import running_user_ewma

    ev = load_table(spark, SF_SMALL, "events")
    sliced = ev.withColumn(
        "slice", F.ntile(3).over(Window.orderBy("ts", "event_id"))
    )
    src = tmp_path / "landing_ewma"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt_ewma")

    got: dict[int, tuple[int, float]] = {}

    def _run_pass():
        q = (
            running_user_ewma(read_events_stream(spark, str(src), glob="*.parquet"))
            .writeStream.foreachBatch(
                lambda df, _bid: got.update(
                    {r.user_id: (r.n_events, r.ewma) for r in df.collect()}
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    for s in (1, 2, 3):
        sliced.where(F.col("slice") == s).drop("slice").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        _run_pass()

    want = {
        r.user_id: (r.n_events, r.ewma_e6)
        for r in q_ewma(spark, SF_SMALL).collect()
    }
    assert set(got) == set(want)
    for uid, (n, s) in got.items():
        assert (n, math.floor(s * 1e6 + 0.5)) == want[uid], uid


def test_stream_fingerprint_matches_batch_digest(spark, tmp_path):
    """E71 streaming twin: the per-micro-batch digests folded by
    foreach_batch_fingerprint must combine (XOR / sum) to exactly the
    batch digest of everything ingested, and replaying a micro-batch
    must not double-fold (per-batch dynamic partition overwrite)."""
    from weatherflow_spark.io import load_table
    from weatherflow_spark.plans.quality import FP_SUM_MOD, _row_fp_spark
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_fingerprint,
        read_events_stream,
    )

    import glob as globmod
    import shutil

    land = tmp_path / "landing"
    land.mkdir()
    ev = load_table(spark, SF_SMALL, "events")
    # three flat files -> three micro-batches with maxFilesPerTrigger=1
    # (the file source's pathGlobFilter matches leaf names only)
    for i in range(3):
        staged = tmp_path / f"stage_{i}"
        ev.where(f"user_id % 3 = {i}").coalesce(1).write.parquet(str(staged))
        part = globmod.glob(str(staged / "part-*.parquet"))[0]
        shutil.copy(part, land / f"events_{i}.parquet")

    digests = str(tmp_path / "digests")
    stream = read_events_stream(
        spark, str(land), glob="events_*.parquet", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.foreachBatch(foreach_batch_fingerprint(digests))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    per_batch = spark.read.parquet(digests)
    assert per_batch.count() >= 2, "expected multiple micro-batches"

    from weatherflow_spark.streaming.pipeline import read_stream_fingerprint

    got = read_stream_fingerprint(spark, digests).collect()[0]

    h = _row_fp_spark(
        "concat_ws('|', event_id, user_id, event_type, "
        "cast(floor(value * 100 + 0.5) as bigint))"
    )
    want = (
        ev.select(F.expr(h).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fp_xor"),
            F.expr(f"sum(h % {FP_SUM_MOD})").alias("fp_sum"),
        )
        .collect()[0]
    )
    assert (got.n_rows, got.fp_xor, got.fp_sum) == (
        want.n_rows,
        want.fp_xor,
        want.fp_sum,
    )


# ---------------------------------------------------------------------------
# Kafka-shaped bus seam (sources/stream_bus.py, verdict r7 #9)
# ---------------------------------------------------------------------------


def _ndjson_events_dir(spark, tmp_path) -> str:
    """Export the sf0.001 events as NDJSON producer payloads."""
    from weatherflow_spark.io import load_table

    d = str(tmp_path / "bus_landing")
    ev = load_table(spark, SF_SMALL, "events")
    ev.select(
        F.to_json(
            F.struct("event_id", "ts", "user_id", "event_type", "value", "props")
        ).alias("value")
    ).coalesce(1).write.mode("overwrite").text(d)
    return d


def test_bus_stub_has_kafka_record_shape(spark, tmp_path):
    """The stub must surface the full Kafka interchange schema so the
    seam exercises exactly what the connector would deliver."""
    from weatherflow_spark.sources.stream_bus import file_bus_stub

    d = _ndjson_events_dir(spark, tmp_path)
    bus = file_bus_stub(d)(spark)
    assert bus.isStreaming
    assert dict(bus.dtypes) == {
        "key": "binary",
        "value": "binary",
        "topic": "string",
        "partition": "int",
        "offset": "bigint",
        "timestamp": "timestamp",
    }


def test_bus_seam_window_agg_matches_batch(spark, tmp_path):
    """A windowed aggregation fed through the bus seam (stub source →
    shared decode) must equal the batch twin — certifying the decode
    path the Kafka connector would feed."""
    from weatherflow_spark.sources.stream_bus import (
        events_from_bus,
        file_bus_stub,
    )

    d = _ndjson_events_dir(spark, tmp_path)
    stream = events_from_bus(spark, file_bus_stub(d))
    assert stream.isStreaming
    got = run_available_now(
        tumbling_value_agg(stream),
        "bus_win_agg_test",
        str(tmp_path / "ckpt"),
        output_mode="complete",
    )
    got = got.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))
    want = q_tumbling_window_agg(spark, SF_SMALL)
    assert _sorted_rows(got, "window_start") == _sorted_rows(want, "window_start")


def test_bus_seam_stateful_dedup(spark, tmp_path):
    """Replayed producer payloads (duplicate event_ids across files —
    Kafka at-least-once) must collapse through the stateful dedup
    downstream of the seam."""
    import json

    from weatherflow_spark.sources.stream_bus import (
        events_from_bus,
        file_bus_stub,
    )

    d = tmp_path / "bus_dup"
    d.mkdir()
    def rec(i, ts):
        return json.dumps(
            {"event_id": i, "ts": ts, "user_id": 1, "event_type": "view",
             "value": 1.0, "props": "{}"}
        )
    (d / "b0.json").write_text(
        "\n".join(rec(i, "2024-01-01T00:00:00.000") for i in (1, 2, 3)) + "\n"
    )
    (d / "b1.json").write_text(  # replays 2 and 3, adds 4
        "\n".join(rec(i, "2024-01-01T00:00:30.000") for i in (2, 3, 4)) + "\n"
    )
    stream = events_from_bus(spark, file_bus_stub(str(d)))
    got = run_available_now(
        dedup_events_stream(stream),
        "bus_dedup_test",
        str(tmp_path / "ckpt2"),
    )
    ids = sorted(r.event_id for r in got.select("event_id").collect())
    assert ids == [1, 2, 3, 4]


def test_bus_seam_continuous_rollup_end_to_end(spark, tmp_path):
    """The full r8 production path in one test: Kafka-shaped bus
    records -> shared decode -> foreach_batch_rollup continuous
    aggregate -> read_rollup serve, equal to the direct batch
    aggregation over the same events."""
    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.rollup import read_rollup
    from weatherflow_spark.sources.stream_bus import (
        events_from_bus,
        file_bus_stub,
    )
    from weatherflow_spark.streaming.pipeline import foreach_batch_rollup

    d = _ndjson_events_dir(spark, tmp_path)
    path = str(tmp_path / "rollup")
    q = (
        events_from_bus(spark, file_bus_stub(d))
        .writeStream.foreachBatch(foreach_batch_rollup(path))
        .option("checkpointLocation", str(tmp_path / "ckpt_roll"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (str(r.event_date), r.event_type): (r.n, round(r.sum_value, 2))
        for r in read_rollup(spark, path).collect()
    }
    events = load_table(spark, SF_SMALL, "events")
    want = {
        (str(r.event_date), r.event_type): (r.n, round(r.sum_value, 2))
        for r in events.groupBy(
            F.to_date("ts").alias("event_date"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.expr("cast(floor(value * 100 + 0.5) as bigint)")) / 100.0
            ).alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_streaming_admission_grows_index_across_batches(spark, tmp_path):
    """r8 streaming admission: batch 1 seeds the index (all new);
    batch 2 contains an exact copy and a near-copy of batch-1 docs
    plus a genuinely new one — decided against the GROWN index."""
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from weatherflow_spark.streaming.pipeline import foreach_batch_admission

    landing = tmp_path / "docs_landing"
    landing.mkdir()
    a = "the quick brown fox jumps over the lazy dog every single morning"
    b = "an entirely different document about spark physical plans and shuffles"
    near_a = "the quick brown fox jumps over the lazy dog every single evening"
    fresh = "totally novel content mentioning neither foxes nor spark at all"

    def write_batch(name, rows):
        (landing / name).write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": t, "lang": "en",
                            "source": "s0", "n_chars": len(t)})
                for i, t in rows
            )
            + "\n"
        )

    write_batch("b0.json", [(1, a), (2, b)])

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ])
    sink = foreach_batch_admission(
        str(tmp_path / "idx"), str(tmp_path / "verdicts")
    )

    def drain(ckpt):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(landing))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain("ckpt1")
    write_batch("b1.json", [(10, a), (11, near_a), (12, fresh)])
    drain("ckpt1")  # same checkpoint: only the new file is batch 2

    v = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    assert v[1] == "new" and v[2] == "new"          # seeded batch
    assert v[10] == "exact_dup"                     # copy of doc 1
    assert v[11] == "near_dup"                      # one-word edit of doc 1
    assert v[12] == "new"


def test_streaming_admission_replay_does_not_flip_verdicts(spark, tmp_path):
    """r8 review: a re-delivered micro-batch (crash after the
    signature append, before the checkpoint commit) probes an index
    already containing its own rows — self-exclusion must reproduce
    the ORIGINAL verdicts instead of flipping 'new' to 'exact_dup'."""
    from weatherflow_spark.operators.sig_index import (
        admit_with_index,
        append_signature_index,
        build_signature_index,
    )

    mk = lambda *items: spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in items],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    path = str(tmp_path / "idx")
    build_signature_index(mk((1, "seed corpus document about warehouse tables")), path)

    batch = mk((10, "a brand new document that matches nothing in the corpus"))
    v1 = {r.doc_id: r.verdict for r in admit_with_index(spark, batch, path).collect()}
    assert v1 == {10: "new"}
    append_signature_index(batch, path)  # committed before the crash

    # replay: the index now contains doc 10's own signatures
    v2 = {r.doc_id: r.verdict for r in admit_with_index(spark, batch, path).collect()}
    assert v2 == {10: "new"}  # unchanged — no self-match


def test_streaming_admission_releases_batch_checkpoints(spark, tmp_path):
    """The admission sink checkpoints each micro-batch and its
    verdicts; both are released once the verdicts are written, so a
    long-running stream does not accumulate blocks."""
    from weatherflow_spark.streaming.pipeline import foreach_batch_admission

    mk = lambda *items: spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in items],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    n_persistent = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()
    sink = foreach_batch_admission(
        str(tmp_path / "idx"), str(tmp_path / "verdicts")
    )
    before = n_persistent()
    for b in range(3):  # a cold-start batch, then two index probes
        sink(mk((10 * b, f"document {b} about warehouse tables and loads"),
                (10 * b + 1, f"another text {b} describing shuffle exchanges")), b)
    assert n_persistent() == before
    assert spark.read.parquet(str(tmp_path / "verdicts")).count() == 6


def test_streaming_admission_replay_does_not_grow_index(spark, tmp_path):
    """r9 ADVICE fix: the admission sink's signature writes are
    batch_id-keyed OVERWRITES, so a re-delivered micro-batch (crash
    between the index write and the checkpoint commit, repeated any
    number of times) rewrites its own slice instead of appending
    duplicate rows to sigs/ and bands/ without bound."""
    from weatherflow_spark.streaming.pipeline import foreach_batch_admission

    mk = lambda *items: spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in items],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    idx = str(tmp_path / "idx")
    sink = foreach_batch_admission(idx, str(tmp_path / "verdicts"))
    sink(mk((1, "seed corpus document about warehouse tables"),
            (2, "another seed document describing shuffle exchanges")), 0)
    fresh = mk((10, "a brand new document that matches nothing in the corpus"))
    sink(fresh, 1)
    sigs = os.path.join(idx, "sigs")
    bands = os.path.join(idx, "bands")
    n_sigs = spark.read.parquet(sigs).count()
    n_bands = spark.read.parquet(bands).count()
    assert n_sigs == 3  # every admitted doc exactly once

    # replay batch 1 three times, and even the seed batch once
    for _ in range(3):
        sink(fresh, 1)
    sink(mk((1, "seed corpus document about warehouse tables"),
            (2, "another seed document describing shuffle exchanges")), 0)
    assert spark.read.parquet(sigs).count() == n_sigs
    assert spark.read.parquet(bands).count() == n_bands
    v = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    assert v == {1: "new", 2: "new", 10: "new"}


def test_stream_serve_runs_as_multiple_micro_batches(spark):
    """T1's driver row (plans/serving.q_stream_serve) claims real
    micro-batch SEQUENCING — three landed files drained one per
    trigger. Pin that: the checkpoint's offsets log must hold one
    entry per drop (a silent collapse to one batch would still
    hash-match, so the parity check alone can't catch it), and the
    served result must equal the batch twin on the raw table."""
    from weatherflow_spark.plans.serving import _scratch_dir, q_stream_serve

    served = q_stream_serve(spark, SF_SMALL)
    offsets_dir = os.path.join(
        _scratch_dir(SF_SMALL), "stream_serve", "ckpt", "offsets"
    )
    batches = [f for f in os.listdir(offsets_dir) if not f.startswith(".")]
    assert len(batches) >= 3, batches
    want = q_tumbling_window_agg(spark, SF_SMALL).withColumn(
        "window_start", F.col("window_start").cast("timestamp")
    )
    assert _sorted_rows(
        served.withColumn("window_start", F.col("window_start").cast("timestamp")),
        "window_start",
    ) == _sorted_rows(want, "window_start")


def test_bus_dead_letter_quarantines_corrupt_records(spark, tmp_path):
    """r9 (VERDICT r8 'What's missing' #3): corrupt bus records —
    unparseable JSON, or valid JSON that is not an event (null
    event_id) — must route to the dead-letter stream WITH bus
    provenance, the pipeline output must equal the good-rows-only
    aggregation, and good + dead must account for every published
    record (nothing dropped silently)."""
    import json

    from weatherflow_spark.sources.stream_bus import (
        decode_events_with_dead_letter,
        file_bus_stub,
    )

    d = tmp_path / "bus_mixed"
    d.mkdir()

    def rec(i, ts, v):
        return json.dumps(
            {"event_id": i, "ts": ts, "user_id": 1, "event_type": "view",
             "value": v, "props": "{}"}
        )

    lines = [
        rec(1, "2024-01-01T00:10:00.000", 1.0),
        "{not json at all",                       # unparseable
        rec(2, "2024-01-01T00:20:00.000", 2.0),
        json.dumps({"who": "am i"}),              # parseable, not an event
    ]
    (d / "b0.json").write_text("\n".join(lines) + "\n")

    events, dead = decode_events_with_dead_letter(file_bus_stub(str(d))(spark))
    assert events.isStreaming and dead.isStreaming

    got = run_available_now(
        tumbling_value_agg(events),
        "bus_dl_agg_test",
        str(tmp_path / "ckpt_good"),
        output_mode="complete",
    ).collect()
    assert {(str(r.window_start), r.n_events, r.sum_value) for r in got} == {
        ("2024-01-01 00:00:00", 2, 3.0)
    }

    dl = run_available_now(
        dead, "bus_dl_dead_test", str(tmp_path / "ckpt_dead")
    ).collect()
    raws = sorted(r.raw for r in dl)
    assert raws == sorted(["{not json at all", json.dumps({"who": "am i"})])
    # provenance travels with the quarantined record
    assert all(r.topic == "events" for r in dl)
    # accounting: every published line is exactly one of good-agg'd / dead
    assert 2 + len(dl) == len(lines)


def test_stream_sketch_cube_matches_one_shot(spark, tmp_path):
    """E82 streaming form (r9): per-micro-batch HLL register slices
    written by foreach_batch_sketch must merge (bucket-wise max) to
    registers BIT-IDENTICAL to a one-shot sketch of everything
    ingested, the served estimates must match q_hll_grouped's, and a
    replayed micro-batch must not perturb the cube (slice overwrite)."""
    import glob as globmod
    import shutil

    from weatherflow_spark.io import load_table
    from weatherflow_spark.plans.sketches import (
        grouped_hll_rows,
        serve_grouped_hll,
    )
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_sketch,
        read_events_stream,
        read_stream_sketch,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ev = load_table(spark, SF_SMALL, "events")
    for i in range(3):
        staged = tmp_path / f"stage_{i}"
        ev.where(f"user_id % 3 = {i}").coalesce(1).write.parquet(str(staged))
        part = globmod.glob(str(staged / "part-*.parquet"))[0]
        shutil.copy(part, land / f"events_{i}.parquet")

    cube = str(tmp_path / "cube")
    stream = read_events_stream(
        spark, str(land), glob="events_*.parquet", max_files_per_trigger=1
    )
    sink = foreach_batch_sketch(cube)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert (
        spark.read.parquet(cube).select("slice_id").distinct().count() >= 2
    ), "expected multiple micro-batch slices"

    merged = read_stream_sketch(spark, cube)
    one_shot = (
        grouped_hll_rows(ev, "user_id", "event_type")
        .groupBy("event_type", "b")
        .agg(F.max("r").alias("m"))
    )
    g = {(r.event_type, r.b): r.m for r in merged.collect()}
    w = {(r.event_type, r.b): r.m for r in one_shot.collect()}
    assert g == w  # byte-identical registers — the mergeability law

    # served estimates equal the one-shot query's
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    got_est = {
        r.event_type: (r.exact_distinct, r.hll_estimate)
        for r in serve_grouped_hll(merged, exact).collect()
    }
    want_est = {
        r.event_type: (r.exact_distinct, r.hll_estimate)
        for r in serve_grouped_hll(one_shot, exact).collect()
    }
    assert got_est == want_est

    # replay: re-deliver batch 0's rows under its own batch_id
    sink(ev.where("user_id % 3 = 0"), 0)
    g2 = {(r.event_type, r.b): r.m for r in read_stream_sketch(spark, cube).collect()}
    assert g2 == w


def test_streaming_admission_migrates_flat_index(spark, tmp_path):
    """r9 review: an index built by the FLAT batch API must keep
    working when the per-batch streaming sink takes over — the sink
    migrates root part files into a batch_id=-1 slice before writing
    batch_id=N siblings (mixed layouts are unreadable by Spark)."""
    from weatherflow_spark.operators.sig_index import build_signature_index
    from weatherflow_spark.streaming.pipeline import foreach_batch_admission

    mk = lambda *items: spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in items],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    idx = str(tmp_path / "idx")
    corpus_text = "seed corpus document about warehouse tables"
    build_signature_index(mk((1, corpus_text)), idx)  # FLAT layout

    sink = foreach_batch_admission(idx, str(tmp_path / "verdicts"))
    sink(mk((10, corpus_text),  # exact dup of the flat-indexed doc
            (11, "a brand new document that matches nothing at all")), 7)

    v = {
        r.doc_id: r.verdict
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    assert v == {10: "exact_dup", 11: "new"}
    # the root holds only partition dirs now; the index stays readable
    sig_root = os.path.join(idx, "sigs")
    assert all(
        n.startswith(("batch_id=", "_", "."))
        for n in os.listdir(sig_root)
    )
    assert spark.read.parquet(sig_root).count() == 2  # doc 1 + admitted 11


def test_stream_cms_matches_one_shot(spark, tmp_path):
    """r9: per-micro-batch CMS cell slices written by
    foreach_batch_cms must SUM (the count-min mergeability law) to
    the exact one-shot cell table over everything ingested, and a
    replayed micro-batch must not double-count (slice overwrite)."""
    import glob as globmod
    import shutil

    from weatherflow_spark.io import load_table
    from weatherflow_spark.plans.sketches import cms_cells
    from weatherflow_spark.streaming.pipeline import (
        foreach_batch_cms,
        read_stream_cms,
    )

    land = tmp_path / "landing"
    land.mkdir()
    docs = load_table(spark, SF_SMALL, "documents")
    for i in range(3):
        staged = tmp_path / f"stage_{i}"
        docs.where(f"doc_id % 3 = {i}").coalesce(1).write.parquet(str(staged))
        part = globmod.glob(str(staged / "part-*.parquet"))[0]
        shutil.copy(part, land / f"docs_{i}.parquet")

    cube = str(tmp_path / "cms_cube")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "docs_*.parquet")
        .parquet(str(land))
    )
    sink = foreach_batch_cms(cube)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert (
        spark.read.parquet(cube).select("slice_id").distinct().count() >= 2
    )

    merged = {(r.j, r.bucket): r.n for r in read_stream_cms(spark, cube).collect()}
    want = {(r.j, r.bucket): r.n for r in cms_cells(docs).collect()}
    assert merged == want  # summed slices == one-shot cells, exactly

    # replay batch 0 under its own slice: nothing double-counts
    sink(docs.where("doc_id % 3 = 0"), 0)
    again = {(r.j, r.bucket): r.n for r in read_stream_cms(spark, cube).collect()}
    assert again == want


def test_weather_etl_stream_runs_maintenance_between_loads(spark, tmp_path):
    """E103 adopted by the topology: with ``maintenance_every=1`` the
    sink bounds its own history between micro-batches — after three
    data loads with ``keep_last_loads=2``, only the last two load
    entries survive, the feed bundle retains ALL THREE (replicas can
    rebuild history the source vacuumed), the head still serves every
    event, and the scoped merges kept every live date partition at
    one file so the compaction phase had nothing to rewrite."""
    import os

    from weatherflow_spark.operators.star import STAR_KEYS
    from weatherflow_spark.operators.whlog import (
        bundle_loads,
        read_warehouse,
        warehouse_loads,
    )
    from weatherflow_spark.streaming.pipeline import weather_etl_stream

    src = tmp_path / "landing"
    src.mkdir()
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt_maint")
    bundle = str(tmp_path / "bundle")

    def land(day: int, ids, name: str) -> None:
        base_ns = (1_700_000_000 + day * 86_400) * 1_000_000_000
        df = spark.createDataFrame(
            [(i, base_ns + i * 1_000_000, 12, "t", float(i), "{}")
             for i in ids],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        os.rename(str(stage / part), str(src / name))

    def run() -> None:
        weather_etl_stream(
            spark, str(src), wh, ckpt,
            maintenance_every=1,
            maintenance_keep_last_loads=2,
            maintenance_feed_bundle=bundle,
        ).awaitTermination()

    land(0, range(10), "events.parquet_b1")
    run()
    assert warehouse_loads(wh) == [1]
    land(1, range(10, 20), "events.parquet_b2")
    run()
    assert warehouse_loads(wh) == [1, 2]
    land(2, range(20, 30), "events.parquet_b3")
    run()
    # history bounded by the in-sink vacuum; bundle retains everything
    assert warehouse_loads(wh) == [2, 3]
    assert bundle_loads(bundle) == [1, 2, 3]
    # the head cut still serves every event across all three batches
    head = read_warehouse(spark, wh)
    assert head["w_fact"].count() == 30
    assert read_warehouse(spark, wh, 2)["w_fact"].count() == 20
    # tidy-by-construction: one live file per date partition, so the
    # compaction phase was a planned no-op (asserted, not assumed)
    for name in STAR_KEYS:
        root = os.path.join(wh, name)
        for d in os.listdir(root):
            if not d.startswith("recorded_date="):
                continue
            files = [
                f
                for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (name, d, files)


def test_streaming_forget_sink_dv_commits_replay_and_fold(spark, tmp_path):
    """r14: erasure requests as a STREAM — each micro-batch of victim
    keys lands as one replay-keyed deletion-vector commit (zero data
    files rewritten), receipts record the audit trail, a fresh
    checkpoint's redelivery short-circuits, and the scheduled fold
    materializes the deletes."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        head_version,
        init_snapshot_log,
        read_version,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark.streaming.pipeline import foreach_batch_forget

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"2026-01-0{1 + i % 3}", float(i)) for i in range(30)],
        "k long, day string, v double",
    ).repartition(1).write.mode("overwrite").partitionBy("day").parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["k"])
    record_commit(path)
    inodes0 = {
        os.path.join(d, f): os.stat(os.path.join(r, f)).st_ino
        for r, _, fs in os.walk(path)
        for d, f in ((os.path.relpath(r, path), x) for x in fs)
        if f.endswith(".parquet") and "_wf_snapshots" not in r
    }

    landing = tmp_path / "requests"
    landing.mkdir()
    receipts = str(tmp_path / "receipts")
    sink = foreach_batch_forget(
        path, ["k"], partition_cols=["day"], receipts_path=receipts
    )
    schema = StructType([StructField("k", LongType())])

    def drain(ckpt):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .json(str(landing))
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (landing / "b0.json").write_text(
        json.dumps({"k": 3}) + "\n" + json.dumps({"k": 7}) + "\n"
    )
    drain("ckpt1")
    assert read_version(spark, path).count() == 28
    assert head_dv(path), "delete must be merge-on-read"
    assert head_version(path) == 2

    (landing / "b1.json").write_text(json.dumps({"k": 11}) + "\n")
    drain("ckpt1")  # same checkpoint: only the new file is batch 1
    assert read_version(spark, path).count() == 27
    v_after = head_version(path)
    assert v_after == 3

    # zero data files rewritten by either delete
    inodes1 = {
        os.path.join(d, f): os.stat(os.path.join(r, f)).st_ino
        for r, _, fs in os.walk(path)
        for d, f in ((os.path.relpath(r, path), x) for x in fs)
        if f.endswith(".parquet") and "_wf_snapshots" not in r
    }
    assert inodes1 == inodes0

    # receipts: one row per batch, real counts, minted versions
    rec = {
        r["batch_id"]: r
        for r in spark.read.parquet(receipts).collect()
    }
    assert rec[0]["keys_requested"] == 2 and rec[0]["keys_deleted"] == 2
    assert rec[1]["keys_deleted"] == 1
    assert (rec[0]["new_version"], rec[1]["new_version"]) == (2, 3)

    # fresh checkpoint redelivers both files as batches 0/1 — the
    # forget:<n> keys short-circuit: no new versions, receipts intact
    drain("ckpt2")
    assert head_version(path) == v_after
    assert read_version(spark, path).count() == 27
    rec2 = {
        r["batch_id"]: r
        for r in spark.read.parquet(receipts).collect()
    }
    assert rec2[0]["keys_deleted"] == 2  # not clobbered by the replay

    # the scheduled fold materializes the deletes and drops the DVs
    rep = compact_partitions(spark, path, ["day"], max_files=100)
    assert rep["partitions_compacted"] >= 1
    assert head_dv(path) == {}
    after = read_version(spark, path)
    assert after.count() == 27
    assert {r["k"] for r in after.select("k").collect()}.isdisjoint({3, 7, 11})


def test_forget_sink_refuses_null_keys(spark, tmp_path):
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
    )
    from weatherflow_spark.streaming.pipeline import foreach_batch_forget

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 1.0)], "k long, v double"
    ).write.mode("overwrite").parquet(path)
    init_snapshot_log(path)
    record_commit(path)
    sink = foreach_batch_forget(path, ["k"])
    bad = spark.createDataFrame([(None,)], "k long")
    with pytest.raises(ValueError, match="NULL"):
        sink(bad, 0)
