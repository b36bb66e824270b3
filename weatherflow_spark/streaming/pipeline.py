"""Structured Streaming surface (SURVEY §2.9, §7 Phase 4).

The reference *is* a hand-rolled micro-batch stream: an Airflow DAG
polling every 5 minutes with ``catchup=False`` (reference
dags/etl.py:129,131), whose per-batch body is
extract → enrich_datetime ∥ add_calc_attributes → merge → load
(etl.py:159). This module runs the **same transform core** (the pure
DataFrame→DataFrame functions in ``functions/``) under Structured
Streaming, which upgrades the reference's semantics with what it
lacks (SURVEY §2.9 T2/T3): event-time tumbling windows, watermarked
late-data handling, and stateful dedup across batches (the
reference's uuid keys duplicate facts on any replay).

Design rules:

- **One transform core, two runners.** Every transformation here is
  a stateless narrow projection imported from ``functions/`` /
  ``operators/`` — identical plans in batch and streaming, so batch
  parity tests (tests/test_streaming.py) certify the streaming path.
- **Watermarks bound state.** Each stateful op (window agg, dedup)
  declares a watermark; at 100 TB/day the state store would otherwise
  grow without bound. 2-hour watermark over 1-hour windows ⇒ at most
  ~3 open windows per key in the store.
- **Sinks via foreachBatch** reuse the batch star-schema writer —
  the exactly-once contract comes from deterministic surrogate keys
  (idempotent re-writes) + checkpointed offsets, replacing the
  reference's per-record MySQL transactions (database.py:25-34).
"""

from __future__ import annotations

import logging
import os
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from weatherflow_spark.functions.calendar import enrich_datetime
from weatherflow_spark.functions.weather import add_calc_attributes
from weatherflow_spark.io import normalize_events
from weatherflow_spark.operators.caching import release_checkpoint
from weatherflow_spark.operators.star import build_weather_star
from weatherflow_spark.session import configure_session


# Canonical events shape, used only when a stream starts on an empty
# landing directory (no parquet footer to derive from). µs timestamps
# — the unit io.normalize_events treats as already normalized.
EVENTS_FALLBACK_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet*",
    max_files_per_trigger: int | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """File-source stream over the events table (the test stand-in
    for the reference's REST poll, SURVEY §2.1 S2).

    File streams require an explicit schema; we derive it from the
    batch footer of the SAME files and run the shared
    :func:`~weatherflow_spark.io.normalize_events` afterwards, so the
    batch and stream paths read identical frames by construction — a
    storage-unit change (µs vs ns) cannot silently split them. On an
    *empty* landing directory (production shape: the stream may start
    before the first file lands) there is no footer to derive from,
    so the reader falls back to ``EVENTS_FALLBACK_SCHEMA``
    (µs-timestamp canonical form) — or pass ``schema`` explicitly to
    pin a different physical shape up front.

    The file source wants a *directory*; testdata ships events as a
    single file named ``events.parquet``, so we stream the sf dir
    with a leaf-filename glob. (In a real deployment this is a
    landing directory that micro-batches drop files into —
    ``maxFilesPerTrigger`` throttles per-batch intake.)"""
    configure_session(spark)
    if schema is None:
        try:
            schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
        except AnalysisException:
            # No files yet (UNABLE_TO_INFER_SCHEMA) or the landing dir
            # itself doesn't exist yet (PATH_NOT_FOUND). Be loud: a
            # cold start pins the µs-timestamp canonical shape, and if
            # the first files to land carry the bigint-nanos variant
            # the pinned reader misparses where a warm start would
            # have adapted via the footer — pass ``schema=`` to pin a
            # different physical shape deliberately.
            logging.getLogger(__name__).warning(
                "events stream cold-start on empty landing dir %s: pinning "
                "EVENTS_FALLBACK_SCHEMA (µs timestamps); pass schema= if the "
                "first files will use a different physical shape",
                sf_dir,
            )
            schema = EVENTS_FALLBACK_SCHEMA
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        # Honored by availableNow too: the backlog drains as a
        # sequence of bounded micro-batches, which is how the crash/
        # replay tests split one directory into several batches.
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return normalize_events(reader.parquet(sf_dir))


# ---------------------------------------------------------------------------
# T2: watermarked tumbling-window aggregation
# ---------------------------------------------------------------------------


def tumbling_value_agg(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """1-hour tumbling event-time windows: count + exact integer-cents
    value sum per window. The identical expression runs in batch as
    ``q_tumbling_window_agg`` (plans/relational.py) — that query's
    DuckDB hash-check is the correctness certificate for this one.

    ``with_watermark`` bounds streaming state (late rows beyond 2
    hours are dropped); batch mode ignores watermarks by definition.
    """
    from weatherflow_spark.plans.queries import cents_sum

    df = events
    if with_watermark and events.isStreaming:
        # Watermarks require TIMESTAMP (not NTZ); the session is
        # pinned UTC so the cast preserves the wall-clock value.
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", "2 hours"
        )
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            cents_sum(F.col("value")).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def session_value_agg(events: DataFrame, with_watermark: bool = True) -> DataFrame:
    """Per-user event-time sessions (8-hour inactivity gap): the
    streaming twin of ``q_session_window`` (plans/advanced.py), whose
    DuckDB gaps-and-islands hash-check certifies these semantics.
    Under streaming, ``session_window`` keeps per-user open-session
    state and the watermark closes sessions once event time passes
    last_event + gap + lateness — state is bounded by (active users ×
    open sessions), not history."""
    from weatherflow_spark.plans.advanced import SESSION_GAP
    from weatherflow_spark.plans.queries import cents_sum

    df = events
    if with_watermark and events.isStreaming:
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", "2 hours"
        )
    return (
        df.groupBy(F.col("user_id"), F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_event_ts"),
            cents_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event_ts",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# T3: stateful dedup across micro-batches
# ---------------------------------------------------------------------------


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Exactly-once event delivery: drop duplicate event_ids arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``
    keeps state only until the watermark passes each key — bounded,
    unlike plain ``dropDuplicates`` on a stream). Fixes the
    reference's replay-duplicates flaw (uuid keys, etl.py:103)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )


# ---------------------------------------------------------------------------
# The reference pipeline under streaming: enrich → metrics → star load
# ---------------------------------------------------------------------------


def events_as_weather_stream(events: DataFrame) -> DataFrame:
    """Dress the event stream as weather observations (same mapping
    as plans/queries.events_weather) so the fidelity transform core
    can run on it."""
    return events.select(
        F.col("event_id").alias("station_id"),
        F.col("ts").cast("timestamp").cast("long").alias("timestamp"),
        ((F.col("user_id") % 25 - 12) * 3600).alias("timezone"),
        (F.col("ts").cast("timestamp").cast("long") - 21600).alias("sunrise_ts"),
        (F.col("ts").cast("timestamp").cast("long") + 21600).alias("sunset_ts"),
        (F.col("user_id") % 101).cast("double").alias("humidity"),
        F.col("value").alias("temp"),
    )


def weather_transform_core(observations: DataFrame) -> DataFrame:
    """The reference DAG body as one narrow plan: enrich_datetime
    (etl.py:20-69) + add_calc_attributes (etl.py:71-84) computed on
    ONE frame — the positional zip-merge (etl.py:86-94) disappears
    because both column sets live on the same lineage (SURVEY §2.4
    J1). Stateless ⇒ valid on batch and stream alike."""
    return add_calc_attributes(enrich_datetime(observations))


def weather_etl_stream(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    max_files_per_trigger: int | None = None,
    maintenance_every: int | None = None,
    maintenance_keep_last_loads: int | None = None,
    maintenance_feed_bundle: str | None = None,
):
    """The full reference topology as a streaming query: source →
    transform core → foreachBatch star-schema load. ``trigger``
    defaults to availableNow (test mode); pass
    ``{"processingTime": "5 minutes"}`` for the reference's cadence
    (etl.py:129). ``max_files_per_trigger`` bounds each micro-batch by
    source files — the partition-isolation test drives two
    different-date batches through one query with it.

    ``maintenance_every=N`` runs
    :func:`~weatherflow_spark.operators.whlog.maintain_warehouse`
    after every Nth data load, INSIDE the sink (E103 adopted by the
    topology): at the reference's 288-loads/day-forever cadence
    (etl.py:129, catchup=False :131) the unbounded load history —
    not the live data — is what grows without bound, so the stream
    itself bounds it: per-date compaction planning (a no-op while the
    scoped merges keep partitions at one file each — asserted, not
    assumed, by the pytest), optional per-load feed-bundle export
    (``maintenance_feed_bundle``; replica keys come from
    ``STAR_KEYS``), then a load-aware, feed-interlocked vacuum
    keeping ``maintenance_keep_last_loads``. Maintenance is
    replay-safe WITHOUT a batch key: every phase is idempotent and a
    no-op pass mints no load, so a replayed Nth batch just re-runs a
    bounded check. Synchronous by design — maintenance serializes
    with the next batch's merges instead of racing them; size N so
    the pass fits the trigger interval."""
    if maintenance_every is not None and maintenance_every < 1:
        # (batch_id + 1) % -1 == 0 for EVERY batch: a typo'd negative
        # cadence would silently run the full maintenance pass
        # (compaction plan, possible re-cut, vacuum) after every
        # single load instead of being rejected (r12 ADVICE).
        raise ValueError(
            f"maintenance_every must be >= 1, got {maintenance_every}"
        )
    observations = events_as_weather_stream(
        read_events_stream(
            spark, sf_dir, max_files_per_trigger=max_files_per_trigger
        )
    )
    enriched = weather_transform_core(observations)

    # foreachBatch is at-least-once: a batch replayed after checkpoint
    # recovery re-runs the sink. Appending would duplicate every star
    # row on replay (the reference's flaw, etl.py:103). r11: the sink
    # routes through load_star_warehouse — each micro-batch is ONE
    # logical warehouse load (the reference's per-record five-table
    # transaction, database.py:25-34): keyed upserts on deterministic
    # surrogate ids (replay replaces its own rows), in-batch duplicate
    # collapse (or the upsert's dup-key guard poison-loops the
    # stream), dims-before-fact write order, and a batch-keyed load
    # entry so a re-delivered batch short-circuits before touching
    # any table — "the warehouse as of load N" is answerable across
    # all five tables for every micro-batch.
    # Load ids are SCOPED BY QUERY IDENTITY (the Delta txnAppId
    # shape): micro-batch numbering restarts at 0 when a checkpoint
    # is reset, so a bare batch_id would match an OLD load entry and
    # silently swallow every new batch up to the old max id (r11
    # review). The checkpoint path is stable across restarts of the
    # same query (replays still short-circuit) and differs for a
    # fresh checkpoint (fresh id space).
    import hashlib

    # realpath, not abspath: a relative path resolved from a
    # different cwd (or a symlink alias) must not silently change the
    # id scope across restarts of the same query (r11 review).
    scope = hashlib.sha256(
        os.path.realpath(checkpoint_dir).encode()
    ).hexdigest()[:12]

    def load_star(batch_df: DataFrame, batch_id: int) -> None:
        from weatherflow_spark.operators.star import (
            STAR_DATE_PARTITIONING,
            load_star_warehouse,
        )

        # Collapse CONFLICTING same-natural-key rows to ONE winner
        # BEFORE the five-way split — and MATERIALIZE the survivors:
        # dropDuplicates' pick is partition-order-dependent, and the
        # loader runs ~10 jobs (5 validations + 5 writes) over this
        # lineage; un-persisted, each job could re-pick a DIFFERENT
        # winner (old temp with new humidity committed as one
        # "consistent" load) and the batch's read+enrich+dedup cost
        # would be paid ten times over (r11 review). One persist
        # fixes both; released after the load commits.
        deduped = batch_df.dropDuplicates(
            ["station_id", "recorded_datetime_local"]
        ).persist()
        try:
            deduped.count()  # pin the survivors before any consumer
            # Date-partitioned star (r11 verdict #1): every table
            # carries the denormalized local date and each load's
            # keyed merges touch ONLY the batch's date partitions —
            # without this, the reference's 288-loads/day cadence
            # (etl.py:129) full-rewrites all five tables per batch,
            # O(T²/b) cumulative.
            tables = build_weather_star(
                deduped, station_col="station_id", denormalize_date=True
            )
            load_star_warehouse(
                batch_df.sparkSession,
                tables,
                warehouse_dir,
                batch_id=f"{scope}:{batch_id}",
                partition_cols=STAR_DATE_PARTITIONING,
            )
            # Cadence keys on the DATA batch number, not the warehouse
            # load number: maintenance itself mints a re-cut load when
            # it compacts, so a load-numbered cadence would skew —
            # one compaction shifts every data load's parity and the
            # pass starts running after every batch (r12.2 review).
            if maintenance_every and (batch_id + 1) % maintenance_every == 0:
                from weatherflow_spark.operators.star import STAR_KEYS
                from weatherflow_spark.operators.whlog import (
                    maintain_warehouse,
                )

                maintain_warehouse(
                    batch_df.sparkSession,
                    warehouse_dir,
                    partition_cols=STAR_DATE_PARTITIONING,
                    feed_bundle=maintenance_feed_bundle,
                    key_cols=(
                        {t: [k] for t, k in STAR_KEYS.items()}
                        if maintenance_feed_bundle is not None
                        else None
                    ),
                    keep_last_loads=maintenance_keep_last_loads,
                )
        finally:
            deduped.unpersist()

    writer = (
        enriched.writeStream.foreachBatch(load_star)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


def user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static user dimension for stream enrichment, derived from
    the customer table (c_custkey keys the event stream's user_id
    space at every SF)."""
    from weatherflow_spark.io import load_table

    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )


def enrich_with_static_dim(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static dimension enrichment — the lookup join every
    event pipeline runs before aggregating by a dimension attribute.
    The static side is broadcast, so the (unbounded) stream side
    never shuffles and needs no watermark — a stream-static join is
    stateless per micro-batch; Spark re-plans the static side each
    batch, which is also what picks up slowly-changing-dimension
    refreshes when the dim is a table path rather than a cached frame.
    Left join keeps events whose user has no dim row (NULL segment),
    so enrichment never drops facts. The identical expression on a
    batch frame is the parity certificate
    (tests/test_streaming.py)."""
    return events.join(F.broadcast(dim), "user_id", "left")


def purchases_clicks_interval_join(events: DataFrame) -> DataFrame:
    """Stream-stream self-join (T2 surface): pair each purchase with
    the same user's clicks in the preceding 30 minutes — the streaming
    twin of the batch ``q_range_join`` (plans/temporal.py) join phase.

    Both sides carry a 1-hour watermark and the join condition bounds
    event time on both ends, so Spark can evict join state once the
    watermark passes ``p_ts`` / ``c_ts + 30 min`` — state holds ~90
    minutes of events per side regardless of stream age. On a batch
    DataFrame ``withWatermark`` is a no-op and the same plan is a
    plain hash join, which is what the parity test exploits."""
    base = events.withColumn("ts", F.col("ts").cast("timestamp"))
    purchases = (
        base.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        base.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts < p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
        "c_ts",
    )


def foreach_batch_upsert(
    path: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """An idempotent ``foreachBatch`` sink: each micro-batch is
    MERGE-upserted by key (operators/upsert.py) instead of appended.
    Replayed batches (checkpoint recovery, at-least-once delivery)
    replace their own rows rather than duplicating them — end-to-end
    exactly-once on content without a transactional table format.
    With ``partition_cols`` each batch rewrites only the partitions it
    touches, so sink cost tracks batch size, not table size."""
    from weatherflow_spark.operators.upsert import upsert_by_key

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # At-least-once sources can deliver the same record twice
        # WITHIN one micro-batch; the upsert's duplicate-key guard
        # (r10) would turn that into a poison batch that crash-loops
        # through checkpoint recovery. Collapse in-batch duplicates
        # here: for true re-deliveries the rows are identical, so the
        # pick is a no-op; sources that can emit CONFLICTING same-key
        # rows in one batch must pre-aggregate upstream (the pick
        # between conflicting rows is otherwise arbitrary).
        upsert_by_key(
            batch_df.sparkSession,
            batch_df.dropDuplicates(key_cols),
            path,
            key_cols,
            partition_cols,
        )

    return _sink


def foreach_batch_versioned_upsert(
    path: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreach_batch_upsert`` for a SNAPSHOT-ENABLED table (E90):
    each micro-batch merge records exactly one snaplog version, KEYED
    by the micro-batch id — so the version history is a faithful
    time-travel trail of the stream (version k = table after batch k)
    and a re-delivered batch (checkpoint recovery, at-least-once
    delivery) neither duplicates rows (the upsert contract) NOR mints
    a duplicate version (the ``record_commit(batch_id=...)`` replay
    key). A replayed batch short-circuits before the merge job: its
    content is already on disk by idempotence, so re-running it buys
    nothing and the skip keeps recovery O(1) per replayed batch.

    This is the streaming member of the maintain-then-serve family
    (next to the sketch/CMS/fingerprint sinks): continuous ingestion
    with queryable history, the Delta/Iceberg streaming-commit shape
    on plain parquet."""
    from weatherflow_spark.operators.snaplog import (
        committed_batch_version,
        snapshot_enabled,
    )
    from weatherflow_spark.operators.upsert import upsert_by_key

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if (
            snapshot_enabled(path)
            and committed_batch_version(path, batch_id) is not None
        ):
            return  # replayed batch: content + version already landed
        upsert_by_key(
            batch_df.sparkSession,
            # in-batch duplicate collapse: see foreach_batch_upsert
            batch_df.dropDuplicates(key_cols),
            path,
            key_cols,
            partition_cols,
            snapshot_batch_id=batch_id,
        )

    return _sink


def foreach_batch_apply_change_feed(
    feed_dir: str,
    replica_path: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The packaged CDC-REPLICATION consumer (E95's receive half,
    r11): attach to ``read_change_feed(feed_dir, streaming=True)``
    and every micro-batch merges the exported changes into
    ``replica_path`` — the replica tracks the source table from the
    feed ALONE, never reading the source. Three contracts the ad-hoc
    form gets wrong are built in:

    - **version ordering**: one micro-batch can carry several
      ``change_version`` partitions (a catch-up after downtime);
      applying them out of order replays deletes/upserts against the
      wrong base. Versions apply ascending, each through the full
      ``apply_changes`` merge.
    - **schema fail-fast** (E94 × E95): before applying, the batch's
      columns are checked against the stamps of exactly the versions
      it carries (:func:`~weatherflow_spark.operators.snaplog.
      check_feed_schema`) — a source evolution exported after this
      consumer started raises at the next batch, naming the column,
      instead of silently replicating NULLs.
    - **idempotent replay**: ``apply_changes`` is a content no-op on
      re-delivered feeds, so checkpoint recovery is safe.
    """
    from weatherflow_spark.operators.snaplog import check_feed_schema
    from weatherflow_spark.operators.upsert import apply_changes

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        vs = sorted(
            r.change_version
            for r in batch_df.select("change_version").distinct().collect()
        )
        check_feed_schema(feed_dir, batch_df.columns, vs)
        for v in vs:
            apply_changes(
                batch_df.sparkSession,
                batch_df.where(
                    batch_df.change_version == v
                ).drop("change_version"),
                replica_path,
                key_cols,
                "op",
                partition_cols,
                # a replica follows its source's schema by definition:
                # after a restart picks up an evolved column, the
                # merge evolves the replica the same way (E94)
                merge_schema=True,
            )

    return _sink


def foreach_batch_rollup(path: str, scale: int = 100) -> Callable[[DataFrame, int], None]:
    """A streaming *continuous aggregate* sink: each micro-batch
    refreshes the rollup partial table (operators/rollup.py) for the
    grain buckets it touches — dynamic partition overwrite, so replay
    is idempotent and downstream rollup queries (read_rollup) never
    scan raw facts. This is the streaming form of the hypertable-
    rollup pattern: the 5-minute cadence of the reference DAG
    (etl.py:129) continuously maintains the warehouse's aggregate
    tier instead of only its fact tier.

    Assumes micro-batches arrive date-complete per trigger (true for
    availableNow file replay and for tumbling daily buckets with a
    watermark upstream); for cross-batch partial days compose with
    the union-with-existing path documented in refresh_rollup."""
    from weatherflow_spark.operators.rollup import refresh_rollup

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        refresh_rollup(batch_df.sparkSession, batch_df, path, scale)

    return _sink


def foreach_batch_fingerprint(path: str) -> Callable[[DataFrame, int], None]:
    """Streaming twin of the E71 anti-entropy digest: each micro-batch
    folds its own (xor, modular-sum, count) digest into a running
    1-row table — XOR and modular addition are commutative and
    associative, so the maintained digest equals a full recompute over
    everything ingested (the mergeability law tests/test_stats.py pins
    for the batch form, applied incrementally). Written per batch_id
    so replays are idempotent: a re-delivered micro-batch overwrites
    its own partition instead of double-folding. Comparing a stream's
    digest against the batch table's is then 3 integers — continuous
    replica verification at any volume."""
    from weatherflow_spark.plans.quality import FP_SUM_MOD, _row_fp_spark

    h = _row_fp_spark(
        "concat_ws('|', event_id, user_id, event_type, "
        "cast(floor(value * 100 + 0.5) as bigint))"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        digest = batch_df.select(F.expr(h).alias("h")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fp_xor"),
            F.expr(f"sum(h % {FP_SUM_MOD})").alias("fp_sum"),
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        (
            digest.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return _sink


def foreach_batch_sketch(
    path: str, value_col: str = "user_id", key: str = "event_type"
) -> Callable[[DataFrame, int], None]:
    """Streaming form of the E82 sketch cube (r9): each micro-batch
    writes its OWN per-(key, bucket) HLL register partials under
    ``slice_id=<batch_id>`` (dynamic partition overwrite → a replayed
    batch rewrites its slice, never double-folds). Registers come
    from the EXACT one-shot hash pipeline (``sketches.
    grouped_hll_rows``), so merging the stored slices bucket-wise
    (max) yields registers byte-identical to sketching every ingested
    row at once — the mergeability law, maintained continuously.
    State written per batch: ≤ |keys| × 256 tiny rows; the raw stream
    is never retained and the serve never rescans it. This is the
    approx-distinct dashboard posture at 100 TB/day: sketch at
    ingest, merge at read."""
    from weatherflow_spark.plans.sketches import grouped_hll_rows

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        regs = (
            grouped_hll_rows(batch_df, value_col, key)
            .groupBy(key, "b")
            .agg(F.max("r").alias("m"))
            .withColumn("slice_id", F.lit(batch_id).cast("long"))
        )
        (
            regs.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("slice_id")
            .parquet(path)
        )

    return _sink


def read_stream_sketch(
    spark: SparkSession, path: str, key: str = "event_type"
) -> DataFrame:
    """Merge the streamed cube's stored slices into the current
    per-(key, bucket) registers — the serve half. Feed the result to
    ``sketches.serve_grouped_hll`` for estimates; the registers here
    must equal (bit-for-bit) a one-shot sketch of everything
    ingested, which the streaming test pins."""
    return (
        spark.read.parquet(path).groupBy(key, "b").agg(F.max("m").alias("m"))
    )


def foreach_batch_cms(
    path: str, text_col: str = "text"
) -> Callable[[DataFrame, int], None]:
    """Streaming count-min sketch (r9): each micro-batch of documents
    writes ITS OWN (j, bucket, n) cell counts under
    ``slice_id=<batch_id>`` (dynamic overwrite → a replayed batch
    rewrites its slice, never double-counts). Cell counts ADD across
    slices — the CMS mergeability law — so the summed table equals a
    one-shot sketch of everything ingested, and heavy-hitter point
    estimates served from the merged cube match the batch query's.
    State per batch: 4·1024 rows; the token stream is never retained.
    The streaming member of the sketch tier, next to
    ``foreach_batch_sketch`` (HLL) and ``foreach_batch_fingerprint``
    (digest)."""
    from weatherflow_spark.plans.sketches import cms_cells

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        cells = cms_cells(batch_df, text_col).withColumn(
            "slice_id", F.lit(batch_id).cast("long")
        )
        (
            cells.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("slice_id")
            .parquet(path)
        )

    return _sink


def read_stream_cms(spark: SparkSession, path: str) -> DataFrame:
    """Merge the streamed CMS cube: per-(j, bucket) summed counts —
    equal to one-shot ``sketches.cms_cells`` over everything ingested
    (pinned by tests/test_streaming.py)."""
    return (
        spark.read.parquet(path)
        .groupBy("j", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def read_stream_fingerprint(spark: SparkSession, path: str):
    """Combine the per-batch digests into the running table digest:
    XOR of XORs, plain sum of the (already per-row-modded) sum
    channels, sum of counts — exactly the batch q_table_fingerprint
    algebra, so stream-vs-batch comparison is 3 integers."""
    per_batch = spark.read.parquet(path)
    return per_batch.agg(
        F.sum("n_rows").alias("n_rows"),
        F.expr("bit_xor(fp_xor)").alias("fp_xor"),
        F.sum("fp_sum").alias("fp_sum"),
    )


# ---------------------------------------------------------------------------
# X2: custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", DoubleType()),
        StructField("mx", DoubleType()),
    ]
)


def _make_user_stats_fn() -> Callable:
    """Closure-built (pickles by value — see multimodal/binary.py)
    per-user running aggregate: count / sum / max across batches via
    GroupState. The cents-scaling keeps the running sum exact."""

    def update_user_stats(key, pdfs, state):
        import pandas as pd

        n, s, mx = (0, 0.0, float("-inf"))
        if state.exists:
            n, s, mx = state.get
        for pdf in pdfs:
            import numpy as np

            vals = pdf["value"]
            n += int(len(vals))
            # floor(x*100+0.5), matching the batch cents_sum exactly —
            # int() would truncate toward zero and diverge on negatives
            # (-1.245 -> -124 vs floor's -125).
            s += float(np.floor(vals * 100.0 + 0.5).sum()) / 100.0
            if len(vals):
                mx = max(mx, float(vals.max()))
        state.update((n, s, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s], "max_value": [mx]}
        )

    return update_user_stats


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator over user_id groups —
    the engine's `applyInPandasWithState` surface (SURVEY §2.10 X2).
    Emits the updated running aggregate for each user seen in the
    micro-batch."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _make_user_stats_fn(),
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", DoubleType()),
    ]
)


def _make_user_ewma_fn(alpha: float = 0.25) -> Callable:
    """Closure-built streaming EWMA: the recurrence s ← s + α·(x − s)
    carried across micro-batches in GroupState. Rows are folded in
    (ts, event_id) order inside each batch; with time-sliced batches
    the overall op sequence is IDENTICAL to the batch q_ewma sorted
    fold, so the streaming state converges to the bit-same double
    (asserted by tests/test_streaming.py against the batch plan).
    α must be exactly binary-representable — same contract as
    plans/timeseries.EWMA_ALPHA."""

    def update_user_ewma(key, pdfs, state):
        import pandas as pd

        n, s = (0, 0.0)
        if state.exists:
            n, s = state.get
        for pdf in pdfs:
            ordered = pdf.sort_values(["ts", "event_id"])
            for x in ordered["value"].tolist():
                x = float(x)
                s = x if n == 0 else s + alpha * (x - s)
                n += 1
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [s]}
        )

    return update_user_ewma


def running_user_ewma(events: DataFrame) -> DataFrame:
    """Streaming twin of plans/timeseries.q_ewma: per-user
    exponential smoothing as a custom stateful operator — the
    sequential recurrence Structured Streaming's built-in windows
    cannot express, carried in ``applyInPandasWithState`` state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _make_user_ewma_fn(),
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# test harness helper
# ---------------------------------------------------------------------------


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain a bounded stream into a memory sink (availableNow) and
    return the materialized result table. Test-only: memory sinks
    collect to the driver. Pass ``output_mode="complete"`` for
    windowed aggregations (append would hold back windows the
    final-batch watermark hasn't closed) and ``"update"`` for
    applyInPandasWithState operators."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def foreach_batch_forget(
    path: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    receipts_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming right-to-be-forgotten sink (r14; E105 × T1): erasure
    requests ARRIVE as a stream in production — a queue of user/doc
    keys, not a weekly batch job — and each micro-batch of victim
    keys lands as ONE merge-on-read deletion-vector commit
    (:func:`~weatherflow_spark.operators.upsert.delete_where` with
    ``use_dv=True``): O(victims) bytes written, zero data files
    rewritten, the scheduled maintenance pass folds the DVs later
    (E110/E111 keep reads at one anti-join per directory and folds
    clustering-preserving). The 100 TB posture is the point: per
    batch, work is bounded by the REQUEST batch — a victim-key
    min/max prune bound (superset by construction) routes the victim
    scan through the zone maps, so a key-clustered table opens a
    handful of files, never the table.

    Replay safety: the DV commit is keyed ``forget:<batch_id>``
    (namespaced so an upsert stream checkpointing raw ints on the
    same table can never collide), so checkpoint recovery re-delivers
    the batch into a short-circuit — no duplicate version, no second
    DV. A batch whose keys match nothing commits nothing and stays
    replay-idempotent by construction.

    ``receipts_path``: optional compliance trail — each batch
    OVERWRITES ``batch_id=<n>/`` with a one-row report (keys
    requested / matched / deleted, the minted version), so an auditor
    can join request batches to table versions; overwrite keeps
    replays from duplicating receipts. NULL request keys are refused
    loudly (a NULL forget key is a malformed request — the DV
    anti-join is null-unsafe and would silently forget nothing)."""
    from weatherflow_spark.operators.upsert import delete_where

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keys = (
            batch_df.select(*key_cols).dropDuplicates().collect()
        )  # bounded: a batch of erasure REQUESTS, not table data
        if any(r[c] is None for r in keys for c in key_cols):
            raise ValueError(
                f"forget sink: NULL in key column(s) {key_cols} — "
                "a NULL erasure key matches nothing (null-unsafe "
                "anti-join); repair the request stream"
            )
        from weatherflow_spark.operators.snaplog import (
            committed_batch_version,
        )

        if committed_batch_version(path, f"forget:{batch_id}") is not None:
            # pure replay: the DV committed AND (if the crash fell
            # between the commit and the receipt) the receipt below
            # may be missing — but re-deriving its counts would need
            # the pre-delete head, so a replayed receipt records the
            # minted version with -1 counts rather than silently
            # overwriting the original's real ones with zeros
            if receipts_path is not None and not os.path.exists(
                os.path.join(receipts_path, f"batch_id={int(batch_id)}")
            ):
                spark.createDataFrame(
                    [(
                        len(keys), -1, -1,
                        committed_batch_version(path, f"forget:{batch_id}"),
                    )],
                    "keys_requested long, rows_matched long, "
                    "keys_deleted long, new_version long",
                ).write.mode("overwrite").parquet(
                    os.path.join(receipts_path, f"batch_id={int(batch_id)}")
                )
            return
        report = {
            "rows_matched": 0, "keys_deleted": 0, "new_version": None,
        }
        if keys:
            if len(key_cols) == 1:
                c = key_cols[0]
                pred = F.col(c).isin([r[c] for r in keys])
            else:
                pred = None
                for r in keys:
                    clause = None
                    for c in key_cols:
                        eq = F.col(c) == F.lit(r[c])
                        clause = eq if clause is None else (clause & eq)
                    pred = clause if pred is None else (pred | clause)
            # superset prune bound per key column: min/max of the
            # requested keys — on a key-clustered/Z-ordered table the
            # victim scan opens the bound's files, not the table
            # (ineligible columns are dropped by delete_where itself)
            prune = [
                (c, min(r[c] for r in keys), max(r[c] for r in keys))
                for c in key_cols
            ]
            report = delete_where(
                spark, path, pred, key_cols,
                partition_cols=partition_cols,
                prune=prune,
                snapshot_batch_id=f"forget:{batch_id}",
                use_dv=True,
            )
        if receipts_path is not None:
            # the batch_id=<n> directory name IS the batch key (read
            # back as a partition column — a data column of the same
            # name would collide with it)
            spark.createDataFrame(
                [(
                    len(keys),
                    int(report["rows_matched"]),
                    int(report["keys_deleted"]),
                    (
                        int(report["new_version"])
                        if report.get("new_version") is not None
                        else None
                    ),
                )],
                "keys_requested long, rows_matched long, "
                "keys_deleted long, new_version long",
            ).write.mode("overwrite").parquet(
                os.path.join(receipts_path, f"batch_id={int(batch_id)}")
            )

    return _sink


def foreach_batch_admission(index_path: str, verdicts_path: str):
    """Streaming corpus ADMISSION sink (r8): each micro-batch of
    documents is decided against the persisted signature index
    (operators/sig_index.py — exact dup / near dup / new, corpus text
    never rescanned), verdicts land in ``verdicts_path``, and the
    batch's NEW documents append their signatures so later batches
    are checked against everything admitted before them. This is the
    production shape of streaming dedup at 100 TB: per batch, work is
    bounded by the batch and the (compact) index — not the corpus.

    Replay safety: BOTH writes are per-batch keyed by batch_id —
    verdicts overwrite their own directory, and signature rows land
    under ``batch_id=<n>`` slices of sigs/ and bands/ (overwrite, via
    ``write_signature_batch``), so a crash/replay cycle rewrites the
    SAME slice instead of appending duplicate rows without bound (r8
    ADVICE: the old flat append grew the index on every redelivery).
    admit_with_index additionally SELF-EXCLUDES the batch's doc_ids
    from the index probe, so a replayed batch whose signatures were
    already written (crash between the index write and the checkpoint
    commit) reproduces its ORIGINAL verdicts rather than matching
    itself."""
    import os as _os

    from weatherflow_spark.operators.sig_index import (
        admit_with_index,
        write_signature_batch,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from weatherflow_spark.operators.sig_index import (
            migrate_flat_index_to_batched,
        )

        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)  # stable for 3 uses
        checkpoints = [batch_df]
        try:
            # Upgrade path: an index built by the flat batch API must
            # move its root files into a batch_id=-1 slice before this
            # sink writes batch_id=N siblings — Spark cannot read a
            # root that mixes leaf files with partition dirs (r9
            # review).
            migrate_flat_index_to_batched(index_path)
            sig_dir = _os.path.join(index_path, "sigs")
            if not _os.path.exists(sig_dir):
                # Cold start: the first batch seeds the index;
                # everything in it is 'new' by definition. Seeded
                # through the same per-batch slice so the index stays
                # one partitioned layout and the seed itself is
                # replay-idempotent.
                write_signature_batch(batch_df, index_path, batch_id)
                verdicts = batch_df.select(
                    "doc_id",
                    F.lit("new").alias("verdict"),
                    F.lit(None).cast("double").alias("best_jaccard"),
                )
            else:
                verdicts = admit_with_index(spark, batch_df, index_path)
                verdicts = verdicts.localCheckpoint(eager=True)
                checkpoints.append(verdicts)
                new_ids = verdicts.where(F.col("verdict") == "new").select(
                    "doc_id"
                )
                write_signature_batch(
                    batch_df.join(F.broadcast(new_ids), "doc_id"),
                    index_path,
                    batch_id,
                )
            verdicts.write.mode("overwrite").parquet(
                _os.path.join(verdicts_path, f"batch_id={batch_id}")
            )
        finally:
            # a long-running stream must not keep every batch's blocks
            for cp in checkpoints:
                release_checkpoint(cp)

    return _sink
