"""Continuous aggregates: incrementally-maintained rollup tables
(the "hypertable rollup" pattern — TimescaleDB continuous aggregates
/ materialized-view maintenance, expressed Spark-first).

The reference's star schema exists to serve time-grain rollups
(SURVEY §2.5 A1; W_TIME_DIM carries month/quarter/season columns,
create_tables.sql:24-28) but recomputes nothing incrementally — every
consumer query would re-scan all facts. At 100 TB the only viable
posture is: maintain a small *partial-aggregate* table keyed by
(grain bucket, group keys), update only the buckets a new batch
touches, and answer rollup queries from the partials.

Correctness hinges on the aggregate state being **mergeable and
exact**: counts and integer-scaled sums recombine associatively, so

    merge(partials(batch A), partials(batch B)) ==
        partials(A ∪ B)          (bit-exact, any split, any order)

which is the same algebra Spark's own partial/final HashAggregate
uses — applied across *jobs* instead of across tasks. Min/max carry
the same property; averages are derived at read time (never stored —
a stored average doesn't merge).

Write discipline: partials are partitioned by the grain bucket and
maintained with dynamic partition overwrite (operators/upsert.py),
so a batch touching one day rewrites one day of partials — idempotent
under replay, and the rollup table stays ~|buckets × groups| rows
regardless of fact volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.operators.caching import release_checkpoint
from weatherflow_spark.operators.upsert import overwrite_partitions

# Partial-state columns: everything needed to answer count/sum/avg/
# min/max rollups, all exactly mergeable.
_STATE_COLS = ["n", "sum_scaled", "min_value", "max_value"]


def event_partials(events: DataFrame, scale: int = 100) -> DataFrame:
    """Per (event_date, event_type): the mergeable aggregate state of
    `value` — count, exact ×scale integer sum, min, max. One
    map-side-combinable pass over the batch."""
    p = F.lit(float(scale))
    return (
        events.withColumn("event_date", F.to_date("ts"))
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * p + F.lit(0.5))).alias("sum_scaled"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def write_rollup(events: DataFrame, path: str, scale: int = 100) -> None:
    """Materialize the partial table, partitioned by grain bucket."""
    overwrite_partitions(event_partials(events, scale), path, ["event_date"])


def refresh_rollup(
    spark: SparkSession, new_batch: DataFrame, path: str, scale: int = 100
) -> None:
    """Incremental maintenance: recompute partials ONLY for the grain
    buckets (dates) present in ``new_batch`` — reading the affected
    facts from the batch itself — and dynamically overwrite those
    partitions. Buckets the batch doesn't touch keep their files
    byte-identical. Assumes the batch carries each touched bucket's
    full data (micro-batch == the bucket's new content); for
    out-of-order LATE data use :func:`merge_rollup`, which folds the
    batch's partials into the bucket's EXISTING partials — no fact
    re-read at all.
    """
    overwrite_partitions(event_partials(new_batch, scale), path, ["event_date"])


def merge_rollup(
    spark: SparkSession, late_batch: DataFrame, path: str, scale: int = 100
) -> None:
    """Late-data maintenance:
    fold a batch of NEW facts for already-materialized buckets into
    the partial table WITHOUT re-reading any facts — the whole point
    of keeping the state mergeable. The batch's partials merge with
    the touched buckets' existing partials by the aggregate algebra
    itself (counts and scaled sums add, min/max combine), and only
    those bucket partitions rewrite. Cost: one pass over the late
    batch + a read of |touched buckets × groups| partial rows — the
    fact table is never touched.

    Contract: ``late_batch`` rows must be NEW events (not replays of
    rows already folded in) — merge is additive; replay-safety for
    at-least-once delivery belongs to the upstream dedup
    (streaming dropDuplicatesWithinWatermark / upsert keys).
    """
    import os

    batch_partials = event_partials(late_batch, scale)
    existing: DataFrame | None = None
    if os.path.exists(path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(path)
    ):
        touched = [
            r.event_date
            for r in batch_partials.select("event_date").distinct().collect()
        ]
        # eqNullSafe per touched value, not isin: a NULL event_date
        # (null ts → __HIVE_DEFAULT_PARTITION__) never matches isin,
        # so that bucket's existing partials would be skipped and the
        # dynamic overwrite would replace them with batch-only
        # partials — silent loss (the upsert_by_key NULL-partition
        # fix, applied here too).
        pred = F.lit(False)
        for v in touched:
            pred = pred | F.col("event_date").eqNullSafe(F.lit(v))
        # read_live: on a rollup table with deletion vectors the live
        # files still hold the deleted partials.
        from weatherflow_spark.operators.snaplog import read_live

        existing = read_live(spark, path).where(pred)  # partition-pruned
    if existing is None:
        overwrite_partitions(batch_partials, path, ["event_date"])
        return
    merged = (
        existing.unionByName(batch_partials)
        .groupBy("event_date", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_scaled").alias("sum_scaled"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    # Materialize before the overwrite rewrites the files the merged
    # plan reads (the upsert_by_key discipline), and drop the blocks
    # once the overwrite has committed.
    merged = merged.localCheckpoint(eager=True)
    try:
        overwrite_partitions(merged, path, ["event_date"])
    finally:
        release_checkpoint(merged)


def read_rollup(
    spark: SparkSession, path: str, grain: str = "event_date", scale: int = 100
) -> DataFrame:
    """Answer the rollup from partials: re-aggregate the (tiny) state
    table at the requested grain — ``event_date`` passes partials
    through; ``month``/coarser grains merge buckets. avg derives from
    the exact state. Scans |buckets × groups| rows, never facts.
    """
    from weatherflow_spark.operators.snaplog import read_live

    p = float(scale)
    partials = read_live(spark, path)  # deletion vectors applied
    if grain == "event_date":
        keys = [F.col("event_date")]
    else:
        keys = [F.date_trunc(grain, F.col("event_date")).cast("date").alias(grain)]
    merged = partials.groupBy(*keys, F.col("event_type")).agg(
        F.sum("n").alias("n"),
        F.sum("sum_scaled").alias("sum_scaled"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )
    key_name = "event_date" if grain == "event_date" else grain
    return merged.select(
        key_name,
        "event_type",
        "n",
        (F.col("sum_scaled") / F.lit(p)).alias("sum_value"),
        (
            (F.col("sum_scaled").cast("double") / F.lit(p))
            / F.col("n").cast("double")
        ).alias("avg_value"),
        "min_value",
        "max_value",
    )
