"""Serving-tier certification queries (E16 continuous aggregates,
E18 global row indexing) — the two operator surfaces that previously
had only pytest evidence and no driver-checkable query form.

Both are *hybrid* builders: they perform a bounded eager step (E16
writes ~|buckets x groups| partial rows to a scratch dir; E18 runs
the one-row-per-partition count pass) and return the serving
DataFrame whose values the DuckDB oracle reproduces from the raw
tables. That IS the certification claim:

- E16: a month-grain rollup answered ONLY from incrementally
  maintained partials (two disjoint batches written via dynamic
  partition overwrite, then merged at read time) equals the direct
  aggregation over every raw event.
- E18: the distributed two-pass zipWithIndex (range partition ->
  per-partition counts -> broadcast prefix offsets) equals
  ``row_number() OVER (ORDER BY key) - 1`` bit-for-bit — without the
  single-task global window that spec would plan.

Reference parity: the reference's star schema serves time-grain
rollups by re-scanning facts per query (dags/etl.py load tier); the
partial-aggregate table is the posture that survives 100 TB.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.io import load_table, table_bytes
from weatherflow_spark.operators.caching import tracked_persist
from weatherflow_spark.operators.indexing import assign_global_index
from weatherflow_spark.operators.overlap import no_broadcast_session
from weatherflow_spark.operators.rollup import (
    read_rollup,
    refresh_rollup,
    write_rollup,
)

ROLLUP_SCALE = 100  # cents — the partial state's exact integer unit


def _scratch_dir(sf_dir: str) -> str:
    """Stable per-(SF, process) scratch path: stable within a process
    so repeated builds/reps are idempotent overwrites (bounded /tmp
    growth), per-process so a driver run and a concurrent pytest
    session can never interleave writes on the same table paths."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(
        tempfile.gettempdir(), f"wf_rollup_serve_{tag}_{os.getpid()}"
    )


def q_rollup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 driver row: maintain the continuous-aggregate partial table
    through ALL THREE maintenance paths — initial build (even event
    dates), incremental refresh (odd dates, minus the late slice),
    and the late-data MERGE (odd dates with odd event_id folded into
    the already-materialized odd-date buckets via the mergeable
    algebra — zero fact re-reads, operators/rollup.merge_rollup) —
    then answer a MONTH-grain rollup purely from the partials. The
    oracle aggregates the raw events directly, so ONE hash certifies
    build + refresh + late-merge + coarser-grain re-aggregation
    together. Doubles are pinned (sum/min/max as exact cents, avg as
    an e6 integer)."""
    from weatherflow_spark.operators.rollup import merge_rollup

    path = os.path.join(_scratch_dir(sf_dir), "partials")
    import shutil

    shutil.rmtree(path, ignore_errors=True)  # full reset: replayable
    events = load_table(spark, sf_dir, "events")
    day = F.dayofmonth(F.to_date("ts"))
    late = (F.col("event_id") % 2 == 1) & (day % 2 == 1)
    write_rollup(events.where(day % 2 == 0), path, ROLLUP_SCALE)
    refresh_rollup(
        spark, events.where((day % 2 == 1) & ~late), path, ROLLUP_SCALE
    )
    merge_rollup(spark, events.where(late), path, ROLLUP_SCALE)
    served = read_rollup(spark, path, grain="month", scale=ROLLUP_SCALE)
    return served.select(
        F.date_format(F.col("month"), "yyyy-MM-dd").alias("month"),
        "event_type",
        "n",
        F.expr("cast(floor(sum_value * 100 + 0.5) as bigint)").alias("sum_cents"),
        F.expr("cast(floor(avg_value * 1e6 + 0.5) as bigint)").alias("avg_e6"),
        F.expr("cast(floor(min_value * 100 + 0.5) as bigint)").alias("min_cents"),
        F.expr("cast(floor(max_value * 100 + 0.5) as bigint)").alias("max_cents"),
    )


# The oracle recomputes the served rollup from RAW events: the avg
# replays read_rollup's exact op order ((double(sum_scaled)/100)/n)
# so the doubles are bit-identical before the e6 pin.
ORACLE_ROLLUP_SERVE = """
    WITH g AS (
        SELECT date_trunc('month', CAST(ts AS DATE)) AS m, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sum_scaled,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(m, '%Y-%m-%d') AS month, event_type, n,
           CAST(floor((CAST(sum_scaled AS DOUBLE) / 100.0) * 100 + 0.5)
               AS BIGINT) AS sum_cents,
           CAST(floor((CAST(sum_scaled AS DOUBLE) / 100.0)
               / CAST(n AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS avg_e6,
           CAST(floor(min_value * 100 + 0.5) AS BIGINT) AS min_cents,
           CAST(floor(max_value * 100 + 0.5) AS BIGINT) AS max_cents
    FROM g
"""


def q_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 driver row: dense 0..N-1 indexing of orders in o_orderkey
    order via the distributed two-pass zipWithIndex
    (operators/indexing.py:32) — range repartition on sampled
    boundaries, per-partition counts (one row per partition), prefix
    offsets broadcast into the indexed pass. The oracle is the
    semantic spec ``row_number() OVER (ORDER BY o_orderkey) - 1``,
    whose physical plan Spark would funnel through ONE task — the
    operator exists precisely to avoid that at 100 TB."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    return assign_global_index(orders, "o_orderkey").select(
        "o_orderkey", "row_index"
    )


ORACLE_GLOBAL_INDEX = """
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT)
               AS row_index
    FROM orders
"""


def q_grouped_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E77 driver row: the distributed exact per-group rank
    (operators/indexing.assign_grouped_rank) over orders — every
    order's dense 1-based rank within its priority class by
    (o_totalprice, o_orderkey). The oracle is the window spec
    ``row_number() OVER (PARTITION BY ... ORDER BY ...)``, whose
    physical plan pins each group to ONE task; the operator
    range-partitions on (group, order) instead so a dominant group
    spans partitions (the machinery behind the perplexity filter's
    and the domain quota's skew paths — this row hash-certifies it
    standalone)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    from weatherflow_spark.operators.indexing import assign_grouped_rank

    return assign_grouped_rank(
        orders, ["o_orderpriority"], ["o_totalprice", "o_orderkey"]
    ).select("o_orderkey", "o_orderpriority", "rank")


ORACLE_GROUPED_RANK = """
    SELECT o_orderkey, o_orderpriority,
           CAST(row_number() OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice ASC, o_orderkey ASC) AS BIGINT) AS rank
    FROM orders
"""


UPSERT_DEL_MOD = 3    # base = orders with o_orderkey % 3 != 0
UPSERT_BATCH_MOD = 5  # batch = orders with o_orderkey % 5 == 0 (price +1)
COMPACT_PART_MOD = 7  # compaction input = orders with o_orderkey % 7 != 0


def q_upsert_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 driver row: the MERGE-upsert's semantics certified through
    REAL file writes — write a base table (orders minus every %3 key,
    partitioned by o_orderpriority), apply the SAME batch (every %5
    key with price +1.0) through ``upsert_by_key`` TWICE (the
    replay-idempotency contract: an Airflow retry re-delivers the
    batch; the reference's uuid keys duplicate facts, dags/etl.py:103,
    utils/database.py:25-34), then serve a per-priority summary from
    the table on disk. The oracle derives the expected single-apply
    merge directly from raw orders — a hash match certifies
    replace-by-key, keep-others, partition pruning, AND idempotent
    replay in one row set."""
    import shutil

    from weatherflow_spark.operators.upsert import upsert_by_key

    path = os.path.join(_scratch_dir(sf_dir), "upsert_tbl")
    shutil.rmtree(path, ignore_errors=True)  # full reset: replayable query
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    base = orders.where(F.col("o_orderkey") % UPSERT_DEL_MOD != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    batch = orders.where(F.col("o_orderkey") % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])  # replay
    served = spark.read.parquet(path)
    return served.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).alias(
            "sum_cents"
        ),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        F.sum("o_orderkey").alias("key_sum"),
    )


ORACLE_UPSERT_SERVE = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    batch AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    merged AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL
        SELECT * FROM batch
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM merged GROUP BY o_orderpriority
"""


def q_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 driver row: compaction certified content-exact through real
    writes — scatter a subset of orders across 16 small files, compact
    to ~1 target file (range-sorted on o_orderkey so min/max stats
    are restored), and serve an order-independent digest of the
    compacted table. The oracle computes the same digest from raw
    orders, so a hash match certifies that the rewrite lost nothing,
    duplicated nothing, and changed no value — the anti-entropy
    discipline (E71) applied to the layout operator."""
    import shutil

    from weatherflow_spark.operators.layout import compact

    path = os.path.join(_scratch_dir(sf_dir), "compact_tbl")
    shutil.rmtree(path, ignore_errors=True)
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    subset = (
        load_table(spark, sf_dir, "orders")
        .select(*cols)
        .where(F.col("o_orderkey") % COMPACT_PART_MOD != 0)
    )
    subset.repartition(16).write.mode("overwrite").parquet(path)
    compact(spark, path, target_file_bytes=1 << 30, sort_col="o_orderkey")
    served = spark.read.parquet(path)
    return served.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        F.sum("o_orderkey").alias("key_sum"),
        F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).alias(
            "sum_cents"
        ),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


ORACLE_COMPACT_SERVE = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders WHERE o_orderkey % {COMPACT_PART_MOD} <> 0
"""


CDC_DEL_MOD = 11   # feed deletes: %11 keys (that are not also upserts)
CDC_UPS_MOD = 7    # feed upserts: %7 keys, price +2.5
CDC_PRICE_BUMP = 2.5  # binary-exact


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-apply driver row: the consumer half of the E61 snapshot
    diff certified through REAL writes — write the orders base table
    (partitioned by priority), apply a deterministic change feed
    (DELETE every %{CDC_DEL_MOD} key, UPSERT every %{CDC_UPS_MOD} key
    with price +{CDC_PRICE_BUMP}) through ``apply_changes`` TWICE
    (replay idempotence), and serve a per-priority digest of the
    table on disk. The oracle derives the expected single-apply state
    from raw orders, so one hash certifies delete-by-tombstone,
    replace-by-key, partition-scoped rewrites, and idempotent replay."""
    import shutil

    from weatherflow_spark.operators.upsert import apply_changes

    path = os.path.join(_scratch_dir(sf_dir), "cdc_tbl")
    shutil.rmtree(path, ignore_errors=True)
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    k = F.col("o_orderkey")
    deletes = orders.where((k % CDC_DEL_MOD == 0) & (k % CDC_UPS_MOD != 0)).select(
        *cols, F.lit("D").alias("op")
    )
    upserts = orders.where(k % CDC_UPS_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(CDC_PRICE_BUMP)).alias("o_totalprice"),
        "o_orderpriority",
        F.lit("U").alias("op"),
    )
    feed = deletes.unionByName(upserts)
    apply_changes(spark, feed, path, ["o_orderkey"], "op", ["o_orderpriority"])
    apply_changes(spark, feed, path, ["o_orderkey"], "op", ["o_orderpriority"])
    served = spark.read.parquet(path)
    return served.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")).alias(
            "sum_cents"
        ),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        F.sum("o_orderkey").alias("key_sum"),
    )


ORACLE_CDC_APPLY = f"""
    WITH merged AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE NOT (o_orderkey % {CDC_DEL_MOD} = 0
                   AND o_orderkey % {CDC_UPS_MOD} <> 0)
          AND o_orderkey % {CDC_UPS_MOD} <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + {CDC_PRICE_BUMP},
               o_orderpriority
        FROM orders WHERE o_orderkey % {CDC_UPS_MOD} = 0
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM merged GROUP BY o_orderpriority
"""


def _priority_digest(df: DataFrame, tag_col: str, tag: str) -> DataFrame:
    """Shared per-priority digest for the versioned-fixture rows
    (count, integer cents sum, key xor, key sum) — one definition so
    the E90/E91 suite branches and singles can never drift apart on
    rounding or column naming (r10 review)."""
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("sum_cents"),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        F.sum("o_orderkey").alias("key_sum"),
    ).select(
        F.lit(tag).alias(tag_col),
        "o_orderpriority",
        "n_rows",
        "sum_cents",
        "key_xor",
        "key_sum",
    )


TT_DEL_MOD = 7  # time-travel feed: DELETE every o_orderkey % 7 == 0


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E90 driver row: the snapshot log + time-travel read certified
    through REAL versioned writes (operators/snaplog.py) — build a
    versioned orders table and walk it through the full commit family:

    - v1: bulk seed (base = orders minus every %{UPSERT_DEL_MOD} key)
      + explicit ``record_commit`` (full walk — first version),
    - v2: keyed upsert (every %{UPSERT_BATCH_MOD} key, price +1)
      through the choke point — a SCOPED commit (touched partitions
      walked, the rest carried from v1's entry),
    - v3: the SAME batch replayed — a new version whose content must
      equal v2 bit-for-bit (replay idempotence inside the hash),
    - v4/head: a CDC delete feed (every %{TT_DEL_MOD} key) — another
      scoped commit.

    Serve per-(version, priority) digests of ``read_version(1..3)``
    and the default head read, all from the retention mirror — the
    live tree is never consulted. The oracle derives each version's
    relation straight from raw orders, so ONE hash certifies: every
    commit mints exactly one version, time travel reconstructs
    pre-upsert and pre-delete states exactly, scoped commits carry
    untouched files correctly (twice), and replay changes content
    never history semantics. 100 TB posture: versions are O(touched
    files) metadata + hard links, reads are manifest-driven scans —
    nothing here rescans or copies data."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
    )
    from weatherflow_spark.operators.upsert import apply_changes, upsert_by_key

    path = os.path.join(_scratch_dir(sf_dir), "tt_tbl")
    # Reset the dataset AND its sibling state (log, retention mirror,
    # lock, version manifest): the query must be replayable per run.
    for d in (path, path + ".__snaplog", path + ".__retain"):
        shutil.rmtree(d, ignore_errors=True)
    for f_ in (path + ".__versions.json", path + ".__lock"):
        try:
            os.unlink(f_)
        except OSError:
            pass

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    base = orders.where(k % UPSERT_DEL_MOD != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    record_commit(path)  # v1

    batch = orders.where(k % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])  # v2
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])  # v3 = replay
    deletes = orders.where(k % TT_DEL_MOD == 0).select(
        *cols, F.lit("D").alias("op")
    )
    apply_changes(
        spark, deletes, path, ["o_orderkey"], "op", ["o_orderpriority"]
    )  # v4

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return _priority_digest(df, "version_tag", tag)

    # E108 certification (r13 verdict #6): the head read's version
    # resolution must be O(commits since the checkpoint pointer) —
    # ZERO listings of the log directory. At the reference's own 288
    # loads/day cadence a year of history is ~10^5 entries per table;
    # an O(#versions) listdir on every head read is the cost the
    # pointer exists to remove, and a regression here is invisible to
    # hash checks (the listing is correct, just unbounded). Spy on
    # os.listdir for exactly the head-resolution window.
    calls: list[str] = []
    real_listdir = os.listdir

    def _spy(p="."):
        calls.append(str(p))
        return real_listdir(p)

    os.listdir = _spy
    try:
        head_read = read_version(spark, path)
    finally:
        os.listdir = real_listdir
    log_listings = [
        c for c in calls if c.rstrip("/").endswith(".__snaplog")
    ]
    if log_listings:
        raise RuntimeError(
            "E108 regressed: head resolution listed the snapshot log "
            f"directory {len(log_listings)} time(s) — the checkpoint "
            "pointer + forward probe must bound it to zero "
            f"({log_listings[:3]})"
        )

    return (
        digest(read_version(spark, path, 1), "v1")
        .unionByName(digest(read_version(spark, path, 2), "v2"))
        .unionByName(digest(read_version(spark, path, 3), "v3"))
        .unionByName(digest(head_read, "head"))
    )


ORACLE_TIME_TRAVEL = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    batch AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    merged AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL
        SELECT * FROM batch
    ),
    final AS (
        SELECT * FROM merged WHERE o_orderkey % {TT_DEL_MOD} <> 0
    ),
    tagged AS (
        SELECT 'v1' AS version_tag, * FROM base
        UNION ALL SELECT 'v2', * FROM merged
        UNION ALL SELECT 'v3', * FROM merged
        UNION ALL SELECT 'head', * FROM final
    )
    SELECT version_tag, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM tagged GROUP BY version_tag, o_orderpriority
"""


def q_time_travel_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E99 driver row: the OBJECT-STORE retention mode certified
    through the exact commit walk E90 certifies in mirror mode — same
    seed → scoped-equivalent upsert → replay → CDC delete sequence,
    but on a table initialised with ``init_snapshot_log(mode=
    "manifest")``: writers never delete committed files (the upsert
    APPENDS and logically replaces via the version entry; the delete
    that empties keys carves them out with no rmtree), ``read_version``
    serves every version from the LIVE tree's manifest-listed files,
    and the query RAISES unless the retention mirror stayed completely
    empty (zero hard links — the property that makes this mode run
    as-is on S3-class storage, where links don't exist). The oracle is
    ORACLE_TIME_TRAVEL **verbatim**: both modes must reconstruct
    identical logical history, so one hash certifies the manifest
    read path AND its equivalence to the mirror form."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
    )
    from weatherflow_spark.operators.upsert import apply_changes, upsert_by_key

    path = os.path.join(_scratch_dir(sf_dir), "tt_tbl_manifest")
    for d in (path, path + ".__snaplog", path + ".__retain"):
        shutil.rmtree(d, ignore_errors=True)
    for f_ in (path + ".__versions.json", path + ".__lock"):
        try:
            os.unlink(f_)
        except OSError:
            pass

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    base = orders.where(k % UPSERT_DEL_MOD != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path, mode="manifest")
    record_commit(path)  # v1 (clean tree: full walk is exact)

    batch = orders.where(k % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])  # v2
    upsert_by_key(spark, batch, path, ["o_orderkey"], ["o_orderpriority"])  # v3
    deletes = orders.where(k % TT_DEL_MOD == 0).select(
        *cols, F.lit("D").alias("op")
    )
    apply_changes(
        spark, deletes, path, ["o_orderkey"], "op", ["o_orderpriority"]
    )  # v4

    # The mode's defining property, checked with teeth: NOTHING was
    # ever hard-linked into a mirror.
    retain = path + ".__retain"
    if os.path.isdir(retain) and any(
        fs for _, _, fs in os.walk(retain)
    ):
        raise RuntimeError(
            "manifest-mode table hard-linked files into its retention "
            "mirror — the object-store contract regressed"
        )

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return _priority_digest(df, "version_tag", tag)

    return (
        digest(read_version(spark, path, 1), "v1")
        .unionByName(digest(read_version(spark, path, 2), "v2"))
        .unionByName(digest(read_version(spark, path, 3), "v3"))
        .unionByName(digest(read_version(spark, path), "head"))
    )


VDIFF_DEL_MOD = 7  # version-diff feed: DELETE %7 keys (not re-upserted)


def _build_versioned_orders(
    spark: SparkSession, sf_dir: str, name: str
) -> str:
    """Shared E91/E92 fixture builder: a versioned orders table at
    scratch ``name`` — v1 = base (orders minus every %{UPSERT_DEL_MOD}
    key), v2 via one mixed CDC feed (upsert every %{UPSERT_BATCH_MOD}
    key with price +1, delete every %{VDIFF_DEL_MOD} key not
    re-upserted). Resets the dataset AND its snaplog/lock/manifest
    siblings first, so every call is a replayable rebuild. The suite
    builds this ONCE and serves both the version-diff and the IVM
    branches from it (the builds are identical by construction; the
    singles keep building their own)."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
    )
    from weatherflow_spark.operators.upsert import apply_changes

    path = os.path.join(_scratch_dir(sf_dir), name)
    for d in (path, path + ".__snaplog", path + ".__retain"):
        shutil.rmtree(d, ignore_errors=True)
    for f_ in (path + ".__versions.json", path + ".__lock"):
        try:
            os.unlink(f_)
        except OSError:
            pass

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    base = orders.where(k % UPSERT_DEL_MOD != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    record_commit(path)  # v1

    ups = orders.where(k % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
        F.lit("U").alias("op"),
    )
    dels = base.where(
        (k % VDIFF_DEL_MOD == 0) & (k % UPSERT_BATCH_MOD != 0)
    ).select(*cols, F.lit("D").alias("op"))
    apply_changes(
        spark,
        dels.unionByName(ups),
        path,
        ["o_orderkey"],
        "op",
        ["o_orderpriority"],
    )  # v2
    return path


def q_version_diff(
    spark: SparkSession, sf_dir: str, _table: str | None = None
) -> DataFrame:
    """E91 driver row: the snaplog version-diff certified as an
    OPERATIONAL CDC feed through real writes. Build a versioned
    orders table (v1 = base), move it to v2 with a mixed feed
    (upsert every %{UPSERT_BATCH_MOD} key with price +1, delete every
    %{VDIFF_DEL_MOD} key not re-upserted), then:

    - derive ``diff_versions(v1, v2)`` — U rows must be EXACTLY the
      upsert batch (new keys and changed rows with their new values),
      D rows exactly the deleted keys with their OLD values;
    - ROUND-TRIP: write a fresh copy of v1 and ``apply_changes`` the
      derived feed into it — the reconstructed table must digest
      identically to v2.

    Served long-wise as (section, priority) digests; the oracle
    derives all three sections from raw orders. One hash certifies
    the diff's multiset semantics, the tombstones' partition-carrying
    contract, and the round-trip law (diff ∘ apply = identity on
    versions). The reference's overwrite-in-place MySQL warehouse
    cannot produce a between-loads change feed at all
    (dags/utils/database.py:25-34); with the retention mirror it
    falls out of two exchanges over any two retained versions.

    ``_table``: suite-internal hook — a prebuilt fixture path from
    :func:`_build_versioned_orders` (the suite builds one fixture for
    the E91 and E92 branches); the registered single builds its own."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        diff_versions,
        read_version,
    )
    from weatherflow_spark.operators.upsert import apply_changes

    path = _table or _build_versioned_orders(spark, sf_dir, "vdiff_tbl")
    rt = os.path.join(_scratch_dir(sf_dir), "vdiff_roundtrip")
    shutil.rmtree(rt, ignore_errors=True)
    for f_ in (rt + ".__versions.json", rt + ".__lock"):
        try:
            os.unlink(f_)
        except OSError:
            pass

    feed = diff_versions(spark, path, 1, 2, ["o_orderkey"])
    feed = tracked_persist(feed)  # consumed 3x below

    # round-trip: v1 copy + derived feed must reconstruct v2
    read_version(spark, path, 1).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(rt)
    apply_changes(
        spark, feed, rt, ["o_orderkey"], "op", ["o_orderpriority"]
    )

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return _priority_digest(df, "section", tag)

    return (
        digest(feed.where(F.col("op") == "U"), "diff_u")
        .unionByName(digest(feed.where(F.col("op") == "D"), "diff_d"))
        .unionByName(digest(spark.read.parquet(rt), "roundtrip"))
    )


ORACLE_VERSION_DIFF = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    ups AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    dels AS (
        SELECT * FROM base
        WHERE o_orderkey % {VDIFF_DEL_MOD} = 0
          AND o_orderkey % {UPSERT_BATCH_MOD} <> 0
    ),
    v2 AS (
        SELECT * FROM base
        WHERE o_orderkey % {UPSERT_BATCH_MOD} <> 0
          AND NOT (o_orderkey % {VDIFF_DEL_MOD} = 0
                   AND o_orderkey % {UPSERT_BATCH_MOD} <> 0)
        UNION ALL
        SELECT * FROM ups
    ),
    tagged AS (
        SELECT 'diff_u' AS section, * FROM ups
        UNION ALL SELECT 'diff_d', * FROM dels
        UNION ALL SELECT 'roundtrip', * FROM v2
    )
    SELECT section, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM tagged GROUP BY section, o_orderpriority
"""


def q_ivm_rollup(
    spark: SparkSession, sf_dir: str, _table: str | None = None
) -> DataFrame:
    """E92 driver row: incremental view maintenance — a per-priority
    aggregate kept current from the E91 change feed, the FACTS NEVER
    RESCANNED. Build the same versioned table as q_version_diff
    (v1 = base; v2 via a mixed upsert+delete feed), aggregate v1 ONCE
    (the initial build — the only full scan this view ever pays),
    then refresh it purely from deltas:

    - plus  = the feed's U rows (new values),
    - minus = the feed's D tombstones (old rows, CDC contract) plus
      the pre-image of every changed key — the v1 mirror read pruned
      to the feed's touched PARTITIONS (bytes bound), then a
      broadcast key semi-join (rows bound).

    The refreshed aggregate must hash-match a DIRECT aggregation of
    the v2 relation (the oracle) — sum, count, key-sum AND the xor
    digest (xor is self-inverse, so the delta algebra covers it).
    This is the steady-state dashboard posture at 100 TB: aggregate
    cost tracks the change feed, never the fact table (the reference
    re-reads its tables wholesale per load, dags/etl.py)."""
    from weatherflow_spark.operators.ivm import delta_update_agg
    from weatherflow_spark.operators.snaplog import (
        diff_versions,
        read_version,
    )

    path = _table or _build_versioned_orders(spark, sf_dir, "ivm_tbl")

    MEASURES = {
        "n_rows": ("sum", "1"),
        "sum_cents": ("sum", "floor(o_totalprice * 100 + 0.5)"),
        "key_xor": ("xor", "o_orderkey"),
        "key_sum": ("sum", "o_orderkey"),
    }

    def direct_agg(df: DataFrame) -> DataFrame:
        aggs = []
        for name, (kind, expr) in MEASURES.items():
            if kind == "sum":
                aggs.append(
                    F.sum(F.expr(f"cast({expr} as bigint)")).alias(name)
                )
            else:
                aggs.append(
                    F.expr(f"bit_xor(cast({expr} as bigint))").alias(name)
                )
        return df.groupBy("o_orderpriority").agg(*aggs)

    v1 = read_version(spark, path, 1)
    old_agg = direct_agg(v1)  # the initial build — the only full scan
    feed = diff_versions(spark, path, 1, 2, ["o_orderkey"])
    feed = tracked_persist(feed)  # consumed by plus + keys + minus
    u_rows = feed.where(F.col("op") == "U").drop("op")
    d_rows = feed.where(F.col("op") == "D").drop("op")
    # Pre-image of the changed keys. Two-level bound: the mirror read
    # is PRUNED to the feed's touched partitions (a tiny distinct-
    # collect — shows up as PartitionFilters on the version scan,
    # plan-audited), then the broadcast semi-join filters to exactly
    # the changed keys. At 100 TB the partition prune bounds bytes
    # read; the join bounds rows kept. VALID here because this feed
    # never moves a key across partitions (upserts keep their
    # priority by construction) — see the pruning contract in
    # operators/ivm.py for partition-moving feeds.
    touched_prios = [
        r[0] for r in u_rows.select("o_orderpriority").distinct().collect()
    ]
    old_changed = v1.where(
        F.col("o_orderpriority").isin(touched_prios)
    ).join(
        F.broadcast(u_rows.select("o_orderkey")), "o_orderkey", "left_semi"
    )
    return delta_update_agg(
        old_agg,
        plus=u_rows,
        minus=old_changed.unionByName(d_rows),
        group_cols=["o_orderpriority"],
        measures=MEASURES,
        count_col="n_rows",
    )


ORACLE_IVM_ROLLUP = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    ups AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    v2 AS (
        SELECT * FROM base
        WHERE o_orderkey % {UPSERT_BATCH_MOD} <> 0
          AND NOT (o_orderkey % {VDIFF_DEL_MOD} = 0
                   AND o_orderkey % {UPSERT_BATCH_MOD} <> 0)
        UNION ALL
        SELECT * FROM ups
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM v2 GROUP BY o_orderpriority
"""


BUCKETS = 8  # bucket count for the co-located join certification


def q_bucketed_join_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E93 driver row: the bucketed co-located fact⋈fact join
    certified through real writes — lineitem and orders are BOTH
    persisted bucketed (and sorted) by the join key with the same
    bucket count, then joined; the query RAISES unless the planned
    join has zero shuffle Exchange (each task streams bucket i of
    both sides — at 100 TB this removes the dominant cost of the
    fact-fact join family entirely, the layout decision the module
    doc calls out). The served digest hash-matches the oracle's plain
    join, so one row certifies the layout is both shuffle-free AND
    lossless. Scratch-backed external tables (per-SF, per-process
    names) keep replays idempotent and the warehouse dir untouched."""
    import shutil

    from weatherflow_spark.operators.bucketing import (
        colocated_join_is_shuffle_free,
        write_bucketed,
    )

    base = os.path.join(_scratch_dir(sf_dir), "bucketed")
    shutil.rmtree(base, ignore_errors=True)
    tag = (
        sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
        + f"_{os.getpid()}"
    )
    t_orders, t_li = f"wf_bj_orders_{tag}", f"wf_bj_lineitem_{tag}"

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    write_bucketed(
        orders, t_orders, ["o_orderkey"], BUCKETS,
        sort_cols=["o_orderkey"], path=os.path.join(base, "orders"),
    )
    write_bucketed(
        li, t_li, ["l_orderkey"], BUCKETS,
        sort_cols=["l_orderkey"], path=os.path.join(base, "lineitem"),
    )
    # Broadcast would make the zero-Exchange check vacuous (a small
    # orders side planning BroadcastHashJoin has no shuffle either,
    # so a lost bucket layout would still "pass" — r10 review): build
    # the certification join in the no-broadcast planning twin so the
    # property asserted is the bucketed co-location itself — without
    # ever touching the shared session's threshold (r15).
    nbs = no_broadcast_session(spark)
    joined = nbs.table(t_li).join(
        nbs.table(t_orders),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    if "SortMergeJoin" not in plan or not colocated_join_is_shuffle_free(
        joined
    ):
        raise RuntimeError(
            "bucketed lineitem⋈orders did not plan a zero-Exchange "
            "sort-merge join — the co-located layout regressed"
        )
    out = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr("cast(floor(l_quantity * 100 + 0.5) as bigint)")
        ).alias("qty_c"),
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("price_c"),
        F.expr("bit_xor(l_orderkey)").alias("key_xor"),
    )
    # Materialize in the twin so the executed join is the certified one.
    return tracked_persist(out)


ORACLE_BUCKETED_JOIN = """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS qty_c,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS price_c,
           bit_xor(l_orderkey) AS key_xor
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
"""


def _durable_scratch_base() -> str:
    """Scratch base for CROSS-SESSION layouts (the bucketed warehouse):
    deliberately NOT pid-tagged — the whole point of a standing layout
    is that a fresh session re-registers the on-disk build instead of
    rewriting two fact tables (r11 verdict #2). Concurrent processes
    are safe because bucketed_warehouse enters service via one atomic
    rename and validates its marker+spec before reuse."""
    return tempfile.gettempdir()


def _require_zero_shuffle_smj(
    df: DataFrame, what: str, max_exchanges: int = 0
) -> None:
    """The adoption certification's teeth: RAISE unless the executed
    plan is a SortMergeJoin plan with at most ``max_exchanges``
    shuffle Exchanges. Broadcast is disabled by the caller for the
    fact⋈fact join (a small build side would make the check vacuous —
    r10 review), so SortMergeJoin must appear; the Exchange count
    rejects every shuffle flavor (hash, range, rebalance) while
    permitting the deliberate BroadcastExchange of the dimension
    side. ``max_exchanges=0`` is the fully co-located form (Q3/Q18);
    queries whose FINAL aggregate re-groups on a non-bucket key
    (Q4's 5-priority count, Q12's ship-mode counts, Q21's
    per-supplier tally) certify with ``max_exchanges=1`` — the one
    allowed Exchange moves the tiny post-aggregation partials, and if
    the fact⋈fact join itself had shuffled, BOTH join sides would add
    Exchanges and the bound still trips."""
    from weatherflow_spark.operators.bucketing import (
        count_shuffle_exchanges,
    )

    plan = df._jdf.queryExecution().executedPlan().toString()
    n = count_shuffle_exchanges(df)
    if "SortMergeJoin" not in plan or n > max_exchanges:
        raise RuntimeError(
            f"{what}: expected a sort-merge plan with <= {max_exchanges} "
            f"shuffle Exchange(s) over the bucketed warehouse (got {n}) "
            "— the adopted layout regressed"
        )


# Size-based broadcast ceiling (r13 verdict #8): on-disk compressed
# parquet bytes of the DIM side above which the bucketed TPC-H routes
# degrade the dimension join to shuffle instead of pinning a
# broadcast. 256 MiB on disk is ~1-2 GiB deserialized — past any sane
# driver/executor broadcast budget; erring small only costs a shuffle,
# erring big OOMs the driver at SF where customer/supplier outgrow the
# hint the old code hard-coded. At the test SFs every dim is KBs-MBs,
# so the certified ≤1-Exchange plans are unchanged.
DIM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def _dim_broadcast(df: DataFrame, nbytes: int) -> DataFrame:
    """Broadcast ``df`` only when its on-disk footprint (from
    :func:`~weatherflow_spark.io.table_bytes` for raw tables, or
    ``table_status(path)['bytes']`` for versioned ones) is under
    :data:`DIM_BROADCAST_MAX_BYTES`; otherwise return it unhinted so
    the join degrades to shuffle. The bucketed routes disable the
    auto-broadcast threshold to protect the fact⋈fact merge, which
    also disables Spark's own size fallback — this check reinstates
    it from real file sizes instead of plan estimates."""
    return F.broadcast(df) if nbytes <= DIM_BROADCAST_MAX_BYTES else df


def q_tpch_q3_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 driver row: the E93 bucketed layout ADOPTED by the real
    TPC-H Q3 (r10 verdict #2 — E93 certified the layout on scratch
    digests while every TPC-H fact⋈fact plan still shuffled both
    sides). Q3 runs over :func:`~weatherflow_spark.operators.
    bucketing.bucketed_warehouse` tables: lineitem⋈orders is a pure
    bucket-to-bucket streaming merge, the revenue groupBy reuses the
    same partitioning (its keys are a superset of the orderkey), the
    segment dim stays an explicit broadcast, and the top-10 is a
    TakeOrdered heap — the ONLY exchange in the whole plan is the
    deliberate dimension broadcast. The query RAISES unless exactly
    that plan executed, and hash-matches the UNBUCKETED Q3 oracle
    verbatim, so one row certifies the layout is both adopted and
    lossless. At 100 TB the removed shuffle is both sides of the
    biggest join in the query."""
    from weatherflow_spark.operators.bucketing import bucketed_warehouse
    from weatherflow_spark.plans.queries import scaled_sum

    t_li, t_ord = bucketed_warehouse(spark, sf_dir, _durable_scratch_base())
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    cust = (
        load_table(nbs, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = nbs.table(t_ord).where(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = nbs.table(t_li).where(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            _dim_broadcast(cust, table_bytes(sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(scaled_sum(rev, 10_000).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )
    _require_zero_shuffle_smj(out, "tpch q3 (bucketed)")
    return tracked_persist(out)


def q_tpch_q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 driver row, second family member: TPC-H Q18 over the
    bucketed warehouse. Unlike the plain form (which broadcasts the
    qualifying-orders set), here the per-order quantity aggregate
    runs WITHOUT an exchange (groupBy on the bucket key), keeps the
    bucketed partitioning through the HAVING filter, and sort-merges
    back to orders bucket-to-bucket — the whole agg→join chain plans
    zero shuffle Exchange (certified by raise), with only the
    customer dim broadcast. Hash-matches the unbucketed Q18 oracle
    verbatim."""
    from weatherflow_spark.operators.bucketing import bucketed_warehouse
    from weatherflow_spark.plans.queries import scaled_sum
    from weatherflow_spark.plans.tpch import Q18_QTY_THRESHOLD

    t_li, t_ord = bucketed_warehouse(spark, sf_dir, _durable_scratch_base())
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    customer = load_table(nbs, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    big = (
        nbs.table(t_li)
        .groupBy("l_orderkey")
        .agg(scaled_sum(F.col("l_quantity"), 100).alias("total_qty"))
        .where(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    out = (
        nbs.table(t_ord)
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            _dim_broadcast(customer, table_bytes(sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias(
                "o_orderdate"
            ),
            F.expr(
                "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            ).alias("price_cents"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )
    _require_zero_shuffle_smj(out, "tpch q18 (bucketed)")
    return tracked_persist(out)


def _oracle_tpch_q3_bucketed() -> str:
    # The adoption claim IS oracle identity with the plain form.
    from weatherflow_spark.plans.stats import ORACLE_TPCH_Q3

    return ORACLE_TPCH_Q3


def _oracle_tpch_q18_bucketed() -> str:
    from weatherflow_spark.plans.tpch import ORACLE_TPCH_Q18

    return ORACLE_TPCH_Q18


def q_tpch_q4_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 (r12): TPC-H Q4 routed through the bucketed warehouse —
    the EXISTS semi-join (orders ⋉ late lineitem) is bucket-to-bucket
    on the orderkey with zero Exchange; the only shuffle left in the
    whole plan is the 5-row priority re-group after the semi join
    (``max_exchanges=1``). Predicate shape identical to the plain Q4
    (plans/tpch.py): derived commit/receipt lateness is line-LOCAL,
    filtering lineitem before the join. Hash-matches ORACLE_TPCH_Q4
    verbatim."""
    from weatherflow_spark.operators.bucketing import bucketed_warehouse
    from weatherflow_spark.plans.tpch import with_commit_receipt

    t_li, t_ord = bucketed_warehouse(spark, sf_dir, _durable_scratch_base())
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    orders = nbs.table(t_ord).where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = with_commit_receipt(
        nbs.table(t_li).select("l_orderkey", "l_linenumber", "l_shipdate")
    ).where(F.col("l_commitdate") < F.col("l_receiptdate"))
    out = (
        orders.join(
            li.select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )
    _require_zero_shuffle_smj(out, "tpch q4 (bucketed)", max_exchanges=1)
    return tracked_persist(out)


def q_tpch_q12_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 (r12): TPC-H Q12 routed through the bucketed warehouse —
    lineitem⋈orders is a pure bucket-to-bucket merge (the orderkey
    equi-join), leaving only the 2-mode conditional-count re-group
    (``max_exchanges=1``). Same predicate sandwich + derived shipmode
    dictionary as the plain Q12 (plans/tpch_ps.py); hash-matches
    ORACLE_TPCH_Q12 verbatim."""
    from weatherflow_spark.operators.bucketing import bucketed_warehouse
    from weatherflow_spark.plans.tpch import with_commit_receipt
    from weatherflow_spark.plans.tpch_ps import SHIP_MODES

    t_li, t_ord = bucketed_warehouse(spark, sf_dir, _durable_scratch_base())
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    li = nbs.table(t_li).where(
        (F.col("l_shipdate") >= F.lit("1995-12-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = with_commit_receipt(li).where(
        (F.col("l_receiptdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate").cast("date") < F.col("l_commitdate"))
    )
    mode = F.element_at(
        F.array(*[F.lit(m) for m in SHIP_MODES]),
        ((F.col("l_orderkey") + F.col("l_linenumber") * 3) % 7 + 1).cast(
            "int"
        ),
    )
    li = li.withColumn("l_shipmode", mode).where(
        F.col("l_shipmode").isin("MAIL", "SHIP")
    )
    orders = nbs.table(t_ord).select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
    )
    _require_zero_shuffle_smj(out, "tpch q12 (bucketed)", max_exchanges=1)
    return tracked_persist(out)


def q_tpch_q21_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 (r12): TPC-H Q21 routed through the bucketed warehouse —
    the heaviest member of the orderkey family. BOTH heavy stages ride
    the bucket partitioning: the lineitem⋈orders join merges
    bucket-to-bucket AND the per-order supplier profile re-uses the
    same hash partitioning, so neither shuffles. The plain form's two
    countDistinct aggregates would break that — Spark rewrites
    multi-distinct via ``Expand``, whose physical node reports
    UnknownPartitioning and forces a full re-shuffle of the 3×
    row-multiplied stream — so the profile is restated as a TWO-LEVEL
    exact aggregation: dedupe to (order, supplier, was_late) first
    (keys ⊇ the bucket key → no exchange, and no Expand row
    multiplication at all), then fold per order (key = the bucket key
    → no exchange). The only Exchange is the final per-supplier tally
    re-group (``max_exchanges=1``); the supplier dim stays an
    explicit broadcast and the top-20 is a TakeOrdered heap.
    Hash-matches ORACLE_TPCH_Q21 verbatim."""
    from weatherflow_spark.operators.bucketing import bucketed_warehouse
    from weatherflow_spark.plans.tpch import with_commit_receipt
    from weatherflow_spark.plans.tpch_ext import Q21_TOP

    t_li, t_ord = bucketed_warehouse(spark, sf_dir, _durable_scratch_base())
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    orders = (
        nbs.table(t_ord)
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = with_commit_receipt(
        nbs.table(t_li).select("l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate")
    ).select("l_orderkey", "l_suppkey", "l_commitdate", "l_receiptdate")
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    supplier = load_table(nbs, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    per_supp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late.cast("int")).alias("was_late"))
    )
    profile = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("was_late").alias("n_late"),
        F.max(
            F.when(F.col("was_late") == 1, F.col("l_suppkey"))
        ).alias("late_suppkey"),
    )
    out = (
        profile.where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("late_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            _dim_broadcast(supplier, table_bytes(sf_dir, "supplier")),
            F.col("late_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(Q21_TOP)
    )
    _require_zero_shuffle_smj(out, "tpch q21 (bucketed)", max_exchanges=1)
    return tracked_persist(out)


def q_tpch_q13_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 continuation (r13, VERDICT r12 #5): TPC-H Q13 routed
    through the SECOND standing layout — orders and customer
    co-bucketed + sorted by the custkey
    (``bucketing.bucketed_warehouse_cust``). The plain form shuffles
    BOTH sides of customer⟕orders at every scale; here the outer join
    merges bucket-to-bucket and the per-customer order count groups
    on the bucket key, so the ONLY Exchange in the whole plan is the
    tiny (c_count) distribution re-group (``max_exchanges=1``,
    broadcast disabled — raise-checked). Hash-matches ORACLE_TPCH_Q13
    verbatim."""
    from weatherflow_spark.operators.bucketing import (
        bucketed_warehouse_cust,
    )

    t_ord, t_cust = bucketed_warehouse_cust(
        spark, sf_dir, _durable_scratch_base()
    )
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    customer = nbs.table(t_cust).select("c_custkey")
    orders = (
        nbs.table(t_ord)
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    out = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )
    _require_zero_shuffle_smj(out, "tpch q13 (bucketed)", max_exchanges=1)
    return tracked_persist(out)


def q_tpch_q10_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E98 continuation (r13): TPC-H Q10 composed over BOTH standing
    layouts — the orderkey pair makes lineitem(R)⋈orders(quarter) a
    bucket-to-bucket merge (zero Exchange on either side), and the
    custkey pair makes the per-customer revenue join-back read
    customer WITHOUT a shuffle. The aggregate's single re-key
    (``repartition(n_buckets, o_custkey)`` — REPARTITION_BY_NUM, so
    AQE cannot coalesce it away from the bucket count) is the one
    Exchange in the plan (``max_exchanges=1``, broadcast disabled
    except the explicit 25-row nation hint — raise-checked): its
    output partitioning matches customer's bucketing exactly, so the
    join-back merges in place. The plain form (broadcast off) pays
    FOUR shuffles on the same shape. Hash-matches ORACLE_TPCH_Q10
    verbatim."""
    from weatherflow_spark.operators.bucketing import (
        bucketed_warehouse,
        bucketed_warehouse_cust,
    )
    from weatherflow_spark.plans.queries import scaled_sum

    n_buckets = 8
    t_li, t_ord = bucketed_warehouse(
        spark, sf_dir, _durable_scratch_base(), n_buckets=n_buckets
    )
    _, t_cust = bucketed_warehouse_cust(
        spark, sf_dir, _durable_scratch_base(), n_buckets=n_buckets
    )
    nbs = no_broadcast_session(spark)  # scoped -1: plan in the twin
    li = nbs.table(t_li).where(F.col("l_returnflag") == "R")
    orders = nbs.table(t_ord).where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = nbs.table(t_cust).select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(nbs, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_cust = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        # ONE re-key, placed BEFORE the aggregate so the groupBy
        # reuses it and its count equals the custkey bucket count
        # — the join-back then needs no further exchange on
        # either side.
        .repartition(n_buckets, F.col("o_custkey"))
        .groupBy("o_custkey")
        .agg(scaled_sum(rev, 10_000).alias("revenue"))
    )
    out = (
        per_cust.join(
            customer, F.col("o_custkey") == F.col("c_custkey")
        )
        .join(
            _dim_broadcast(nation, table_bytes(sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.expr(
                "cast(floor(c_acctbal * 100 + 0.5) as bigint)"
            ).alias("acctbal_cents"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )
    _require_zero_shuffle_smj(out, "tpch q10 (bucketed)", max_exchanges=1)
    return tracked_persist(out)


def _oracle_tpch_q13_bucketed() -> str:
    from weatherflow_spark.plans.tpch_ext import ORACLE_TPCH_Q13

    return ORACLE_TPCH_Q13


def _oracle_tpch_q10_bucketed() -> str:
    from weatherflow_spark.plans.tpch_ext import ORACLE_TPCH_Q10

    return ORACLE_TPCH_Q10


PC_HOT = "1-URGENT"  # the partition seeded with small files


def q_partition_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E101 driver row: partition-scoped small-file compaction PLANNED
    from the snapshot log's segments (operators/layout.py
    ``compact_partitions``) certified through real writes. Seed a
    priority-partitioned orders table with ONE hot partition holding
    12 small files (cold partitions hold one each), version it, run
    the planner — O(dirs) metadata, zero directory listing — and
    RAISE unless exactly the hot partition was compacted to one live
    file, a second run is a no-op, and the pre-compaction version
    still time-travels. Serve a per-priority digest of the compacted
    table; the oracle derives it from raw orders, so one hash
    certifies the maintenance rewrote the right partition and changed
    nothing."""
    import shutil

    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        entry_files,
        init_snapshot_log,
        read_version,
        record_commit,
        versions,
    )

    path = os.path.join(_scratch_dir(sf_dir), "pcompact_tbl")
    # reset the table AND its snapshot siblings — a stale log would
    # make record_commit mint v3 and the retain mirror grow without
    # bound across bench reps (r12 review)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".__snaplog", ignore_errors=True)
    shutil.rmtree(path + ".__retain", ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.where(F.col("o_orderpriority") != PC_HOT).coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(path)
    orders.where(F.col("o_orderpriority") == PC_HOT).repartition(
        12
    ).write.mode("append").partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    v_seed = record_commit(path)
    n_v1 = read_version(spark, path, v_seed).count()

    out = compact_partitions(spark, path, ["o_orderpriority"], max_files=8)
    hot_live = [
        r
        for r, _ in entry_files(path, versions(path)[-1])
        if r.startswith(f"o_orderpriority={PC_HOT}/")
    ]
    replay = compact_partitions(spark, path, ["o_orderpriority"], max_files=8)
    if (
        out["partitions_compacted"] != 1
        or len(hot_live) != 1
        or replay["partitions_compacted"] != 0
        or read_version(spark, path, v_seed).count() != n_v1
    ):
        raise RuntimeError(
            f"partition compaction regressed: {out} -> {len(hot_live)} "
            f"live hot file(s), replay {replay}"
        )
    return (
        read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("price_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


ORACLE_PARTITION_COMPACTION = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM orders
    GROUP BY o_orderpriority
"""


# delete_where constants: one partition's victims inside a narrow key
# range — fixed so the oracle SQL is a plain literal at every SF.
DW_PRI = "3-MEDIUM"
DW_LO, DW_HI = 100, 600


def q_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E102 driver row: predicate-scoped row-level DELETE
    (``operators/upsert.delete_where`` — the right-to-be-forgotten /
    bad-ingest-rollback op; the reference's star only ever INSERTs,
    dags/utils/database.py:25-34). Build a priority-partitioned,
    key-range-clustered orders copy, version it with o_orderkey
    file-skipping stats (E100), and delete one priority's rows inside
    a narrow key range. The query RAISES unless:

    - the victim scan was stats-PRUNED (≤ half the files opened — the
      sharp ≤¼ claim is ``q_file_skipping``'s; at the smallest SF the
      fixed range spans a third of the key space),
    - only the victim priority's partition was rewritten — the four
      untouched partitions' files are inode/mtime byte-identical,
    - the pre-delete version still serves ALL rows (time travel:
      deleted data recoverable until vacuum),
    - re-running the same delete matches ZERO rows (idempotent by
      construction — the victims are gone).

    Serve a per-priority digest of the head; the oracle applies
    ``WHERE NOT (predicate)`` to raw orders, so one hash certifies
    the delete removed exactly the matching rows and nothing else."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = os.path.join(_scratch_dir(sf_dir), "delwhere_tbl")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".__snaplog", ignore_errors=True)
    shutil.rmtree(path + ".__retain", ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    # Range-cluster by key, hive-partition by priority: each task's
    # per-priority file covers one narrow key range, so the zone maps
    # prune key-range predicates inside every partition.
    orders.repartitionByRange(16, F.col("o_orderkey")).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["o_orderkey"])
    v_seed = record_commit(path)
    n_seed = read_version(spark, path, v_seed).count()

    def cold_files() -> dict[str, tuple[int, int]]:
        out: dict[str, tuple[int, int]] = {}
        for root, _dirs, names in os.walk(path):
            if f"o_orderpriority={DW_PRI}" in root:
                continue
            for nme in names:
                if nme.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, nme))
                rel = os.path.relpath(os.path.join(root, nme), path)
                out[rel] = (st.st_ino, st.st_mtime_ns)
        return out

    before = cold_files()
    pred = (
        (F.col("o_orderpriority") == DW_PRI)
        & F.col("o_orderkey").between(DW_LO, DW_HI)
        & (F.col("o_custkey") % 3 == 0)
    )
    rep = delete_where(
        spark, path, pred, ["o_orderkey"],
        partition_cols=["o_orderpriority"],
        prune=("o_orderkey", DW_LO, DW_HI),
    )
    replay = delete_where(
        spark, path, pred, ["o_orderkey"],
        partition_cols=["o_orderpriority"],
        prune=("o_orderkey", DW_LO, DW_HI),
    )
    if (
        rep["rows_matched"] == 0
        or rep["partitions_touched"] != 1
        or rep["files_scanned"] < 0
        or rep["files_scanned"] > max(2, rep["files_total"] // 2)
        or replay["rows_matched"] != 0
        or cold_files() != before
        or read_version(spark, path, v_seed).count() != n_seed
    ):
        raise RuntimeError(
            f"delete_where regressed: {rep}, replay {replay}, "
            f"cold-partition identity "
            f"{cold_files() == before}, seed-version count "
            f"{read_version(spark, path, v_seed).count()} != {n_seed}"
        )
    return (
        read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("price_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


ORACLE_DELETE_WHERE = f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM orders
    WHERE NOT (o_orderpriority = '{DW_PRI}'
               AND o_orderkey BETWEEN {DW_LO} AND {DW_HI}
               AND o_custkey % 3 = 0)
    GROUP BY o_orderpriority
"""


DV_MOD = 53  # scattered victims: every priority partition is hit


def q_delete_where_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (r12 verdict #1 —
    the Delta DV / Iceberg positional-delete shape on keyed parquet,
    ``operators/upsert.delete_where(use_dv=True)``). The eager E102
    mode rewrites every victim partition, so the operation its own
    doc leads with — right-to-be-forgotten by key, whose victims
    scatter across ALL partitions — would rewrite the whole table;
    here the victim keys land as one sidecar parquet recorded in the
    version entry and readers anti-join them until compaction folds
    the delete into data files. The query RAISES unless:

    - the delete rewrote ZERO data files — every partition's live
      files are inode+mtime byte-identical after the delete (the
      claim that distinguishes DV from eager mode),
    - the victims really scattered (≥ 2 partitions touched),
    - the pre-delete version still serves all rows (time travel),
    - replaying the delete matches zero rows and mints no version,
    - ``compact_partitions`` FOLDS every DV (covered partitions are
      planned as offenders regardless of file count; the head entry
      carries no DV afterwards) and the per-priority digest is
      IDENTICAL before and after the fold,
    - the fold is CLUSTERING-PRESERVING (r13 verdict #2,
      ``sort_col``): the table seeds range-clustered on
      ``o_orderkey`` (8 range-disjoint files per priority dir) and
      after the fold a selective orderkey band must still open the
      same file count and ≤ the pre-fold fraction — a fold that
      collapsed each partition to one wide-min/max file (or skipped
      the re-sort) raises here instead of silently decaying
      ``scan_version`` pruning until a full rewrite.

    Oracle: ``WHERE NOT (predicate)`` on raw orders — one hash
    certifies the merge-on-read read path AND the fold rewrite
    produce exactly the eager delete's answer."""
    import shutil

    from weatherflow_spark.operators.layout import compact_partitions
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        init_snapshot_log,
        read_version,
        record_commit,
        scan_version,
        set_stats_columns,
        versions,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = os.path.join(_scratch_dir(sf_dir), "delwhere_dv_tbl")
    for side in ("", ".__snaplog", ".__retain"):
        shutil.rmtree(path + side, ignore_errors=True)
    try:
        os.unlink(path + ".__versions.json")
    except OSError:
        pass
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    orders.repartitionByRange(8, F.col("o_orderkey")).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["o_orderkey"])
    v_seed = record_commit(path)
    n_seed = read_version(spark, path, v_seed).count()

    def live_files() -> dict[str, tuple[int, int]]:
        out: dict[str, tuple[int, int]] = {}
        for root, _dirs, names in os.walk(path):
            for nme in names:
                if nme.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, nme))
                rel = os.path.relpath(os.path.join(root, nme), path)
                out[rel] = (st.st_ino, st.st_mtime_ns)
        return out

    before = live_files()
    pred = F.col("o_custkey") % DV_MOD == 0
    rep = delete_where(
        spark, path, pred, ["o_orderkey"],
        partition_cols=["o_orderpriority"], use_dv=True,
    )
    head_after_delete = versions(path)[-1]
    replay = delete_where(
        spark, path, pred, ["o_orderkey"],
        partition_cols=["o_orderpriority"], use_dv=True,
    )

    def digest(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("price_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )

    pre_fold = sorted(map(tuple, digest(read_version(spark, path)).collect()))
    if (
        rep["rows_matched"] == 0
        or rep["files_rewritten"] != 0
        or rep["partitions_touched"] < 2
        or live_files() != before
        or not head_dv(path)
        or read_version(spark, path, v_seed).count() != n_seed
        or replay["rows_matched"] != 0
        or versions(path)[-1] != head_after_delete
    ):
        raise RuntimeError(
            f"DV delete regressed: {rep}, replay {replay}, "
            f"file identity {live_files() == before}, "
            f"head_dv {head_dv(path)}, seed count "
            f"{read_version(spark, path, v_seed).count()} != {n_seed}"
        )
    # Pre-fold pruning baseline on a selective orderkey band (the DV
    # does not change file stats, so this is the seed layout's
    # pruning): band = the bottom ~1/8th of the key space — about one
    # range file per priority directory.
    kmax = read_version(spark, path).agg(F.max("o_orderkey")).first()[0]
    band_hi = int(kmax) // 8
    _, pre_scan = scan_version(spark, path, "o_orderkey", lo=0, hi=band_hi)
    # The fold: covered partitions are compaction offenders even at
    # one file each; afterwards the data files physically exclude the
    # victims and the head carries no DV. sort_col keeps the rewrite
    # clustering-preserving (r13 verdict #2).
    folded = compact_partitions(
        spark, path, ["o_orderpriority"], max_files=1_000_000,
        sort_col="o_orderkey",
    )
    post_fold = sorted(map(tuple, digest(read_version(spark, path)).collect()))
    _, post_scan = scan_version(spark, path, "o_orderkey", lo=0, hi=band_hi)
    if (
        folded["partitions_compacted"] < rep["partitions_touched"]
        or head_dv(path)
        or pre_fold != post_fold
        or post_scan["files_total"] != pre_scan["files_total"]
        or post_scan["files_scanned"]
        > max(pre_scan["files_scanned"], post_scan["files_total"] // 3)
    ):
        raise RuntimeError(
            f"DV fold regressed: {folded}, head_dv {head_dv(path)}, "
            f"digest identity {pre_fold == post_fold}, "
            f"band scan pre {pre_scan} post {post_scan} — a fold that "
            "collapses or un-sorts the range clustering fails here"
        )
    return digest(read_version(spark, path))


ORACLE_DELETE_WHERE_DV = f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM orders
    WHERE NOT (o_custkey % {DV_MOD} = 0)
    GROUP BY o_orderpriority
"""


FORGET_MOD = 97  # stream victims: o_orderkey % FORGET_MOD == 3


def q_forget_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E114 driver row: streaming right-to-be-forgotten
    (``streaming/pipeline.foreach_batch_forget`` — E105 × T1).
    Erasure requests arrive as a QUEUE in production; this row runs a
    REAL two-batch availableNow request stream against a versioned
    partitioned orders table and certifies the whole contract. The
    query RAISES unless:

    - each micro-batch landed as ONE deletion-vector commit — the
      stream rewrote ZERO data files (every partition inode+mtime
      byte-identical) and exactly two versions were minted,
    - the pre-stream version still serves all rows (time travel),
    - per-batch receipts carry the REAL counts and the two minted
      versions (the compliance trail),
    - a FRESH-checkpoint redelivery of both request files
      short-circuits on the ``forget:<batch_id>`` keys: no new
      versions, head unchanged, receipts not clobbered.

    The returned digest reads the post-forget HEAD — the
    merge-on-read anti-join path itself is what hashes against the
    oracle (``WHERE NOT (victim predicate)`` on raw orders); the
    fold path is certified separately by the delete_dv branch.
    Victim batches are bounded by the REQUEST stream (an erasure
    queue, never table data), and the sink's min/max prune bound
    routes each victim scan through the o_orderkey zone maps."""
    import json as _json
    import shutil

    from weatherflow_spark.operators.snaplog import (
        head_dv,
        head_version,
        init_snapshot_log,
        read_version,
        record_commit,
        set_stats_columns,
    )
    from weatherflow_spark.streaming.pipeline import foreach_batch_forget

    base = _scratch_dir(sf_dir)
    path = os.path.join(base, "forget_tbl")
    req = os.path.join(base, "forget_requests")
    receipts = os.path.join(base, "forget_receipts")
    cks = (os.path.join(base, "forget_ck1"), os.path.join(base, "forget_ck2"))
    for side in ("", ".__snaplog", ".__retain"):
        shutil.rmtree(path + side, ignore_errors=True)
    for d in (req, receipts, *cks):
        shutil.rmtree(d, ignore_errors=True)
    try:
        os.unlink(path + ".__versions.json")
    except OSError:
        pass
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    orders.repartitionByRange(4, F.col("o_orderkey")).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["o_orderkey"])
    v_seed = record_commit(path)
    n_seed = read_version(spark, path, v_seed).count()

    # the erasure queue: every %-derived victim key, split into two
    # deterministic request files (both non-empty at any SF)
    victims = sorted(
        r[0]
        for r in orders.where(F.col("o_orderkey") % FORGET_MOD == 3)
        .select("o_orderkey")
        .collect()
    )
    os.makedirs(req, exist_ok=True)
    for i, half in enumerate((victims[::2], victims[1::2])):
        with open(os.path.join(req, f"r{i}.json"), "w") as f:
            f.write(
                "\n".join(_json.dumps({"o_orderkey": k}) for k in half)
                + "\n"
            )

    def live_files() -> dict[str, tuple[int, int]]:
        out: dict[str, tuple[int, int]] = {}
        for root, _dirs, names in os.walk(path):
            for nme in names:
                if nme.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, nme))
                rel = os.path.relpath(os.path.join(root, nme), path)
                out[rel] = (st.st_ino, st.st_mtime_ns)
        return out

    before = live_files()
    sink = foreach_batch_forget(
        path, ["o_orderkey"],
        partition_cols=["o_orderpriority"],
        receipts_path=receipts,
    )

    def drain(ck: str) -> None:
        q = (
            spark.readStream.schema("o_orderkey long")
            .option("maxFilesPerTrigger", "1")
            .json(req)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(cks[0])
    head1 = head_version(path)
    n_head = read_version(spark, path).count()
    rec = {
        r["batch_id"]: r for r in spark.read.parquet(receipts).collect()
    }
    drain(cks[1])  # fresh checkpoint: full redelivery
    rec2 = {
        r["batch_id"]: r for r in spark.read.parquet(receipts).collect()
    }
    if not (
        live_files() == before
        and bool(head_dv(path))
        and head1 == v_seed + 2
        and head_version(path) == head1
        and n_head == n_seed - len(victims)
        and read_version(spark, path, v_seed).count() == n_seed
        and sorted(rec) == [0, 1]
        and sum(r["keys_deleted"] for r in rec.values()) == len(victims)
        and {r["new_version"] for r in rec.values()}
        == {v_seed + 1, v_seed + 2}
        and all(
            rec2[b]["keys_deleted"] == rec[b]["keys_deleted"] for b in rec
        )
    ):
        raise RuntimeError(
            "forget stream regressed: "
            f"file identity {live_files() == before}, "
            f"head_dv {bool(head_dv(path))}, versions {v_seed}->{head1}"
            f"->{head_version(path)}, rows {n_seed}->{n_head} "
            f"(victims {len(victims)}), receipts {sorted(rec)} "
            f"deleted {[r['keys_deleted'] for _, r in sorted(rec.items())]}"
            f" replay {[r['keys_deleted'] for _, r in sorted(rec2.items())]}"
        )
    return (
        read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("price_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


ORACLE_FORGET_STREAM = f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM orders
    WHERE NOT (o_orderkey % {FORGET_MOD} = 3)
    GROUP BY o_orderpriority
"""


FSKIP_LO, FSKIP_HI = 100, 200  # a selective orderkey range at every SF


def q_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E100 driver row: FILE-SKIPPING statistics on the segmented
    snapshot log (the zone-map / Iceberg-metrics shape). Build a
    range-clustered orders table (``repartitionByRange`` on the
    orderkey — the layout compaction's sort_col restores at scale),
    opt it into o_orderkey stats (``snaplog.set_stats_columns``), and
    commit: every file's footer min/max rides inside its segment.
    ``scan_version`` over a selective key range must then open only
    the files whose recorded range can intersect — the query RAISES
    unless at most a quarter of the files were scanned — and the
    digest of the residual-filtered result hash-matches the oracle's
    plain BETWEEN over raw orders, so one row certifies the pruning
    is both real and lossless. At 100 TB this is the difference
    between a point/range lookup reading a handful of files and
    reading the table; no footer is opened at read time (bounds come
    from the manifest segments)."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        scan_version,
        set_stats_columns,
    )
    from weatherflow_spark.plans.queries import scaled_sum

    path = os.path.join(_scratch_dir(sf_dir), "fskip_tbl")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.repartitionByRange(16, F.col("o_orderkey")).write.mode(
        "overwrite"
    ).parquet(path)
    init_snapshot_log(path)
    set_stats_columns(path, ["o_orderkey"])
    record_commit(path)

    df, info = scan_version(
        spark, path, "o_orderkey", lo=FSKIP_LO, hi=FSKIP_HI
    )
    if info["files_scanned"] > max(1, info["files_total"] // 4):
        raise RuntimeError(
            f"file-skipping regressed: scanned {info['files_scanned']} of "
            f"{info['files_total']} files for a selective range"
        )
    # STRING zone maps (E107, r13): a second, priority-clustered copy
    # proves the truncation-aware string bounds prune AND are lossless
    # — raise-checked internally (the returned digest is unchanged, so
    # the suite branch and the oracle certify this leg for free).
    spath = os.path.join(_scratch_dir(sf_dir), "fskip_str_tbl")
    shutil.rmtree(spath, ignore_errors=True)
    shutil.rmtree(spath + ".__snaplog", ignore_errors=True)
    shutil.rmtree(spath + ".__retain", ignore_errors=True)
    orders.repartitionByRange(
        8, F.col("o_orderpriority"), F.col("o_orderkey")
    ).write.mode("overwrite").parquet(spath)
    init_snapshot_log(spath)
    set_stats_columns(spath, ["o_orderpriority"])
    record_commit(spath)
    sdf, sinfo = scan_version(
        spark, spath, "o_orderpriority", lo="1-URGENT", hi="2-HIGH"
    )
    n_pruned = sdf.where(
        F.col("o_orderpriority").between("1-URGENT", "2-HIGH")
    ).count()
    n_full = orders.where(
        F.col("o_orderpriority").between("1-URGENT", "2-HIGH")
    ).count()
    if (
        sinfo["files_scanned"] > max(1, sinfo["files_total"] // 2)
        or n_pruned != n_full
    ):
        raise RuntimeError(
            f"string zone maps regressed: scanned {sinfo['files_scanned']} "
            f"of {sinfo['files_total']} files for a 2-of-5 priority band, "
            f"rows {n_pruned} vs {n_full}"
        )
    return (
        df.where(F.col("o_orderkey").between(FSKIP_LO, FSKIP_HI))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("price_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


ORACLE_FILE_SKIPPING = f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM orders
    WHERE o_orderkey BETWEEN {FSKIP_LO} AND {FSKIP_HI}
    GROUP BY o_orderpriority
"""


# (ZSKIP_BITS removed in r14: write_zordered derives the interleave
# width from the actual key maxima — the fixed 24-bit width silently
# dropped high bits past sf ~2.8, aliasing z-rectangles; r13 advice.)


def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 × E100 (r12 verdict #2): CONJUNCTIVE multi-column file
    skipping over a Z-ORDERED versioned table. Single-column range
    clustering gives tight per-file bounds on one axis only; the
    Morton layout (operators/zorder.py) gives every file a small
    rectangle of (custkey, orderkey) space, so a TWO-dimensional band
    — the multi-predicate ``scan_version(predicates=[...])`` form,
    each range ANDed at file granularity — prunes on both axes.

    The band is derived from the table itself (the lowest eighth of
    each key's span, so the claim holds at every SF): selecting
    (1/8)² of the key space over 64 z-files must open at most a
    QUARTER of them (RAISES otherwise; the curve's locality makes the
    true number ~2-6 — a one-axis layout would scan ~1/8 of files on
    its sorted axis and ALL files once the second predicate is the
    selective one). The residual-filtered digest hash-matches the
    oracle's plain two-BETWEEN over raw orders with the same derived
    bounds, so one row certifies the pruning is real AND lossless.

    r14 (E113): the row then DV-deletes scattered keys strictly
    OUTSIDE the band and folds them through ``compact(zorder=...)`` —
    the only fold path an unpartitioned z-table has (root files are
    not a partition, compact_partitions never plans them) — RAISING
    unless the DV dropped, the victims are physically gone, the
    re-Mortoned band fraction is ≤¼ again, and the band digest is
    bit-identical (victims avoid the band by construction, so the
    oracle is fold-invariant). A fold that 1-D-sorts or skips the
    re-interleave trips the fraction check here instead of silently
    decaying E106's pruning."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        scan_version,
        set_stats_columns,
    )
    from weatherflow_spark.operators.upsert import delete_where
    from weatherflow_spark.operators.zorder import write_zordered

    path = os.path.join(_scratch_dir(sf_dir), "zskip_tbl")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".__snaplog", ignore_errors=True)
    shutil.rmtree(path + ".__retain", ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    write_zordered(
        orders, path, "o_custkey", "o_orderkey",
        num_files=64, bits=None,  # derived from the key maxima (r14)
    )
    init_snapshot_log(path)
    set_stats_columns(path, ["o_custkey", "o_orderkey"])
    record_commit(path)

    # Band bounds derived from the data (deterministic integer
    # arithmetic, mirrored verbatim in the oracle): the lowest eighth
    # of each key's span.
    b = orders.agg(
        F.min("o_custkey").alias("c_lo"), F.max("o_custkey").alias("c_mx"),
        F.min("o_orderkey").alias("k_lo"), F.max("o_orderkey").alias("k_mx"),
    ).first()
    c_lo, c_hi = b["c_lo"], b["c_lo"] + (b["c_mx"] - b["c_lo"]) // 8
    k_lo, k_hi = b["k_lo"], b["k_lo"] + (b["k_mx"] - b["k_lo"]) // 8
    df, info = scan_version(
        spark, path,
        predicates=[("o_custkey", c_lo, c_hi), ("o_orderkey", k_lo, k_hi)],
    )
    if info["files_scanned"] > max(2, info["files_total"] // 4):
        raise RuntimeError(
            f"z-order two-column skipping regressed: scanned "
            f"{info['files_scanned']} of {info['files_total']} files for "
            f"a (1/8)^2 band"
        )

    def band_digest(frame: DataFrame) -> DataFrame:
        return (
            frame.where(
                F.col("o_custkey").between(c_lo, c_hi)
                & F.col("o_orderkey").between(k_lo, k_hi)
            )
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
                ).alias("price_cents"),
                F.expr("bit_xor(o_orderkey)").alias("key_xor"),
                F.expr("bit_xor(o_custkey)").alias("cust_xor"),
            )
        )

    pre_band = tuple(band_digest(df).first())
    # E113 fold leg (r14): a DV delete on this UNPARTITIONED z-table
    # can only fold through the whole-table rewrite (root files are
    # not a partition — compact_partitions never plans them), and the
    # rewrite must re-MORTON, not 1-D sort. Victims sit strictly
    # outside the certified band (top seven-eighths of the orderkey
    # axis), so the band digest — and the oracle — are fold-invariant
    # by construction; the raise below certifies the fold really
    # happened (DV dropped, victims physically gone) AND the
    # rectangles survived (band fraction ≤ ¼ again on re-derived
    # bits).
    from weatherflow_spark.operators.layout import compact
    from weatherflow_spark.operators.snaplog import (
        entry_files,
        head_dv,
        head_version,
        read_version,
    )

    n_before = read_version(spark, path).count()
    rep = delete_where(
        spark, path,
        (F.col("o_orderkey") > k_hi) & (F.col("o_custkey") % 97 == 0),
        ["o_orderkey"], use_dv=True,
    )
    # target sized to reproduce the 64-file layout (the default
    # 128 MiB target would collapse the test-SF table to ONE file and
    # make the post-fold fraction check vacuous)
    total_bytes = sum(
        max(int(sz), 0)
        for _, sz in entry_files(path, head_version(path))
    )
    compact(
        spark, path,
        target_file_bytes=max(1, total_bytes // 64),
        zorder=("o_custkey", "o_orderkey"),
    )
    df2, info2 = scan_version(
        spark, path,
        predicates=[("o_custkey", c_lo, c_hi), ("o_orderkey", k_lo, k_hi)],
    )
    post_band = tuple(band_digest(df2).first())
    n_after = read_version(spark, path).count()
    if (
        rep["rows_matched"] == 0
        or rep["files_rewritten"] != 0
        or head_dv(path)
        or n_after != n_before - rep["keys_deleted"]
        or info2["files_scanned"] > max(2, info2["files_total"] // 4)
        or post_band != pre_band
    ):
        raise RuntimeError(
            f"z-preserving fold regressed: delete {rep}, head_dv "
            f"{head_dv(path)}, rows {n_before}->{n_after}, band scan "
            f"{info2}, band digest identity {post_band == pre_band}"
        )
    return band_digest(df2)


ORACLE_ZORDER_SKIPPING = """
    WITH b AS (
        SELECT min(o_custkey) AS c_lo,
               min(o_custkey)
                   + (max(o_custkey) - min(o_custkey)) // 8 AS c_hi,
               min(o_orderkey) AS k_lo,
               min(o_orderkey)
                   + (max(o_orderkey) - min(o_orderkey)) // 8 AS k_hi
        FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS price_cents,
           bit_xor(o_orderkey) AS key_xor,
           bit_xor(o_custkey) AS cust_xor
    FROM orders, b
    WHERE o_custkey BETWEEN b.c_lo AND b.c_hi
      AND o_orderkey BETWEEN b.k_lo AND b.k_hi
"""


def q_tpch_q6_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E100 ADOPTION row (the E98 pattern: certifying the layout on
    scratch is not the same as routing a real query through it):
    TPC-H Q6 answered from a shipdate-range-clustered, versioned
    lineitem via ``scan_version`` — the query's one-year date band
    prunes on the segments' recorded min/max alone, so only files
    whose range can intersect 1996 are ever opened. RAISES unless at
    most a QUARTER of the files were scanned (the clustered layout
    spans ~7 ship years; one year is ~2-3 of 16 range files), and the
    result must hash-match the plain Q6 oracle verbatim — the
    adoption claim IS identity with the unclustered form. At 100 TB
    this turns the canonical 'did every predicate reach the scan'
    query into one that never opens six sevenths of the table; the
    surviving footers still get the pushed residual predicates."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        scan_version,
        set_stats_columns,
    )
    from weatherflow_spark.plans.queries import scaled_sum

    path = os.path.join(_scratch_dir(sf_dir), "q6skip_lineitem")
    # The clustered layout is a STANDING decision (the E98 argument):
    # build it once per process and re-serve it — the marker is
    # written only after the commit, so a crashed build self-heals
    # with a full rebuild. The row never mutates the table, so reps
    # re-certify the same immutable version.
    marker = os.path.join(_scratch_dir(sf_dir), "q6skip_lineitem.built")
    if not os.path.isfile(marker):
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(path + ".__snaplog", ignore_errors=True)
        shutil.rmtree(path + ".__retain", ignore_errors=True)
        li = load_table(spark, sf_dir, "lineitem")
        li.repartitionByRange(16, F.col("l_shipdate")).write.mode(
            "overwrite"
        ).parquet(path)
        init_snapshot_log(path)
        set_stats_columns(path, ["l_shipdate"])
        record_commit(path)
        with open(marker, "w") as f:
            f.write("1\n")

    df, info = scan_version(
        spark, path, "l_shipdate",
        lo="1996-01-01T00:00:00", hi="1997-01-01T00:00:00",
    )
    if info["files_scanned"] > max(1, info["files_total"] // 4):
        raise RuntimeError(
            f"Q6 file-skipping regressed: scanned "
            f"{info['files_scanned']} of {info['files_total']} files "
            "for a one-year band over a shipdate-clustered layout"
        )
    disc_c = F.floor(F.col("l_discount") * 100 + F.lit(0.5))
    return (
        df.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_quantity") < 24)
            & disc_c.between(5, 7)
        )
        .agg(
            scaled_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 10_000
            ).alias("revenue")
        )
    )


def _oracle_tpch_q6_skipping() -> str:
    from weatherflow_spark.plans.tpch_ext import ORACLE_TPCH_Q6

    return ORACLE_TPCH_Q6


def _oracle_tpch_q4_bucketed() -> str:
    from weatherflow_spark.plans.tpch import ORACLE_TPCH_Q4

    return ORACLE_TPCH_Q4


def _oracle_tpch_q12_bucketed() -> str:
    from weatherflow_spark.plans.tpch_ps import ORACLE_TPCH_Q12

    return ORACLE_TPCH_Q12


def _oracle_tpch_q21_bucketed() -> str:
    from weatherflow_spark.plans.tpch_ext import ORACLE_TPCH_Q21

    return ORACLE_TPCH_Q21


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E94 driver row: ADD-COLUMN schema evolution through the keyed
    upsert, certified on disk. Seed the orders base table (4 columns,
    partitioned by priority), then merge a batch that carries a NEW
    column (``churn_e4`` = (o_orderkey*7) %% 10000) with
    ``merge_schema=True``, twice (replayed evolution must be a
    content no-op). Untouched partitions keep their pre-evolution
    part files forever — dynamic overwrite never rewrites them — so
    the serve read schema-merges across footers, and existing rows
    surface NULL for the new column: exactly the lakehouse
    add-column contract on plain parquet. Type CHANGES are refused
    by design (int32/int64 footers cannot schema-merge at read time;
    widening is a table rewrite, compaction's job).

    The digest counts scored vs unscored rows and sums the new
    column per priority; the oracle derives the same from raw orders
    with a CASE for batch membership — one hash certifies evolution,
    NULL backfill, replay idempotence, and the merge-read path."""
    import shutil

    from weatherflow_spark.operators.upsert import upsert_by_key

    path = os.path.join(_scratch_dir(sf_dir), "evolve_tbl")
    shutil.rmtree(path, ignore_errors=True)
    for f_ in (path + ".__versions.json", path + ".__lock"):
        try:
            os.unlink(f_)
        except OSError:
            pass
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    base = orders.where(k % UPSERT_DEL_MOD != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)

    batch = orders.where(k % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
        ((k * 7) % 10000).cast("long").alias("churn_e4"),
    )
    upsert_by_key(
        spark, batch, path, ["o_orderkey"], ["o_orderpriority"],
        merge_schema=True,
    )
    upsert_by_key(  # replayed evolution: content no-op
        spark, batch, path, ["o_orderkey"], ["o_orderpriority"],
        merge_schema=True,
    )
    served = spark.read.option("mergeSchema", "true").parquet(path)
    return served.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("sum_cents"),
        F.count("churn_e4").alias("n_scored"),
        F.sum(F.coalesce(F.col("churn_e4"), F.lit(0))).alias("churn_sum"),
    )


ORACLE_SCHEMA_EVOLUTION = f"""
    WITH merged AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority,
               CAST(NULL AS BIGINT) AS churn_e4
        FROM orders
        WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
          AND o_orderkey % {UPSERT_BATCH_MOD} <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice + 1.0, o_orderpriority,
               (o_orderkey * 7) % 10000
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           CAST(count(churn_e4) AS BIGINT) AS n_scored,
           CAST(sum(COALESCE(churn_e4, 0)) AS BIGINT) AS churn_sum
    FROM merged GROUP BY o_orderpriority
"""


def q_change_feed(
    spark: SparkSession, sf_dir: str, _table: str | None = None
) -> DataFrame:
    """E95 driver row: the materialized change-data feed certified
    from DISK. Build the shared versioned fixture (v1 = base, v2 via
    the mixed upsert+delete feed), ``export_change_feed`` it TWICE
    (idempotence: the second export must skip every version), then
    serve per-(change_version, op, priority) digests of the feed
    parquet as read back from disk. The oracle derives both
    partitions from raw orders — change_version 1 is the seed as
    all-'U' inserts, change_version 2 is exactly the E91 diff (U =
    the upsert batch, D = the deleted keys with old values). One hash
    certifies the diff-once/stream-many CDC fan-out shape: the feed a
    downstream consumer reads equals the changes the table actually
    committed."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        export_change_feed,
        read_change_feed,
    )

    path = _table or _build_versioned_orders(spark, sf_dir, "cf_tbl")
    feed_dir = os.path.join(_scratch_dir(sf_dir), "cf_feed")
    shutil.rmtree(feed_dir, ignore_errors=True)
    first = export_change_feed(spark, path, feed_dir, ["o_orderkey"])
    again = export_change_feed(spark, path, feed_dir, ["o_orderkey"])
    if sorted(first) != [1, 2] or again != []:
        raise RuntimeError(
            f"change-feed export not incremental-idempotent: "
            f"first={first} again={again}"
        )
    feed = read_change_feed(spark, feed_dir)
    return feed.groupBy("change_version", "op", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("sum_cents"),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
    ).withColumn("change_version", F.col("change_version").cast("long"))


ORACLE_CHANGE_FEED = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    ups AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    dels AS (
        SELECT * FROM base
        WHERE o_orderkey % {VDIFF_DEL_MOD} = 0
          AND o_orderkey % {UPSERT_BATCH_MOD} <> 0
    ),
    feed AS (
        SELECT 1 AS change_version, 'U' AS op, * FROM base
        UNION ALL SELECT 2, 'U', * FROM ups
        UNION ALL SELECT 2, 'D', * FROM dels
    )
    SELECT CAST(change_version AS BIGINT) AS change_version, op,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM feed GROUP BY change_version, op, o_orderpriority
"""


def q_table_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E96 driver row: the zero-copy SHALLOW CLONE certified through
    real writes and real divergence. Build the orders base table,
    ``clone_table`` it (hard links — no data copied), then upsert the
    price+1 batch into the CLONE only. Serve per-(side, priority)
    digests of both tables read from disk: the source must still
    equal the pre-clone base (divergence isolation — writers replace
    files, never modify inodes, so the clone's rewrite cannot reach
    the source's data) and the clone must equal the merged relation.
    The oracle derives both sides from raw orders; one hash certifies
    the clone's completeness AND the isolation. 100 TB posture: a
    full-table test/dev clone costs O(files) metadata, zero bytes —
    the experiment-branch workflow a copy-based clone cannot afford."""
    import shutil

    from weatherflow_spark.operators.snaplog import clone_table
    from weatherflow_spark.operators.upsert import upsert_by_key

    src = os.path.join(_scratch_dir(sf_dir), "clone_src")
    dst = os.path.join(_scratch_dir(sf_dir), "clone_dst")
    for d in (src, dst):
        shutil.rmtree(d, ignore_errors=True)
        for f_ in (d + ".__versions.json", d + ".__lock"):
            try:
                os.unlink(f_)
            except OSError:
                pass
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    base = orders.where(k % UPSERT_DEL_MOD != 0)
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(src)

    n_linked = clone_table(src, dst)
    if n_linked <= 0:
        raise RuntimeError("clone linked no files")

    batch = orders.where(k % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(spark, batch, dst, ["o_orderkey"], ["o_orderpriority"])

    return _priority_digest(
        spark.read.parquet(src), "side", "source"
    ).unionByName(
        _priority_digest(spark.read.parquet(dst), "side", "clone")
    )


ORACLE_TABLE_CLONE = f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    batch AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0 AS o_totalprice,
               o_orderpriority
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    merged AS (
        SELECT * FROM base
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        UNION ALL
        SELECT * FROM batch
    ),
    tagged AS (
        SELECT 'source' AS side, * FROM base
        UNION ALL SELECT 'clone', * FROM merged
    )
    SELECT side, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           bit_xor(o_orderkey) AS key_xor,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM tagged GROUP BY side, o_orderpriority
"""


WH_DIM_UPS_MOD = 7  # warehouse load 2 bumps acctbal +100 for %7 custkeys

ST_SEED_MOD = 3   # star load 1 = events with event_id % 3 != 0
ST_REV_MOD = 5    # star load 2 revises temp +2.0 for event_id % 5 == 0
ST_SAMPLE_MOD = 7  # deterministic event sample: the certification is
                   # about transactional load semantics, not volume —
                   # 1/7th of events keeps the ten read-modify-writes
                   # (2 loads x 5 tables) benchable


def _star_enriched(spark: SparkSession, sf_dir: str, revised: bool):
    """The weather-enriched event frame the star build consumes —
    optionally with load-2's temp revision applied BEFORE the derived
    metrics, so dew point / heat index move with it (a revision that
    only touched temp_dim would not exercise cross-dim consistency)."""
    from weatherflow_spark.functions.calendar import season_bucket
    from weatherflow_spark.functions.weather import add_calc_attributes
    from weatherflow_spark.plans.queries import _local_ts, events_weather

    base = events_weather(spark, sf_dir).where(
        F.col("event_id") % ST_SAMPLE_MOD == 0
    )
    if revised:
        base = base.withColumn(
            "temp",
            F.when(
                F.col("event_id") % ST_REV_MOD == 0,
                F.col("temp") + F.lit(2.0),
            ).otherwise(F.col("temp")),
        )
    local = _local_ts(base)
    return add_calc_attributes(
        base.withColumns(
            {
                "station_id": F.col("user_id"),
                "recorded_datetime_local": F.date_format(
                    local, "yyyy-MM-dd HH:mm:ss"
                ),
                # feeds the denormalized STAR_DATE_COL so the loads
                # below are really date-scoped (r12)
                "recorded_date_local": F.date_format(local, "yyyy-MM-dd"),
                "recorded_season_local": season_bucket(local),
            }
        )
    )


def q_star_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E97 × K1-K3 driver row: the reference's five-table per-record
    transaction (dags/utils/database.py:25-34) re-expressed as
    ``star.load_star_warehouse`` and certified through TWO real
    loads WITH history — the thing the reference's transaction can't
    give. Load 1 seeds the warehouse from a partial event slice
    (every %{ST_SEED_MOD} key held back); load 2 merges the full
    corpus with a temp REVISION (+2.0 for every %{ST_REV_MOD} key)
    applied before the derived metrics, so temp_dim AND
    heat_index_dim move together; the replayed load-2 batch id must
    return load 2 without minting a third entry (raise otherwise).

    Serve per-(load, season) digests of fact ⋈ time_dim ⋈ temp_dim ⋈
    heat_index_dim read via ``read_warehouse`` at load 1 and head —
    four-way surrogate-key joins through the ACTUAL star tables. The
    oracle derives both warehouse states straight from raw events
    (enrichment + revision in SQL), so one hash certifies: the load
    entry pairs all five tables consistently at both points in time,
    the keyed merges replaced revised records exactly once, and the
    derived dims track the revision.

    Measured cost note (r12): switching the loads to the
    DATE-PARTITIONED posture moved this row 5.4 → ~14.5 s at sf0.1
    (calm session) — the ten keyed merges now do per-date scoped
    commits across ~32 date partitions × 5 tables, and that
    partition-scoped I/O IS the newly certified claim (at 100 TB it
    is what makes a 5-minute micro-batch O(batch) instead of a
    five-table rewrite). The per-partition-dir clustering in
    overwrite_partitions keeps it one file per touched partition
    (26 s unclustered → 18 s → 14.5 s calm). r12.2 claws most of it
    back without touching the claim: the four dim merges run
    CONCURRENTLY (star.py — safe since the overwrite mode rides on
    each writer) and each load's enriched frame is persisted for the
    load's duration; min-of-3 24.5 → 11.3 s on an idle session."""
    import shutil

    from weatherflow_spark.operators.star import (
        STAR_DATE_PARTITIONING,
        build_weather_star,
        load_star_warehouse,
    )
    from weatherflow_spark.operators.whlog import (
        read_warehouse,
        warehouse_loads,
    )

    wh = os.path.join(_scratch_dir(sf_dir), "star_tx")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh)

    # r12: the loads run DATE-PARTITIONED (denormalized STAR_DATE_COL
    # + partition_cols) — the streaming topology's posture — with the
    # oracle unchanged: partitioning is a layout decision, the
    # transactional semantics this row certifies must not move.
    # Persist each load's enriched frame for the load's duration (the
    # streaming sink's own discipline, pipeline.py): the five table
    # merges are narrow projections off ONE parent — unpersisted, every
    # per-table validation + merge job re-runs the whole events read +
    # enrichment lineage (~10 full recomputes per load), and the
    # CONCURRENT dim merges (star.py r12) would recompute it in four
    # threads at once. Persist + concurrent dims measured together:
    # 24.5 → 11.3 s min-of-3 at sf0.1 on this row.
    e1 = _star_enriched(spark, sf_dir, revised=False).where(
        F.col("event_id") % ST_SEED_MOD != 0
    ).persist()
    try:
        load1 = load_star_warehouse(
            spark,
            build_weather_star(
                e1, station_col="station_id", natural_key_cols=["event_id"],
                denormalize_date=True,
            ),
            wh,
            batch_id="star-load-1",
            partition_cols=STAR_DATE_PARTITIONING,
        )
    finally:
        e1.unpersist()
    e2 = _star_enriched(spark, sf_dir, revised=True).persist()
    try:
        star2 = build_weather_star(
            e2, station_col="station_id", natural_key_cols=["event_id"],
            denormalize_date=True,
        )
        load2 = load_star_warehouse(
            spark, star2, wh, batch_id="star-load-2",
            partition_cols=STAR_DATE_PARTITIONING,
        )
        replay = load_star_warehouse(
            spark, star2, wh, batch_id="star-load-2",
            partition_cols=STAR_DATE_PARTITIONING,
        )
    finally:
        e2.unpersist()
    if not (load1 == 1 and load2 == 2 and replay == 2) or warehouse_loads(
        wh
    ) != [1, 2]:
        raise RuntimeError(
            f"star warehouse load numbering broke: {load1}, {load2}, "
            f"replay {replay}, loads {warehouse_loads(wh)}"
        )

    def digest(tables: dict, tag: str) -> DataFrame:
        j = (
            tables["w_fact"]
            .join(tables["w_time_dim"], "time_id")
            .join(tables["w_temp_dim"], "temp_id")
            .join(tables["w_heat_index_dim"], "heat_index_id")
        )
        return j.groupBy("recorded_season_local").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(temp * 100 + 0.5) as bigint)")
            ).alias("temp_cents"),
            F.sum(
                F.expr("cast(floor(heat_index * 100 + 0.5) as bigint)")
            ).alias("hi_cents"),
            F.sum("station_id").alias("station_sum"),
        ).select(
            F.lit(tag).alias("version_tag"),
            "recorded_season_local",
            "n_rows",
            "temp_cents",
            "hi_cents",
            "station_sum",
        )

    return digest(read_warehouse(spark, wh, 1), "load1").unionByName(
        digest(read_warehouse(spark, wh), "head")
    )


def q_warehouse_snapshot(
    spark: SparkSession, sf_dir: str, _wh: str | None = None
) -> DataFrame:
    """E97 driver row: CROSS-TABLE consistent snapshots
    (operators/whlog.py) certified through two real multi-table
    loads. The reference's per-record transaction spans all five star
    tables (reference dags/utils/database.py:25-34) — consistent but
    history-less; E90 gave each table independent history — versioned
    but mixable. This certifies the coordinator that closes the gap:

    - **load 1**: fact (orders minus every %{UPSERT_DEL_MOD} key,
      partitioned by priority) + dim (customer) bulk-written, then
      ``commit_warehouse`` — one logical-load entry mapping both
      tables to versions recorded under BOTH commit locks.
    - **between loads**: BOTH tables mutate through the keyed choke
      point (fact: every %{UPSERT_BATCH_MOD} key, price +1 — a scoped
      partitioned commit; dim: every %{WH_DIM_UPS_MOD} custkey,
      acctbal +100 — an unpartitioned full-overwrite commit).
    - **load 2**: ``commit_warehouse`` again — this one must REUSE
      the versions the upserts already minted (pure metadata), and a
      replayed commit with load 2's batch_id must return load 2
      without minting a third entry (the query RAISES otherwise).

    Serve per-(load, mktsegment) digests of fact⋈dim read via
    ``read_warehouse`` at load 1 and at the head load. The oracle
    derives both warehouse states from raw orders+customer, so ONE
    hash certifies the consistent cut both ways: load 1 must pair the
    ORIGINAL dim with the ORIGINAL fact (a dim-at-head leak shifts
    bal_cents), and the head must pair both mutated states. 100 TB
    posture: the load entry is O(tables) metadata over O(touched
    files) per-table commits; locks are held for the metadata
    instant, never across Spark jobs."""
    from weatherflow_spark.operators.whlog import read_warehouse

    wh = _wh or _build_wh_tx(spark, sf_dir, "wh_tx")
    return _wh_digest(read_warehouse(spark, wh, 1), "load1").unionByName(
        _wh_digest(read_warehouse(spark, wh), "head")
    )


def _build_wh_tx(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The E97 two-load scenario (shared by the snapshot and replica
    rows): bulk-seed fact_orders (partitioned, minus every
    %UPSERT_DEL_MOD key) + dim_customer, commit load 1; mutate BOTH
    tables through the keyed choke point; commit load 2 (version
    reuse) and raise unless the replayed load-2 batch id is
    exactly-once. Returns the warehouse path (a per-(sf, pid) scratch
    reset on every call, so replays are idempotent)."""
    import shutil

    from weatherflow_spark.operators.upsert import upsert_by_key
    from weatherflow_spark.operators.whlog import (
        commit_warehouse,
        init_warehouse_log,
        warehouse_loads,
    )

    wh = os.path.join(_scratch_dir(sf_dir), name)
    # Member tables and ALL their sibling state (snaplogs, retention
    # mirrors, locks, manifests, the load log) live INSIDE wh — one
    # rmtree resets everything, keeping replays idempotent.
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh)

    fact_p = os.path.join(wh, "fact_orders")
    dim_p = os.path.join(wh, "dim_customer")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders.where(k % UPSERT_DEL_MOD != 0).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(fact_p)
    customer.write.mode("overwrite").parquet(dim_p)
    init_warehouse_log(wh)
    load1 = commit_warehouse(
        wh, ["fact_orders", "dim_customer"], batch_id="wh-load-1"
    )

    fact_batch = orders.where(k % UPSERT_BATCH_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(
        spark, fact_batch, fact_p, ["o_orderkey"], ["o_orderpriority"]
    )
    dim_batch = customer.where(
        F.col("c_custkey") % WH_DIM_UPS_MOD == 0
    ).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    )
    upsert_by_key(spark, dim_batch, dim_p, ["c_custkey"])
    load2 = commit_warehouse(
        wh, ["fact_orders", "dim_customer"], batch_id="wh-load-2"
    )
    replay = commit_warehouse(
        wh, ["fact_orders", "dim_customer"], batch_id="wh-load-2"
    )
    if not (load1 == 1 and load2 == 2 and replay == 2) or warehouse_loads(
        wh
    ) != [1, 2]:
        raise RuntimeError(
            "warehouse load numbering broke: expected exactly loads "
            f"[1, 2] with replay-keyed commits, got loads {warehouse_loads(wh)} "
            f"({load1}, {load2}, replay {replay})"
        )
    return wh


def _wh_digest(tables: dict, tag: str) -> DataFrame:
    j = tables["fact_orders"].join(
        tables["dim_customer"],
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        ).alias("price_cents"),
        F.sum(
            F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)")
        ).alias("bal_cents"),
        F.expr("bit_xor(o_orderkey)").alias("key_xor"),
    ).select(
        F.lit(tag).alias("version_tag"),
        "c_mktsegment",
        "n_rows",
        "price_cents",
        "bal_cents",
        "key_xor",
    )


def q_warehouse_replica(
    spark: SparkSession, sf_dir: str, _src: str | None = None
) -> DataFrame:
    """E97 × E95 driver row (r12 — VERDICT r11 #7): a REPLICA
    warehouse rebuilt purely from the per-load multi-table feed
    bundle must serve the SAME consistent cuts as the source. Runs
    the E97 two-load scenario into a fresh source warehouse, exports
    the bundle (``whlog.export_warehouse_feed``: one change feed per
    member + the load entries), applies it to an empty replica
    (``apply_warehouse_feed``: per-load atomic apply, version-ordered
    within each table, exactly-once on replay — RAISES unless the
    immediate re-apply is a no-op), and serves the load-1 + head
    digests FROM THE REPLICA. Oracle: ORACLE_WAREHOUSE_SNAPSHOT
    verbatim — replication correctness IS digest identity with the
    source's own oracle."""
    import shutil

    from weatherflow_spark.operators.whlog import (
        apply_warehouse_feed,
        export_warehouse_feed,
        read_warehouse,
    )

    src = _src or _build_wh_tx(spark, sf_dir, "wh_repl_src")
    bundle = os.path.join(_scratch_dir(sf_dir), "wh_repl_bundle")
    replica = os.path.join(_scratch_dir(sf_dir), "wh_repl_dst")
    shutil.rmtree(bundle, ignore_errors=True)
    shutil.rmtree(replica, ignore_errors=True)
    keys = {"fact_orders": ["o_orderkey"], "dim_customer": ["c_custkey"]}
    parts = {"fact_orders": ["o_orderpriority"]}
    export_warehouse_feed(spark, src, bundle, keys)
    applied = apply_warehouse_feed(spark, bundle, replica, keys, parts)
    replayed = apply_warehouse_feed(spark, bundle, replica, keys, parts)
    if applied != [1, 2] or replayed != []:
        raise RuntimeError(
            f"replica apply broke: applied {applied}, replay {replayed} "
            "(expected [1, 2] then [])"
        )
    return _wh_digest(read_warehouse(spark, replica, 1), "load1").unionByName(
        _wh_digest(read_warehouse(spark, replica), "head")
    )


ORACLE_WAREHOUSE_SNAPSHOT = f"""
    WITH f1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
    ),
    f2 AS (
        SELECT * FROM f1 WHERE o_orderkey % {UPSERT_BATCH_MOD} <> 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0
        FROM orders WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
    ),
    d1 AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
    d2 AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % {WH_DIM_UPS_MOD} = 0
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        FROM customer
    ),
    tagged AS (
        SELECT 'load1' AS version_tag, f1.o_orderkey, d1.c_mktsegment,
               f1.o_totalprice, d1.c_acctbal
        FROM f1 JOIN d1 ON f1.o_custkey = d1.c_custkey
        UNION ALL
        SELECT 'head', f2.o_orderkey, d2.c_mktsegment,
               f2.o_totalprice, d2.c_acctbal
        FROM f2 JOIN d2 ON f2.o_custkey = d2.c_custkey
    )
    SELECT version_tag, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS price_cents,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM tagged GROUP BY version_tag, c_mktsegment
"""


def q_warehouse_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E103 driver row: BETWEEN-LOADS warehouse maintenance
    (``operators/whlog.maintain_warehouse``) certified through the
    full phase chain on real writes. Seed a two-member warehouse
    whose fact carries one fragmented partition (12 small files — a
    bulk backfill's layout), run one keyed-upsert load that touches
    only the OTHER partitions (the streaming cadence keeps them tidy;
    the hot partition stays fragmented), then run maintenance:
    segment-planned compaction → a metadata re-cut load pairing the
    compacted heads → per-load feed-bundle export → load-aware,
    feed-interlocked vacuum. RAISES unless:

    - exactly the hot partition compacted to ONE live file,
    - the maintenance load is load 3 and vacuum kept loads [2, 3]
      (load 1 dropped) while the bundle retains ALL THREE loads —
      replicas can still rebuild history the source vacuumed,
    - the replay is idempotent end to end: same load number (keyed),
      zero compactions, zero loads dropped.

    Serve fact⋈dim digests as-of load 2 and at head; maintenance is
    content-neutral, so BOTH must equal the oracle's derivation of
    the post-load-2 state from raw orders+customer — one hash
    certifies the whole maintenance pass changed layout and history
    bounds, never data."""
    import shutil

    from weatherflow_spark.operators.snaplog import entry_files, versions
    from weatherflow_spark.operators.upsert import upsert_by_key
    from weatherflow_spark.operators.whlog import (
        bundle_loads,
        commit_warehouse,
        init_warehouse_log,
        maintain_warehouse,
        read_warehouse,
        warehouse_loads,
    )

    wh = os.path.join(_scratch_dir(sf_dir), "wh_maint")
    shutil.rmtree(wh, ignore_errors=True)
    os.makedirs(wh)
    fact_p = os.path.join(wh, "fact_orders")
    dim_p = os.path.join(wh, "dim_customer")
    k = F.col("o_orderkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = orders.where(k % UPSERT_DEL_MOD != 0)
    base.where(F.col("o_orderpriority") != PC_HOT).coalesce(1).write.mode(
        "overwrite"
    ).partitionBy("o_orderpriority").parquet(fact_p)
    base.where(F.col("o_orderpriority") == PC_HOT).repartition(
        12
    ).write.mode("append").partitionBy("o_orderpriority").parquet(fact_p)
    customer.write.mode("overwrite").parquet(dim_p)
    init_warehouse_log(wh)
    commit_warehouse(
        wh, ["fact_orders", "dim_customer"], batch_id="whm-load-1"
    )

    # Load 2: the streaming cadence — keyed merges that avoid the hot
    # partition, so the backfill fragmentation is maintenance's to fix.
    batch = orders.where(
        (k % UPSERT_BATCH_MOD == 0) & (F.col("o_orderpriority") != PC_HOT)
    ).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + F.lit(1.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(
        spark, batch, fact_p, ["o_orderkey"], ["o_orderpriority"]
    )
    dim_batch = customer.where(
        F.col("c_custkey") % WH_DIM_UPS_MOD == 0
    ).select(
        "c_custkey",
        "c_mktsegment",
        (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
    )
    upsert_by_key(spark, dim_batch, dim_p, ["c_custkey"])
    commit_warehouse(
        wh, ["fact_orders", "dim_customer"], batch_id="whm-load-2"
    )

    bundle = os.path.join(wh, "bundle")  # inside wh: one rmtree resets
    maint_args = dict(
        partition_cols={"fact_orders": ["o_orderpriority"]},
        max_files=8,
        feed_bundle=bundle,
        key_cols={
            "fact_orders": ["o_orderkey"],
            "dim_customer": ["c_custkey"],
        },
        keep_last_loads=2,
        batch_id="whm-maint-1",
    )
    rep = maintain_warehouse(spark, wh, **maint_args)
    hot_live = [
        r
        for r, _ in entry_files(fact_p, versions(fact_p)[-1])
        if r.startswith(f"o_orderpriority={PC_HOT}/")
    ]
    replay = maintain_warehouse(spark, wh, **maint_args)
    if not (
        rep["compaction"]["fact_orders"]["partitions_compacted"] == 1
        and len(hot_live) == 1
        and rep["load"] == 3
        and rep["vacuum"]["__loads__"]["dropped_loads"] == 1
        and warehouse_loads(wh) == [2, 3]
        and bundle_loads(bundle) == [1, 2, 3]
        and replay["load"] == 3
        and replay["compaction"]["fact_orders"]["partitions_compacted"] == 0
        and replay["vacuum"]["__loads__"]["dropped_loads"] == 0
    ):
        raise RuntimeError(
            f"warehouse maintenance regressed: {rep} -> "
            f"{len(hot_live)} live hot file(s), loads "
            f"{warehouse_loads(wh)}, bundle {bundle_loads(bundle)}, "
            f"replay {replay}"
        )
    return _wh_digest(read_warehouse(spark, wh, 2), "load2").unionByName(
        _wh_digest(read_warehouse(spark, wh), "head")
    )


ORACLE_WAREHOUSE_MAINTENANCE = f"""
    WITH f2 AS (
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey % {UPSERT_DEL_MOD} <> 0
          AND NOT (o_orderkey % {UPSERT_BATCH_MOD} = 0
                   AND o_orderpriority <> '{PC_HOT}')
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice + 1.0
        FROM orders
        WHERE o_orderkey % {UPSERT_BATCH_MOD} = 0
          AND o_orderpriority <> '{PC_HOT}'
    ),
    d2 AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % {WH_DIM_UPS_MOD} = 0
                    THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        FROM customer
    ),
    tagged AS (
        SELECT 'load2' AS version_tag, f2.o_orderkey, d2.c_mktsegment,
               f2.o_totalprice, d2.c_acctbal
        FROM f2 JOIN d2 ON f2.o_custkey = d2.c_custkey
        UNION ALL
        SELECT 'head', f2.o_orderkey, d2.c_mktsegment,
               f2.o_totalprice, d2.c_acctbal
        FROM f2 JOIN d2 ON f2.o_custkey = d2.c_custkey
    )
    SELECT version_tag, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS price_cents,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS bal_cents,
           bit_xor(o_orderkey) AS key_xor
    FROM tagged GROUP BY version_tag, c_mktsegment
"""


RST_PRI = "2-HIGH"  # the partition the bad load corrupts


def q_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E104 driver row: RESTORE-as-new-commit
    (``operators/upsert.restore_version`` — the Delta ``RESTORE TABLE
    ... VERSION AS OF`` verb re-derived): seed a priority-partitioned
    versioned orders copy, land a BAD load (price bump + stray
    inserts, confined to one priority), and roll back to the seed.
    The restore applies the head→seed CDC diff through the scoped
    choke point, so the query RAISES unless:

    - only the corrupted priority's partition was rewritten — the
      four cold partitions' files are inode/mtime byte-identical
      across BOTH the bad load and the restore,
    - the bad version still time-travels after the rollback (history
      is append-only; no branch surgery),
    - re-running the restore applies an EMPTY diff and mints nothing.

    Serve the per-priority digest of the head; the oracle is the
    plain derivation from raw orders — the restore must reproduce the
    seed exactly."""
    import shutil

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        read_version,
        record_commit,
        versions,
    )
    from weatherflow_spark.operators.upsert import (
        restore_version,
        upsert_by_key,
    )

    path = os.path.join(_scratch_dir(sf_dir), "restore_tbl")
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + ".__snaplog", ignore_errors=True)
    shutil.rmtree(path + ".__retain", ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.coalesce(4).write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(path)
    init_snapshot_log(path)
    v1 = record_commit(path)

    def cold_files() -> dict[str, tuple[int, int]]:
        out: dict[str, tuple[int, int]] = {}
        for root, _dirs, names in os.walk(path):
            if f"o_orderpriority={RST_PRI}" in root:
                continue
            for nme in names:
                if nme.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, nme))
                rel = os.path.relpath(os.path.join(root, nme), path)
                out[rel] = (st.st_ino, st.st_mtime_ns)
        return out

    before = cold_files()
    bad = orders.where(
        (F.col("o_orderkey") % 5 == 0)
        & (F.col("o_orderpriority") == RST_PRI)
    ).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(7.0)).alias("o_totalprice"),
        "o_orderpriority",
    )
    upsert_by_key(spark, bad, path, ["o_orderkey"], ["o_orderpriority"])
    bad_v = versions(path)[-1]

    rep = restore_version(
        spark, path, v1, ["o_orderkey"], ["o_orderpriority"]
    )
    replay = restore_version(
        spark, path, v1, ["o_orderkey"], ["o_orderpriority"]
    )
    def pri_cents(v=None) -> int:
        return (
            read_version(spark, path, v)
            .where(F.col("o_orderpriority") == RST_PRI)
            .agg(
                F.sum(
                    F.expr(
                        "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                    )
                ).alias("c")
            )
            .first()["c"]
        )

    bad_cents, head_cents = pri_cents(bad_v), pri_cents()
    if (
        rep["changes_applied"] == 0
        or rep["new_version"] <= bad_v
        or replay["changes_applied"] != 0
        or cold_files() != before
        or bad_cents <= head_cents  # bad version must still carry the bump
    ):
        raise RuntimeError(
            f"restore regressed: {rep}, replay {replay}, cold-identity "
            f"{cold_files() == before}, bad/head cents "
            f"{bad_cents}/{head_cents}"
        )
    return (
        read_version(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            ).alias("price_cents"),
            F.expr("bit_xor(o_orderkey)").alias("key_xor"),
        )
    )


def q_maintenance_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-MAINTENANCE certification row (r12.2; SPLIT r14 —
    VERDICT r13 'What's wrong' #2: six branches / 43.5 s / one bit
    was the new monolith; the r13-new verbs + restore moved to
    :func:`q_maintenance2_suite`, the r11/r12 split playbook's third
    application). Three operational verbs, each with its own raise
    checks intact, in one LONG-format window row:

    - ``delete_where``          (E102): predicate-scoped row-level
      delete — zone-map-pruned victim scan, partition-scoped rewrite,
      byte-identical cold partitions, time travel, idempotent replay.
    - ``warehouse_maintenance`` (E103): the between-loads pass —
      segment-planned compaction, metadata re-cut load, feed-bundle
      export, feed-interlocked load-aware vacuum, exactly-once
      replay.
    - ``q6_skipping``           (E100 adoption): TPC-H Q6 from the
      shipdate-clustered layout, ≤¼ of files opened, result equal to
      the plain oracle.

    Every branch performs its real versioned I/O because that I/O IS
    the certified claim. r14 (optimization round): the three branches
    are independent (disjoint scratch tables) — builders run through
    ``overlap_branches`` (guide §2.6); union, raise checks, and
    oracle hash unchanged."""
    from weatherflow_spark.operators.overlap import overlap_branches

    dw_df, wm_df, q6_df = overlap_branches([
        lambda: q_delete_where(spark, sf_dir),
        lambda: q_warehouse_maintenance(spark, sf_dir),
        lambda: q_tpch_q6_skipping(spark, sf_dir),
    ])
    dw = dw_df.selectExpr(
        "'delete_where' AS op",
        "o_orderpriority AS key",
        "stack(3, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'key_xor', key_xor) AS (metric, value)",
    )
    wm = wm_df.selectExpr(
        "'warehouse_maintenance' AS op",
        "concat(version_tag, '|', c_mktsegment) AS key",
        "stack(4, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'bal_cents', bal_cents, 'key_xor', key_xor) AS (metric, value)",
    )
    # revenue re-scales to the exact underlying bigint (identical
    # deterministic transform on the oracle side): a raw double here
    # would widen the WHOLE union's value column to double and the
    # dw/wm branches' bigint digests would hash at double precision —
    # silently lossy past 2^53 (r12.2 review).
    q6 = q6_df.selectExpr(
        "'q6_skipping' AS op",
        "'all' AS key",
        "stack(1, 'revenue_e4', "
        "cast(floor(revenue * 10000 + 0.5) AS bigint)) AS (metric, value)",
    )
    return dw.unionByName(wm).unionByName(q6)


def q_maintenance2_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance certification row TWO (r14 split — VERDICT r13
    'What's wrong' #2): the r13-new operational verbs plus restore,
    each with its own raise checks intact, failing under their own
    driver bit instead of reddening the E102/E103/E100 row:

    - ``restore``               (E104): rollback-as-new-commit — the
      head→seed CDC diff applied through the scoped choke point,
      cold partitions byte-identical, history append-only, replay an
      empty diff.
    - ``delete_dv``             (E105): merge-on-read delete via
      deletion vectors — zero files rewritten at delete time (every
      partition inode-identical), replay no-op, compaction folds the
      DVs with an identical digest AND preserves the range
      clustering (r14: the fold's band scan must open the same file
      count and fraction as before the fold).
    - ``zorder_skipping``       (E106, E19×E100): conjunctive
      two-column file skipping over the Morton layout — a (1/8)²
      band opens ≤¼ of the z-files, digest == the plain
      two-predicate oracle.
    - ``forget_stream``         (E114, r14): a REAL two-batch
      availableNow erasure-request stream through
      ``foreach_batch_forget`` — zero files rewritten, per-batch
      receipts with minted versions, fresh-checkpoint redelivery
      short-circuits, merge-on-read head digest == the plain
      victim-predicate oracle.

    Every branch performs its real versioned I/O because that I/O IS
    the certified claim. r14 (optimization round): the four branches
    are INDEPENDENT — disjoint scratch tables, per-path commit locks
    — so their builders run through ``overlap_branches`` (guide
    §2.6 idle-capacity back-fill); the union, every raise check, and
    the oracle hash are unchanged."""
    from weatherflow_spark.operators.overlap import overlap_branches

    rst_df, dv_df, zs_df, fg_df = overlap_branches([
        lambda: q_restore_version(spark, sf_dir),
        lambda: q_delete_where_dv(spark, sf_dir),
        lambda: q_zorder_skipping(spark, sf_dir),
        lambda: q_forget_stream(spark, sf_dir),
    ])
    rst = rst_df.selectExpr(
        "'restore' AS op",
        "o_orderpriority AS key",
        "stack(3, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'key_xor', key_xor) AS (metric, value)",
    )
    dv = dv_df.selectExpr(
        "'delete_dv' AS op",
        "o_orderpriority AS key",
        "stack(3, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'key_xor', key_xor) AS (metric, value)",
    )
    zs = zs_df.selectExpr(
        "'zorder_skipping' AS op",
        "'all' AS key",
        "stack(4, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'key_xor', key_xor, 'cust_xor', cust_xor) AS (metric, value)",
    )
    fg = fg_df.selectExpr(
        "'forget_stream' AS op",
        "o_orderpriority AS key",
        "stack(3, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'key_xor', key_xor) AS (metric, value)",
    )
    return rst.unionByName(dv).unionByName(zs).unionByName(fg)


def _oracle_maintenance_suite() -> str:
    from weatherflow_spark.plans.tpch_ext import ORACLE_TPCH_Q6

    return f"""
        WITH dw AS ({ORACLE_DELETE_WHERE}),
        wm AS ({ORACLE_WAREHOUSE_MAINTENANCE}),
        q6 AS ({ORACLE_TPCH_Q6})
        SELECT 'delete_where' AS op, o_orderpriority AS key,
               'n_rows' AS metric, n_rows AS value FROM dw
        UNION ALL
        SELECT 'delete_where', o_orderpriority, 'price_cents',
               price_cents FROM dw
        UNION ALL
        SELECT 'delete_where', o_orderpriority, 'key_xor', key_xor
        FROM dw
        UNION ALL
        SELECT 'warehouse_maintenance',
               version_tag || '|' || c_mktsegment, 'n_rows', n_rows
        FROM wm
        UNION ALL
        SELECT 'warehouse_maintenance',
               version_tag || '|' || c_mktsegment, 'price_cents',
               price_cents FROM wm
        UNION ALL
        SELECT 'warehouse_maintenance',
               version_tag || '|' || c_mktsegment, 'bal_cents',
               bal_cents FROM wm
        UNION ALL
        SELECT 'warehouse_maintenance',
               version_tag || '|' || c_mktsegment, 'key_xor', key_xor
        FROM wm
        UNION ALL
        SELECT 'q6_skipping', 'all', 'revenue_e4',
               CAST(floor(revenue * 10000 + 0.5) AS BIGINT) FROM q6
    """


def _oracle_maintenance2_suite() -> str:
    return f"""
        WITH rst AS ({ORACLE_PARTITION_COMPACTION}),
        dv AS ({ORACLE_DELETE_WHERE_DV}),
        zs AS ({ORACLE_ZORDER_SKIPPING}),
        fg AS ({ORACLE_FORGET_STREAM})
        SELECT 'restore' AS op, o_orderpriority AS key,
               'n_rows' AS metric, n_rows AS value FROM rst
        UNION ALL
        SELECT 'restore', o_orderpriority, 'price_cents', price_cents
        FROM rst
        UNION ALL
        SELECT 'restore', o_orderpriority, 'key_xor', key_xor FROM rst
        UNION ALL
        SELECT 'delete_dv', o_orderpriority, 'n_rows', n_rows FROM dv
        UNION ALL
        SELECT 'delete_dv', o_orderpriority, 'price_cents', price_cents
        FROM dv
        UNION ALL
        SELECT 'delete_dv', o_orderpriority, 'key_xor', key_xor FROM dv
        UNION ALL
        SELECT 'zorder_skipping', 'all', 'n_rows', n_rows FROM zs
        UNION ALL
        SELECT 'zorder_skipping', 'all', 'price_cents', price_cents
        FROM zs
        UNION ALL
        SELECT 'zorder_skipping', 'all', 'key_xor', key_xor FROM zs
        UNION ALL
        SELECT 'zorder_skipping', 'all', 'cust_xor', cust_xor FROM zs
        UNION ALL
        SELECT 'forget_stream', o_orderpriority, 'n_rows', n_rows FROM fg
        UNION ALL
        SELECT 'forget_stream', o_orderpriority, 'price_cents',
               price_cents FROM fg
        UNION ALL
        SELECT 'forget_stream', o_orderpriority, 'key_xor', key_xor
        FROM fg
    """


def _oracle_star_transaction() -> str:
    from weatherflow_spark.plans.oracles import (
        EVENTS_SIM,
        HEAT_INDEX,
        LOCAL_TS,
        SEASON_SQL,
    )

    season = SEASON_SQL.format(ts="lts")
    return f"""
    WITH w AS ({EVENTS_SIM}),
    e AS (
        SELECT event_id, user_id, temp, humidity, {LOCAL_TS} AS lts
        FROM w WHERE event_id % {ST_SAMPLE_MOD} = 0
    ),
    s1 AS (SELECT * FROM e WHERE event_id % {ST_SEED_MOD} <> 0),
    s2 AS (
        SELECT event_id, user_id,
               CASE WHEN event_id % {ST_REV_MOD} = 0
                    THEN temp + 2.0 ELSE temp END AS temp,
               humidity, lts
        FROM e
    ),
    tagged AS (
        SELECT 'load1' AS version_tag, {season} AS recorded_season_local,
               temp, humidity, user_id
        FROM s1
        UNION ALL
        SELECT 'head', {season}, temp, humidity, user_id FROM s2
    )
    SELECT version_tag, recorded_season_local,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(temp * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS temp_cents,
           CAST(sum(CAST(floor(({HEAT_INDEX}) * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS hi_cents,
           CAST(sum(user_id) AS BIGINT) AS station_sum
    FROM tagged GROUP BY version_tag, recorded_season_local
"""


def q_index_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E81 driver row: incremental-dedup admission served from the
    PERSISTED signature index (operators/sig_index.py) — build the
    two-table index from the corpus split, then decide every batch
    document's verdict reading ONLY the index (the corpus text is
    never rescanned; at 100 TB that is the difference between an
    admission pipeline and a nightly job). Hash-certified against the
    EXACT SAME oracle as q_incremental_dedup, so a match proves
    index-served admission is decision-identical to full
    recomputation."""
    import shutil

    from weatherflow_spark.operators.sig_index import (
        admit_with_index,
        build_signature_index,
    )
    from weatherflow_spark.plans.ext_dedup import INCR_BATCH_MOD

    path = os.path.join(_scratch_dir(sf_dir), "sig_index")
    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    build_signature_index(docs.where(~is_batch), path)
    return admit_with_index(spark, docs.where(is_batch), path)


def _oracle_index_admit() -> str:
    # Identical decision contract -> identical oracle (the whole
    # point of the certification).
    from weatherflow_spark.plans.ext_dedup import _oracle_incremental_dedup

    return _oracle_incremental_dedup()


N_SHARDS = 8  # export shards (hash-mod assignment)


def export_shards(docs: DataFrame, base: str, n_shards: int = N_SHARDS) -> None:
    """The reusable E85 export: write ``docs`` (any frame with a
    ``doc_id`` column; other columns ride along) as ``n_shards``
    deterministically shuffled shards under ``base`` — pseudo-random
    position key from the engine's char fold of the id (reproducible
    forever, decorrelated from source order), shard = key % n
    (order-free, no global sort), within-shard positions via the
    skew-proof E77 grouped rank, written partition-by-shard. Shared
    by the certified ``q_shard_export`` digest and the release CLI's
    ``--shards`` final mile (curate.py)."""
    from weatherflow_spark.functions import text as T
    from weatherflow_spark.operators.indexing import assign_grouped_rank

    keyed = docs.withColumn(
        "pos_key",
        F.expr(T._tok_hash_lambda_spark("cast(doc_id as string)")),
    ).withColumn("shard_id", (F.col("pos_key") % n_shards).cast("int"))
    ranked = assign_grouped_rank(
        keyed, ["shard_id"], ["pos_key", "doc_id"], rank_col="pos"
    )
    # Full-corpus re-export replaces EVERYTHING under base: static
    # overwrite (per-write option, immune to a session-wide dynamic
    # mode) so a rerun with fewer shards leaves no stale shard dirs,
    # and a repeated CLI run (curate.py --shards) never hits
    # error-if-exists.
    (
        ranked.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("shard_id")
        .parquet(base)
    )


def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E85 driver row: deterministic shuffle-and-shard EXPORT — the
    final-mile operator between a curated corpus and a training
    dataloader. Every document gets a pseudo-random position key (the
    engine's cross-engine char fold of its id — decorrelated from
    insertion/source order, reproducible forever), shard =
    ``pos_key % N`` (hash-mod: balanced in expectation and ORDER-FREE
    — no global sort), within-shard positions via the skew-proof
    E77 grouped rank (``assign_grouped_rank``: a dominant shard spans
    partitions instead of funneling through one window task), and the
    shards are REALLY WRITTEN partition-by-shard before serving. The
    serve digests each written shard: doc count, key XOR + sum, an
    order fingerprint binding each position to its doc (16-bit limb
    product-sum — exact to ~2^30 rows/shard; re-limb beyond), and the
    payload char total. The oracle derives all of it from raw
    documents with ``row_number() OVER (PARTITION BY shard)`` — a
    hash match certifies assignment, ordering, and the write/read
    round-trip in one row set."""
    import shutil

    base = os.path.join(_scratch_dir(sf_dir), "shards")
    shutil.rmtree(base, ignore_errors=True)  # full reset: replayable
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    export_shards(docs, base, N_SHARDS)
    stored = spark.read.parquet(base)
    return stored.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("bit_xor(doc_id)").alias("key_xor"),
        F.sum("doc_id").alias("key_sum"),
        F.sum(
            (F.col("pos") % 65536) * (F.col("doc_id") % 65536)
        ).alias("order_fp"),
        F.sum("n_chars").alias("chars_total"),
    )


def _oracle_shard_export() -> str:
    from weatherflow_spark.functions import text as T

    fold = T._tok_hash_lambda_duck("CAST(doc_id AS VARCHAR)")
    return f"""
        WITH keyed AS (
            SELECT doc_id, n_chars, {fold} AS pos_key FROM documents
        ),
        sharded AS (
            SELECT *, CAST(pos_key % {N_SHARDS} AS INTEGER) AS shard_id
            FROM keyed
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY shard_id ORDER BY pos_key ASC, doc_id ASC
            ) AS pos
            FROM sharded
        )
        SELECT shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               bit_xor(doc_id) AS key_xor,
               CAST(sum(doc_id) AS BIGINT) AS key_sum,
               CAST(sum((pos % 65536) * (doc_id % 65536)) AS BIGINT)
                   AS order_fp,
               CAST(sum(n_chars) AS BIGINT) AS chars_total
        FROM ranked GROUP BY shard_id
    """


SKETCH_SLICES = 4  # cube build slices (day-of-month mod)


def q_sketch_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E82 driver row: the persisted SKETCH CUBE — per-(slice, group)
    HyperLogLog register partials written to a parquet table
    partitioned by slice (three slices in the initial build, the
    fourth APPENDED later, the late-batch path), then per-group
    distinct estimates served by merging the STORED partials
    (bucket-wise max within each group; the registers of a union are
    the max of the registers, plans/sketches.hll_registers). The
    output is identical to the one-shot ``q_hll_grouped`` and reuses
    its oracle verbatim — a hash match certifies the mergeability law
    through real writes: sketch partials persisted slice-by-slice and
    merged at serve time lose NOTHING vs sketching the raw data in
    one pass. That is the 100 TB posture for approx-distinct
    dashboards: each day/partition sketches independently (≤ groups ×
    256 tiny rows), the cube grows by appends, and serving never
    rescans the facts. (The exact-count column is the certification
    companion, computed from raw events here as in q_hll_grouped; a
    production cube would serve the estimate alone.)"""
    import shutil

    from weatherflow_spark.plans.sketches import (
        grouped_hll_rows,
        serve_grouped_hll,
    )

    base = os.path.join(_scratch_dir(sf_dir), "sketch_cube")
    shutil.rmtree(base, ignore_errors=True)  # full reset: replayable
    ev = load_table(spark, sf_dir, "events")
    sliced = ev.withColumn(
        "slice_id", F.dayofmonth(F.to_date("ts")) % SKETCH_SLICES
    )
    partials = grouped_hll_rows(sliced, "user_id", "slice_id", "event_type")
    partials = partials.groupBy("slice_id", "event_type", "b").agg(
        F.max("r").alias("m")
    )
    last = F.col("slice_id") == SKETCH_SLICES - 1
    partials.where(~last).write.partitionBy("slice_id").parquet(base)
    partials.where(last).write.mode("append").partitionBy("slice_id").parquet(
        base
    )
    stored = spark.read.parquet(base)
    regs = stored.groupBy("event_type", "b").agg(F.max("m").alias("m"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return serve_grouped_hll(regs, exact)


def _oracle_sketch_serve() -> str:
    # Merged-cube serve == one-shot sketch: the whole certification —
    # so the oracle IS q_hll_grouped's.
    from weatherflow_spark.plans.sketches import _oracle_hll_grouped

    return _oracle_hll_grouped()


STREAM_SPLIT_TS = "2024-01-16"  # testdata events span 2024-01; mid-month


def q_stream_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T3 driver row: the streaming tier certified through a REAL
    Structured Streaming execution — the events table lands in a
    scratch directory as three time-ordered file drops (first half of
    the month, second half, then the second half AGAIN — an
    at-least-once redelivery, the reference's replay-duplicates flaw,
    dags/etl.py:103), is read back as a file-source stream with
    ``maxFilesPerTrigger=1`` so availableNow drains it as a SEQUENCE
    of micro-batches (T1), flows through the production watermarked
    ``dedup_events_stream`` (T3: ``dropDuplicatesWithinWatermark``
    keeps cross-batch key state) into the tumbling 1-hour aggregation,
    and is served from the memory sink. The oracle aggregates the raw
    events directly — a hash match certifies that micro-batch
    sequencing + stateful dedup under replay reproduce exactly the
    batch answer.

    Determinism: drops get explicit strictly-increasing mtimes (the
    file source orders its backlog by modification time), each drop is
    ONE file so a batch never splits a drop's time range (watermarks
    advance between batches, so an intra-drop split could mark first
    occurrences late), and the drops are time-ordered so no FIRST
    occurrence ever arrives below the watermark. Every replayed row is
    then excluded either as an in-state duplicate or as below the
    watermark — both exclusions, which is the contract. ``coalesce(1)``
    and the memory sink are the bounded test stand-ins for a real
    landing directory and a real sink; the operators under test
    (file source, watermark state, dedup, windowed agg) are the
    production ones, with state bounded by the watermark horizon."""
    import shutil
    import time as _time

    from weatherflow_spark.streaming.pipeline import (
        dedup_events_stream,
        read_events_stream,
        run_available_now,
        tumbling_value_agg,
    )

    base = os.path.join(_scratch_dir(sf_dir), "stream_serve")
    shutil.rmtree(base, ignore_errors=True)  # fresh checkpoint: replayable
    landing = os.path.join(base, "landing")
    os.makedirs(landing)
    events = load_table(spark, sf_dir, "events")

    def _drop(df: DataFrame, name: str, mtime: float) -> str:
        stage = os.path.join(base, "stage_" + name)
        df.coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(landing, name + ".parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))
        return dst

    t0 = _time.time() - 3600.0
    _drop(events.where(F.col("ts") < STREAM_SPLIT_TS), "drop1", t0)
    d2 = _drop(events.where(F.col("ts") >= STREAM_SPLIT_TS), "drop2", t0 + 600)
    replay = os.path.join(landing, "drop3_replay.parquet")
    shutil.copyfile(d2, replay)
    os.utime(replay, (t0 + 1200, t0 + 1200))

    stream = read_events_stream(
        spark, landing, glob="*.parquet", max_files_per_trigger=1
    )
    # One watermark for the whole stateful chain: the dedup stage owns
    # it; redefining it at the agg is disallowed under chained
    # stateful operators (and complete mode needs none of its own).
    agg = tumbling_value_agg(dedup_events_stream(stream), with_watermark=False)
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    served = run_available_now(
        agg,
        f"wf_stream_serve_{tag}_{os.getpid()}",
        os.path.join(base, "ckpt"),
        output_mode="complete",
    )
    return served.select("window_start", "n_events", "sum_value")


# Dedup is identity on the raw table (event_ids are unique), so the
# oracle is the direct tumbling aggregation — same expressions as the
# batch twin q_tumbling_window_agg's oracle.
ORACLE_STREAM_SERVE = """
    SELECT
        date_trunc('hour', ts) AS window_start,
        count(*) AS n_events,
        sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) / 100.0 AS sum_value
    FROM events
    GROUP BY 1
"""


def q_serving_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving/write-tier certification row: E16 rollup-serve, E18
    global index, K3 double-applied upsert, E9 content-exact
    compaction, and E80 CDC apply — tagged by op and unioned in LONG
    format (op, key, metric, value:bigint). Every branch performs its
    REAL maintain-then-serve I/O (partial writes, keyed merges, an
    actual compaction) because that I/O is what the certified
    surfaces claim; the singles stay registered in the tail. r14
    (optimization round): the five branches are independent (disjoint
    scratch tables) — builders run through ``overlap_branches``
    (guide §2.6); union, raise checks, and oracle hash unchanged."""
    from weatherflow_spark.operators.overlap import overlap_branches

    rs_df, gi_df, up_df, cp_df, cdc_df = overlap_branches([
        lambda: q_rollup_serve(spark, sf_dir),
        lambda: q_global_index(spark, sf_dir),
        lambda: q_upsert_serve(spark, sf_dir),
        lambda: q_compact_serve(spark, sf_dir),
        lambda: q_cdc_apply(spark, sf_dir),
    ])
    rs = rs_df.selectExpr(
        "'rollup_serve' AS op",
        "concat(month, '|', event_type) AS key",
        "stack(5, 'n', n, 'sum_cents', sum_cents, 'avg_e6', avg_e6, "
        "'min_cents', min_cents, 'max_cents', max_cents) AS (metric, value)",
    )
    gi = gi_df.selectExpr(
        "'global_index' AS op",
        "cast(o_orderkey as string) AS key",
        "'row_index' AS metric",
        "row_index AS value",
    )
    # r8 additions: K3 (idempotent keyed upsert through real writes)
    # and E9 (content-exact compaction digest).
    up = up_df.selectExpr(
        "'upsert' AS op",
        "o_orderpriority AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    cp = cp_df.selectExpr(
        "'compact' AS op",
        "'all' AS key",
        "stack(6, 'n_rows', n_rows, 'key_xor', key_xor, 'key_sum', key_sum, "
        "'sum_cents', sum_cents, 'min_key', min_key, 'max_key', max_key) "
        "AS (metric, value)",
    )
    cdc = cdc_df.selectExpr(
        "'cdc' AS op",
        "o_orderpriority AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    return (
        rs.unionByName(gi).unionByName(up).unionByName(cp).unionByName(cdc)
    )


ORACLE_SERVING_SUITE = f"""
    SELECT 'rollup_serve' AS op, month || '|' || event_type AS key,
           u.metric, u.value
    FROM ({ORACLE_ROLLUP_SERVE}) r,
         (VALUES ('n'), ('sum_cents'), ('avg_e6'), ('min_cents'),
                 ('max_cents')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n' THEN r.n
                       WHEN 'sum_cents' THEN r.sum_cents
                       WHEN 'avg_e6' THEN r.avg_e6
                       WHEN 'min_cents' THEN r.min_cents
                       ELSE r.max_cents END AS value) u
    UNION ALL
    SELECT 'global_index', CAST(o_orderkey AS VARCHAR), 'row_index',
           row_index
    FROM ({ORACLE_GLOBAL_INDEX})
    UNION ALL
    SELECT 'upsert', o_orderpriority, u.metric, u.value
    FROM ({ORACLE_UPSERT_SERVE}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
    UNION ALL
    SELECT 'compact', 'all', u.metric, u.value
    FROM ({ORACLE_COMPACT_SERVE}) s,
         (VALUES ('n_rows'), ('key_xor'), ('key_sum'), ('sum_cents'),
                 ('min_key'), ('max_key')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'key_xor' THEN s.key_xor
                       WHEN 'key_sum' THEN s.key_sum
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'min_key' THEN s.min_key
                       ELSE s.max_key END AS value) u
    UNION ALL
    SELECT 'cdc', o_orderpriority, u.metric, u.value
    FROM ({ORACLE_CDC_APPLY}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
"""


def q_ann_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E88 driver row: ANN served from the PERSISTED IVF index
    (operators/vec_index.py) — build the two-table index (centroid
    table + label-partitioned vectors) through real writes, then
    answer the standard query reading ONLY the stored centroid table
    and the probed cells' partitions (the corpus outside the probe is
    never read; at 1e9 vectors that is the difference between a
    search service and a batch job). Hash-certified against the EXACT
    SAME oracle as the one-shot ``q_ann_ivf_topk``, so a match proves
    index-served search is decision-identical to full recomputation —
    the sig_index/sketch-cube discipline applied to the vector tier."""
    import shutil

    from weatherflow_spark.operators.vec_index import (
        build_ivf_index,
        search_ivf_index,
    )
    from weatherflow_spark.plans.ext_similarity import (
        QUERY_VEC_ID,
        _query_vec,
    )

    path = os.path.join(_scratch_dir(sf_dir), "ivf_index")
    shutil.rmtree(path, ignore_errors=True)  # full reset: replayable
    emb = load_table(spark, sf_dir, "embeddings")
    build_ivf_index(emb, path)
    return search_ivf_index(
        spark, path, _query_vec(spark, sf_dir), exclude_vec_id=QUERY_VEC_ID
    )


def _oracle_ann_index_serve() -> str:
    # Index-served == one-shot recompute: the whole certification —
    # so the oracle IS q_ann_ivf_topk's.
    from weatherflow_spark.plans.ext_similarity import ORACLE_ANN_IVF_TOPK

    return ORACLE_ANN_IVF_TOPK


def q_pipeline_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-pipeline certification row (r9): the five surfaces the
    r8 verdict flagged as local-only — plus the r9 persisted IVF
    serve — get one DRIVER row here, tagged by op and unioned in LONG
    format (op, key, metric, value:bigint):

    - ``stream_serve``  (T1+T3): REAL Structured Streaming run —
      micro-batch sequencing + watermarked dedup under replay.
    - ``grouped_rank``  (E77): skew-proof distributed per-group rank
      vs the single-task window spec.
    - ``index_admit``   (E81): admission served from the PERSISTED
      signature index, decision-identical to text recompute.
    - ``sketch_cube``   (E82): HLL partials persisted slice-by-slice,
      merged at serve — identical to the one-shot sketch.
    - ``shard_export``  (E85): deterministic shuffle-and-shard export
      written partition-by-shard and digested from disk.
    - ``ann_serve``     (E88, r9): ANN served from the persisted IVF
      index — probed cells only, decision-identical to one-shot.
    - ``bucketed_join`` (E93, r10): co-located fact⋈fact join —
      raises unless zero-Exchange sort-merge, digest == plain join.
    - ``file_skip``     (E100, r12): zone-map file-skipping on the
      segmented log — a selective range scan opens ≤¼ of the files
      (raise-checked) and hash-matches the plain BETWEEN oracle.
    - ``tpch_bucketed`` (E98, r11; family widened r12): the bucketed
      layout ADOPTED by real TPC-H Q3+Q18 (zero-Exchange plans,
      raise-checked) and Q4+Q12+Q21 (≤ 1 Exchange — the tiny
      post-agg re-group — raise-checked), hash == the unbucketed
      oracles verbatim. The layout itself is DURABLE: a fresh session
      re-registers the on-disk build instead of rewriting.

    r12 split (VERDICT r11 'What's wrong' #2): the eight
    lakehouse-HISTORY branches moved to :func:`q_lakehouse_suite` so
    one failing branch reddens a row that names its own family —
    16 branches / 39 s / one shared red-or-green bit obscured which
    certified component broke. Both suites stay under 10 branches.

    Every branch performs its real maintain-then-serve I/O (landing
    drops, index build, cube writes, shard writes) because that I/O
    IS the certified claim. Doubles are pinned to integers per branch
    (cents / e2 / e6) before the union; the singles stay registered
    in the tail for parity + timing continuity."""
    # r14 (optimization round): the thirteen branch builders are
    # independent (disjoint scratch/index dirs; the standing bucketed
    # layout is resolved under a per-layout thread lock) — run them
    # through ``overlap_branches`` (guide §2.6); union, raise
    # checks, and oracle hash unchanged.
    from weatherflow_spark.operators.overlap import overlap_branches

    (
        ss_df, gr_df, ia_df, sk_df, se_df, bj_df, av_df, fs_df,
        tb3_df, tb18_df, tb4_df, tb12_df, tb21_df,
    ) = overlap_branches([
        lambda: q_stream_serve(spark, sf_dir),
        lambda: q_grouped_rank(spark, sf_dir),
        lambda: q_index_admit(spark, sf_dir),
        lambda: q_sketch_serve(spark, sf_dir),
        lambda: q_shard_export(spark, sf_dir),
        lambda: q_bucketed_join_serve(spark, sf_dir),
        lambda: q_ann_index_serve(spark, sf_dir),
        lambda: q_file_skipping(spark, sf_dir),
        lambda: q_tpch_q3_bucketed(spark, sf_dir),
        lambda: q_tpch_q18_bucketed(spark, sf_dir),
        lambda: q_tpch_q4_bucketed(spark, sf_dir),
        lambda: q_tpch_q12_bucketed(spark, sf_dir),
        lambda: q_tpch_q21_bucketed(spark, sf_dir),
    ])
    ss = ss_df.selectExpr(
        "'stream_serve' AS op",
        "date_format(cast(window_start as timestamp), 'yyyy-MM-dd HH:mm:ss')"
        " AS key",
        "stack(2, 'n_events', cast(n_events as bigint), "
        "'sum_cents', cast(floor(sum_value * 100 + 0.5) as bigint))"
        " AS (metric, value)",
    )
    gr = gr_df.selectExpr(
        "'grouped_rank' AS op",
        "concat(o_orderpriority, '|', cast(o_orderkey as string)) AS key",
        "'rank' AS metric",
        "cast(rank as bigint) AS value",
    )
    ia = ia_df.selectExpr(
        "'index_admit' AS op",
        "cast(doc_id as string) AS key",
        "stack(2, 'verdict_code', cast(CASE verdict WHEN 'exact_dup' THEN 0 "
        "WHEN 'near_dup' THEN 1 ELSE 2 END as bigint), "
        "'best_j_e6', coalesce(cast(floor(best_jaccard * 1e6 + 0.5) "
        "as bigint), -1)) AS (metric, value)",
    )
    sk = sk_df.selectExpr(
        "'sketch_cube' AS op",
        "event_type AS key",
        "stack(3, 'exact_distinct', cast(exact_distinct as bigint), "
        "'hll_e2', cast(floor(hll_estimate * 100 + 0.5) as bigint), "
        "'n_zero_registers', cast(n_zero_registers as bigint))"
        " AS (metric, value)",
    )
    se = se_df.selectExpr(
        "'shard_export' AS op",
        "cast(shard_id as string) AS key",
        "stack(5, 'n_docs', cast(n_docs as bigint), "
        "'key_xor', cast(key_xor as bigint), "
        "'key_sum', cast(key_sum as bigint), "
        "'order_fp', cast(order_fp as bigint), "
        "'chars_total', cast(chars_total as bigint)) AS (metric, value)",
    )
    bj = bj_df.selectExpr(
        "'bucketed_join' AS op",
        "l_returnflag AS key",
        "stack(4, 'n_rows', n_rows, 'qty_c', qty_c, "
        "'price_c', price_c, 'key_xor', key_xor) AS (metric, value)",
    )
    av = av_df.selectExpr(
        "'ann_serve' AS op",
        "cast(vec_id as string) AS key",
        "stack(2, 'label', cast(label as bigint), "
        "'cosine_e6', cast(floor(cosine * 1e6 + 0.5) as bigint))"
        " AS (metric, value)",
    )
    fs = fs_df.selectExpr(
        "'file_skip' AS op",
        "o_orderpriority AS key",
        "stack(3, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'key_xor', key_xor) AS (metric, value)",
    )
    tb = tb3_df.selectExpr(
        "'tpch_bucketed' AS op",
        "concat('q3|', l_orderkey, '|', "
        "date_format(o_orderdate, 'yyyy-MM-dd'), '|', o_orderpriority)"
        " AS key",
        "'revenue_e4' AS metric",
        "cast(floor(revenue * 1e4 + 0.5) as bigint) AS value",
    ).unionByName(
        tb18_df.selectExpr(
            "'tpch_bucketed' AS op",
            "concat('q18|', o_orderkey) AS key",
            "stack(3, "
            "'total_qty_c', cast(floor(total_qty * 100 + 0.5) as bigint), "
            "'price_cents', price_cents, "
            "'c_custkey', cast(c_custkey as bigint)) AS (metric, value)",
        )
    ).unionByName(
        # r12: the rest of the orderkey family, routed + raise-checked.
        tb4_df.selectExpr(
            "'tpch_bucketed' AS op",
            "concat('q4|', o_orderpriority) AS key",
            "'order_count' AS metric",
            "cast(order_count as bigint) AS value",
        )
    ).unionByName(
        tb12_df.selectExpr(
            "'tpch_bucketed' AS op",
            "concat('q12|', l_shipmode) AS key",
            "stack(2, 'high_line_count', cast(high_line_count as bigint), "
            "'low_line_count', cast(low_line_count as bigint))"
            " AS (metric, value)",
        )
    ).unionByName(
        tb21_df.selectExpr(
            "'tpch_bucketed' AS op",
            "concat('q21|', s_suppkey, '|', s_name) AS key",
            "'numwait' AS metric",
            "cast(numwait as bigint) AS value",
        )
    )
    return (
        ss.unionByName(gr)
        .unionByName(ia)
        .unionByName(sk)
        .unionByName(se)
        .unionByName(av)
        .unionByName(bj)
        .unionByName(fs)
        .unionByName(tb)
    )


def q_lakehouse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse-HISTORY certification row (r12, split out of
    ``q_pipeline_suite``; r13: the three WAREHOUSE-tier branches
    split again into ``q_warehouse_suite`` — VERDICT r12 'What's
    wrong' #1: nine branches / one red-or-green bit was the same
    monolith problem the r12 split fixed). Six single-table history
    branches, LONG format (op, key, metric, value:bigint), all
    doubles pinned to integers per branch:

    - ``time_travel``   (E90): snapshot-log versions + as-of reads —
      v1/v2/replay/head digests from the retention mirror. r14: the
      head read RAISES unless its version resolution performed ZERO
      log-directory listings (E108, the checkpoint pointer — driver-
      certified instead of pytest-only per r13 verdict #6).
    - ``version_diff``  (E91): between-versions CDC feed + the
      round-trip law (apply(diff(v1,v2)) to v1 reconstructs v2).
    - ``ivm_rollup``    (E92): delta-maintained aggregate == direct
      re-aggregation, facts never rescanned.
    - ``schema_evolution`` (E94): add-column evolution through the
      keyed upsert — NULL backfill + merge-read, replayed.
    - ``change_feed``   (E95): materialized CDC feed from the version
      trail — incremental, idempotent, stream-consumable.
    - ``table_clone``   (E96): zero-copy shallow clone — clone
      complete AND divergence-isolated in one hash.

    Every branch performs its real versioned I/O because that I/O IS
    the certified claim; E91/E92/E95 share one versioned fixture by
    construction (built once per call)."""
    # E91 + E92 + E95 certify against the SAME versioned fixture by
    # construction — build it once for the three branches (the
    # singles keep building their own; claims and oracles unchanged).
    shared_tbl = _build_versioned_orders(spark, sf_dir, "pipe_vdiff_tbl")
    # r14 (optimization round): after the shared fixture lands, the
    # six branches are independent (the three fixture consumers only
    # READ it; the rest build their own tables) — builders run
    # through ``overlap_branches`` (guide §2.6); union, raise
    # checks, and oracle hash unchanged.
    from weatherflow_spark.operators.overlap import overlap_branches

    vd_df, tc_df, cf_df, sev_df, iv_df, tt_df = overlap_branches([
        lambda: q_version_diff(spark, sf_dir, _table=shared_tbl),
        lambda: q_table_clone(spark, sf_dir),
        lambda: q_change_feed(spark, sf_dir, _table=shared_tbl),
        lambda: q_schema_evolution(spark, sf_dir),
        lambda: q_ivm_rollup(spark, sf_dir, _table=shared_tbl),
        lambda: q_time_travel(spark, sf_dir),
    ])
    vd = vd_df.selectExpr(
        "'version_diff' AS op",
        "concat(section, '|', o_orderpriority) AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    tc = tc_df.selectExpr(
        "'table_clone' AS op",
        "concat(side, '|', o_orderpriority) AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    cf = cf_df.selectExpr(
        "'change_feed' AS op",
        "concat(change_version, '|', op, '|', o_orderpriority) AS key",
        "stack(3, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor) AS (metric, value)",
    )
    sev = sev_df.selectExpr(
        "'schema_evolution' AS op",
        "o_orderpriority AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'n_scored', n_scored, 'churn_sum', churn_sum) AS (metric, value)",
    )
    iv = iv_df.selectExpr(
        "'ivm_rollup' AS op",
        "o_orderpriority AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    tt = tt_df.selectExpr(
        "'time_travel' AS op",
        "concat(version_tag, '|', o_orderpriority) AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    return (
        tt.unionByName(vd)
        .unionByName(iv)
        .unionByName(sev)
        .unionByName(cf)
        .unionByName(tc)
    )


def q_warehouse_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAREHOUSE-tier certification row (r13, split out of
    ``q_lakehouse_suite`` — VERDICT r12 'What's wrong' #1): the three
    multi-table / object-store branches, LONG format, each keeping
    its raise checks:

    - ``warehouse_snapshot`` (E97): cross-table consistent snapshots
      — two multi-table loads, fact⋈dim read as-of load 1 and at
      head, each a consistent cut (whlog.py).
    - ``warehouse_replica`` (E97 × E95, r12): a replica warehouse
      rebuilt purely from the per-load multi-table feed bundle —
      load-atomic apply, exactly-once replay (raise-checked), digests
      == the SOURCE's own oracle verbatim.
    - ``manifest_travel`` (E99): the object-store retention mode
      walking E90's exact commit sequence — zero hard links
      (raise-checked), oracle == ORACLE_TIME_TRAVEL verbatim.

    E97 + its replica certify against the SAME two-load scenario by
    construction — the source warehouse is built once for both rows
    (the singles keep building their own; claims and oracles
    unchanged)."""
    shared_wh = _build_wh_tx(spark, sf_dir, "wh_tx")
    # r14 (optimization round): after the shared two-load scenario
    # lands, the three branches are independent (snapshot + replica
    # only READ the source; manifest_travel builds its own table) —
    # builders run through ``overlap_branches`` (guide §2.6); union,
    # raise checks, and oracle hash unchanged.
    from weatherflow_spark.operators.overlap import overlap_branches

    ws_df, wr_df, tm_df = overlap_branches([
        lambda: q_warehouse_snapshot(spark, sf_dir, _wh=shared_wh),
        lambda: q_warehouse_replica(spark, sf_dir, _src=shared_wh),
        lambda: q_time_travel_manifest(spark, sf_dir),
    ])
    ws = ws_df.selectExpr(
        "'warehouse_snapshot' AS op",
        "concat(version_tag, '|', c_mktsegment) AS key",
        "stack(4, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'bal_cents', bal_cents, 'key_xor', key_xor) AS (metric, value)",
    )
    wr = wr_df.selectExpr(
        "'warehouse_replica' AS op",
        "concat(version_tag, '|', c_mktsegment) AS key",
        "stack(4, 'n_rows', n_rows, 'price_cents', price_cents, "
        "'bal_cents', bal_cents, 'key_xor', key_xor) AS (metric, value)",
    )
    tm = tm_df.selectExpr(
        "'manifest_travel' AS op",
        "concat(version_tag, '|', o_orderpriority) AS key",
        "stack(4, 'n_rows', n_rows, 'sum_cents', sum_cents, "
        "'key_xor', key_xor, 'key_sum', key_sum) AS (metric, value)",
    )
    return ws.unionByName(wr).unionByName(tm)


def _oracle_pipeline_suite() -> str:
    return f"""
    SELECT 'stream_serve' AS op,
           strftime(window_start, '%Y-%m-%d %H:%M:%S') AS key,
           u.metric, u.value
    FROM ({ORACLE_STREAM_SERVE}) s,
         (VALUES ('n_events'), ('sum_cents')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric WHEN 'n_events' THEN s.n_events
                       ELSE floor(s.sum_value * 100 + 0.5) END AS BIGINT)
                      AS value) u
    UNION ALL
    SELECT 'grouped_rank', o_orderpriority || '|' || CAST(o_orderkey AS VARCHAR),
           'rank', CAST(rank AS BIGINT)
    FROM ({ORACLE_GROUPED_RANK})
    UNION ALL
    SELECT 'index_admit', CAST(doc_id AS VARCHAR), u.metric, u.value
    FROM ({_oracle_index_admit()}) s,
         (VALUES ('verdict_code'), ('best_j_e6')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric WHEN 'verdict_code' THEN
                           CASE s.verdict WHEN 'exact_dup' THEN 0
                                WHEN 'near_dup' THEN 1 ELSE 2 END
                       ELSE COALESCE(floor(s.best_jaccard * 1e6 + 0.5), -1)
                       END AS BIGINT) AS value) u
    UNION ALL
    SELECT 'sketch_cube', event_type, u.metric, u.value
    FROM ({_oracle_sketch_serve()}) s,
         (VALUES ('exact_distinct'), ('hll_e2'), ('n_zero_registers'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric WHEN 'exact_distinct' THEN s.exact_distinct
                       WHEN 'hll_e2' THEN floor(s.hll_estimate * 100 + 0.5)
                       ELSE s.n_zero_registers END AS BIGINT) AS value) u
    UNION ALL
    SELECT 'shard_export', CAST(shard_id AS VARCHAR), u.metric, u.value
    FROM ({_oracle_shard_export()}) s,
         (VALUES ('n_docs'), ('key_xor'), ('key_sum'), ('order_fp'),
                 ('chars_total')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric WHEN 'n_docs' THEN s.n_docs
                       WHEN 'key_xor' THEN s.key_xor
                       WHEN 'key_sum' THEN s.key_sum
                       WHEN 'order_fp' THEN s.order_fp
                       ELSE s.chars_total END AS BIGINT) AS value) u
    UNION ALL
    SELECT 'bucketed_join', l_returnflag, u.metric, u.value
    FROM ({ORACLE_BUCKETED_JOIN}) s,
         (VALUES ('n_rows'), ('qty_c'), ('price_c'), ('key_xor'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'qty_c' THEN s.qty_c
                       WHEN 'price_c' THEN s.price_c
                       ELSE s.key_xor END AS value) u
    UNION ALL
    SELECT 'tpch_bucketed',
           'q3|' || l_orderkey || '|' || strftime(o_orderdate, '%Y-%m-%d')
               || '|' || o_orderpriority,
           'revenue_e4', CAST(floor(revenue * 1e4 + 0.5) AS BIGINT)
    FROM ({_oracle_tpch_q3_bucketed()})
    UNION ALL
    SELECT 'tpch_bucketed', 'q18|' || o_orderkey, u.metric, u.value
    FROM ({_oracle_tpch_q18_bucketed()}) s,
         (VALUES ('total_qty_c'), ('price_cents'), ('c_custkey'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric
                       WHEN 'total_qty_c' THEN floor(s.total_qty * 100 + 0.5)
                       WHEN 'price_cents' THEN s.price_cents
                       ELSE s.c_custkey END AS BIGINT) AS value) u
    UNION ALL
    SELECT 'tpch_bucketed', 'q4|' || o_orderpriority,
           'order_count', CAST(order_count AS BIGINT)
    FROM ({_oracle_tpch_q4_bucketed()})
    UNION ALL
    SELECT 'tpch_bucketed', 'q12|' || l_shipmode, u.metric, u.value
    FROM ({_oracle_tpch_q12_bucketed()}) s,
         (VALUES ('high_line_count'), ('low_line_count')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric WHEN 'high_line_count'
                       THEN s.high_line_count
                       ELSE s.low_line_count END AS BIGINT) AS value) u
    UNION ALL
    SELECT 'tpch_bucketed',
           'q21|' || s_suppkey || '|' || s_name,
           'numwait', CAST(numwait AS BIGINT)
    FROM ({_oracle_tpch_q21_bucketed()})
    UNION ALL
    SELECT 'file_skip', o_orderpriority, u.metric, u.value
    FROM ({ORACLE_FILE_SKIPPING}) s,
         (VALUES ('n_rows'), ('price_cents'), ('key_xor')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'price_cents' THEN s.price_cents
                       ELSE s.key_xor END AS value) u
    UNION ALL
    SELECT 'ann_serve', CAST(vec_id AS VARCHAR), u.metric, u.value
    FROM ({_oracle_ann_index_serve()}) s,
         (VALUES ('label'), ('cosine_e6')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CAST(CASE m.metric WHEN 'label' THEN s.label
                       ELSE floor(s.cosine * 1e6 + 0.5) END AS BIGINT)
                      AS value) u
    """


def _oracle_lakehouse_suite() -> str:
    return f"""
    SELECT 'table_clone' AS op,
           side || '|' || o_orderpriority AS key,
           u.metric AS metric, u.value AS value
    FROM ({ORACLE_TABLE_CLONE}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
    UNION ALL
    SELECT 'change_feed',
           change_version || '|' || f.op || '|' || o_orderpriority,
           u.metric, u.value
    FROM ({ORACLE_CHANGE_FEED}) f,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor')) AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN f.n_rows
                       WHEN 'sum_cents' THEN f.sum_cents
                       ELSE f.key_xor END AS value) u
    UNION ALL
    SELECT 'schema_evolution', o_orderpriority, u.metric, u.value
    FROM ({ORACLE_SCHEMA_EVOLUTION}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('n_scored'), ('churn_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'n_scored' THEN s.n_scored
                       ELSE s.churn_sum END AS value) u
    UNION ALL
    SELECT 'ivm_rollup', o_orderpriority, u.metric, u.value
    FROM ({ORACLE_IVM_ROLLUP}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
    UNION ALL
    SELECT 'version_diff', section || '|' || o_orderpriority,
           u.metric, u.value
    FROM ({ORACLE_VERSION_DIFF}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
    UNION ALL
    SELECT 'time_travel', version_tag || '|' || o_orderpriority,
           u.metric, u.value
    FROM ({ORACLE_TIME_TRAVEL}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
    """


def _oracle_warehouse_suite() -> str:
    return f"""
    SELECT 'warehouse_snapshot' AS op,
           version_tag || '|' || c_mktsegment AS key,
           u.metric AS metric, u.value AS value
    FROM ({ORACLE_WAREHOUSE_SNAPSHOT}) s,
         (VALUES ('n_rows'), ('price_cents'), ('bal_cents'), ('key_xor'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'price_cents' THEN s.price_cents
                       WHEN 'bal_cents' THEN s.bal_cents
                       ELSE s.key_xor END AS value) u
    UNION ALL
    SELECT 'warehouse_replica', version_tag || '|' || c_mktsegment,
           u.metric, u.value
    FROM ({ORACLE_WAREHOUSE_SNAPSHOT}) s,
         (VALUES ('n_rows'), ('price_cents'), ('bal_cents'), ('key_xor'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'price_cents' THEN s.price_cents
                       WHEN 'bal_cents' THEN s.bal_cents
                       ELSE s.key_xor END AS value) u
    UNION ALL
    SELECT 'manifest_travel', version_tag || '|' || o_orderpriority,
           u.metric, u.value
    FROM ({ORACLE_TIME_TRAVEL}) s,
         (VALUES ('n_rows'), ('sum_cents'), ('key_xor'), ('key_sum'))
             AS m(metric),
         LATERAL (SELECT m.metric AS metric,
                  CASE m.metric WHEN 'n_rows' THEN s.n_rows
                       WHEN 'sum_cents' THEN s.sum_cents
                       WHEN 'key_xor' THEN s.key_xor
                       ELSE s.key_sum END AS value) u
    """


SERVING_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_pipeline_suite": q_pipeline_suite,
    "q_lakehouse_suite": q_lakehouse_suite,
    "q_warehouse_suite": q_warehouse_suite,
    "q_serving_suite": q_serving_suite,
    "q_rollup_serve": q_rollup_serve,
    "q_global_index": q_global_index,
    "q_upsert_serve": q_upsert_serve,
    "q_compact_serve": q_compact_serve,
    "q_grouped_rank": q_grouped_rank,
    "q_cdc_apply": q_cdc_apply,
    "q_index_admit": q_index_admit,
    "q_stream_serve": q_stream_serve,
    "q_sketch_serve": q_sketch_serve,
    "q_shard_export": q_shard_export,
    "q_ann_index_serve": q_ann_index_serve,
    "q_time_travel": q_time_travel,
    "q_version_diff": q_version_diff,
    "q_ivm_rollup": q_ivm_rollup,
    "q_bucketed_join_serve": q_bucketed_join_serve,
    "q_schema_evolution": q_schema_evolution,
    "q_change_feed": q_change_feed,
    "q_table_clone": q_table_clone,
    "q_warehouse_snapshot": q_warehouse_snapshot,
    "q_warehouse_replica": q_warehouse_replica,
    "q_file_skipping": q_file_skipping,
    "q_zorder_skipping": q_zorder_skipping,
    "q_partition_compaction": q_partition_compaction,
    "q_delete_where": q_delete_where,
    "q_delete_where_dv": q_delete_where_dv,
    "q_forget_stream": q_forget_stream,
    "q_warehouse_maintenance": q_warehouse_maintenance,
    "q_tpch_q6_skipping": q_tpch_q6_skipping,
    "q_restore_version": q_restore_version,
    "q_maintenance_suite": q_maintenance_suite,
    "q_maintenance2_suite": q_maintenance2_suite,
    "q_tpch_q3_bucketed": q_tpch_q3_bucketed,
    "q_tpch_q18_bucketed": q_tpch_q18_bucketed,
    "q_tpch_q4_bucketed": q_tpch_q4_bucketed,
    "q_tpch_q12_bucketed": q_tpch_q12_bucketed,
    "q_tpch_q21_bucketed": q_tpch_q21_bucketed,
    "q_tpch_q13_bucketed": q_tpch_q13_bucketed,
    "q_tpch_q10_bucketed": q_tpch_q10_bucketed,
    "q_time_travel_manifest": q_time_travel_manifest,
    "q_star_transaction": q_star_transaction,
}

SERVING_ORACLES: dict[str, str] = {
    "q_pipeline_suite": _oracle_pipeline_suite(),
    "q_lakehouse_suite": _oracle_lakehouse_suite(),
    "q_warehouse_suite": _oracle_warehouse_suite(),
    "q_serving_suite": ORACLE_SERVING_SUITE,
    "q_rollup_serve": ORACLE_ROLLUP_SERVE,
    "q_global_index": ORACLE_GLOBAL_INDEX,
    "q_upsert_serve": ORACLE_UPSERT_SERVE,
    "q_compact_serve": ORACLE_COMPACT_SERVE,
    "q_grouped_rank": ORACLE_GROUPED_RANK,
    "q_cdc_apply": ORACLE_CDC_APPLY,
    "q_index_admit": _oracle_index_admit(),
    "q_stream_serve": ORACLE_STREAM_SERVE,
    "q_sketch_serve": _oracle_sketch_serve(),
    "q_shard_export": _oracle_shard_export(),
    "q_ann_index_serve": _oracle_ann_index_serve(),
    "q_time_travel": ORACLE_TIME_TRAVEL,
    "q_version_diff": ORACLE_VERSION_DIFF,
    "q_ivm_rollup": ORACLE_IVM_ROLLUP,
    "q_bucketed_join_serve": ORACLE_BUCKETED_JOIN,
    "q_schema_evolution": ORACLE_SCHEMA_EVOLUTION,
    "q_change_feed": ORACLE_CHANGE_FEED,
    "q_table_clone": ORACLE_TABLE_CLONE,
    "q_warehouse_snapshot": ORACLE_WAREHOUSE_SNAPSHOT,
    # r12: replication correctness IS digest identity with the source
    # warehouse's own oracle.
    "q_warehouse_replica": ORACLE_WAREHOUSE_SNAPSHOT,
    "q_file_skipping": ORACLE_FILE_SKIPPING,
    # r13: the two-column Z-order band must equal the plain
    # two-predicate oracle with the same derived bounds.
    "q_zorder_skipping": ORACLE_ZORDER_SKIPPING,
    "q_partition_compaction": ORACLE_PARTITION_COMPACTION,
    "q_delete_where": ORACLE_DELETE_WHERE,
    # r13: the merge-on-read twin must produce the eager delete's
    # answer — same WHERE NOT (predicate) oracle shape.
    "q_delete_where_dv": ORACLE_DELETE_WHERE_DV,
    # r14 E114: the streamed forget must produce the batch delete's
    # answer — WHERE NOT (victim predicate) on raw orders, hashed
    # through the merge-on-read head read.
    "q_forget_stream": ORACLE_FORGET_STREAM,
    "q_warehouse_maintenance": ORACLE_WAREHOUSE_MAINTENANCE,
    # E100 adoption: identity with the plain Q6 oracle verbatim.
    "q_tpch_q6_skipping": _oracle_tpch_q6_skipping(),
    # E104: the restore must reproduce the seed exactly — plain
    # raw-orders digest, shared with the compaction row.
    "q_restore_version": ORACLE_PARTITION_COMPACTION,
    "q_maintenance_suite": _oracle_maintenance_suite(),
    "q_maintenance2_suite": _oracle_maintenance2_suite(),
    "q_tpch_q3_bucketed": _oracle_tpch_q3_bucketed(),
    "q_tpch_q18_bucketed": _oracle_tpch_q18_bucketed(),
    # r12: the rest of the orderkey family routed through the layout —
    # the adoption claim IS oracle identity with the plain forms.
    "q_tpch_q4_bucketed": _oracle_tpch_q4_bucketed(),
    "q_tpch_q12_bucketed": _oracle_tpch_q12_bucketed(),
    "q_tpch_q21_bucketed": _oracle_tpch_q21_bucketed(),
    # r13: the custkey family routed through the second standing
    # layout — adoption claim IS oracle identity with the plain forms.
    "q_tpch_q13_bucketed": _oracle_tpch_q13_bucketed(),
    "q_tpch_q10_bucketed": _oracle_tpch_q10_bucketed(),
    # E99: the manifest-mode walk must reconstruct the SAME logical
    # history as the mirror-mode walk — oracle reused verbatim.
    "q_time_travel_manifest": ORACLE_TIME_TRAVEL,
    "q_star_transaction": _oracle_star_transaction(),
}
