"""Star-schema warehouse build (reference K1/K2/K3).

Behavioral spec: reference ``dags/etl.py:96-123`` loads each enriched
weather record as one row in each of five MySQL tables
(``SQL/create_tables.sql:2-55``): a keys-only fact plus four 1:1
dimensions (``SQL/dbdiagram.txt:59-63``). The reference mints five
``uuid4()`` surrogate keys per record (etl.py:103) and INSERTs
row-at-a-time inside a per-record transaction (database.py:25-34).

Spark-first re-expression:

- Surrogate keys are **deterministic content hashes**
  (``sha2(concat_ws('|', natural key, dim tag), 256)``): reruns are
  idempotent (the reference's uuid keys duplicate facts on replay —
  SURVEY §2.9 T3) and results are oracle-checkable.
- The five table loads are five narrow projections off **one** cached
  enriched DataFrame — no shuffle anywhere; at 100 TB each write is
  an independent column-pruned scan of the cached plan, partitioned
  by ``recorded_date_local`` so time-range queries prune partitions.
- Per-record transactions are superseded by Spark's all-or-nothing
  job commit; idempotence comes from deterministic keys +
  ``overwrite`` mode, not rollback.
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, functions as F

# Dimension tags baked into each surrogate key so the five ids of one
# record differ (the reference mints five distinct uuids, etl.py:103).
DIM_TAGS = ("record", "time", "param", "temp", "heat_index")


def surrogate_key(natural_key: list[Column], tag: str) -> Column:
    """Deterministic replacement for the reference's uuid4 (etl.py:103)."""
    parts = [c.cast("string") for c in natural_key] + [F.lit(tag)]
    return F.sha2(F.concat_ws("|", *parts), 256)


def with_star_keys(
    enriched: DataFrame,
    natural_key_cols: list[str],
) -> DataFrame:
    """Add the five surrogate-key columns in one projection."""
    nk = [F.col(c) for c in natural_key_cols]
    return enriched.withColumns(
        {
            "record_id": surrogate_key(nk, "record"),
            "time_id": surrogate_key(nk, "time"),
            "parameter_id": surrogate_key(nk, "param"),
            "temp_id": surrogate_key(nk, "temp"),
            "heat_index_id": surrogate_key(nk, "heat_index"),
        }
    )


# The denormalized date-layout column: the reference
# fact is keys-only (create_tables.sql:11-18), so an unpartitioned
# star pays a FULL five-table read-modify-write per 5-minute load
# (etl.py:129, catchup=False :131) — O(T²/b) cumulative. Carrying the
# local calendar date on every star table (DATE-typed: a string
# partition value like '2024-01-02' would be re-inferred as DATE on
# read and split the schema) lets each load touch only its dates.
STAR_DATE_COL = "recorded_date"
STAR_DATE_PARTITIONING = {
    "w_fact": [STAR_DATE_COL],
    "w_time_dim": [STAR_DATE_COL],
    "w_param_dim": [STAR_DATE_COL],
    "w_temp_dim": [STAR_DATE_COL],
    "w_heat_index_dim": [STAR_DATE_COL],
}


def build_weather_star(
    enriched: DataFrame,
    station_col: str = "station_id",
    natural_key_cols: list[str] | None = None,
    denormalize_date: bool = False,
) -> dict[str, DataFrame]:
    """Split one enriched weather DataFrame into the five star tables.

    Column layout mirrors ``SQL/create_tables.sql``:

    - ``w_fact`` (11-18): keys only, no measures
    - ``w_time_dim`` (20-29): local datetime + calendar attributes
    - ``w_param_dim`` (31-40): wind/pressure/humidity/visibility/
      clouds/dew point
    - ``w_temp_dim`` (42-48): temps + feels_like
    - ``w_heat_index_dim`` (50-55): heat index, category=1,
      description='' (both hardcoded by the reference, etl.py:120)

    Missing physical columns (e.g. events-based tests have no wind)
    are emitted as typed NULLs so the schema is stable.

    ``denormalize_date=True`` appends :data:`STAR_DATE_COL` (the local
    calendar date, DATE-typed) as the LAST column of every table — the
    layout column :data:`STAR_DATE_PARTITIONING` partitions by, so a
    partitioned load touches only its dates (100 TB posture). Appended
    last deliberately: Spark returns hive partition columns after the
    data columns on read, so the read-back column order equals the
    build order and batch/stream parity stays column-exact.
    """
    natural_key_cols = natural_key_cols or [station_col, "recorded_datetime_local"]
    keyed = with_star_keys(enriched, natural_key_cols)

    cols = set(keyed.columns)

    def col_or_null(name: str, dtype: str) -> Column:
        return (F.col(name) if name in cols else F.lit(None)).cast(dtype).alias(name)

    date_tail: list[Column] = []
    if denormalize_date:
        keyed = keyed.withColumn(
            STAR_DATE_COL, col_or_null("recorded_date_local", "date")
        )
        date_tail = [F.col(STAR_DATE_COL)]

    fact = keyed.select(
        "record_id", station_col, "time_id", "parameter_id", "temp_id",
        "heat_index_id", *date_tail,
    )
    time_dim = keyed.select(
        "time_id",
        col_or_null("recorded_datetime_local", "string"),
        col_or_null("recorded_date_local", "string"),
        col_or_null("recorded_month_local", "string"),
        col_or_null("recorded_quarter_local", "string"),
        col_or_null("recorded_season_local", "string"),
        col_or_null("recorded_weekday_local", "string"),
        col_or_null("recorded_year_local", "int"),
        *date_tail,
    )
    param_dim = keyed.select(
        "parameter_id",
        col_or_null("wind_speed", "double"),
        col_or_null("wind_direction", "double"),
        col_or_null("pressure", "double"),
        col_or_null("humidity", "double"),
        col_or_null("visibility", "double"),
        col_or_null("cloudiness", "double"),
        col_or_null("dew_point", "double"),
        *date_tail,
    )
    temp_dim = keyed.select(
        "temp_id",
        col_or_null("temp", "double"),
        col_or_null("temp_min", "double"),
        col_or_null("temp_max", "double"),
        col_or_null("feels_like", "double"),
        *date_tail,
    )
    heat_dim = keyed.select(
        "heat_index_id",
        col_or_null("heat_index", "double"),
        F.lit(1).alias("heat_index_category"),
        F.lit("").alias("description"),
        *date_tail,
    )
    return {
        "w_fact": fact,
        "w_time_dim": time_dim,
        "w_param_dim": param_dim,
        "w_temp_dim": temp_dim,
        "w_heat_index_dim": heat_dim,
    }


def write_star(
    tables: dict[str, DataFrame], base_path: str, mode: str = "overwrite"
) -> None:
    """Persist the star to parquet; fact partitioned by station for
    co-located star joins at scale (dims are broadcast-size)."""
    for name, df in tables.items():
        df.write.mode(mode).parquet(f"{base_path}/{name}")


# Each star table's merge key — the surrogate id it is keyed by
# (create_tables.sql PRIMARY KEYs).
STAR_KEYS = {
    "w_fact": "record_id",
    "w_time_dim": "time_id",
    "w_param_dim": "parameter_id",
    "w_temp_dim": "temp_id",
    "w_heat_index_dim": "heat_index_id",
}


def load_star_warehouse(
    spark,
    tables: dict[str, DataFrame],
    wh_dir: str,
    batch_id: object | None = None,
    partition_cols: dict[str, list[str]] | None = None,
) -> int:
    """ONE logical star load (reference K1-K3): merge every star table by
    its surrogate key, then commit all five as a single warehouse
    load entry — the engine's analog of the reference's per-record
    transaction spanning the same five tables (reference
    dags/utils/database.py:25-34, create_tables.sql:11-55). The load
    entry exists only after EVERY table committed under all five
    locks, so ``read_warehouse(wh_dir, load)`` can never observe a
    fact batch without its dims. Further guarantees:

    - ``batch_id`` short-circuits BEFORE any table is touched — a
      late-redelivered OLD batch must not rewrite current rows back
      to stale values (its dim ids are the same content hashes) and
      then "succeed" by returning the old load number.
    - The COMPLETE five-table set is required: a partial load entry
      would make the warehouse-as-of-load contract unanswerable for
      the missing members and let ``vacuum_warehouse`` sweep their
      as-of versions.
    - Dims and fact prepare concurrently; only the fact's write
      waits: no ``w_fact`` file is written before every dim has
      committed, and a failed dim means no fact write. A crash
      mid-load strands at worst unreferenced dim rows — never facts
      whose dims don't exist — so the next distinct load's entry
      stays join-complete.
    - In-batch duplicate keys collapse before the merge; otherwise an
      at-least-once double delivery poison-loops on the upsert's
      duplicate-key guard (the streaming-sink lesson). NOTE the
      per-table picks are INDEPENDENT: true re-deliveries are
      byte-identical so any pick is a no-op, but a batch carrying
      CONFLICTING rows for one natural key (an in-batch revision —
      surrogate ids hash only the natural key) could keep different
      revisions in different tables. Callers must collapse
      conflicting records upstream on the natural key — one
      consistent winner across all five splits — as the engine's
      stream sink does (streaming/pipeline.py).
    - ``batch_id`` replay protection lasts exactly as far as LOAD
      RETENTION and the id space is CALLER-OWNED (the Delta txnAppId
      shape) — see :func:`~weatherflow_spark.operators.whlog.
      committed_load` for both boundaries.

    ``partition_cols`` maps table → hive partition columns for
    deployments that carry a date column on the tables (the 100 TB
    posture: without it each load is a full-table read-modify-write;
    with it the merge touches only the batch's partitions). Returns
    the load number."""
    import os

    from weatherflow_spark.operators.snaplog import init_snapshot_log
    from weatherflow_spark.operators.upsert import upsert_by_key
    from weatherflow_spark.operators.whlog import (
        commit_warehouse,
        committed_load,
        init_warehouse_log,
    )

    if set(tables) != set(STAR_KEYS):
        raise ValueError(
            f"load_star_warehouse needs exactly {sorted(STAR_KEYS)}, "
            f"got {sorted(tables)}"
        )
    bad_pc = sorted(set(partition_cols or {}) - set(STAR_KEYS))
    if bad_pc:
        # A typo'd table name would otherwise silently degrade that
        # table to an unpartitioned full rewrite per load.
        raise ValueError(f"partition_cols for unknown star tables: {bad_pc}")
    init_warehouse_log(wh_dir)
    if batch_id is not None:
        prior = committed_load(wh_dir, batch_id)
        if prior is not None:
            return prior  # replayed load: nothing touched
    # Version every member from its first write: a seed merge then
    # records the schema it wrote, and commit_warehouse reuses that
    # head instead of inferring each member's schema with a Spark job.
    for name in tables:
        init_snapshot_log(os.path.join(wh_dir, name))
    from concurrent.futures import ThreadPoolExecutor

    def _merge(name: str, before_write=None) -> None:
        key = STAR_KEYS[name]
        upsert_by_key(
            spark,
            tables[name].dropDuplicates([key]),
            os.path.join(wh_dir, name),
            [key],
            (partition_cols or {}).get(name),
            before_write=before_write,
        )

    # Dims and fact prepare concurrently; only the fact's write waits.
    # The five merges run at once, each under its own dataset lock, so
    # the fact's validation, read and merge checkpoint overlap the
    # dims. Its before_write gate joins the dim merges before its first
    # file is written; a dim's failure re-raises there and the fact
    # writes nothing. Same-path writers stay single-threaded by the
    # loader's contract. Every merge runs with the caller's job group
    # and tags, so the load's jobs count towards the caller.
    dims = sorted(n for n in tables if n != "w_fact")

    def submit(*args):
        # One wrap per submission: a wrap clones the caller's local
        # properties once, and threads must not share a clone because
        # Spark sets per-query properties on it.
        return pool.submit(inheritable_thread_target(spark)(_merge), *args)

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        dim_futs = [submit(d) for d in dims]

        def dims_committed() -> None:
            for f in dim_futs:
                f.result()

        fact_fut = submit("w_fact", dims_committed)
        for fut in [*dim_futs, fact_fut]:
            fut.result()  # the first dim failure wins over the fact's echo
    return commit_warehouse(wh_dir, sorted(tables), batch_id=batch_id)
