"""Star-schema build: determinism, idempotence, and shape
(reference K1/K2/K3, SURVEY §5.4)."""

from __future__ import annotations

from pyspark.sql import Row

from weatherflow_spark.operators.star import build_weather_star, with_star_keys


def _enriched(spark):
    return spark.createDataFrame(
        [
            Row(
                station_id=1,
                recorded_datetime_local="2024-01-01 10:00:00",
                recorded_date_local="2024-01-01",
                recorded_month_local="January",
                recorded_quarter_local="Q1",
                recorded_season_local="Winter",
                recorded_weekday_local="Monday",
                recorded_year_local=2024,
                temp=5.0,
                humidity=80.0,
                dew_point=1.0,
                heat_index=4.0,
            ),
            Row(
                station_id=2,
                recorded_datetime_local="2024-01-01 10:00:00",
                recorded_date_local="2024-01-01",
                recorded_month_local="January",
                recorded_quarter_local="Q1",
                recorded_season_local="Winter",
                recorded_weekday_local="Monday",
                recorded_year_local=2024,
                temp=7.0,
                humidity=70.0,
                dew_point=1.0,
                heat_index=6.0,
            ),
        ]
    )


def test_star_tables_shape(spark):
    star = build_weather_star(_enriched(spark))
    assert set(star) == {
        "w_fact", "w_time_dim", "w_param_dim", "w_temp_dim", "w_heat_index_dim"
    }
    fact = star["w_fact"]
    # keys-only fact (create_tables.sql:11-18)
    assert fact.columns == [
        "record_id", "station_id", "time_id", "parameter_id", "temp_id", "heat_index_id"
    ]
    rows = fact.collect()
    assert len(rows) == 2
    # five distinct ids per record (reference mints five uuids, etl.py:103)
    ids = rows[0]
    assert len({ids.record_id, ids.time_id, ids.parameter_id, ids.temp_id,
                ids.heat_index_id}) == 5


def test_star_keys_deterministic_rerun(spark):
    # Re-running the build yields identical keys → rerun-idempotent
    # overwrite, unlike the reference's uuid4 blind-append (T3).
    a = sorted(r.record_id for r in build_weather_star(_enriched(spark))["w_fact"].collect())
    b = sorted(r.record_id for r in build_weather_star(_enriched(spark))["w_fact"].collect())
    assert a == b


def test_star_keys_differ_across_natural_keys(spark):
    rows = with_star_keys(_enriched(spark), ["station_id", "recorded_datetime_local"]).collect()
    assert rows[0].record_id != rows[1].record_id


def test_heat_index_dim_hardcoded_fields(spark):
    # heat_index_category=1, description='' hardcoded (etl.py:120).
    hd = build_weather_star(_enriched(spark))["w_heat_index_dim"].head()
    assert hd.heat_index_category == 1
    assert hd.description == ""


def test_load_star_warehouse_is_one_transaction(spark, tmp_path):
    """r11 (E97 × K1-K3): the five-table star load commits as ONE
    logical warehouse load — the reference's per-record transaction
    spanning the same five tables (database.py:25-34) — so a reader
    never sees a fact batch without its dims, replays are
    exactly-once, and 'the warehouse as of load N' answers across all
    five tables."""
    from pyspark.sql import functions as F

    from weatherflow_spark.operators.star import load_star_warehouse
    from weatherflow_spark.operators.whlog import (
        read_warehouse,
        warehouse_loads,
    )

    wh = str(tmp_path / "star_wh")
    star1 = build_weather_star(_enriched(spark))
    assert load_star_warehouse(spark, star1, wh, batch_id="b1") == 1
    # replayed load: content no-op (deterministic keys), SAME entry
    assert load_star_warehouse(spark, star1, wh, batch_id="b1") == 1
    assert warehouse_loads(wh) == [1]

    # load 2: a station's temp is revised — same natural key, new dim
    revised = _enriched(spark).withColumn(
        "temp", F.col("temp") + F.lit(10.0)
    )
    star2 = build_weather_star(revised)
    assert load_star_warehouse(spark, star2, wh, batch_id="b2") == 2

    t1 = read_warehouse(spark, wh, 1)
    t2 = read_warehouse(spark, wh)
    assert set(t1) == set(star1)  # all five tables, both loads
    # as-of load 1: the ORIGINAL temps, consistently joined
    j1 = t1["w_fact"].join(t1["w_temp_dim"], "temp_id")
    assert sorted(r.temp for r in j1.collect()) == [5.0, 7.0]
    j2 = t2["w_fact"].join(t2["w_temp_dim"], "temp_id")
    assert sorted(r.temp for r in j2.collect()) == [15.0, 17.0]
    # fact row count stable across loads (keys deterministic)
    assert t1["w_fact"].count() == t2["w_fact"].count() == 2


# Spark jobs one load of a small two-date batch into an existing
# partitioned warehouse may run: five keyed merges (batch checkpoint,
# key check, touched-partition collect, merge checkpoint, write) plus
# the load commit. A change that brings back a rescan of the batch
# exceeds it.
STAR_LOAD_JOB_BUDGET = 55


def _poll(spark, minute: int, stations: int = 20):
    rows = [
        Row(
            station_id=s,
            recorded_datetime_local=f"2024-01-0{1 + s % 2} 10:{minute:02d}:00",
            recorded_date_local=f"2024-01-0{1 + s % 2}",
            recorded_month_local="January",
            recorded_quarter_local="Q1",
            recorded_season_local="Winter",
            recorded_weekday_local="Monday",
            recorded_year_local=2024,
            temp=5.0 + s,
            humidity=80.0,
            dew_point=1.0,
            heat_index=4.0 + s,
        )
        for s in range(stations)
    ]
    return build_weather_star(spark.createDataFrame(rows), denormalize_date=True)


def test_star_load_job_budget(spark, tmp_path):
    """The loader's pool threads do not inherit a job group, so the
    load is bracketed by two marker jobs: job ids are monotone, and
    every job between the markers belongs to the load."""
    from weatherflow_spark.operators.star import (
        STAR_DATE_PARTITIONING,
        load_star_warehouse,
    )

    wh = str(tmp_path / "wh")
    load_star_warehouse(
        spark, _poll(spark, 0), wh, batch_id="b0",
        partition_cols=STAR_DATE_PARTITIONING,
    )
    sc = spark.sparkContext
    group = "star-load-job-budget"

    def marker() -> int:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "markers")
    try:
        first = marker()
        load_star_warehouse(
            spark, _poll(spark, 5), wh, batch_id="b1",
            partition_cols=STAR_DATE_PARTITIONING,
        )
        jobs = marker() - first - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < jobs <= STAR_LOAD_JOB_BUDGET, jobs
