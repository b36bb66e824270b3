"""SQL-string surface for the lakehouse verbs (r13 verdict #7): time
travel via ``wf_version('<path>'[, v])`` table substitution and
maintenance via ``CALL <verb>(...)`` — a warehouse operator works a
SQL console; every verb below runs with NO Python API in sight.
The reference's only entry style is raw SQL handed to MySQL
(reference dags/utils/database.py:16-23); SURVEY §3 commits this
engine to SQL alongside the DataFrame API."""

import os

import pytest
from pyspark.sql import Row

from weatherflow_spark import sql as wf_sql


def _mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def _seed(spark, path):
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
    )

    rows = [
        {"k": i, "day": f"2026-01-0{1 + i % 3}", "v": float(i)}
        for i in range(30)
    ]
    _mk(spark, rows).repartition(1).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(path)
    init_snapshot_log(path)
    record_commit(path)


def test_sql_delete_time_travel_restore_cycle(spark, tmp_path, snap_mode):
    """The full operator loop — DV delete, as-of reads of both sides,
    rollback — driven purely through SQL strings."""
    path = str(tmp_path / "t")
    _seed(spark, path)

    rep = wf_sql.execute(
        spark,
        f"CALL delete_where_dv('{path}', 'k % 10 = 3', 'k', 'day')",
    ).first()
    assert rep["keys_deleted"] == "3"
    assert rep["files_rewritten"] == "0"

    # head read sees the delete; VERSION AS OF 1 still has every row
    head_n = wf_sql.execute(
        spark, f"SELECT count(*) AS n FROM wf_version('{path}')"
    ).first()["n"]
    v1_n = wf_sql.execute(
        spark, f"SELECT count(*) AS n FROM wf_version('{path}', 1)"
    ).first()["n"]
    assert (head_n, v1_n) == (27, 30)
    # composes inside a join like any table
    joined = wf_sql.execute(
        spark,
        f"SELECT count(*) AS n FROM wf_version('{path}', 1) a "
        f"LEFT ANTI JOIN wf_version('{path}') b ON a.k = b.k",
    ).first()["n"]
    assert joined == 3  # exactly the victims

    # rollback-as-new-commit, then the head serves the seed again
    wf_sql.execute(spark, f"CALL restore('{path}', 1, 'k', 'day')")
    assert (
        wf_sql.execute(
            spark, f"SELECT count(*) AS n FROM wf_version('{path}')"
        ).first()["n"]
        == 30
    )


def test_sql_call_compact_partitions_and_vacuum(spark, tmp_path):
    from weatherflow_spark.operators.snaplog import head_dv, versions

    path = str(tmp_path / "t")
    _seed(spark, path)
    wf_sql.execute(
        spark, f"CALL delete_where_dv('{path}', 'k = 7', 'k', 'day')"
    )
    assert head_dv(path)
    rep = wf_sql.execute(
        spark,
        f"CALL compact_partitions('{path}', 'day', 100, 'k')",
    ).first()
    assert int(rep["partitions_compacted"]) == 1
    assert head_dv(path) == {}, "SQL-driven fold must drop the DV"
    wf_sql.execute(spark, f"CALL vacuum_versions('{path}', 1)")
    assert len(versions(path)) == 1


def test_sql_call_rejects_unknown_verb_and_bad_args(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown CALL verb"):
        wf_sql.execute(spark, "CALL drop_everything('/x')")
    with pytest.raises(ValueError, match="unterminated"):
        wf_sql.execute(spark, "CALL restore('/x, 1, 'k')")


def test_sql_string_literal_escaping(spark, tmp_path):
    """Predicates with quoted literals pass through '' escaping."""
    from weatherflow_spark.operators.snaplog import read_version

    path = str(tmp_path / "t")
    _seed(spark, path)
    wf_sql.execute(
        spark,
        f"CALL delete_where_dv('{path}', "
        "'day = ''2026-01-02''', 'k', 'day')",
    )
    days = {
        str(r["day"])
        for r in read_version(spark, path).select("day").distinct().collect()
    }
    assert days == {"2026-01-01", "2026-01-03"}


def test_timestamp_as_of_travel(spark, tmp_path):
    """TIMESTAMP AS OF (r14): resolve a version by commit instant —
    the Delta/Iceberg second travel axis — through both the Python
    API and the SQL wf_version('<path>', [TIMESTAMP] '<iso>') form."""
    import datetime as dt
    import time

    from weatherflow_spark.operators.snaplog import (
        read_version,
        version_as_of,
    )
    from weatherflow_spark.operators.upsert import upsert_by_key

    path = str(tmp_path / "t")
    _seed(spark, path)  # v1: 30 rows
    time.sleep(0.05)
    t_mid = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.05)
    upsert_by_key(
        spark,
        _mk(spark, [{"k": 99, "day": "2026-01-01", "v": 99.0}]),
        path,
        ["k"],
        ["day"],
    )  # v2: 31 rows

    assert version_as_of(path, t_mid) == 1
    assert read_version(spark, path, as_of=t_mid).count() == 30
    assert (
        version_as_of(path, dt.datetime.now(dt.timezone.utc)) == 2
    )
    iso = t_mid.isoformat()
    n = wf_sql.execute(
        spark, f"SELECT count(*) AS n FROM wf_version('{path}', '{iso}')"
    ).first()["n"]
    assert n == 30
    n2 = wf_sql.execute(
        spark,
        f"SELECT count(*) AS n FROM wf_version('{path}', TIMESTAMP '{iso}')",
    ).first()["n"]
    assert n2 == 30

    with pytest.raises(ValueError, match="at or before"):
        version_as_of(path, "2000-01-01T00:00:00")
    with pytest.raises(ValueError, match="not both"):
        read_version(spark, path, version=1, as_of=t_mid)
    with pytest.raises(TypeError):
        version_as_of(path, 12345)


def test_sql_warehouse_travel_restore_vacuum_status(spark, tmp_path):
    """The warehouse tier from SQL strings (r14): wf_warehouse()
    load-travel reads, CALL restore_warehouse_load, CALL
    vacuum_warehouse, CALL table_status — an operator works the E97
    surface end-to-end with no Python API in sight."""
    import os as _os

    from weatherflow_spark.operators.upsert import upsert_by_key
    from weatherflow_spark.operators.whlog import (
        commit_warehouse,
        init_warehouse_log,
        warehouse_loads,
    )

    wh = str(tmp_path / "wh")
    fact = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(1, 31)],
        "k long, cust long, amt double",
    )
    dim = spark.createDataFrame(
        [(c, f"seg{c}") for c in range(3)], "cust long, seg string"
    )
    fact.write.mode("overwrite").parquet(_os.path.join(wh, "fact"))
    dim.write.mode("overwrite").parquet(_os.path.join(wh, "dim"))
    init_warehouse_log(wh)
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L1") == 1

    # mutate fact between loads, then cut load 2
    upsert_by_key(
        spark,
        spark.createDataFrame([(1, 0, 999.0)], "k long, cust long, amt double"),
        _os.path.join(wh, "fact"),
        ["k"],
    )
    assert commit_warehouse(wh, ["fact", "dim"], batch_id="L2") == 2

    # load-travel: the load-1 read misses the 999 upsert, the head
    # (load omitted) sees it; a same-load fact⋈dim join composes.
    amt1 = wf_sql.execute(
        spark,
        f"SELECT sum(cast(amt as bigint)) AS s "
        f"FROM wf_warehouse('{wh}', 'fact', 1)",
    ).first()["s"]
    amt_head = wf_sql.execute(
        spark,
        f"SELECT sum(cast(amt as bigint)) AS s "
        f"FROM wf_warehouse('{wh}', 'fact')",
    ).first()["s"]
    assert (amt1, amt_head) == (465, 465 - 1 + 999)
    n = wf_sql.execute(
        spark,
        f"SELECT count(*) AS n FROM wf_warehouse('{wh}', 'fact', 1) f "
        f"JOIN wf_warehouse('{wh}', 'dim', 1) d ON f.cust = d.cust",
    ).first()["n"]
    assert n == 30
    with pytest.raises(ValueError, match="not a member"):
        wf_sql.execute(
            spark, f"SELECT * FROM wf_warehouse('{wh}', 'nope', 1)"
        )

    # rollback the whole warehouse to load 1 through SQL
    rep = wf_sql.execute(
        spark,
        f"CALL restore_warehouse_load('{wh}', 1, "
        "'fact=k;dim=cust')",
    ).first()
    assert rep["load"] == "3"
    assert int(rep["restored_fact"]) >= 1
    amt3 = wf_sql.execute(
        spark,
        f"SELECT sum(cast(amt as bigint)) AS s "
        f"FROM wf_warehouse('{wh}', 'fact', 3)",
    ).first()["s"]
    assert amt3 == 465

    # diagnostic: metadata-only DESCRIBE DETAIL over a member
    st = wf_sql.execute(
        spark, f"CALL table_status('{_os.path.join(wh, 'fact')}')"
    ).first()
    assert st["versioned"] == "True"
    assert int(st["n_versions"]) >= 3

    # bound history: keep the last 2 loads, then load 1 is gone
    vrep = wf_sql.execute(
        spark, f"CALL vacuum_warehouse('{wh}', 2)"
    ).first()
    assert int(vrep["loads_dropped"]) == 1
    assert "fact" in vrep["members_vacuumed"]
    assert warehouse_loads(wh) == [2, 3]
    with pytest.raises(ValueError, match="not in log"):
        wf_sql.execute(
            spark, f"SELECT * FROM wf_warehouse('{wh}', 'fact', 1)"
        )


def test_sql_call_compact_zorder(spark, tmp_path):
    """CALL compact_zorder drives the E113 Z-preserving rewrite from
    a SQL string — fold a DV and keep two-axis pruning."""
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        init_snapshot_log,
        record_commit,
        scan_version,
        set_stats_columns,
    )
    from weatherflow_spark.operators.zorder import write_zordered

    path = str(tmp_path / "z")
    df = spark.createDataFrame(
        [(i, (i * 37) % 4096, float(i)) for i in range(4096)],
        "a long, b long, v double",
    )
    write_zordered(df, path, "a", "b", num_files=16, bits=None)
    init_snapshot_log(path)
    set_stats_columns(path, ["a", "b"])
    record_commit(path)
    wf_sql.execute(
        spark, f"CALL delete_where_dv('{path}', 'a % 100 = 7', 'a')"
    )
    assert head_dv(path)
    with pytest.raises(ValueError, match="exactly two"):
        wf_sql.execute(spark, f"CALL compact_zorder('{path}', 'a')")
    rep = wf_sql.execute(
        spark, f"CALL compact_zorder('{path}', 'a,b', 8192)"
    ).first()
    assert int(rep["files_after"]) >= 4
    assert head_dv(path) == {}
    _, info = scan_version(
        spark, path, predicates=[("a", 0, 511), ("b", 0, 511)]
    )
    assert info["files_scanned"] <= max(2, info["files_total"] // 4)


def test_table_history_bounded_describe_history(spark, tmp_path):
    """r14 DESCRIBE HISTORY: newest-first version metadata, bounded
    by limit and by the vacuum horizon — never a full log listing."""
    from weatherflow_spark.operators.snaplog import (
        table_history,
        vacuum_versions,
    )
    from weatherflow_spark.operators.upsert import upsert_by_key

    path = str(tmp_path / "t")
    _seed(spark, path)  # v1
    wf_sql.execute(
        spark, f"CALL delete_where_dv('{path}', 'k = 7', 'k', 'day')"
    )  # v2: carries a DV
    upsert_by_key(
        spark,
        _mk(spark, [{"k": 99, "day": "2026-01-02", "v": 99.0}]),
        path,
        ["k"],
        ["day"],
    )  # v3: rewrites k=7's partition (7 % 3 = 1 → day=02) → DV folds

    hist = table_history(path)
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[1]["dv_dirs"] == 1 and hist[0]["dv_dirs"] == 0
    assert hist[2]["files"] == 3  # one file per day partition
    assert all(h["bytes"] > 0 for h in hist)
    assert hist[0]["committed_at"] >= hist[2]["committed_at"]
    assert [h["version"] for h in table_history(path, limit=2)] == [3, 2]

    rows = wf_sql.execute(
        spark, f"CALL table_history('{path}', 2)"
    ).collect()
    assert [r["version"] for r in rows] == [3, 2]
    assert rows[1]["dv_dirs"] == 1

    # vacuum horizon bounds the walk instead of erroring
    vacuum_versions(path, keep_last=1)
    assert [h["version"] for h in table_history(path)] == [3]
    # unversioned path: empty history, no raise
    assert table_history(str(tmp_path / "nope")) == []


def test_sql_view_sourced_upsert_and_apply_changes(spark, tmp_path):
    """r14: the WRITE path from SQL — CALL upsert / apply_changes
    source their rows from a registered temp view (a write needs
    rows, which no literal can carry), so the whole
    merge→CDC→delete→history loop runs on SQL strings."""
    from weatherflow_spark.operators.snaplog import read_version

    path = str(tmp_path / "t")
    _seed(spark, path)  # v1: 30 rows, k in 0..29

    _mk(
        spark,
        [
            {"k": 7, "day": "2026-01-02", "v": 700.0},   # update
            {"k": 50, "day": "2026-01-01", "v": 50.0},   # insert
        ],
    ).createOrReplaceTempView("src_upserts")
    rep = wf_sql.execute(
        spark, f"CALL upsert('{path}', 'src_upserts', 'k', 'day')"
    ).first()
    assert rep["merged_from"] == "src_upserts"
    head = read_version(spark, path)
    assert head.count() == 31
    assert head.where("k = 7").first()["v"] == 700.0

    _mk(
        spark,
        [
            {"k": 50, "day": "2026-01-01", "v": 51.0, "op": "U"},
            {"k": 7, "day": "2026-01-02", "v": 0.0, "op": "D"},
        ],
    ).createOrReplaceTempView("src_changes")
    wf_sql.execute(
        spark,
        f"CALL apply_changes('{path}', 'src_changes', 'k', 'op', 'day')",
    )
    head = read_version(spark, path)
    assert head.count() == 30  # one delete
    assert head.where("k = 50").first()["v"] == 51.0
    assert head.where("k = 7").count() == 0
    # the loop left an auditable trail
    versions = [
        r["version"]
        for r in wf_sql.execute(
            spark, f"CALL table_history('{path}')"
        ).collect()
    ]
    assert versions == [3, 2, 1]
