"""Scale-infrastructure verification: bucketed joins must be
shuffle-free, salted aggregation/joins must be result-identical to
their plain forms."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from weatherflow_spark.io import load_table
from weatherflow_spark.operators.bucketing import (
    count_shuffle_exchanges,
    write_bucketed,
)
from weatherflow_spark.operators.skew import salted_broadcast_join, salted_count_sum
from tests.conftest import SF_SMALL


def test_bucketed_join_no_shuffle(spark):
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "wf_orders_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "wf_lineitem_b", ["l_orderkey"], 8, sort_cols=["l_orderkey"])

    o, l = spark.table("wf_orders_b"), spark.table("wf_lineitem_b")
    joined = l.join(o, l.l_orderkey == o.o_orderkey, "inner")
    joined.collect()
    assert count_shuffle_exchanges(joined) == 0, (
        "bucketed fact-fact join must plan without Exchange"
    )

    # sanity: same row count as the unbucketed join
    plain = load_table(spark, SF_SMALL, "lineitem").join(
        load_table(spark, SF_SMALL, "orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "inner",
    )
    assert joined.count() == plain.count()

    # The checker must flag EVERY shuffle flavor, not just hash
    # (r10 verdict): a global sort on top of the same bucketed join
    # inserts an `Exchange rangepartitioning`, which the pre-r11
    # hash-only match waved through as "shuffle-free".
    ranged = joined.orderBy("l_quantity")
    ranged.collect()
    rplan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in rplan, rplan
    assert count_shuffle_exchanges(ranged) != 0, (
        "range-partitioned plan passed the shuffle-free check"
    )


def test_salted_agg_matches_plain(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    salted = salted_count_sum(li, ["l_returnflag"], "l_quantity").toPandas()
    plain = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("l_quantity") * 100.0 + F.lit(0.5))) / 100.0).alias(
                "sum_value"
            ),
        )
        .toPandas()
    )
    s = salted.sort_values("l_returnflag").reset_index(drop=True)
    p = plain.sort_values("l_returnflag").reset_index(drop=True)
    assert (s.l_returnflag == p.l_returnflag).all()
    assert (s.n == p.n).all()
    assert (s.sum_value == p.sum_value).all()  # exact, not approx: integer partials


def test_salted_join_matches_plain(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = salted_broadcast_join(li, orders, "l_orderkey")
    plain = li.join(orders, "l_orderkey", "inner")
    assert salted.count() == plain.count()
    a = sorted(map(tuple, salted.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Warehouse tables partitioned by a date column must let a
    date-filtered read prune partition directories at plan time (the
    100 TB posture for the reference's record_date analog,
    ARCHITECTURE.md): the scan's PartitionFilters must carry the
    predicate and the input file count must drop accordingly."""
    from weatherflow_spark.io import write_table

    events = load_table(spark, SF_SMALL, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_table(events, path, partition_by=["event_date"])

    read = spark.read.parquet(path).where(F.col("event_date") == "2024-01-15")
    plan = read._sc._jvm.PythonSQLUtils.explainString(
        read._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    n_days = events.select("event_date").distinct().count()
    assert n_days > 1
    assert read.count() == events.where(F.col("event_date") == "2024-01-15").count()


def test_grouped_topk_matches_window_idiom(spark):
    """The two-phase per-group top-k (partition-local Arrow trim →
    window over survivors) must be row-identical to the plain window
    idiom under a total ordering, on a multi-partition input."""
    from pyspark.sql import Window, functions as F

    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.topk import grouped_topk
    from tests.conftest import SF_SMALL

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    ).repartition(8)  # force many input partitions for phase 1

    got = grouped_topk(
        li,
        key_cols=["l_returnflag"],
        order_cols=["l_extendedprice", "l_orderkey", "l_linenumber"],
        k=5,
        ascending=[False, True, True],
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    want = li.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)
    key = ["l_returnflag", "rank"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 3 * 5  # 3 flags × k


def test_sequence_pack_indexed_matches_window_form(spark):
    """The bucket-decomposed prefix sum (operators/packing.py) must be
    row-identical to the per-stream window prefix sum — including on a
    skewed input where one stream dominates (the exact shape the
    window form serializes on)."""
    from pyspark.sql import Window

    from weatherflow_spark.operators.packing import pack_sequences_indexed

    rows = [("big", i, (i * 7) % 13 + 1) for i in range(0, 900, 2)] + [
        ("small", i, (i * 3) % 5 + 1) for i in range(1, 60, 3)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok int").repartition(8)

    got = pack_sequences_indexed(
        df, stream_col="source", order_col="doc_id", tok_col="n_tok",
        pack_tokens=32, bucket_size=16,
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = (
        df.withColumn(
            "cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
        )
        .select(
            "source", "doc_id", "n_tok",
            F.expr("cum_before DIV 32").alias("pack_id"),
            (F.col("cum_before") % 32).alias("pack_offset"),
            (
                F.expr("cum_before DIV 32")
                != F.expr("(cum_before + n_tok - 1) DIV 32")
            ).cast("int").alias("crosses_boundary"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_exclusive_prefix_sum_bucket_boundaries(spark):
    """Offsets must be exact across bucket boundaries: a stream whose
    rows straddle many buckets (sparse and dense order keys, including
    an empty bucket in the middle) gets the same running totals as the
    window spec."""
    from pyspark.sql import Window

    from weatherflow_spark.operators.packing import exclusive_prefix_sum

    rows = [("s", k, v) for k, v in [
        (0, 5), (1, 5), (15, 7), (16, 1), (17, 2),  # bucket 0 full edge, 1
        (64, 9), (65, 1),                            # bucket 4 (2,3 empty)
        (1000, 3),                                   # far bucket
    ]]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tok int")
    got = exclusive_prefix_sum(
        df, "source", "doc_id", "n_tok", bucket_size=16, out_col="cum"
    )
    w = (
        Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn(
        "cum", F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_grouped_topk_null_keys_and_null_order_values(spark):
    """Nullable inputs must follow Spark window semantics: a NULL key
    forms its own group, and NULL order values rank NULLS FIRST under
    asc / NULLS LAST under desc — the phase-1 trimmer must not evict a
    row the window would keep (pandas defaults would: groupby drops
    NULL keys, sort_values pins NaN last regardless of direction)."""
    from pyspark.sql import Window

    from weatherflow_spark.operators.topk import grouped_topk

    rows = []
    for i in range(200):
        key = [None, "a", "b"][i % 3]
        val = None if i % 7 == 0 else float(i % 50)
        rows.append((key, val, i))
    df = spark.createDataFrame(
        rows, "grp string, val double, uid long"
    ).repartition(8)

    for asc in (True, False):
        got = grouped_topk(
            df, key_cols=["grp"], order_cols=["val", "uid"],
            k=4, ascending=[asc, True],
        )
        w = Window.partitionBy("grp").orderBy(
            F.col("val").asc() if asc else F.col("val").desc(), F.col("uid").asc()
        )
        want = df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 4)
        none_safe = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        assert sorted(map(tuple, got.collect()), key=none_safe) == sorted(
            map(tuple, want.collect()), key=none_safe
        ), f"ascending={asc}"


def _skewed_docs_dir(spark, tmp_path) -> str:
    """documents.parquet with one dominant source (80% of rows)."""
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    for i in range(200):
        src = "hub" if i % 5 != 0 else f"tail{i % 3}"
        text = " ".join(words[(i + j) % len(words)] for j in range(6 + i % 5))
        rows.append((i, text, "en", src, len(text)))
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_grouped_rank_matches_window_spec(spark, tmp_path):
    """assign_grouped_rank == row_number() OVER (PARTITION BY group
    ORDER BY ...) bit-for-bit, including when a group dominates and
    spans many range partitions."""
    from pyspark.sql import Window

    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.operators.indexing import assign_grouped_rank

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"
    )
    try:
        got = assign_grouped_rank(
            li, ["l_returnflag"], ["l_quantity", "l_orderkey", "l_linenumber"],
            num_partitions=16,
        )
        w = Window.partitionBy("l_returnflag").orderBy(
            "l_quantity", "l_orderkey", "l_linenumber"
        )
        want = li.withColumn("rank", F.row_number().over(w))
        key = ["l_returnflag", "l_orderkey", "l_linenumber"]
        g = {tuple(r[k] for k in key): r.rank for r in got.collect()}
        e = {tuple(r[k] for k in key): r.rank for r in want.collect()}
        assert g == e
    finally:
        release_caches()
        spark.catalog.clearCache()


def _plan_with_checkpoints(df) -> str:
    """The formatted plan of ``df`` plus those of the relations its
    build checkpointed (the range-partitioned rank input among them)."""
    from weatherflow_spark.operators.caching import materialised_plans

    own = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return "\n".join([own, *materialised_plans()])


def test_perplexity_skew_path_matches_window_path(spark, tmp_path):
    """E51 (verdict r7 #4): the distributed-rank skew path must be
    result-identical to the window path on a skewed corpus, and its
    plan must range-partition + stream (MapInPandas) instead of
    windowing percent_rank over one partition per source."""
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.plans.ext_text import q_perplexity_filter

    d = _skewed_docs_dir(spark, tmp_path)
    try:
        window_rows = sorted(
            q_perplexity_filter(spark, d, skew_threshold=10**9).collect()
        )
        release_caches()  # audit only the skew path's checkpoints
        skew_df = q_perplexity_filter(spark, d, skew_threshold=1)
        skew_rows = sorted(skew_df.collect())
        assert skew_rows == window_rows
        p = _plan_with_checkpoints(skew_df)
        assert "percent_rank" not in p, f"skew path still windows:\n{p}"
        assert "MapInPandas" in p, f"no streamed rank pass:\n{p}"
        assert "rangepartitioning" in p.lower(), (
            f"dominant source not range-spread:\n{p}"
        )
    finally:
        release_caches()
        spark.catalog.clearCache()


def test_domain_quota_skew_path_matches_window_path(spark, tmp_path):
    """E32 (r8): the quota cap's distributed-rank path must be
    result-identical to the window path on a skewed corpus and plan
    no per-source window."""
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.plans.ext_text import q_domain_quota

    d = _skewed_docs_dir(spark, tmp_path)
    try:
        window_rows = sorted(q_domain_quota(spark, d, skew_threshold=10**9).collect())
        release_caches()  # audit only the skew path's checkpoints
        skew_df = q_domain_quota(spark, d, skew_threshold=1)
        skew_rows = sorted(skew_df.collect())
        assert skew_rows == window_rows
        p = _plan_with_checkpoints(skew_df)
        assert "row_number()" not in p, f"skew path still windows rows:\n{p}"
        assert "MapInPandas" in p and "rangepartitioning" in p.lower(), p
    finally:
        release_caches()
        spark.catalog.clearCache()


def test_shard_export_rank_survives_80pct_skewed_shard(spark):
    """E85/E77 (r9, VERDICT r8 'Next round' #6): hash-mod shard
    assignment is balanced in expectation, so q_shard_export's driver
    row never exercises skew — prove the ordering machinery on an
    adversarial fixture where ONE shard holds 80% of the corpus:
    (a) assign_grouped_rank equals the row_number spec bit-for-bit,
    and (b) the dominant shard's rows SPAN multiple range partitions
    (the assign_grouped_rank contract, operators/indexing.py — a
    window plan would funnel all 800 rows through one task)."""
    from pyspark.sql import Window

    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.operators.indexing import assign_grouped_rank

    n = 1000
    rows = [
        (i, (i * 2654435761) % 99991, 0 if i < 800 else 1 + (i % 7))
        for i in range(n)
    ]
    keyed = spark.createDataFrame(rows, "doc_id long, pos_key long, shard_id int")
    try:
        ranked = assign_grouped_rank(
            keyed, ["shard_id"], ["pos_key", "doc_id"],
            num_partitions=8, rank_col="pos",
        )
        w = Window.partitionBy("shard_id").orderBy("pos_key", "doc_id")
        want = keyed.withColumn("pos", F.row_number().over(w))
        g = {(r.shard_id, r.doc_id): r.pos for r in ranked.collect()}
        e = {(r.shard_id, r.doc_id): r.pos for r in want.collect()}
        assert g == e
        # distribution audit: the 80% shard spans range partitions
        ranged = keyed.repartitionByRange(
            8, F.col("shard_id"), F.col("pos_key"), F.col("doc_id")
        )
        span = (
            ranged.where(F.col("shard_id") == 0)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert span >= 4, (
            f"dominant shard confined to {span} partition(s) — the "
            "skew-proof contract is broken"
        )
    finally:
        release_caches()
        spark.catalog.clearCache()


def test_bucketed_tpch_adoption_plans_zero_shuffle(spark):
    """r10 verdict #2: the bucketed layout must be ADOPTED by the
    real TPC-H family, not just certified on scratch digests — Q3 and
    Q18 over bucketed_warehouse plan their fact-fact join (and Q18's
    pre-join aggregate) with zero shuffle Exchange, broadcast only on
    the dimension side, and return results row-identical to the plain
    forms. r11 verdict #2 widened the family: Q4/Q12/Q21 route through
    the same layout with exactly ONE Exchange each (the tiny
    post-aggregation re-group on a non-bucket key — the builders
    raise if the bound is exceeded) and stay row-identical too.
    r13 (VERDICT r12 #5): the custkey family joins — Q13 over the
    second standing layout and Q10 composing BOTH layouts, each with
    at most ONE Exchange (raise-checked in the builders)."""
    from weatherflow_spark.plans.serving import (
        q_tpch_q3_bucketed,
        q_tpch_q4_bucketed,
        q_tpch_q10_bucketed,
        q_tpch_q12_bucketed,
        q_tpch_q13_bucketed,
        q_tpch_q18_bucketed,
        q_tpch_q21_bucketed,
    )
    from weatherflow_spark.plans.stats import q_tpch_q3
    from weatherflow_spark.plans.tpch import q_tpch_q4, q_tpch_q18
    from weatherflow_spark.plans.tpch_ext import (
        q_tpch_q10,
        q_tpch_q13,
        q_tpch_q21,
    )
    from weatherflow_spark.plans.tpch_ps import q_tpch_q12

    for bucketed, plain in [
        (q_tpch_q3_bucketed, q_tpch_q3),     # raises unless 0 Exchange
        (q_tpch_q18_bucketed, q_tpch_q18),   # raises unless 0 Exchange
        (q_tpch_q4_bucketed, q_tpch_q4),     # raises unless <= 1
        (q_tpch_q12_bucketed, q_tpch_q12),   # raises unless <= 1
        (q_tpch_q21_bucketed, q_tpch_q21),   # raises unless <= 1
        (q_tpch_q13_bucketed, q_tpch_q13),   # raises unless <= 1 (r13)
        (q_tpch_q10_bucketed, q_tpch_q10),   # raises unless <= 1 (r13)
    ]:
        b = bucketed(spark, SF_SMALL)
        p = plain(spark, SF_SMALL)
        assert sorted(map(tuple, b.collect())) == sorted(
            map(tuple, p.collect())
        ), bucketed.__name__


@pytest.mark.parametrize(
    "q",
    [
        "q_tpch_q3", "q_tpch_q18", "q_tpch_q4", "q_tpch_q12",
        "q_tpch_q21", "q_tpch_q13", "q_tpch_q10",
    ],
)
def test_bucketed_row_shares_the_plain_oracle(q):
    """A bucketed row's adoption claim is identity with the plain
    query: both rows are certified by the one oracle."""
    from weatherflow_spark.plans import ORACLES

    assert ORACLES[f"{q}_bucketed"] == ORACLES[q]


def test_bucketed_warehouse_is_durable_across_sessions(spark, tmp_path):
    """r11 verdict #2: a layout 'amortized forever' must survive the
    session. Build once; wipe the catalog entries (what a fresh
    process starts with — the data and marker stay on disk); re-call
    bucketed_warehouse and prove it RE-REGISTERS instead of
    rewriting: zero new data files, identical file set, and the
    re-registered tables still plan the zero-Exchange co-located
    join. A spec change (different bucket count) then really does
    rebuild."""
    import os

    from weatherflow_spark.operators.bucketing import bucketed_warehouse

    scratch = str(tmp_path)

    def file_set():
        out = {}
        for root, _, files in os.walk(scratch):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    t_li, t_ord = bucketed_warehouse(spark, SF_SMALL, scratch, n_buckets=4)
    built = file_set()
    assert built, "build produced no files"

    # Simulate a fresh session: external DROP removes metadata only.
    spark.sql(f"DROP TABLE {t_li}")
    spark.sql(f"DROP TABLE {t_ord}")
    assert not spark.catalog.tableExists(t_li)

    t_li2, t_ord2 = bucketed_warehouse(spark, SF_SMALL, scratch, n_buckets=4)
    assert (t_li2, t_ord2) == (t_li, t_ord)
    assert file_set() == built, "reuse path wrote/touched data files"
    assert spark.catalog.tableExists(t_li2)

    # The re-registered tables still carry bucket metadata: the
    # co-located join plans with zero Exchange.
    j = spark.table(t_li2).join(
        spark.table(t_ord2).hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert count_shuffle_exchanges(j) == 0, plan

    # Spec change invalidates the marker and rebuilds exactly once.
    t_li3, _ = bucketed_warehouse(spark, SF_SMALL, scratch, n_buckets=2)
    assert t_li3 == t_li
    rebuilt = file_set()
    assert rebuilt != built, "spec change must rebuild the layout"
    import json

    with open(os.path.join(scratch, os.listdir(scratch)[0], "_WF_BUILT")) as f:
        assert json.load(f)["spec"]["n_buckets"] == 2


def test_bucketed_warehouse_cust_is_durable_across_sessions(spark, tmp_path):
    """r12 verdict #5: the SECOND standing layout (orders+customer
    co-bucketed by custkey) gets the same durability contract as the
    orderkey pair — catalog wipe then re-call re-registers with zero
    new data files, the custkey join still plans zero Exchange, and
    it coexists with the orderkey layout in the same scratch."""
    import os

    from weatherflow_spark.operators.bucketing import (
        bucketed_warehouse,
        bucketed_warehouse_cust,
    )

    scratch = str(tmp_path)
    # Both layouts side by side: neither invalidates the other.
    bucketed_warehouse(spark, SF_SMALL, scratch, n_buckets=4)
    t_ord, t_cust = bucketed_warehouse_cust(
        spark, SF_SMALL, scratch, n_buckets=4
    )

    def file_set():
        out = {}
        for root, _, files in os.walk(scratch):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    built = file_set()
    spark.sql(f"DROP TABLE {t_ord}")
    spark.sql(f"DROP TABLE {t_cust}")
    t_ord2, t_cust2 = bucketed_warehouse_cust(
        spark, SF_SMALL, scratch, n_buckets=4
    )
    assert (t_ord2, t_cust2) == (t_ord, t_cust)
    assert file_set() == built, "reuse path wrote/touched data files"

    j = spark.table(t_cust2).join(
        spark.table(t_ord2).hint("merge"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left",
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert count_shuffle_exchanges(j) == 0, plan
