"""TPC-H-shaped star compositions exercising the FULL warehouse
(region + supplier were otherwise uncovered): Q5 local-supplier
volume (6-table star join), Q14 promo-revenue ratio (join + two
conditional exact sums in one pass), and a per-nation supplier
ranking (broadcast-dim window).

These are the analytical workloads the reference's star schema
exists to serve (SURVEY §2.4 J2 / §2.5 A1 — ABSENT as code, mandated
by dbdiagram.txt:59-63): the reference stores facts keyed to
dimension tables precisely so rollups join back through them.

Scale posture shared by the module: dimension sides broadcast
(region 5 rows, nation 25, supplier 1e4·SF — all far under the
lineitem scan at any SF); the single big shuffle is lineitem⋈orders
on the key the aggregate also uses; revenue sums are exact
scaled-integer (see plans/stats.py module doc) so cluster re-runs
are bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weatherflow_spark.io import load_table, table_bytes
from weatherflow_spark.operators.bucketing import dim_broadcast, layout_table
from weatherflow_spark.plans.queries import scaled_sum, scaled_sum_sql


# ---------------------------------------------------------------------------
# q_tpch_q5 — local supplier volume: the full 6-table star
# ---------------------------------------------------------------------------


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per nation from intra-nation sales (customer and
    supplier in the same nation) in region ASIA during 1996 — the
    TPC-H Q5 shape over all six relational tables.

    Join order is written smallest-last so Catalyst broadcasts every
    dimension: region⋈nation collapses to a 25-row broadcast list of
    ASIA nations; supplier broadcasts; customer broadcasts at test SF
    (at sf100+ AQE will flip it to shuffle — the plan stays correct
    because the join keys are explicit, not positional). lineitem⋈
    orders is the only large-large join; its shuffle key l_orderkey
    = o_orderkey is also the pre-aggregation boundary, so no second
    wide exchange happens before the 5-group final agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(scaled_sum(rev, 10_000).alias("revenue"))
    )


ORACLE_TPCH_Q5 = f"""
    SELECT n_name,
           {scaled_sum_sql("l_extendedprice * (1.0 - l_discount)", 10_000)} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# q_tpch_q14 — promo revenue ratio: join + conditional exact sums, one pass
# ---------------------------------------------------------------------------


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of 1996-H1 revenue from PROMO parts (TPC-H Q14 shape):
    ``100 * Σ(promo revenue) / Σ(revenue)`` — numerator and
    denominator as *conditional aggregates in the same pass* (one
    scan, one broadcast join with part, one single-row agg), never
    two scans. Both sums are exact ×10⁴ scaled longs, so the final
    ratio is one deterministic double division.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev_scaled = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(10_000.0)
        + F.lit(0.5)
    )
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev_scaled).otherwise(
                    F.lit(0)
                )
            ).alias("promo_s"),
            F.sum(rev_scaled).alias("total_s"),
        )
    )
    return agg.select(
        (F.col("promo_s") / F.lit(10_000.0)).alias("promo_revenue"),
        (F.col("total_s") / F.lit(10_000.0)).alias("total_revenue"),
        (
            (F.lit(100.0) * F.col("promo_s").cast("double"))
            / F.col("total_s").cast("double")
        ).alias("promo_pct"),
    )


ORACLE_TPCH_Q14 = """
    WITH s AS (
        SELECT
            CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
                                 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS promo_s,
            CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
                                 + 0.5) AS BIGINT)) AS BIGINT) AS total_s
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-07-01'
    )
    SELECT promo_s / 10000.0 AS promo_revenue,
           total_s / 10000.0 AS total_revenue,
           (100.0 * CAST(promo_s AS DOUBLE)) / CAST(total_s AS DOUBLE) AS promo_pct
    FROM s
"""


# ---------------------------------------------------------------------------
# q_supplier_rank — broadcast-dim window ranking
# ---------------------------------------------------------------------------


def q_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 suppliers by account balance within each nation, with
    nation and region names resolved through broadcast joins — the
    dimension-dressed window shape (W1 over a star join).

    The window partitions by s_nationkey (25 partitions of ~400·SF
    suppliers each — no skew); the dims broadcast so the window input
    never shuffles for the joins, only for its own partitioning.
    Total order (acctbal DESC, suppkey ASC) makes rank deterministic.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        supplier.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 2)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name", "s_name", "s_acctbal", "rk")
    )


ORACLE_SUPPLIER_RANK = """
    SELECT r_name, n_name, s_name, s_acctbal, rk
    FROM (
        SELECT s_name, s_acctbal, s_nationkey,
               CAST(row_number() OVER (PARTITION BY s_nationkey
                                       ORDER BY s_acctbal DESC,
                                                s_suppkey ASC) AS BIGINT) AS rk
        FROM supplier
    )
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE rk <= 2
"""


def q_tpch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 consolidated certification row: the three TPC-H star
    compositions (Q3 selective top-k, Q5 six-table star, Q14 promo
    ratio) projected to a common (side, key, metric) shape and
    unioned. Each branch keeps its own physical plan — broadcast
    dims, one large lineitem⋈orders shuffle, scaled-int sums; the
    union adds no shuffle. Full-schema twins stay in the tail."""
    from weatherflow_spark.plans.stats import q_tpch_q3

    q3 = q_tpch_q3(spark, sf_dir).select(
        F.lit("q3").alias("side"),
        F.col("l_orderkey").cast("string").alias("key"),
        F.col("revenue").alias("metric"),
    )
    q5 = q_tpch_q5(spark, sf_dir).select(
        F.lit("q5").alias("side"),
        F.col("n_name").alias("key"),
        F.col("revenue").alias("metric"),
    )
    q14 = q_tpch_q14(spark, sf_dir).select(
        F.lit("q14").alias("side"),
        F.lit("promo_pct").alias("key"),
        F.col("promo_pct").alias("metric"),
    )
    # r9 branches: Q1 wide agg (8 metrics per group, stacked long),
    # Q4 semi-join counts, Q18 large-volume orders, Q19 disjunctive
    # revenue — every double exact by construction (scaled-int sums /
    # bigint casts), so the shared (side, key, metric) shape hashes.
    q1 = (
        q_tpch_q1(spark, sf_dir)
        .selectExpr(
            "'q1' AS side",
            "concat(l_returnflag, '|', l_linestatus) AS grp",
            "stack(8, 'sum_qty', sum_qty, "
            "'sum_base_price', sum_base_price, "
            "'sum_disc_price', sum_disc_price, "
            "'sum_charge', sum_charge, "
            "'avg_qty_e6', cast(avg_qty_e6 as double), "
            "'avg_price_e6', cast(avg_price_e6 as double), "
            "'avg_disc_e6', cast(avg_disc_e6 as double), "
            "'count_order', cast(count_order as double)) AS (mname, metric)",
        )
        .selectExpr("side", "concat(grp, '|', mname) AS key", "metric")
    )
    q4 = q_tpch_q4(spark, sf_dir).select(
        F.lit("q4").alias("side"),
        F.col("o_orderpriority").alias("key"),
        F.col("order_count").cast("double").alias("metric"),
    )
    q18 = q_tpch_q18(spark, sf_dir).select(
        F.lit("q18").alias("side"),
        F.concat_ws("|", "c_custkey", "o_orderkey").alias("key"),
        F.col("total_qty").alias("metric"),
    )
    q19 = q_tpch_q19(spark, sf_dir).select(
        F.lit("q19").alias("side"),
        F.lit("revenue").alias("key"),
        F.col("revenue").alias("metric"),
    )
    # r9 completion branches (plans/tpch_ext.py): Q6 scan-only sum,
    # Q7 dual-direction nation pairs, Q8 market share, Q10 returns
    # top-20, Q13 outer-join distribution, Q15 scalar-max join-back,
    # Q17 decorrelated per-part avg, Q21 sole-late-supplier profile,
    # Q22 dormant high-balance anti-join. Every metric is exact by
    # construction (scaled-int sums / bigint counts / one double
    # division of exact longs), so the shared shape hashes.
    from weatherflow_spark.plans.tpch_ext import (
        q_tpch_q6,
        q_tpch_q7,
        q_tpch_q8,
        q_tpch_q10,
        q_tpch_q13,
        q_tpch_q15,
        q_tpch_q17,
        q_tpch_q21,
        q_tpch_q22,
    )

    q6 = q_tpch_q6(spark, sf_dir).select(
        F.lit("q6").alias("side"),
        F.lit("revenue").alias("key"),
        F.col("revenue").alias("metric"),
    )
    q7 = q_tpch_q7(spark, sf_dir).select(
        F.lit("q7").alias("side"),
        F.concat_ws(
            "|", "supp_nation", "cust_nation", F.col("l_year").cast("string")
        ).alias("key"),
        F.col("revenue").alias("metric"),
    )
    q8 = q_tpch_q8(spark, sf_dir).select(
        F.lit("q8").alias("side"),
        F.col("o_year").cast("string").alias("key"),
        F.col("mkt_share").alias("metric"),
    )
    q10 = q_tpch_q10(spark, sf_dir).select(
        F.lit("q10").alias("side"),
        F.col("c_custkey").cast("string").alias("key"),
        F.col("revenue").alias("metric"),
    )
    q13 = q_tpch_q13(spark, sf_dir).select(
        F.lit("q13").alias("side"),
        F.col("c_count").cast("string").alias("key"),
        F.col("custdist").cast("double").alias("metric"),
    )
    q15 = q_tpch_q15(spark, sf_dir).select(
        F.lit("q15").alias("side"),
        F.col("s_suppkey").cast("string").alias("key"),
        F.col("total_revenue").alias("metric"),
    )
    q17 = q_tpch_q17(spark, sf_dir).select(
        F.lit("q17").alias("side"),
        F.lit("avg_yearly").alias("key"),
        F.col("avg_yearly").alias("metric"),
    )
    q21 = q_tpch_q21(spark, sf_dir).select(
        F.lit("q21").alias("side"),
        F.col("s_suppkey").cast("string").alias("key"),
        F.col("numwait").cast("double").alias("metric"),
    )
    q22 = q_tpch_q22(spark, sf_dir).selectExpr(
        "'q22' AS side",
        "cast(c_nationkey as string) AS nk",
        "stack(2, 'numcust', cast(numcust as double), "
        "'totacctbal', totacctbal) AS (mname, metric)",
    ).selectExpr("side", "concat(nk, '|', mname) AS key", "metric")
    # r9 completion branches (plans/tpch_ps.py): the six queries
    # needing the DERIVED partsupp (Q2 min-cost supplier, Q9 profit,
    # Q11 stock-value HAVING, Q16 supplier counts, Q20 surplus
    # stock) or the derived shipmode dictionary (Q12) — with these
    # the suite hashes all 22 TPC-H compositions in one driver row.
    # Metrics are integer-exact (cents / e4 longs / counts) or raw
    # parquet doubles (q20's acctbal), so the shared shape hashes.
    from weatherflow_spark.plans.tpch_ps import (
        q_tpch_q2,
        q_tpch_q9,
        q_tpch_q11,
        q_tpch_q12,
        q_tpch_q16,
        q_tpch_q20,
    )

    q2 = q_tpch_q2(spark, sf_dir).select(
        F.lit("q2").alias("side"),
        F.concat_ws("|", "p_partkey", "s_name").alias("key"),
        F.col("ps_supplycost_c").cast("double").alias("metric"),
    )
    q9 = q_tpch_q9(spark, sf_dir).select(
        F.lit("q9").alias("side"),
        F.concat_ws("|", "nation", "o_year").alias("key"),
        F.col("profit_e4").cast("double").alias("metric"),
    )
    q11 = q_tpch_q11(spark, sf_dir).select(
        F.lit("q11").alias("side"),
        F.col("ps_partkey").cast("string").alias("key"),
        F.col("value_c").cast("double").alias("metric"),
    )
    q12 = q_tpch_q12(spark, sf_dir).selectExpr(
        "'q12' AS side",
        "l_shipmode AS mode",
        "stack(2, 'high', cast(high_line_count as double), "
        "'low', cast(low_line_count as double)) AS (mname, metric)",
    ).selectExpr("side", "concat(mode, '|', mname) AS key", "metric")
    q16 = q_tpch_q16(spark, sf_dir).select(
        F.lit("q16").alias("side"),
        F.concat_ws("|", "p_brand", "p_type", "p_size").alias("key"),
        F.col("supplier_cnt").cast("double").alias("metric"),
    )
    q20 = q_tpch_q20(spark, sf_dir).select(
        F.lit("q20").alias("side"),
        F.col("s_suppkey").cast("string").alias("key"),
        F.col("s_acctbal").alias("metric"),
    )
    return (
        q3.unionByName(q5)
        .unionByName(q14)
        .unionByName(q1)
        .unionByName(q4)
        .unionByName(q18)
        .unionByName(q19)
        .unionByName(q6)
        .unionByName(q7)
        .unionByName(q8)
        .unionByName(q10)
        .unionByName(q13)
        .unionByName(q15)
        .unionByName(q17)
        .unionByName(q21)
        .unionByName(q22)
        .unionByName(q2)
        .unionByName(q9)
        .unionByName(q11)
        .unionByName(q12)
        .unionByName(q16)
        .unionByName(q20)
    )


def _oracle_tpch_suite() -> str:
    from weatherflow_spark.plans.stats import ORACLE_TPCH_Q3
    from weatherflow_spark.plans.tpch_ext import (
        ORACLE_TPCH_Q6,
        ORACLE_TPCH_Q7,
        ORACLE_TPCH_Q8,
        ORACLE_TPCH_Q10,
        ORACLE_TPCH_Q13,
        ORACLE_TPCH_Q15,
        ORACLE_TPCH_Q17,
        ORACLE_TPCH_Q21,
        ORACLE_TPCH_Q22,
    )
    from weatherflow_spark.plans.tpch_ps import (
        ORACLE_TPCH_Q2,
        ORACLE_TPCH_Q9,
        ORACLE_TPCH_Q11,
        ORACLE_TPCH_Q12,
        ORACLE_TPCH_Q16,
        ORACLE_TPCH_Q20,
    )

    q1_rows = "\n    UNION ALL\n".join(
        f"    SELECT 'q1', l_returnflag || '|' || l_linestatus || '|{m}',"
        f" CAST({m} AS DOUBLE) FROM q1_side"
        for m in (
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            "avg_qty_e6",
            "avg_price_e6",
            "avg_disc_e6",
            "count_order",
        )
    )
    return f"""
    WITH q3_side AS ({ORACLE_TPCH_Q3}),
    q5_side AS ({ORACLE_TPCH_Q5}),
    q14_side AS ({ORACLE_TPCH_Q14}),
    q1_side AS ({ORACLE_TPCH_Q1}),
    q4_side AS ({ORACLE_TPCH_Q4}),
    q18_side AS ({ORACLE_TPCH_Q18}),
    q19_side AS ({ORACLE_TPCH_Q19}),
    q6_side AS ({ORACLE_TPCH_Q6}),
    q7_side AS ({ORACLE_TPCH_Q7}),
    q8_side AS ({ORACLE_TPCH_Q8}),
    q10_side AS ({ORACLE_TPCH_Q10}),
    q13_side AS ({ORACLE_TPCH_Q13}),
    q15_side AS ({ORACLE_TPCH_Q15}),
    q17_side AS ({ORACLE_TPCH_Q17}),
    q21_side AS ({ORACLE_TPCH_Q21}),
    q22_side AS ({ORACLE_TPCH_Q22}),
    q2_side AS ({ORACLE_TPCH_Q2}),
    q9_side AS ({ORACLE_TPCH_Q9}),
    q11_side AS ({ORACLE_TPCH_Q11}),
    q12_side AS ({ORACLE_TPCH_Q12}),
    q16_side AS ({ORACLE_TPCH_Q16}),
    q20_side AS ({ORACLE_TPCH_Q20})
    SELECT 'q3' AS side, CAST(l_orderkey AS VARCHAR) AS key, revenue AS metric
    FROM q3_side
    UNION ALL
    SELECT 'q5' AS side, n_name AS key, revenue AS metric FROM q5_side
    UNION ALL
    SELECT 'q14' AS side, 'promo_pct' AS key, promo_pct AS metric FROM q14_side
    UNION ALL
{q1_rows}
    UNION ALL
    SELECT 'q4', o_orderpriority, CAST(order_count AS DOUBLE) FROM q4_side
    UNION ALL
    SELECT 'q18', CAST(c_custkey AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR),
           total_qty
    FROM q18_side
    UNION ALL
    SELECT 'q19', 'revenue', revenue FROM q19_side
    UNION ALL
    SELECT 'q6', 'revenue', revenue FROM q6_side
    UNION ALL
    SELECT 'q7', supp_nation || '|' || cust_nation || '|'
               || CAST(l_year AS VARCHAR), revenue
    FROM q7_side
    UNION ALL
    SELECT 'q8', CAST(o_year AS VARCHAR), mkt_share FROM q8_side
    UNION ALL
    SELECT 'q10', CAST(c_custkey AS VARCHAR), revenue FROM q10_side
    UNION ALL
    SELECT 'q13', CAST(c_count AS VARCHAR), CAST(custdist AS DOUBLE)
    FROM q13_side
    UNION ALL
    SELECT 'q15', CAST(s_suppkey AS VARCHAR), total_revenue FROM q15_side
    UNION ALL
    SELECT 'q17', 'avg_yearly', avg_yearly FROM q17_side
    UNION ALL
    SELECT 'q21', CAST(s_suppkey AS VARCHAR), CAST(numwait AS DOUBLE)
    FROM q21_side
    UNION ALL
    SELECT 'q22', CAST(c_nationkey AS VARCHAR) || '|numcust',
           CAST(numcust AS DOUBLE)
    FROM q22_side
    UNION ALL
    SELECT 'q22', CAST(c_nationkey AS VARCHAR) || '|totacctbal', totacctbal
    FROM q22_side
    UNION ALL
    SELECT 'q2', CAST(p_partkey AS VARCHAR) || '|' || s_name,
           CAST(ps_supplycost_c AS DOUBLE)
    FROM q2_side
    UNION ALL
    SELECT 'q9', nation || '|' || CAST(o_year AS VARCHAR),
           CAST(profit_e4 AS DOUBLE)
    FROM q9_side
    UNION ALL
    SELECT 'q11', CAST(ps_partkey AS VARCHAR), CAST(value_c AS DOUBLE)
    FROM q11_side
    UNION ALL
    SELECT 'q12', l_shipmode || '|high', CAST(high_line_count AS DOUBLE)
    FROM q12_side
    UNION ALL
    SELECT 'q12', l_shipmode || '|low', CAST(low_line_count AS DOUBLE)
    FROM q12_side
    UNION ALL
    SELECT 'q16', p_brand || '|' || p_type || '|' || CAST(p_size AS VARCHAR),
           CAST(supplier_cnt AS DOUBLE)
    FROM q16_side
    UNION ALL
    SELECT 'q20', CAST(s_suppkey AS VARCHAR), s_acctbal
    FROM q20_side
"""


# ---------------------------------------------------------------------------
# q_tpch_q1 — pricing summary report: the canonical one-pass wide agg
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (r9): the pricing summary report — one scan of
    lineitem with the shipdate predicate PUSHED to parquet, grouped
    by (returnflag, linestatus) into eight aggregates computed in a
    single partial+final hash agg pass: exact scaled-integer sums for
    qty / base price / discounted price / charge (scale 10^2 / 10^2 /
    10^4 / 10^6 matching each expression's decimal width), e6-pinned
    averages replaying the sum/count op order on both engines, and
    the order count. The canonical 'does the engine do wide
    aggregation right' benchmark: every metric is one pass, map-side
    partials, zero joins."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        scaled_sum(F.col("l_quantity"), 100).alias("sum_qty"),
        scaled_sum(F.col("l_extendedprice"), 100).alias("sum_base_price"),
        scaled_sum(disc_price, 10_000).alias("sum_disc_price"),
        scaled_sum(charge, 1_000_000).alias("sum_charge"),
        scaled_sum(F.col("l_discount"), 100).alias("_sum_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )
    e6 = lambda c: F.expr(f"cast(floor(({c}) * 1e6 + 0.5) as bigint)")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        e6(f"sum_qty / cast(count_order as double)").alias("avg_qty_e6"),
        e6(f"sum_base_price / cast(count_order as double)").alias("avg_price_e6"),
        e6(f"_sum_disc / cast(count_order as double)").alias("avg_disc_e6"),
        "count_order",
    )


ORACLE_TPCH_Q1 = f"""
    WITH g AS (
        SELECT l_returnflag, l_linestatus,
               {scaled_sum_sql("l_quantity", 100)} AS sum_qty,
               {scaled_sum_sql("l_extendedprice", 100)} AS sum_base_price,
               {scaled_sum_sql("l_extendedprice * (1.0 - l_discount)", 10_000)}
                   AS sum_disc_price,
               {scaled_sum_sql(
                   "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)",
                   1_000_000)} AS sum_charge,
               {scaled_sum_sql("l_discount", 100)} AS sum_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
           sum_disc_price, sum_charge,
           CAST(floor(sum_qty / CAST(count_order AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS avg_qty_e6,
           CAST(floor(sum_base_price / CAST(count_order AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS avg_price_e6,
           CAST(floor(sum_disc / CAST(count_order AS DOUBLE) * 1e6 + 0.5)
               AS BIGINT) AS avg_disc_e6,
           count_order
    FROM g
"""


# ---------------------------------------------------------------------------
# q_tpch_q19 — disjunctive-predicate revenue (Q19 shape, available columns)
# ---------------------------------------------------------------------------


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (r9), adapted to the testdata's columns: total
    revenue from lineitem⋈part pairs matching an OR of three
    (brand, part-size range, quantity range) conjunctions — the
    canonical disjunctive-predicate benchmark. The part side
    BROADCASTS (its brand/size conjunctions prune it first), the OR
    evaluates in whole-stage codegen on the join output, and the
    single-row sum is the exact ×10⁴ scaled-integer form. At 100 TB
    the join stays one broadcast + one scan of lineitem with the
    quantity bounds pushed down."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#14") & s.between(1, 15) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(scaled_sum(rev, 10_000).alias("revenue"))
    )


ORACLE_TPCH_Q19 = f"""
    SELECT {scaled_sum_sql("l_extendedprice * (1.0 - l_discount)", 10_000)}
               AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
"""



# ---------------------------------------------------------------------------
# derived l_commitdate / l_receiptdate — deterministic, engine-independent
# ---------------------------------------------------------------------------

# The testdata generates lineitem without l_commitdate/l_receiptdate,
# so Q4/Q12/Q21's lateness predicate was approximated by "shipped > N
# days after order date" through r9. Both engines now DERIVE the two
# columns from the line's key pair (the derived-partsupp precedent,
# plans/tpch_ps.py), keeping dbgen's *shape* — commit scattered around
# ship, receipt strictly after ship:
#
#   l_commitdate  = ship + ((5k + 7n) % 61 - 10) days   (ship-10 .. ship+50)
#   l_receiptdate = ship + ((11k + 3n) % 30 + 1) days   (ship+1  .. ship+30)
#
# so the REAL TPC-H predicates are exercised with honest selectivity:
# "l_commitdate < l_receiptdate" holds for ~42% of lines and
# "l_shipdate < l_commitdate" for ~82% (measured at sf0.01), and both
# remove rows at every SF (invariants pinned in tests/test_tpch.py).


def with_commit_receipt(li: DataFrame) -> DataFrame:
    """lineitem + derived ``l_commitdate``/``l_receiptdate`` (DATE).
    Requires ``l_orderkey``, ``l_linenumber``, ``l_shipdate``."""
    ship = F.col("l_shipdate").cast("date")
    c_off = (
        (F.col("l_orderkey") * 5 + F.col("l_linenumber") * 7) % 61 - 10
    ).cast("int")
    r_off = (
        (F.col("l_orderkey") * 11 + F.col("l_linenumber") * 3) % 30 + 1
    ).cast("int")
    return li.withColumn("l_commitdate", F.date_add(ship, c_off)).withColumn(
        "l_receiptdate", F.date_add(ship, r_off)
    )


COMMIT_RECEIPT_SQL = """
    CAST(l_shipdate AS DATE)
        + CAST((l_orderkey * 5 + l_linenumber * 7) % 61 - 10 AS INTEGER)
        AS l_commitdate,
    CAST(l_shipdate AS DATE)
        + CAST((l_orderkey * 11 + l_linenumber * 3) % 30 + 1 AS INTEGER)
        AS l_receiptdate
"""


# ---------------------------------------------------------------------------
# q_tpch_q4 — order-priority checking: EXISTS semi-join with a non-equi term
# ---------------------------------------------------------------------------


def q_tpch_q4(
    spark: SparkSession, sf_dir: str, layout: dict[str, str] | None = None
) -> DataFrame:
    """TPC-H Q4: per priority, how many 1996-Q1 orders had at least
    one line that missed its commitment (``l_commitdate <
    l_receiptdate`` over the derived date columns). Plans as a LEFT
    SEMI join on the order key with the line-side lateness as a
    join-side filter — each order counts ONCE no matter how many
    lines are late (the EXISTS semantics the naive
    inner-join-then-distinct shape pays a dedup shuffle for), then a
    5-group aggregate. The lateness predicate is line-LOCAL, so it
    filters lineitem BEFORE the join — strictly less exchange input.

    ``layout`` maps lineitem and orders to the orderkey-bucketed
    tables (``bucketing.layout_table``); orders then carries a
    ``merge`` hint, so the semi join is bucket to bucket and the
    only shuffle left is the 5-row priority re-group."""
    orders = layout_table(spark, sf_dir, "orders", layout).where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = with_commit_receipt(
        layout_table(spark, sf_dir, "lineitem", layout).select(
            "l_orderkey", "l_linenumber", "l_shipdate"
        )
    ).where(F.col("l_commitdate") < F.col("l_receiptdate"))
    late = (orders.hint("merge") if layout else orders).join(
        li.select("l_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


ORACLE_TPCH_Q4 = f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM (SELECT l_orderkey, {COMMIT_RECEIPT_SQL}
                                 FROM lineitem) l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_commitdate < l.l_receiptdate)
    GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q_tpch_q18 — large-volume orders: HAVING-sum filter + join back
# ---------------------------------------------------------------------------

Q18_QTY_THRESHOLD = 250  # sf0.001: 25 qualifying orders; sf0.01: 204


def q_tpch_q18(
    spark: SparkSession, sf_dir: str, layout: dict[str, str] | None = None
) -> DataFrame:
    """TPC-H Q18: the 20 largest-volume orders — aggregate lineitem
    quantities per order (exact scaled-integer sum), keep orders
    whose total exceeds the threshold (the HAVING filter runs on the
    AGGREGATED side, so the join back to orders/customer carries
    only qualifying keys — at 100 TB that is a few hundred rows,
    broadcastable), then enrich with customer and take the top-20
    heap by (total_qty, o_orderkey).

    ``layout`` maps lineitem and orders to the orderkey-bucketed
    tables (``bucketing.layout_table``). The per-order aggregate then
    groups on the bucket key without an exchange, and instead of
    broadcasting the qualifying set, orders sort-merges with it
    bucket to bucket (``merge`` hint): the whole agg→join chain plans
    zero shuffle Exchange, with only the customer dim broadcast."""
    big = (
        layout_table(spark, sf_dir, "lineitem", layout)
        .groupBy("l_orderkey")
        .agg(scaled_sum(F.col("l_quantity"), 100).alias("total_qty"))
        .where(F.col("total_qty") > Q18_QTY_THRESHOLD)
    )
    orders = layout_table(spark, sf_dir, "orders", layout)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    if layout:
        orders = orders.hint("merge")
    else:
        big = F.broadcast(big)
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            dim_broadcast(customer, table_bytes(sf_dir, "customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.expr(
                "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
            ).alias("price_cents"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


ORACLE_TPCH_Q18 = f"""
    WITH big AS (
        SELECT l_orderkey,
               {scaled_sum_sql("l_quantity", 100)} AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {scaled_sum_sql("l_quantity", 100)} > {Q18_QTY_THRESHOLD}
    )
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           total_qty
    FROM orders
    JOIN big ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_qty DESC, o_orderkey ASC
    LIMIT 20
"""


from weatherflow_spark.plans.tpch_ext import (  # noqa: E402
    TPCH_EXT_QUERIES,
    TPCH_EXT_ORACLES,
)
from weatherflow_spark.plans.tpch_ps import (  # noqa: E402
    TPCH_PS_QUERIES,
    TPCH_PS_ORACLES,
)

TPCH_QUERIES = {
    **TPCH_EXT_QUERIES,
    **TPCH_PS_QUERIES,
    "q_tpch_q1": q_tpch_q1,
    "q_tpch_q4": q_tpch_q4,
    "q_tpch_q18": q_tpch_q18,
    "q_tpch_q19": q_tpch_q19,
    "q_tpch_q5": q_tpch_q5,
    "q_tpch_q14": q_tpch_q14,
    "q_supplier_rank": q_supplier_rank,
    "q_tpch_suite": q_tpch_suite,
}

TPCH_ORACLES = {
    **TPCH_EXT_ORACLES,
    **TPCH_PS_ORACLES,
    "q_tpch_q1": ORACLE_TPCH_Q1,
    "q_tpch_q4": ORACLE_TPCH_Q4,
    "q_tpch_q18": ORACLE_TPCH_Q18,
    "q_tpch_q19": ORACLE_TPCH_Q19,
    "q_tpch_q5": ORACLE_TPCH_Q5,
    "q_tpch_q14": ORACLE_TPCH_Q14,
    "q_supplier_rank": ORACLE_SUPPLIER_RANK,
    "q_tpch_suite": _oracle_tpch_suite(),
}
