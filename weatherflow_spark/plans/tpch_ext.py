"""TPC-H coverage completion (r9): the nine remaining queries
expressible over the testdata's RAW columns — Q6, Q7, Q8, Q10, Q13,
Q15, Q17, Q21, Q22.  With plans/tpch.py's Q1/Q3/Q4/Q5/Q14/Q18/Q19
this makes 16 of the 22 TPC-H queries; the remaining six (Q2, Q9,
Q11, Q16, Q20, and the full Q12) need the ``partsupp`` table or
lineitem shipping columns the testdata does not generate and are
completed in plans/tpch_ps.py over a DERIVED partsupp both engines
build identically — 22/22 total.

Adaptations (testdata lacks some canonical columns; the *plan shape*
each query exists to exercise is preserved exactly):

- Q21's "receipt after commit" lateness runs the REAL
  ``l_receiptdate > l_commitdate`` predicate over the derived date
  columns since r10 (tpch.py ``with_commit_receipt``; the r9
  shipped-late stand-in is gone).
- Q22's "no orders at all" anti-join → "no order since 2001-01-01"
  (the generator gives every customer at least one order, so the
  canonical form is vacuously empty; the dormancy form keeps the
  anti-join + scalar-subquery shape with a non-trivial result), and
  the phone-prefix country filter → a c_nationkey IN-list.

Scale posture (shared with plans/tpch.py): dimension sides broadcast,
revenue/balance sums are exact scaled integers (plans/queries.scaled_sum)
so partial/final agg order never changes a hash, every per-order or
per-part reduction happens in ONE shuffle keyed by the same column the
downstream join uses, and the decorrelated forms here (Q17's per-part
avg join, Q21's one-pass order profile, Q22's broadcast scalar avg)
are the plans a 100 TB run needs — no correlated re-scans.

Reference: the star schema these serve is WeatherFlow's
dbdiagram.txt:59-63 warehouse shape (facts keyed to dims); TPC-H is
the canonical workload family for it (SURVEY §2.11 E6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.io import load_table, table_bytes
from weatherflow_spark.operators.bucketing import (
    N_BUCKETS,
    dim_broadcast,
    layout_table,
)
from weatherflow_spark.plans.queries import scaled_sum, scaled_sum_sql
from weatherflow_spark.plans.tpch import COMMIT_RECEIPT_SQL, with_commit_receipt


# ---------------------------------------------------------------------------
# q_tpch_q6 — forecasting revenue change: pure scan-side predicates
# ---------------------------------------------------------------------------


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue from 1996 lineitems with discount 5-7% and
    quantity < 24 — the canonical 'did every predicate reach the
    scan' query: one table, no joins, one global sum. The date and
    quantity bounds push to parquet; the discount band compares the
    ×100 scaled integer (discounts are 2-decimal by construction) so
    neither engine ever equality-tests a raw double."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_c = F.floor(F.col("l_discount") * 100 + F.lit(0.5))
    return (
        li.where(
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


ORACLE_TPCH_Q6 = f"""
    SELECT {scaled_sum_sql("l_extendedprice * l_discount", 10_000)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_quantity < 24
      AND CAST(floor(l_discount * 100 + 0.5) AS BIGINT) BETWEEN 5 AND 7
"""


# ---------------------------------------------------------------------------
# q_tpch_q7 — volume shipping between two nations: dual-direction pair filter
# ---------------------------------------------------------------------------

Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year, both
    directions — supplier nation and customer nation resolved through
    TWO broadcast copies of the 25-row nation dim, the (A→B | B→A)
    pair disjunction evaluated in codegen after the joins. The only
    wide shuffle is lineitem⋈orders; customer/supplier broadcast."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n1 = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
        .where(F.col("supp_nation").isin(Q7_NATION_A, Q7_NATION_B))
    )
    n2 = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
        .where(F.col("cust_nation").isin(Q7_NATION_A, Q7_NATION_B))
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(scaled_sum(rev, 10_000).alias("revenue"))
    )


ORACLE_TPCH_Q7 = f"""
    SELECT supp_nation, cust_nation, l_year,
           {scaled_sum_sql("volume", 10_000)} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1.0 - l_discount) AS volume
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
            OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
    )
    GROUP BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# q_tpch_q8 — national market share: conditional/total ratio per year
# ---------------------------------------------------------------------------

Q8_REGION, Q8_TYPE, Q8_NATION = "ASIA", "ECONOMY", "NATION_5"


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5's share of ECONOMY-part revenue sold into
    ASIA, per order year — numerator (that nation's suppliers) and
    denominator (all suppliers) as conditional exact sums in ONE
    pass, the share a single double division of two scaled longs.
    part/customer/nation/region prune-then-broadcast; the customer
    side restricts to the ASIA region through nation⋈region, the
    supplier side only RESOLVES the nation name for the CASE."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == Q8_TYPE)
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    cnation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == Q8_REGION)
    snation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev_scaled = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(10_000.0)
        + F.lit(0.5)
    )
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cnation), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(snation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == Q8_NATION, rev_scaled).otherwise(
                    F.lit(0)
                )
            ).alias("nation_s"),
            F.sum(rev_scaled).alias("total_s"),
        )
    )
    return agg.select(
        "o_year",
        (
            F.col("nation_s").cast("double") / F.col("total_s").cast("double")
        ).alias("mkt_share"),
    )


ORACLE_TPCH_Q8 = f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = '{Q8_NATION}'
                THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
                                + 0.5) AS BIGINT) ELSE 0 END) AS DOUBLE)
           / CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
                                + 0.5) AS BIGINT)) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = '{Q8_REGION}' AND p_type = '{Q8_TYPE}'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY CAST(year(o_orderdate) AS INTEGER)
"""


# ---------------------------------------------------------------------------
# q_tpch_q10 — returned-item reporting: revenue lost to returns, top 20
# ---------------------------------------------------------------------------


def q_tpch_q10(
    spark: SparkSession, sf_dir: str, layout: dict[str, str] | None = None
) -> DataFrame:
    """TPC-H Q10: the 20 customers who returned the most 1996-Q4
    revenue — lineitem(R-flag)⋈orders(quarter) is the one wide
    shuffle, customer and nation broadcast AFTER the aggregate (the
    grouped side is already small), and the top-20 heap orders by the
    exact scaled revenue with c_custkey as the total tiebreak.

    ``layout`` maps lineitem and orders to the orderkey-bucketed
    tables and customer to the custkey-bucketed one
    (``bucketing.layout_table``). Both fact joins then carry a
    ``merge`` hint: lineitem⋈orders merges bucket to bucket, and one
    ``repartition(N_BUCKETS, o_custkey)`` before the aggregate
    (REPARTITION_BY_NUM, so AQE cannot coalesce it away from the
    bucket count) is the plan's only Exchange — its output
    partitioning matches customer's bucketing, so the join-back
    merges in place."""
    li = layout_table(spark, sf_dir, "lineitem", layout).where(
        F.col("l_returnflag") == "R"
    )
    orders = layout_table(spark, sf_dir, "orders", layout).where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = layout_table(spark, sf_dir, "customer", layout).select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    if layout:
        orders, customer = orders.hint("merge"), customer.hint("merge")
    else:
        customer = dim_broadcast(customer, table_bytes(sf_dir, "customer"))
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    if layout:
        joined = joined.repartition(N_BUCKETS, F.col("o_custkey"))
    per_cust = joined.groupBy("o_custkey").agg(
        scaled_sum(rev, 10_000).alias("revenue")
    )
    return (
        per_cust.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            dim_broadcast(nation, table_bytes(sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.expr("cast(floor(c_acctbal * 100 + 0.5) as bigint)").alias(
                "acctbal_cents"
            ),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


ORACLE_TPCH_Q10 = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               {scaled_sum_sql("l_extendedprice * (1.0 - l_discount)", 10_000)}
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, revenue,
           CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents,
           n_name
    FROM per_cust
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# q_tpch_q13 — customer order-count distribution: outer join + double agg
# ---------------------------------------------------------------------------


def q_tpch_q13(
    spark: SparkSession, sf_dir: str, layout: dict[str, str] | None = None
) -> DataFrame:
    """TPC-H Q13: how many customers placed exactly k non-urgent
    orders, for every k INCLUDING 0 — the left-outer-join-then-
    double-aggregate shape (the outer join is what makes k=0 rows
    exist; an inner join silently loses them). First shuffle keys by
    customer, second groups the tiny (c_count) domain. The priority
    exclusion stands in for the canonical o_comment NOT LIKE filter
    (no comment column in the testdata).

    ``layout`` maps orders and customer to the custkey-bucketed
    tables (``bucketing.layout_table``); orders then carries a
    ``merge`` hint, so the outer join merges bucket to bucket, the
    per-customer count groups on the bucket key, and the only
    Exchange left is the tiny (c_count) re-group."""
    customer = layout_table(spark, sf_dir, "customer", layout).select(
        "c_custkey"
    )
    orders = layout_table(spark, sf_dir, "orders", layout).where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        customer.join(
            orders.hint("merge") if layout else orders,
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


ORACLE_TPCH_Q13 = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
"""


# ---------------------------------------------------------------------------
# q_tpch_q15 — top supplier: aggregate, scalar max, equality join back
# ---------------------------------------------------------------------------


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) whose 1996-Q1 revenue equals the
    maximum — the view + scalar-subquery shape, decorrelated as:
    per-supplier exact revenue (one shuffle), a 1-row global max
    BROADCAST back over it, then a broadcast name join. The
    per-supplier aggregate is ``tracked_persist``ed because BOTH the
    max and the equality filter consume it — unpersisted, each
    consumer re-plans the full lineitem scan (measured 2 scans,
    0 reused exchanges); the persisted frame is s_suppkey-sized
    (1e4·SF rows), trivially cacheable at any scale. Ties all
    surface (equality on an exact scaled sum — no epsilon games),
    matching the canonical query."""
    from weatherflow_spark.operators.caching import tracked_persist

    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    per_supp = tracked_persist(
        li.groupBy("l_suppkey").agg(
            scaled_sum(rev, 10_000).alias("total_revenue")
        )
    )
    mx = per_supp.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        per_supp.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


ORACLE_TPCH_Q15 = f"""
    WITH revenue AS (
        SELECT l_suppkey,
               {scaled_sum_sql("l_extendedprice * (1.0 - l_discount)", 10_000)}
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# ---------------------------------------------------------------------------
# q_tpch_q17 — small-quantity-order revenue: per-part avg, decorrelated
# ---------------------------------------------------------------------------

Q17_BRAND = "Brand#23"


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: yearly revenue lost if Brand#23 orders below 20% of
    their part's average quantity were dropped. The correlated
    ``l_quantity < 0.2 * (SELECT avg ... same part)`` decorrelates to
    ONE per-part aggregate joined back on partkey; the 20%-of-avg
    test is the cross-multiplied integer form
    ``5 * qty_scaled * cnt < sum_qty_scaled`` so no average is ever
    materialized as a double. The per-part stats are WINDOW
    aggregates over an unbounded l_partkey frame rather than the
    textbook agg + join-back — same shuffle key, but ONE scan of the
    brand-pruned lineitem instead of two (measured: the join-back
    form planned 2 scans, 0 reused exchanges); brand pruning
    broadcasts the part IN-list into the scan."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == Q17_BRAND
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # Canonical Q17 correlates against ALL lineitems of the part (the
    # brand filter applies to the outer side only) — but every
    # lineitem of a Brand#23 part IS in the brand-pruned set (the
    # correlation key is the part), so pruning first is equivalent
    # and skips the unpruned aggregate.
    branded = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    qty_s = F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
    w = Window.partitionBy("l_partkey")
    return (
        branded.withColumn("sum_qty_s", F.sum(qty_s).over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
        .where(qty_s * F.lit(5) * F.col("cnt") < F.col("sum_qty_s"))
        .agg(
            (scaled_sum(F.col("l_extendedprice"), 100) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


ORACLE_TPCH_Q17 = f"""
    WITH branded AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '{Q17_BRAND}'
    ),
    stats AS (
        SELECT l_partkey AS agg_partkey,
               sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS sum_qty_s,
               CAST(count(*) AS BIGINT) AS cnt
        FROM branded GROUP BY l_partkey
    )
    SELECT ({scaled_sum_sql("l_extendedprice", 100)}) / 7.0 AS avg_yearly
    FROM branded JOIN stats ON l_partkey = agg_partkey
    WHERE CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) * 5 * cnt < sum_qty_s
"""


# ---------------------------------------------------------------------------
# q_tpch_q21 — suppliers who kept orders waiting: sole-late-supplier profile
# ---------------------------------------------------------------------------

Q21_TOP = 20


def q_tpch_q21(
    spark: SparkSession, sf_dir: str, layout: dict[str, str] | None = None
) -> DataFrame:
    """TPC-H Q21: suppliers who were the SOLE late supplier on a
    finished multi-supplier order ("kept the order waiting"), top 20
    by how many orders they stalled. Lateness is the canonical
    ``l_receiptdate > l_commitdate`` over the derived date columns
    (tpch.py ``with_commit_receipt``); the predicate is line-LOCAL, so
    the orders join carries no date term.

    The canonical EXISTS(other supplier) + NOT EXISTS(other LATE
    supplier) pair decorrelates into ONE per-order profile — an order
    qualifies iff it has ≥ 2 suppliers of which exactly 1 was late —
    computed as a TWO-LEVEL exact aggregation: dedupe to (order,
    supplier, was_late) first, then fold per order. Both levels group
    on keys ⊇ the orderkey, so they share the join's partitioning,
    and there is no ``Expand`` (the 3× row multiplication Spark's
    multi-countDistinct rewrite plans). This replaces two correlated
    self-joins of lineitem.

    ``layout`` maps lineitem and orders to the orderkey-bucketed
    tables (``bucketing.layout_table``); orders then carries a
    ``merge`` hint, so the join merges bucket to bucket, neither
    profile level shuffles, and the only Exchange is the final
    per-supplier tally re-group."""
    orders = (
        layout_table(spark, sf_dir, "orders", layout)
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = with_commit_receipt(
        layout_table(spark, sf_dir, "lineitem", layout).select(
            "l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate"
        )
    ).select("l_orderkey", "l_suppkey", "l_commitdate", "l_receiptdate")
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    per_supp = (
        li.join(
            orders.hint("merge") if layout else orders,
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
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
    return (
        profile.where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("late_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            dim_broadcast(supplier, table_bytes(sf_dir, "supplier")),
            F.col("late_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(Q21_TOP)
    )


ORACLE_TPCH_Q21 = f"""
    WITH li AS (
        SELECT l_orderkey, l_suppkey, {COMMIT_RECEIPT_SQL}
        FROM lineitem
    ),
    profile AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_receiptdate > l_commitdate
                     THEN l_suppkey END) AS n_late,
               max(CASE WHEN l_receiptdate > l_commitdate
                   THEN l_suppkey END) AS late_suppkey
        FROM li
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
        GROUP BY l_orderkey
    )
    SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM profile JOIN supplier ON late_suppkey = s_suppkey
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_suppkey ASC
    LIMIT {Q21_TOP}
"""


# ---------------------------------------------------------------------------
# q_tpch_q22 — global sales opportunity: scalar avg + anti join
# ---------------------------------------------------------------------------

Q22_NATIONS = (1, 2, 3, 4, 5, 6, 7)
Q22_DORMANT_SINCE = "2001-01-01"


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per nation (from a 7-nation IN-list standing
    in for the phone-prefix filter), count and total balance of
    customers whose balance beats the group's positive-balance
    average and who placed NO order since 2001-01-01 (dormancy stands
    in for "no orders at all", which the generator makes vacuous).

    The scalar subquery decorrelates to a 1-row (sum, cnt) broadcast
    and the above-average test is the cross-multiplied integer form
    ``bal_cents * cnt > sum_cents``; the NOT EXISTS is a left-anti
    join against the pruned recent-orders projection. One scan each
    of customer and orders."""
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(*Q22_NATIONS)
    ).select("c_custkey", "c_nationkey", "c_acctbal")
    bal_cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
    avg_row = customer.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_cents).alias("sum_cents"),
        F.count(F.lit(1)).alias("cnt"),
    )
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit(Q22_DORMANT_SINCE).cast("timestamp")
    ).select("o_custkey")
    return (
        customer.crossJoin(F.broadcast(avg_row))
        .where(bal_cents * F.col("cnt") > F.col("sum_cents"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            scaled_sum(F.col("c_acctbal"), 100).alias("totacctbal"),
        )
    )


ORACLE_TPCH_Q22 = f"""
    WITH cust AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
        FROM customer
        WHERE c_nationkey IN {Q22_NATIONS}
    ),
    avg_row AS (
        SELECT sum(bal_cents) AS sum_cents, CAST(count(*) AS BIGINT) AS cnt
        FROM cust WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           {scaled_sum_sql("c_acctbal", 100)} AS totacctbal
    FROM cust, avg_row
    WHERE bal_cents * cnt > sum_cents
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '{Q22_DORMANT_SINCE}'
      )
    GROUP BY c_nationkey
"""


TPCH_EXT_QUERIES = {
    "q_tpch_q6": q_tpch_q6,
    "q_tpch_q7": q_tpch_q7,
    "q_tpch_q8": q_tpch_q8,
    "q_tpch_q10": q_tpch_q10,
    "q_tpch_q13": q_tpch_q13,
    "q_tpch_q15": q_tpch_q15,
    "q_tpch_q17": q_tpch_q17,
    "q_tpch_q21": q_tpch_q21,
    "q_tpch_q22": q_tpch_q22,
}

TPCH_EXT_ORACLES = {
    "q_tpch_q6": ORACLE_TPCH_Q6,
    "q_tpch_q7": ORACLE_TPCH_Q7,
    "q_tpch_q8": ORACLE_TPCH_Q8,
    "q_tpch_q10": ORACLE_TPCH_Q10,
    "q_tpch_q13": ORACLE_TPCH_Q13,
    "q_tpch_q15": ORACLE_TPCH_Q15,
    "q_tpch_q17": ORACLE_TPCH_Q17,
    "q_tpch_q21": ORACLE_TPCH_Q21,
    "q_tpch_q22": ORACLE_TPCH_Q22,
}
