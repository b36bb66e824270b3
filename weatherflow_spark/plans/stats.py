"""Statistical aggregates and ranked-shape queries: exact moments
(stddev/covariance/correlation), least-squares regression, mode,
fixed-width histogram, Shannon entropy, positional explode, the
TPC-H Q3 shipping-priority composition, and top-N per group.

The reference (pratik-choudhari/WeatherFlow) has no aggregation
surface at all (SURVEY §2.5 — A1..A3 ABSENT; its star schema exists
precisely to serve rollups like these, README.md:24,
dbdiagram.txt:59-63). This module is that implied analytical
workload, expressed Spark-first and hash-checked against DuckDB.

Determinism architecture (the hard part — floating-point statistics
are normally summation-order-dependent, which would break the
driver's value-hash gate *and* make results nondeterministic across
cluster runs):

    every moment is accumulated as an EXACT int64 sum of scaled
    integers (quantities are integral, discounts/prices fixed
    2-decimal), then the final statistic is derived in double
    arithmetic with an expression tree written identically in the
    Spark plan and the oracle SQL. Integer summation is associative,
    so partial/final aggregation order can never perturb a bit; the
    double derivation is a fixed sequence of correctly-rounded IEEE
    ops, so both engines produce the same 64 bits.

This is also the 100 TB story: each statistic is ONE map-side
partially-aggregated pass (sum of longs per partition, one row per
group shuffled), never a collect, never a second scan, and never a
window over the full table. Overflow headroom is sized in each
docstring (int64 ≈ 9.2e18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weatherflow_spark.functions import text as T
from weatherflow_spark.io import load_table
from weatherflow_spark.plans.queries import scaled_sum, scaled_sum_sql


def _d(c) -> F.Column:
    return c.cast("double")


# ---------------------------------------------------------------------------
# q_stats_moments — stddev / covariance / correlation from exact moments
# ---------------------------------------------------------------------------


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: count, mean and sample stddev of quantity, and
    sample covariance + Pearson correlation of (quantity, discount).

    Not ``F.stddev``/``F.corr``: those accumulate doubles and are
    summation-order-dependent (different answers run-to-run on a
    cluster, and never hash-matchable). Instead the five raw moments
    (Σx, Σx², Σy, Σy², Σxy) are summed as exact int64 of integral
    quantity (1..50) and discount scaled ×100 (0..10), then the
    statistics are derived in double. Headroom: Σx² ≤ 2500·n — safe
    past sf 10⁶; one partial-agg pass, one shuffle of 3 groups.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5))
    m = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd, sx, sxx = _d(F.col("n")), _d(F.col("sx")), _d(F.col("sxx"))
    sy, syy, sxy = _d(F.col("sy")), _d(F.col("syy")), _d(F.col("sxy"))
    cov_num = nd * sxy - sx * sy
    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (sx / nd).alias("avg_qty"),
        F.sqrt((nd * sxx - sx * sx) / (nd * (nd - F.lit(1.0)))).alias("std_qty"),
        (cov_num / (nd * (nd - F.lit(1.0)))).alias("covar_qty_disc100"),
        (
            cov_num
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy))
        ).alias("corr_qty_disc100"),
    )


ORACLE_STATS_MOMENTS = """
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y*y) AS BIGINT) AS syy,
               CAST(sum(x*y) AS BIGINT) AS sxy
        FROM (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS x,
                   CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS y
            FROM lineitem
        )
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           n AS n_rows,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS avg_qty,
           sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS std_qty,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               AS covar_qty_disc100,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS corr_qty_disc100
    FROM m
"""


# ---------------------------------------------------------------------------
# q_linear_regression — least-squares fit from exact moments
# ---------------------------------------------------------------------------


def q_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per line status: ordinary-least-squares slope and intercept of
    extended price (cents) on quantity — ``regr_slope``/``regr_
    intercept`` semantics, but from exact integer moments (see module
    doc) instead of Spark's order-dependent double accumulators.

    Headroom: Σxy ≤ 50 · 1.05e7 · n ≈ 5.3e8·n → safe to n ≈ 1.7e10
    rows (sf ~3000); Σy ≤ 1.05e7·n. The cross-moment n·Σxy would
    overflow int64 at that scale, so the *combination* happens in
    double after the exact sums — same expression both engines.
    One partial-agg pass; shuffles 2 one-row groups.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
    m = (
        li.select("l_linestatus", x.alias("x"), y.alias("y"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd, sx, sxx = _d(F.col("n")), _d(F.col("sx")), _d(F.col("sxx"))
    sy, sxy = _d(F.col("sy")), _d(F.col("sxy"))
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return m.select(
        "l_linestatus",
        F.col("n").alias("n_rows"),
        slope.alias("slope_cents_per_qty"),
        ((sy - slope * sx) / nd).alias("intercept_cents"),
    )


ORACLE_LINEAR_REGRESSION = """
    WITH m AS (
        SELECT l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy
        FROM (
            SELECT l_linestatus,
                   CAST(l_quantity AS BIGINT) AS x,
                   CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
            FROM lineitem
        )
        GROUP BY l_linestatus
    )
    SELECT l_linestatus,
           n AS n_rows,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               AS slope_cents_per_qty,
           (CAST(sy AS DOUBLE)
            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
              * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS intercept_cents
    FROM m
"""


# ---------------------------------------------------------------------------
# q_mode — most frequent value with deterministic tie-break
# ---------------------------------------------------------------------------


def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: the modal quantity (most frequent; ties broken
    toward the smallest value — engine ``mode()`` built-ins leave
    ties unspecified, which a distributed engine must never do).

    Two-level aggregate: count per (flag, qty) — map-side combine,
    ≤150 groups shuffled — then arg-max via ``max(struct(count,
    -qty))`` so the winner rides the aggregation buffer; no window,
    no sort of the input. At 100 TB both shuffles move only the
    group cardinality, not rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.select("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .groupBy("l_returnflag", "qty")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    best = F.max(
        F.struct(F.col("n").alias("n"), (-F.col("qty")).alias("negq"))
    ).alias("b")
    return (
        counts.groupBy("l_returnflag")
        .agg(best, F.sum("n").alias("n_rows"))
        .select(
            "l_returnflag",
            (-F.col("b.negq")).alias("mode_qty"),
            F.col("b.n").alias("mode_count"),
            "n_rows",
        )
    )


ORACLE_MODE = """
    SELECT l_returnflag, mode_qty, mode_count, n_rows
    FROM (
        SELECT l_returnflag,
               qty AS mode_qty,
               n AS mode_count,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY n DESC, qty ASC) AS rn,
               CAST(sum(n) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n_rows
        FROM (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS qty,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY 1, 2
        )
    )
    WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q_histogram — fixed-width bucketed distribution
# ---------------------------------------------------------------------------


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket fixed-width histogram of order total price
    ([0, 500k) in 50k steps, top bucket clamped). Fixed bounds make
    the bucketing a narrow per-row expression — a data-dependent
    equi-height histogram would need a quantile pre-pass; this shape
    is the single-scan one you want at 100 TB (one shuffle of ≤10
    groups). Price mass per bucket via the exact integer-cents sum.
    """
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / F.lit(50000.0)), F.lit(9)
    ).cast("long")
    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            scaled_sum(F.col("o_totalprice"), 100).alias("sum_price"),
        )
        .select(
            "bucket",
            (_d(F.col("bucket")) * F.lit(50000.0)).alias("bucket_lo"),
            "n_orders",
            "sum_price",
        )
    )


ORACLE_HISTOGRAM = f"""
    SELECT bucket,
           CAST(bucket AS DOUBLE) * 50000.0 AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           {scaled_sum_sql("o_totalprice", 100)} AS sum_price
    FROM (
        SELECT CAST(least(floor(o_totalprice / 50000.0), 9) AS BIGINT) AS bucket,
               o_totalprice
        FROM orders
    )
    GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# q_equidepth_histogram — E65: exact equi-depth histogram (compressed domain)
# ---------------------------------------------------------------------------

EDH_BUCKETS = 8


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (equal-height) histogram of order total price,
    8 buckets — the statistics a cost-based optimizer or drift monitor
    wants when fixed-width buckets leave most bins empty. Naive form is
    ``ntile(B) OVER (ORDER BY price)`` — a single-partition global
    window over every row, a non-starter at 100 TB. This plan uses the
    COMPRESSED-DOMAIN decomposition instead: aggregate to one row per
    distinct cent value (map-side-partial keyed agg — the only
    data-scale pass), then run the cumulative sum and bucket
    assignment over the distinct-value table, whose size is bounded by
    the VALUE DOMAIN (≤ ~6e7 cents here) rather than the row count.
    Ties never split across buckets (value-level assignment:
    bucket = floor(rows_before · B / N)) — the deterministic
    no-split-ties variant, identical in both engines. For genuinely
    unbounded/continuous domains the two-pass global-index path
    (operators/indexing.py) is the documented alternative.

    Output per bucket: row count, inclusive cent bounds, distinct
    values — 8 rows total."""
    orders = load_table(spark, sf_dir, "orders")
    per_val = (
        orders.select(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents")
        )
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    bucketed = per_val.select(
        "cents",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("before"),
        F.sum("n").over(wall).alias("n_total"),
    ).select(
        "cents",
        "n",
        F.expr(f"before * {EDH_BUCKETS} div n_total").alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.sum("n").alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select("bucket", "n_rows", "lo_cents", "hi_cents", "n_values")
    )


ORACLE_EQUIDEPTH_HISTOGRAM = f"""
    WITH per_val AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    bucketed AS (
        SELECT cents, n,
               CAST(COALESCE(sum(n) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   * {EDH_BUCKETS}
                   // CAST(sum(n) OVER () AS BIGINT) AS BIGINT) AS bucket
        FROM per_val
    )
    SELECT bucket, CAST(sum(n) AS BIGINT) AS n_rows,
           min(cents) AS lo_cents, max(cents) AS hi_cents,
           CAST(count(*) AS BIGINT) AS n_values
    FROM bucketed GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# q_entropy — Shannon entropy via deterministic sorted fold
# ---------------------------------------------------------------------------


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of the event-type distribution.

    The per-type counts are exact longs; the final Σ p·ln p is a sum
    of doubles, which is the one place order could leak in — so the
    terms are folded over a *sorted* array (``array_sort(collect_
    list(n))`` then ``aggregate``), a fixed sequential reduction that
    both engines replay identically (DuckDB: ``list_reduce(list_
    sort(...))``). Collecting is safe by construction: the array
    holds one element per *distinct event type* (5 here; bounded
    domain), never per row. Rounded to 1e-9 to absorb any last-ulp
    divergence in ``ln``.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    one = counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("total_events"),
        F.array_sort(F.collect_list("n")).alias("arr"),
    )
    terms = F.transform(
        F.col("arr"),
        lambda c: (c / F.col("total_events"))
        * F.log(c / F.col("total_events")),
    )
    ent = -F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
    return one.select(
        "n_types",
        "total_events",
        (F.floor(ent * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)).alias("entropy_nats"),
    )


ORACLE_ENTROPY = """
    WITH c AS (
        SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    ),
    a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(n) AS BIGINT) AS total_events,
               list_sort(list(CAST(n AS BIGINT))) AS arr
        FROM c
    )
    SELECT n_types,
           total_events,
           floor((-(list_reduce(
                       list_transform(arr, c -> (c / total_events)
                                              * ln(c / total_events)),
                       (acc, t) -> acc + t))) * 1e9 + 0.5) / 1e9
               AS entropy_nats
    FROM a
"""


# ---------------------------------------------------------------------------
# q_explode_pos — positional explode (posexplode / unnest WITH ORDINALITY)
# ---------------------------------------------------------------------------


def q_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency by *position* for the first 3 tokens of each
    document — ``posexplode``, the ordinality-preserving flatten
    (DuckDB twin: LATERAL unnest over ``range(len(list))``).

    The position filter lands *before* the aggregation, so the
    explode multiplies each row by at most 3, not by document length
    — at 100 TB, exploding full token lists and filtering after
    would be a self-inflicted 100× blowup. Final top-20 is
    TakeOrderedAndProject (no full sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.posexplode(T.tokens("text")).alias("pos", "token"))
        .where((F.col("pos") < 3) & (F.col("token") != ""))
        .select(F.col("pos").cast("long").alias("pos"), "token")
        .groupBy("pos", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pos"), F.asc("token"))
        .limit(20)
    )


ORACLE_EXPLODE_POS = f"""
    SELECT pos, tok AS token, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT r.i AS pos, d.parts[r.i + 1] AS tok
        FROM (
            SELECT {T.tokens_sql('text')} AS parts FROM documents
        ) d,
        LATERAL (SELECT unnest(range(len(d.parts))) AS i) r
    )
    WHERE pos < 3 AND tok <> ''
    GROUP BY pos, tok
    ORDER BY n DESC, pos ASC, token ASC
    LIMIT 20
"""


# ---------------------------------------------------------------------------
# q_tpch_q3 — shipping-priority composition (filter ⋈ ⋈ agg ⋈ top-k)
# ---------------------------------------------------------------------------


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one
    market segment — the canonical selective-star composition
    (SURVEY §2.4 J2 + §2.7 O2).

    Plan posture: the segment-filtered customer key set is explicitly
    broadcast (even at sf100 the filtered keys are ~tens of MB —
    far under a shuffle of 100 TB of lineitem); orders⋈lineitem is
    the one big join, on the key both sides already aggregate by;
    revenue is the exact scaled-integer sum (×10⁴ for the 2-decimal
    price × 2-decimal discount product); the top-10 runs as
    TakeOrderedAndProject — per-partition heaps, never a global
    sort. Group key (orderkey, orderdate, priority) is functionally
    dependent on orderkey, so the limit's (revenue, orderkey) order
    is total — deterministic under ties.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(scaled_sum(rev, 10_000).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_TPCH_Q3 = f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           {scaled_sum_sql("l_extendedprice * (1.0 - l_discount)", 10_000)} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# q_top_n_per_group — ranked slice per group
# ---------------------------------------------------------------------------


def q_top_n_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price within each order priority — the
    ranked-slice idiom (W1 row_number over a per-group order, SURVEY
    §2.6) with a total tie-break (price DESC, orderkey ASC).

    Scale note: a window over the full table sorts every row within
    its partition; when only the top-k survive, pre-filtering with a
    partial ``max``/arg-max (see analytics.q_arg_max) or a per-
    partition heap cuts the sort — kept as the plain window here
    because this query IS the window-idiom exhibit; the arg-max
    exhibit is its single-row sibling.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


ORACLE_TOP_N_PER_GROUP = """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                                       ORDER BY o_totalprice DESC,
                                                o_orderkey ASC) AS BIGINT) AS rk
        FROM orders
    )
    WHERE rk <= 3
"""


def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top-3-per-priority ranking computed with the
    TWO-PHASE operator (operators/topk.grouped_topk): an Arrow
    mapInPandas trims each input partition to its local top-3 per key
    (bounded state, no shuffle), then the exact window runs over the
    ≤ partitions·k survivors — the ranking shuffle carries a bounded
    trickle instead of the whole orders table. Hash-checked against
    the PLAIN window SQL, proving the physical rewrite is
    result-invariant (total tie-break required, as everywhere)."""
    from weatherflow_spark.operators.topk import grouped_topk

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return grouped_topk(
        orders,
        key_cols=["o_orderpriority"],
        order_cols=["o_totalprice", "o_orderkey"],
        k=3,
        ascending=[False, True],
    ).select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.col("rank").cast("long").alias("rk"),
    )


# Same SQL as the window idiom: the two-phase plan must be invisible
# in the result.
ORACLE_GROUPED_TOPK = ORACLE_TOP_N_PER_GROUP


def q_ranked_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked-slice certification row: the SAME top-3-per-priority
    ranking computed two ways and tagged by op — 'window' (the plain
    W1 row_number idiom, q_top_n_per_group) and 'two_phase' (the
    trim-before-shuffle operator, operators/topk.grouped_topk). One
    driver hash certifies both physical plans produce identical rows;
    the union is plan-level only (no cross-branch shuffle). Single-op
    twins stay registered in the tail."""
    win = q_top_n_per_group(spark, sf_dir).selectExpr(
        "'window' AS op", "o_orderpriority", "o_orderkey", "o_totalprice", "rk"
    )
    twop = q_grouped_topk(spark, sf_dir).selectExpr(
        "'two_phase' AS op", "o_orderpriority", "o_orderkey", "o_totalprice", "rk"
    )
    return win.unionByName(twop)


ORACLE_RANKED_TOPK_SUITE = f"""
    WITH ranked AS ({ORACLE_TOP_N_PER_GROUP})
    SELECT 'window' AS op, * FROM ranked
    UNION ALL
    SELECT 'two_phase' AS op, * FROM ranked
"""


# ---------------------------------------------------------------------------
# q_window_dist — distribution window functions (percent_rank / cume_dist /
# lead / nth_value), completing the W1-W3 analytic surface
# ---------------------------------------------------------------------------


def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order, within its priority class: percentile rank and
    cumulative distribution of its price, the next price up
    (``lead``), and the class floor (``nth_value(1)`` under the
    default running frame) — the distribution-window family (SURVEY
    §2.6, ABSENT in the reference).

    percent_rank/cume_dist divide two small exact integers, so the
    doubles hash-match. The order (price, orderkey) is total —
    no peer rows, so ``cume_dist`` is frame-unambiguous. One shuffle
    on the 5 priority classes; at 100 TB a single hot partition would
    bottleneck one task — for such low-cardinality classes pre-
    aggregate or sub-bucket first (operators/skew.py).
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.nth_value("o_totalprice", 1).over(w).alias("class_floor"),
    )


ORACLE_WINDOW_DIST = """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           lead(o_totalprice) OVER w AS next_price,
           nth_value(o_totalprice, 1) OVER w AS class_floor
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
"""


# ---------------------------------------------------------------------------
# q_collect_set_sorted — deterministic set aggregation
# ---------------------------------------------------------------------------


def q_collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct order statuses per priority as a sorted,
    comma-joined string — ``collect_set`` alone returns arbitrary
    order (partial-agg arrival order), which a distributed engine
    must never expose; ``array_sort`` pins it before the join. Safe
    by domain: the set holds ≤3 status codes, never per-row data.
    One partial-agg pass (sets union map-side), one 5-group shuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


ORACLE_COLLECT_SET_SORTED = """
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q_date_dim — generated calendar dimension (the reference's time dim
# as a table generator, no source scan at all)
# ---------------------------------------------------------------------------


def q_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A two-year calendar dimension generated in-engine
    (``sequence`` + ``explode`` — DuckDB twin ``generate_series``):
    date string, year/month/day parts, the reference's quarter and
    season buckets (etl.py:37-53 via functions/calendar.py), weekday
    and month names, weekend flag. The reference materializes these
    attributes per observation row into W_TIME_DIM
    (create_tables.sql:20-29); a generated dimension computes each
    calendar day ONCE and joins by date key — at 100 TB that is ~730
    rows/year instead of recomputing calendar logic on every fact.
    Broadcast-sized by construction.
    """
    from weatherflow_spark.functions import calendar as C

    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"), F.lit("1996-12-31").cast("date")
            )
        ).alias("d")
    )
    return days.select(
        F.date_format("d", "yyyy-MM-dd").alias("date_str"),
        F.year("d").cast("int").alias("year"),
        F.month("d").cast("int").alias("month"),
        F.dayofmonth("d").cast("int").alias("day"),
        C.quarter_bucket(F.col("d")).alias("quarter_label"),
        C.season_bucket(F.col("d")).alias("season"),
        F.date_format("d", "EEEE").alias("weekday_name"),
        F.date_format("d", "MMMM").alias("month_name"),
        F.date_format("d", "EEEE").isin("Saturday", "Sunday").cast("int").alias(
            "is_weekend"
        ),
    )


from weatherflow_spark.plans.oracles import SEASON_SQL as _SEASON_SQL  # noqa: E402

ORACLE_DATE_DIM = f"""
    SELECT strftime(d, '%Y-%m-%d') AS date_str,
           CAST(year(d) AS INTEGER) AS year,
           CAST(month(d) AS INTEGER) AS month,
           CAST(day(d) AS INTEGER) AS day,
           'Q' || CAST(quarter(d) AS VARCHAR) AS quarter_label,
           {_SEASON_SQL.format(ts='d')} AS season,
           dayname(d) AS weekday_name,
           monthname(d) AS month_name,
           CAST(CASE WHEN dayname(d) IN ('Saturday', 'Sunday')
                THEN 1 ELSE 0 END AS INTEGER) AS is_weekend
    FROM (
        SELECT unnest(generate_series(DATE '1995-01-01', DATE '1996-12-31',
                                      INTERVAL 1 DAY)) AS d
    )
"""


# ---------------------------------------------------------------------------
# q_scd2_dim — slowly-changing-dimension (type 2) build from an event log
# ---------------------------------------------------------------------------


def q_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event log: per
    user, consecutive runs of the tracked attribute (event_type)
    collapse into versioned rows with [valid_from, valid_to) intervals
    and an is_current flag — the standard warehouse pattern the
    reference's star schema (W_*_D tables, create_tables.sql) would
    need the moment a dimension attribute changed over time.

    Change detection is one lag + running-sum window over (user_id;
    ts, event_id) — the event_id tiebreak makes the version numbering
    a total order. Scale posture: a single hash exchange on user_id
    serves the change window, the run aggregation (user_id ⊆ grouping
    key, so no re-exchange), and the valid_to lead window; no joins,
    no Python.
    """
    ev = load_table(spark, sf_dir, "events")
    win = "PARTITION BY user_id ORDER BY ts ASC, event_id ASC"
    chg = F.expr(
        f"CASE WHEN lag(event_type) OVER ({win}) IS DISTINCT FROM event_type "
        "THEN 1 ELSE 0 END"
    )
    versioned = (
        ev.select("user_id", "event_id", "ts", "event_type")
        .withColumn("chg", chg)
        .withColumn(
            "version",
            F.expr(
                f"sum(chg) OVER ({win} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            ).cast("int"),
        )
    )
    runs = versioned.groupBy("user_id", "version").agg(
        F.min("event_type").alias("attr_value"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        runs.withColumn(
            "valid_to",
            F.expr(
                "lead(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC)"
            ),
        )
        .withColumn("is_current", F.col("valid_to").isNull().cast("int"))
        .select(
            "user_id",
            "version",
            "attr_value",
            "valid_from",
            "valid_to",
            "n_events",
            "is_current",
        )
    )


ORACLE_SCD2_DIM = """
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                    IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        FROM events
    ),
    versioned AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(sum(chg) OVER
                    (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS INTEGER) AS version
        FROM flagged
    ),
    runs AS (
        SELECT user_id, version,
               min(event_type) AS attr_value,
               min(ts) AS valid_from,
               CAST(count(*) AS BIGINT) AS n_events
        FROM versioned GROUP BY user_id, version
    )
    SELECT user_id, version, attr_value, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC)
               AS valid_to,
           n_events,
           CAST(lead(valid_from) OVER
                (PARTITION BY user_id ORDER BY version ASC) IS NULL
                AS INTEGER) AS is_current
    FROM runs
"""


# ---------------------------------------------------------------------------
# q_snapshot_diff — E61: CDC-style snapshot diff (added/removed/changed)
# ---------------------------------------------------------------------------

# Deterministic "new snapshot" derivation knobs: which order keys are
# deleted / attribute-changed / newly inserted between the two
# snapshots the diff compares. Pure key arithmetic — both engines
# derive bit-identical snapshots from the same parquet.
DIFF_DEL_MOD = 89
DIFF_CHG_MOD = 97
DIFF_ADD_MOD = 101
DIFF_PRICE_BUMP = 1.5  # binary-exact, so double equality is engine-safe


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the change-data-capture primitive a warehouse
    runs between two loads of the same table: full-outer join OLD and
    NEW on the business key, classify every key as added / removed /
    changed / unchanged, and tally which columns drove each change.
    (The reference reloads its MySQL tables wholesale; any incremental
    load needs exactly this diff first.) NEW is derived from OLD by
    deterministic key arithmetic (delete keys %89=0, flip status and
    bump price on %97=0, insert NEGATED copies of %101=0) so the diff
    is replayable and hash-certifiable with no second input table.
    Inserted keys are negated rather than offset: o_orderkey is
    positive at every TPC-H scale, so -o_orderkey can never collide
    with a surviving real key (a fixed +10M offset collides at
    sf ≳ 1.7, corrupting the added/changed split via join fan-out).

    Scale posture: ONE co-partitioned full-outer join on the key (the
    canonical CDC shape — both sides hash-exchange once), then a
    single global aggregation of conditional sums; per-column change
    flags are IS DISTINCT FROM expressions inside the same pass, and
    the output is 7 fixed rows regardless of table size."""
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    old = load_table(spark, sf_dir, "orders").select(*cols)
    kept = old.where(F.col("o_orderkey") % DIFF_DEL_MOD != 0)
    chg = F.col("o_orderkey") % DIFF_CHG_MOD == 0
    modified = kept.select(
        "o_orderkey",
        F.when(chg, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(chg, F.col("o_totalprice") + DIFF_PRICE_BUMP)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    inserted = old.where(F.col("o_orderkey") % DIFF_ADD_MOD == 0).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderpriority",
    )
    new = modified.unionByName(inserted)

    o = old.select([F.col(c).alias(f"old_{c}") for c in cols])
    n = new.select([F.col(c).alias(f"new_{c}") for c in cols])
    d = o.join(n, o["old_o_orderkey"] == n["new_o_orderkey"], "full_outer")

    def distinct_from(c: str) -> F.Column:
        return F.expr(f"old_{c} IS DISTINCT FROM new_{c}").cast("long")

    classified = d.select(
        F.when(F.col("old_o_orderkey").isNull(), "added")
        .when(F.col("new_o_orderkey").isNull(), "removed")
        .when(
            F.expr(
                "old_o_orderstatus IS DISTINCT FROM new_o_orderstatus OR "
                "old_o_totalprice IS DISTINCT FROM new_o_totalprice OR "
                "old_o_orderpriority IS DISTINCT FROM new_o_orderpriority"
            ),
            "changed",
        )
        .otherwise("unchanged")
        .alias("status"),
        distinct_from("o_orderstatus").alias("c_status"),
        distinct_from("o_totalprice").alias("c_price"),
        distinct_from("o_orderpriority").alias("c_prio"),
    )
    g = classified.agg(
        F.sum((F.col("status") == "added").cast("long")).alias("n_added"),
        F.sum((F.col("status") == "removed").cast("long")).alias("n_removed"),
        F.sum((F.col("status") == "changed").cast("long")).alias("n_changed"),
        F.sum((F.col("status") == "unchanged").cast("long")).alias("n_unchanged"),
        F.sum(F.when(F.col("status") == "changed", F.col("c_status")).otherwise(0)).alias("cc_status"),
        F.sum(F.when(F.col("status") == "changed", F.col("c_price")).otherwise(0)).alias("cc_price"),
        F.sum(F.when(F.col("status") == "changed", F.col("c_prio")).otherwise(0)).alias("cc_prio"),
    )
    return g.selectExpr(
        "stack(7, 'added', n_added, 'removed', n_removed, "
        "'changed', n_changed, 'unchanged', n_unchanged, "
        "'changed:o_orderstatus', cc_status, "
        "'changed:o_totalprice', cc_price, "
        "'changed:o_orderpriority', cc_prio) AS (status, n_rows)"
    )


ORACLE_SNAPSHOT_DIFF = f"""
    WITH old_side AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
    ),
    new_side AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % {DIFF_CHG_MOD} = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % {DIFF_CHG_MOD} = 0
                    THEN o_totalprice + {DIFF_PRICE_BUMP}
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM old_side WHERE o_orderkey % {DIFF_DEL_MOD} <> 0
        UNION ALL
        SELECT -o_orderkey, 'N', o_totalprice,
               o_orderpriority
        FROM old_side WHERE o_orderkey % {DIFF_ADD_MOD} = 0
    ),
    d AS (
        SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                      OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                      OR o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                    THEN 'changed' ELSE 'unchanged' END AS status,
               CAST(o.o_orderstatus IS DISTINCT FROM n.o_orderstatus AS BIGINT)
                   AS c_status,
               CAST(o.o_totalprice IS DISTINCT FROM n.o_totalprice AS BIGINT)
                   AS c_price,
               CAST(o.o_orderpriority IS DISTINCT FROM n.o_orderpriority
                    AS BIGINT) AS c_prio
        FROM old_side o FULL OUTER JOIN new_side n
             ON o.o_orderkey = n.o_orderkey
    ),
    g AS (
        SELECT CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
               CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
               CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
               CAST(sum(CASE WHEN status = 'changed' THEN c_status ELSE 0 END) AS BIGINT) AS cc_status,
               CAST(sum(CASE WHEN status = 'changed' THEN c_price ELSE 0 END) AS BIGINT) AS cc_price,
               CAST(sum(CASE WHEN status = 'changed' THEN c_prio ELSE 0 END) AS BIGINT) AS cc_prio
        FROM d
    )
    SELECT 'added' AS status, n_added AS n_rows FROM g
    UNION ALL SELECT 'removed', n_removed FROM g
    UNION ALL SELECT 'changed', n_changed FROM g
    UNION ALL SELECT 'unchanged', n_unchanged FROM g
    UNION ALL SELECT 'changed:o_orderstatus', cc_status FROM g
    UNION ALL SELECT 'changed:o_totalprice', cc_price FROM g
    UNION ALL SELECT 'changed:o_orderpriority', cc_prio FROM g
"""


# ---------------------------------------------------------------------------
# q_dim_build_suite — certification row: generated date dim + SCD2 dim
# ---------------------------------------------------------------------------

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


def q_dim_build_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-build certification row: the generated calendar
    dimension and the SCD2 dimension, tagged by op and unioned in LONG
    format — (op, key, metric, value:string); string values so
    calendar labels and formatted interval bounds certify without
    lossy encoding. Union is plan-level only; singles stay in the
    tail."""
    dd = q_date_dim(spark, sf_dir).selectExpr(
        "'date_dim' AS op",
        "date_str AS key",
        "stack(8, 'year', cast(year as string), "
        "'month', cast(month as string), "
        "'day', cast(day as string), "
        "'quarter_label', quarter_label, "
        "'season', season, "
        "'weekday_name', weekday_name, "
        "'month_name', month_name, "
        "'is_weekend', cast(is_weekend as string)) AS (metric, value)",
    )
    scd = q_scd2_dim(spark, sf_dir).selectExpr(
        "'scd2' AS op",
        "concat(cast(user_id as string), '#', cast(version as string)) AS key",
        f"stack(5, 'attr_value', attr_value, "
        f"'valid_from', date_format(valid_from, '{_TS_FMT_SPARK}'), "
        f"'valid_to', coalesce(date_format(valid_to, '{_TS_FMT_SPARK}'), ''), "
        "'n_events', cast(n_events as string), "
        "'is_current', cast(is_current as string)) AS (metric, value)",
    )
    # E61: the CDC snapshot diff — 7 fixed tally rows.
    sd = q_snapshot_diff(spark, sf_dir).selectExpr(
        "'snapshot_diff' AS op",
        "status AS key",
        "stack(1, 'n_rows', cast(n_rows as string)) AS (metric, value)",
    )
    return dd.unionByName(scd).unionByName(sd)


ORACLE_DIM_BUILD_SUITE = f"""
    WITH dd_side AS ({ORACLE_DATE_DIM}),
    scd_side AS ({ORACLE_SCD2_DIM})
    SELECT 'date_dim' AS op, date_str AS key,
           'year' AS metric, CAST(year AS VARCHAR) AS value FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'month', CAST(month AS VARCHAR) FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'day', CAST(day AS VARCHAR) FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'quarter_label', quarter_label FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'season', season FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'weekday_name', weekday_name FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'month_name', month_name FROM dd_side
    UNION ALL
    SELECT 'date_dim', date_str, 'is_weekend', CAST(is_weekend AS VARCHAR)
    FROM dd_side
    UNION ALL
    SELECT 'scd2', CAST(user_id AS VARCHAR) || '#' || CAST(version AS VARCHAR),
           'attr_value', attr_value FROM scd_side
    UNION ALL
    SELECT 'scd2', CAST(user_id AS VARCHAR) || '#' || CAST(version AS VARCHAR),
           'valid_from', strftime(valid_from, '{_TS_FMT_DUCK}') FROM scd_side
    UNION ALL
    SELECT 'scd2', CAST(user_id AS VARCHAR) || '#' || CAST(version AS VARCHAR),
           'valid_to', coalesce(strftime(valid_to, '{_TS_FMT_DUCK}'), '')
    FROM scd_side
    UNION ALL
    SELECT 'scd2', CAST(user_id AS VARCHAR) || '#' || CAST(version AS VARCHAR),
           'n_events', CAST(n_events AS VARCHAR) FROM scd_side
    UNION ALL
    SELECT 'scd2', CAST(user_id AS VARCHAR) || '#' || CAST(version AS VARCHAR),
           'is_current', CAST(is_current AS VARCHAR) FROM scd_side
    UNION ALL
    SELECT 'snapshot_diff', status, 'n_rows', CAST(n_rows AS VARCHAR)
    FROM ({ORACLE_SNAPSHOT_DIFF}) sd_side
"""


# ---------------------------------------------------------------------------
# q_embedding_quantize — int8 vector quantization (training-data path)
# ---------------------------------------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column
    — the compression step a 100 TB vector corpus applies before ANN
    serving (4×+ smaller, cache-resident). scale = max|x|/127; each
    component rounds half-up to an int8 code. Everything is Catalyst
    higher-order functions over the array (JVM codegen, no explode,
    no Python); the returned checksum/min/max of the codes make the
    quantization itself hash-checkable without emitting arrays.

    Determinism: float→double widening is exact; x/scale and the
    floor-round are single correctly-rounded IEEE ops written
    identically in the oracle, and the code sums are exact int64.
    """
    from weatherflow_spark.functions.text import let_spark

    emb = load_table(spark, sf_dir, "embeddings")
    # let-bind scale and the quantized array (functions/text.py
    # let-trick), then surface the four outputs through ONE
    # inline(array(struct(...))) generator — without this, each
    # projected field re-inlines the whole quantization (CollapseProject
    # defeats common-subexpression sharing): measured 1.6 s → the
    # let+inline form computes the codes once per row.
    maxabs = "array_max(transform(embedding, x -> abs(cast(x as double))))"
    scale = let_spark(maxabs, "m", "CASE WHEN m = 0.0D THEN 1.0D ELSE m / 127.0D END")
    quantized = "transform(embedding, x -> floor(cast(x as double) / sc + 0.5D))"
    packed = let_spark(
        scale,
        "sc",
        let_spark(
            quantized,
            "q",
            "struct(sc AS qscale, "
            "aggregate(q, cast(0 as bigint), (a, x) -> a + x) AS qsum, "
            "array_min(q) AS qmin, array_max(q) AS qmax)",
        ),
    )
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.inline(F.array(F.expr(packed))),
    )


ORACLE_EMBEDDING_QUANTIZE = """
    WITH s AS (
        SELECT vec_id, label,
               CAST(len(embedding) AS INTEGER) AS dim,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
               CASE WHEN list_aggregate(
                        list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                        'max') = 0.0
                    THEN 1.0
                    ELSE list_aggregate(
                        list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                        'max') / 127.0 END AS qscale
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id, label, dim, qscale,
               list_transform(xd, x -> CAST(floor(x / qscale + 0.5) AS BIGINT)) AS q
        FROM s
    )
    SELECT vec_id, label, dim, qscale,
           CAST(list_aggregate(q, 'sum') AS BIGINT) AS qsum,
           list_aggregate(q, 'min') AS qmin,
           list_aggregate(q, 'max') AS qmax
    FROM qz
"""


# ---------------------------------------------------------------------------
# q_null_semantics — null propagation / null-safe comparison surface
# ---------------------------------------------------------------------------


def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling exhibit: ``nullif`` manufactures nulls (zero
    discounts), aggregates skip them (``count(col)`` vs
    ``count(*)``), ``coalesce`` restores a default, and the null-safe
    equality (Spark ``<=>`` ↔ SQL ``IS NOT DISTINCT FROM``) counts
    without three-valued-logic surprises. The engine surface a SQL
    user relies on implicitly; all counts exact longs, one
    partial-agg pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_or_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    return (
        li.select(
            "l_returnflag",
            disc_or_null.alias("dn"),
            F.coalesce(disc_or_null, F.lit(-1.0)).alias("dc"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("dn").alias("n_discounted"),
            F.sum(F.col("dn").isNull().cast("long")).alias("n_zero_disc"),
            F.sum((F.col("dn").eqNullSafe(F.lit(0.05))).cast("long")).alias(
                "n_disc_5pct"
            ),
            F.sum((F.col("dc") == -1.0).cast("long")).alias("n_defaulted"),
        )
    )


ORACLE_NULL_SEMANTICS = """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(dn) AS BIGINT) AS n_discounted,
           CAST(sum(CASE WHEN dn IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_disc,
           CAST(sum(CASE WHEN dn IS NOT DISTINCT FROM 0.05 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_disc_5pct,
           CAST(sum(CASE WHEN dc = -1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_defaulted
    FROM (
        SELECT l_returnflag,
               nullif(l_discount, 0.0) AS dn,
               coalesce(nullif(l_discount, 0.0), -1.0) AS dc
        FROM lineitem
    )
    GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q_unpivot — wide→long reshaping (melt), the inverse of q_pivot
# ---------------------------------------------------------------------------


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt three lineitem measures into (measure, value) long form,
    then aggregate per (returnflag, measure) — the wide→long reshape
    (inverse of advanced.q_pivot). ``unpivot`` is a narrow operator
    (each input row emits 3 rows inside the same task — no shuffle,
    no join against a measure list); the only exchange is the final
    15-group aggregate. Sums exact via the scaled-integer rule.
    """
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        scaled_sum(F.col("val"), 100).alias("sum_val"),
    )


ORACLE_UNPIVOT = f"""
    SELECT l_returnflag, measure,
           CAST(count(*) AS BIGINT) AS n,
           {scaled_sum_sql("val", 100)} AS sum_val
    FROM (
        SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
    )
    GROUP BY l_returnflag, measure
"""


# ---------------------------------------------------------------------------
# q_salted_agg — skew-resistant aggregation, hash-checked against the
# plain GROUP BY (the salt must be invisible in the result)
# ---------------------------------------------------------------------------


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count + exact revenue sum per return flag computed through the
    salted two-phase split (operators/skew.py): phase 1 groups by
    (key, salt) spreading any hot key over 16 reducers, phase 2
    merges the partials. The oracle is the UNSALTED single-phase SQL
    — hash-matching it certifies the engine's skew path is
    result-identical, which only holds because the partials are exact
    scaled integers (a double sum would differ run-to-run in the
    merge order). The salt uses Spark's internal ``hash`` — allowed
    here precisely because the final result is salt-independent.
    """
    from weatherflow_spark.operators.skew import salted_count_sum

    li = load_table(spark, sf_dir, "lineitem")
    return salted_count_sum(
        li, ["l_returnflag"], "l_extendedprice", n_salts=16, scale=100
    ).select(
        "l_returnflag",
        "n",
        F.col("sum_value").alias("sum_price"),
    )


ORACLE_SALTED_AGG = f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           {scaled_sum_sql("l_extendedprice", 100)} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q_stats_suite — E5 consolidated certification row
# ---------------------------------------------------------------------------


def q_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 consolidated certification row: all five distributed-
    statistics families (exact moments, OLS regression, mode,
    histogram, entropy) projected to one tagged (part, key, n, v1..v4)
    shape and unioned — plus the E10 distribution-window family
    (percent_rank / cume_dist / lead / nth_value, r13: folded in from
    the q_window_dist window slot, which rotated to the split-out
    warehouse suite; the single keeps tail parity). Each branch keeps
    its own physical plan — every one is a single partial-agg or
    window pass over its scan (see the per-query docstrings); the
    union is plan-level only, no cross-branch shuffle. Single-family
    twins stay registered in the tail."""
    cov = q_covariance_matrix(spark, sf_dir).select(
        F.lit("cov_matrix").alias("part"),
        F.concat_ws("|", F.col("dim_i"), F.col("dim_j")).alias("key"),
        F.col("n"),
        F.col("sum_prod").cast("double").alias("v1"),
        F.col("cov_num").cast("double").alias("v2"),
        F.col("cov_e9").cast("double").alias("v3"),
        F.lit(None).cast("double").alias("v4"),
    )
    pca = q_pca_power(spark, sf_dir).select(
        F.lit("pca").alias("part"),
        F.col("dim").cast("string").alias("key"),
        F.lit(None).cast("long").alias("n"),
        F.col("loading_e6").cast("double").alias("v1"),
        F.col("lambda_e6").cast("double").alias("v2"),
        F.lit(None).cast("double").alias("v3"),
        F.lit(None).cast("double").alias("v4"),
    )
    outl = q_embedding_outliers(spark, sf_dir).select(
        F.lit("outliers").alias("part"),
        F.col("vec_id").cast("string").alias("key"),
        F.lit(None).cast("long").alias("n"),
        F.col("max_z_e6").cast("double").alias("v1"),
        F.col("n_flagged_dims").cast("double").alias("v2"),
        F.col("is_outlier").cast("double").alias("v3"),
        F.lit(None).cast("double").alias("v4"),
    )
    nul = F.lit(None).cast("double")
    moments = q_stats_moments(spark, sf_dir).select(
        F.lit("moments").alias("part"),
        F.col("l_returnflag").alias("key"),
        F.col("n_rows").alias("n"),
        F.col("avg_qty").alias("v1"),
        F.col("std_qty").alias("v2"),
        F.col("covar_qty_disc100").alias("v3"),
        F.col("corr_qty_disc100").alias("v4"),
    )
    regression = q_linear_regression(spark, sf_dir).select(
        F.lit("regression").alias("part"),
        F.col("l_linestatus").alias("key"),
        F.col("n_rows").alias("n"),
        F.col("slope_cents_per_qty").alias("v1"),
        F.col("intercept_cents").alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    mode = q_mode(spark, sf_dir).select(
        F.lit("mode").alias("part"),
        F.col("l_returnflag").alias("key"),
        F.col("n_rows").alias("n"),
        F.col("mode_qty").cast("double").alias("v1"),
        F.col("mode_count").cast("double").alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    histogram = q_histogram(spark, sf_dir).select(
        F.lit("histogram").alias("part"),
        F.col("bucket").cast("string").alias("key"),
        F.col("n_orders").alias("n"),
        F.col("bucket_lo").alias("v1"),
        F.col("sum_price").alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    entropy = q_entropy(spark, sf_dir).select(
        F.lit("entropy").alias("part"),
        F.lit("all").alias("key"),
        F.col("total_events").alias("n"),
        F.col("n_types").cast("double").alias("v1"),
        F.col("entropy_nats").alias("v2"),
        nul.alias("v3"),
        nul.alias("v4"),
    )
    # E65: the exact equi-depth histogram (compressed-domain plan).
    edh = q_equidepth_histogram(spark, sf_dir).select(
        F.lit("edh").alias("part"),
        F.col("bucket").cast("string").alias("key"),
        F.col("n_rows").alias("n"),
        F.col("lo_cents").cast("double").alias("v1"),
        F.col("hi_cents").cast("double").alias("v2"),
        F.col("n_values").cast("double").alias("v3"),
        nul.alias("v4"),
    )
    # E10 distribution windows (r13 fold-in): percent_rank/cume_dist
    # divide two small exact integers, next_price/class_floor are
    # parquet-exact prices — all four hash-match as doubles.
    wdist = q_window_dist(spark, sf_dir).select(
        F.lit("window_dist").alias("part"),
        F.concat_ws(
            "|", F.col("o_orderpriority"), F.col("o_orderkey")
        ).alias("key"),
        F.lit(None).cast("long").alias("n"),
        F.col("pct_rank").alias("v1"),
        F.col("cume").alias("v2"),
        F.col("next_price").alias("v3"),
        F.col("class_floor").alias("v4"),
    )
    return (
        moments.unionByName(regression)
        .unionByName(mode)
        .unionByName(histogram)
        .unionByName(entropy)
        .unionByName(cov)
        .unionByName(pca)
        .unionByName(outl)
        .unionByName(edh)
        .unionByName(wdist)
    )


ORACLE_STATS_SUITE = f"""
    WITH moments_side AS ({ORACLE_STATS_MOMENTS}),
    regression_side AS ({ORACLE_LINEAR_REGRESSION}),
    mode_side AS ({ORACLE_MODE}),
    histogram_side AS ({ORACLE_HISTOGRAM}),
    entropy_side AS ({ORACLE_ENTROPY}),
    edh_side AS ({ORACLE_EQUIDEPTH_HISTOGRAM})
    SELECT 'moments' AS part, l_returnflag AS key, n_rows AS n,
           avg_qty AS v1, std_qty AS v2,
           covar_qty_disc100 AS v3, corr_qty_disc100 AS v4
    FROM moments_side
    UNION ALL
    SELECT 'regression', l_linestatus, n_rows,
           slope_cents_per_qty, intercept_cents,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM regression_side
    UNION ALL
    SELECT 'mode', l_returnflag, n_rows,
           CAST(mode_qty AS DOUBLE), CAST(mode_count AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM mode_side
    UNION ALL
    SELECT 'histogram', CAST(bucket AS VARCHAR), n_orders,
           bucket_lo, sum_price, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM histogram_side
    UNION ALL
    SELECT 'entropy', 'all', total_events,
           CAST(n_types AS DOUBLE), entropy_nats,
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM entropy_side
    UNION ALL
    SELECT 'edh', CAST(bucket AS VARCHAR), n_rows,
           CAST(lo_cents AS DOUBLE), CAST(hi_cents AS DOUBLE),
           CAST(n_values AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM edh_side
    UNION ALL
    SELECT 'window_dist',
           o_orderpriority || '|' || CAST(o_orderkey AS VARCHAR),
           CAST(NULL AS BIGINT),
           pct_rank, cume, next_price, class_floor
    FROM ({ORACLE_WINDOW_DIST}) wdist_side
"""


# ---------------------------------------------------------------------------
# q_covariance_matrix — E47: distributed covariance matrix (exact moments)
# ---------------------------------------------------------------------------

COV_DIM = 64
COV_SCALE = 1000


def q_covariance_matrix(
    spark: SparkSession,
    sf_dir: str,
    dim: int = COV_DIM,
    block_size: int | None = None,
) -> DataFrame:
    """Full D×D sample covariance matrix of the embedding corpus —
    the one-pass distributed linear-algebra primitive under PCA /
    whitening / Mahalanobis scoring. Same exact-moments discipline as
    q_stats_moments, lifted to a matrix: components quantize to
    integers (×COV_SCALE), the upper triangle of Σ aᵢaⱼ accumulates as
    exact int64 (map-side partials — the exchange carries D(D+1)/2
    keys per partition, not the ×D² row blowup), per-dimension sums
    ride a second tiny aggregation, and cov = (n·Σaᵢaⱼ − Σaᵢ·Σaⱼ) /
    (n·(n−1)) stays integer until one pinned final division.

    Headroom: |aᵢaⱼ| ≤ 530² ≈ 2.8e5 per row ⇒ Σ fits int64 past 1e13
    rows; n·Σ ≈ 7e12 at sf0.1 — certified exact. At 100 TB the map
    stage's ×D(D+1)/2 pair explode is the cost; the refinement is
    dimension-BLOCKING the triangle, implemented here behind
    ``block_size`` (r8): the (i ≤ j) triangle splits into
    nb(nb+1)/2 block pairs, each exploding only a B×B tile per row
    into its OWN keyed aggregation (its own exchange — audited), so
    per-task hash-agg state is bounded by B² keys instead of
    D(D+1)/2 and tiles can run as separate jobs at very large D.
    Same integers, same final matrix (equality-tested at D=256);
    ``block_size=None`` keeps the single-pass form, which is right
    whenever D(D+1)/2 partial states fit task memory."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        # Explicit spread off the raw splits: the ×D(D+1)/2 pair
        # explode is CPU-bound on kB-scale input (the q_knn_graph
        # lesson — AQE/single-split would single-task it).
        spark.sparkContext.defaultParallelism,
        F.col("vec_id"),
    )
    scaled = emb.select(
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {COV_SCALE}) as bigint))"
        ).alias("v")
    )
    def tile_triangle(i_lo: int, i_hi: int, j_lo: int, j_hi: int) -> DataFrame:
        """Σ aᵢaⱼ over one (i-range × j-range) tile of the upper
        triangle; the diagonal tile clips j to start at i."""
        j_start = "i" if i_lo == j_lo else str(j_lo)
        expr = (
            f"flatten(transform(sequence({i_lo}, {i_hi}), i -> "
            f"transform(sequence({j_start}, {j_hi}), j -> "
            "struct(i AS i, j AS j, element_at(v, i) * element_at(v, j) AS p))))"
        )
        return (
            scaled.select(F.explode(F.expr(expr)).alias("e"))
            .select("e.i", "e.j", "e.p")
            .groupBy("i", "j")
            .agg(F.sum("p").alias("sum_prod"))
        )

    if block_size is None or block_size >= dim:
        triangle = tile_triangle(1, dim, 1, dim)
    else:
        bounds = [
            (lo + 1, min(lo + block_size, dim))
            for lo in range(0, dim, block_size)
        ]
        tiles = [
            tile_triangle(alo, ahi, blo, bhi)
            for bi, (alo, ahi) in enumerate(bounds)
            for (blo, bhi) in bounds[bi:]
        ]
        triangle = tiles[0]
        for t in tiles[1:]:
            triangle = triangle.unionByName(t)
    dims = (
        scaled.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, {dim}), i -> "
                    "struct(i AS i, element_at(v, i) AS x))"
                )
            ).alias("e")
        )
        .select("e.i", "e.x")
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
    )
    nrow = scaled.agg(F.count(F.lit(1)).alias("n"))
    di = dims.select(F.col("i").alias("i"), F.col("s").alias("si"))
    dj = dims.select(F.col("i").alias("j"), F.col("s").alias("sj"))
    cov = (
        "floor(((cast(cov_num as double) / (cast(n as double) * cast(n - 1 as double))) "
        f"/ {float(COV_SCALE * COV_SCALE)}) * 1e9 + 0.5)"
    )
    from weatherflow_spark.operators.caching import tracked_persist

    # Checkpointed: the D(D+1)/2-row matrix is tiny, and TWO consumers
    # build this identical plan (the stats suite's cov branch and the
    # PCA branch's iteration input) — tracked_persist hands both one
    # checkpoint, so the corpus-scale triangle explode runs once per
    # job, not per branch.
    return tracked_persist(
        triangle.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .crossJoin(F.broadcast(nrow))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            "sum_prod",
            (F.col("n") * F.col("sum_prod") - F.col("si") * F.col("sj")).alias(
                "cov_num"
            ),
            "n",
        )
        .select(
            "dim_i",
            "dim_j",
            "sum_prod",
            "cov_num",
            "n",
            F.expr(f"cast({cov} as bigint)").alias("cov_e9"),
        )
    )


ORACLE_COVARIANCE_MATRIX = f"""
    WITH scaled AS (
        SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT)) AS v
        FROM embeddings
    ),
    nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scaled),
    triangle AS (
        SELECT i, j, CAST(sum(p) AS BIGINT) AS sum_prod FROM (
            SELECT t.i AS i, u.j AS j, s.v[t.i] * s.v[u.j] AS p
            FROM scaled s,
                 unnest(generate_series(1, {COV_DIM})) AS t(i),
                 unnest(generate_series(1, {COV_DIM})) AS u(j)
            WHERE u.j >= t.i
        ) GROUP BY i, j
    ),
    dims AS (
        SELECT i, CAST(sum(x) AS BIGINT) AS s FROM (
            SELECT t.i AS i, sc.v[t.i] AS x
            FROM scaled sc, unnest(generate_series(1, {COV_DIM})) AS t(i)
        ) GROUP BY i
    )
    SELECT tr.i AS dim_i, tr.j AS dim_j, tr.sum_prod,
           nrow.n * tr.sum_prod - di.s * dj.s AS cov_num,
           nrow.n,
           CAST(floor(((CAST(nrow.n * tr.sum_prod - di.s * dj.s AS DOUBLE)
                        / (CAST(nrow.n AS DOUBLE) * CAST(nrow.n - 1 AS DOUBLE)))
                       / {float(COV_SCALE * COV_SCALE)}) * 1e9 + 0.5) AS BIGINT)
               AS cov_e9
    FROM triangle tr
    JOIN dims di ON di.i = tr.i
    JOIN dims dj ON dj.i = tr.j
    CROSS JOIN nrow
"""


# ---------------------------------------------------------------------------
# q_pca_power — E48: top principal component via power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 3


def _matvec_expr(vcol: str) -> str:
    """w_i = Σ_j M_ij · v_j with j folded 1..D (pinned order): the
    matrix lives in ONE broadcast row as a (i, j)-sorted struct array,
    so M_ij is element_at(m, (i−1)·D + j)."""
    d = COV_DIM
    return (
        f"transform(sequence(1, {d}), i -> "
        f"aggregate(sequence(1, {d}), cast(0.0 as double), (acc, j) -> "
        f"acc + cast(element_at(m, (i - 1) * {d} + j).cov_num as double) "
        f"* element_at({vcol}, j)))"
    )


_NORMALIZE_W = (
    "transform(w, x -> x / sqrt(aggregate(w, cast(0.0 as double), "
    "(acc, e) -> acc + e * e)))"
)


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: power
    iteration on the exact-integer covariance numerator matrix from
    q_covariance_matrix (same eigenvectors — the n·(n−1)·scale²
    denominator is a positive scalar). The distributed work is the
    one-pass moment matrix; the iteration itself is a 64×64
    single-row computation expressed as pinned-order folds over the
    broadcast matrix row — {PCA_ITERS} unrolled rounds of w = M·v,
    v = w/‖w‖ from the all-ones seed, every double op a fixed IEEE
    sequence both engines replay (the k-means/PageRank unrolled-
    oracle precedent, applied to numerical linear algebra). Output:
    per-dimension loading and the Rayleigh eigenvalue estimate
    (vᵀMv, ‖v‖=1) rescaled back to covariance units by the
    n·(n−1)·scale² denominator, e6-rounded.

    At 100 TB nothing changes: D is fixed, the moment matrix is the
    only corpus-scale stage, and the iteration cost is O(D²) on one
    row regardless of corpus size."""
    cov = q_covariance_matrix(spark, sf_dir).select(
        "dim_i", "dim_j", "cov_num", "n"
    )
    nrow = cov.agg(F.max("n").alias("n"))
    cov = cov.drop("n")
    full = cov.select(
        F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "cov_num"
    ).unionByName(
        cov.where(F.col("dim_i") != F.col("dim_j")).select(
            F.col("dim_j").alias("i"), F.col("dim_i").alias("j"), "cov_num"
        )
    )
    df = full.agg(
        F.expr("array_sort(collect_list(struct(i, j, cov_num)))").alias("m")
    ).select(
        "m",
        F.expr(f"transform(sequence(1, {COV_DIM}), i -> cast(1.0 as double))").alias(
            "v"
        ),
    )
    for _ in range(PCA_ITERS):
        df = df.select("m", F.expr(_matvec_expr("v")).alias("w"))
        df = df.select("m", F.expr(_NORMALIZE_W).alias("v"))
    final = df.select("m", "v").select("v", F.expr(_matvec_expr("v")).alias("w"))
    lam = (
        f"aggregate(sequence(1, {COV_DIM}), cast(0.0 as double), (acc, i) -> "
        "acc + element_at(v, i) * element_at(w, i))"
    )
    return (
        final.crossJoin(F.broadcast(nrow))
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, {COV_DIM}), i -> "
                    "struct(i AS dim, element_at(v, i) AS ld))"
                )
            ).alias("e"),
            F.expr(
                f"({lam}) / (cast(n as double) * cast(n - 1 as double)) "
                f"/ {float(COV_SCALE * COV_SCALE)}"
            ).alias("lam"),
        )
        .select(
            F.col("e.dim").alias("dim"),
            F.expr("cast(floor(e.ld * 1e6 + 0.5) as bigint)").alias("loading_e6"),
            F.expr("cast(floor(lam * 1e6 + 0.5) as bigint)").alias("lambda_e6"),
        )
    )


def _oracle_pca_power() -> str:
    d = COV_DIM

    def matvec(vcte: str) -> str:
        return (
            f"list_transform(generate_series(1, {d}), i -> "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {d}), j -> "
            f"CAST(m[(i - 1) * {d} + j].num AS DOUBLE) * {vcte}[j])), "
            "(acc, x) -> acc + x))"
        )

    norm = (
        "list_transform(w, x -> x / sqrt(list_reduce(list_prepend("
        "CAST(0.0 AS DOUBLE), list_transform(w, e -> e * e)), "
        "(acc, e) -> acc + e)))"
    )
    ctes = [
        f"cov_side AS ({ORACLE_COVARIANCE_MATRIX})",
        """full_m AS (
            SELECT dim_i AS i, dim_j AS j, cov_num FROM cov_side
            UNION ALL
            SELECT dim_j, dim_i, cov_num FROM cov_side WHERE dim_i <> dim_j
        )""",
        "nrow AS (SELECT max(n) AS n FROM cov_side)",
        """mrow AS (
            SELECT list(struct_pack(i := i, j := j, num := cov_num)
                        ORDER BY i, j) AS m
            FROM full_m
        )""",
        f"""v0 AS (
            SELECT m, list_transform(generate_series(1, {d}),
                                     i -> CAST(1.0 AS DOUBLE)) AS v
            FROM mrow
        )""",
    ]
    for r in range(1, PCA_ITERS + 1):
        ctes.append(f"w{r} AS (SELECT m, {matvec('v')} AS w FROM v{r - 1})")
        ctes.append(f"v{r} AS (SELECT m, {norm} AS v FROM w{r})")
    ctes.append(
        f"fin AS (SELECT v, {matvec('v')} AS w FROM v{PCA_ITERS})"
    )
    lam = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {d}), i -> v[i] * w[i])), "
        "(acc, x) -> acc + x)"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT t.i AS dim,
           CAST(floor(v[t.i] * 1e6 + 0.5) AS BIGINT) AS loading_e6,
           CAST(floor((({lam}) / (CAST(nrow.n AS DOUBLE)
                                  * CAST(nrow.n - 1 AS DOUBLE))
                       / {float(COV_SCALE * COV_SCALE)}) * 1e6 + 0.5) AS BIGINT)
               AS lambda_e6
    FROM fin, nrow, unnest(generate_series(1, {d})) AS t(i)
"""
    )


# ---------------------------------------------------------------------------
# q_embedding_outliers — E54: per-dimension z-score anomaly flags
# ---------------------------------------------------------------------------

OUTLIER_Z_E6 = 2_500_000  # |z| > 2.5 flags a dimension


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anomaly screen: per-dimension z-scores against the
    corpus mean/variance, flagging vectors whose worst dimension
    strays past |z| > 2.5 — the cheap data-quality pass that catches
    corrupted/degenerate vectors before they poison ANN indexes or
    k-means codebooks.

    Moments come from the same exact-integer discipline as E47: per
    dimension Σa and Σa² as int64 (one map-side-partial aggregation,
    64 keys), folded into ONE broadcast row of (mean, inv_std) pairs;
    scoring is then NARROW — each vector computes its 64 z-scores
    against the broadcast stats in a single pass, keeps the max |z|
    and the count of flagged dims. z is compared e6-rounded so the
    flag boundary can't sit on a cross-engine ulp. Population
    variance (÷n) — a screen, not an estimator."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, F.col("vec_id")
    )
    scaled = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double) * {COV_SCALE}) as bigint))"
        ).alias("v"),
    )
    dims = (
        scaled.select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, {COV_DIM}), i -> "
                    "struct(i AS i, element_at(v, i) AS x))"
                )
            ).alias("e")
        )
        .select("e.i", "e.x")
        .groupBy("i")
        .agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # mean and 1/std in double, pinned op order (shared SQL text)
    stat = (
        "struct(cast(s as double) / cast(n as double) AS mu, "
        "1.0 / sqrt(cast(s2 as double) / cast(n as double) "
        "- (cast(s as double) / cast(n as double)) "
        "* (cast(s as double) / cast(n as double))) AS inv_sd)"
    )
    stats_row = dims.select("i", F.expr(stat).alias("st")).agg(
        F.expr("transform(array_sort(collect_list(struct(i, st))), p -> p.st)").alias(
            "stats"
        )
    )
    z = (
        f"transform(sequence(1, {COV_DIM}), i -> "
        "cast(floor(abs((cast(element_at(v, i) as double) "
        "- element_at(stats, i).mu) * element_at(stats, i).inv_sd) "
        "* 1e6 + 0.5) as bigint))"
    )
    return (
        scaled.crossJoin(F.broadcast(stats_row))
        .select("vec_id", F.expr(z).alias("zs"))
        .select(
            "vec_id",
            F.expr("array_max(zs)").alias("max_z_e6"),
            F.expr(
                f"cast(size(filter(zs, z -> z > {OUTLIER_Z_E6})) as int)"
            ).alias("n_flagged_dims"),
        )
        .withColumn(
            "is_outlier", (F.col("max_z_e6") > OUTLIER_Z_E6).cast("int")
        )
    )


ORACLE_EMBEDDING_OUTLIERS = f"""
    WITH scaled AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {COV_SCALE}) AS BIGINT)) AS v
        FROM embeddings
    ),
    dims AS (
        SELECT i, CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS s2,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT t.i AS i, sc.v[t.i] AS x
              FROM scaled sc, unnest(generate_series(1, {COV_DIM})) AS t(i))
        GROUP BY i
    ),
    stats_row AS (
        SELECT list(struct_pack(
                   mu := CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
                   inv_sd := 1.0 / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
               ORDER BY i) AS stats
        FROM dims
    ),
    zed AS (
        SELECT vec_id,
               list_transform(generate_series(1, {COV_DIM}), i ->
                   CAST(floor(abs((CAST(v[i] AS DOUBLE) - stats[i].mu)
                                  * stats[i].inv_sd) * 1e6 + 0.5) AS BIGINT))
                   AS zs
        FROM scaled, stats_row
    )
    SELECT vec_id,
           list_max(zs) AS max_z_e6,
           CAST(len(list_filter(zs, z -> z > {OUTLIER_Z_E6})) AS INTEGER)
               AS n_flagged_dims,
           CAST(CASE WHEN list_max(zs) > {OUTLIER_Z_E6} THEN 1 ELSE 0 END
                AS INTEGER) AS is_outlier
    FROM zed
"""


# The cov_matrix branch joins the suite here (rebound after
# ORACLE_COVARIANCE_MATRIX exists — the suite SQL above this point is
# the five original families).
ORACLE_STATS_SUITE = f"""
    WITH cov_side AS ({ORACLE_COVARIANCE_MATRIX}),
    pca_side AS ({_oracle_pca_power()}),
    outl_side AS ({ORACLE_EMBEDDING_OUTLIERS}),
    base AS ({ORACLE_STATS_SUITE})
    SELECT * FROM base
    UNION ALL
    SELECT 'cov_matrix',
           CAST(dim_i AS VARCHAR) || '|' || CAST(dim_j AS VARCHAR),
           n, CAST(sum_prod AS DOUBLE), CAST(cov_num AS DOUBLE),
           CAST(cov_e9 AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM cov_side
    UNION ALL
    SELECT 'pca', CAST(dim AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(loading_e6 AS DOUBLE), CAST(lambda_e6 AS DOUBLE),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM pca_side
    UNION ALL
    SELECT 'outliers', CAST(vec_id AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(max_z_e6 AS DOUBLE), CAST(n_flagged_dims AS DOUBLE),
           CAST(is_outlier AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM outl_side
"""


STATS_QUERIES = {
    "q_stats_suite": q_stats_suite,
    "q_stats_moments": q_stats_moments,
    "q_linear_regression": q_linear_regression,
    "q_mode": q_mode,
    "q_histogram": q_histogram,
    "q_entropy": q_entropy,
    "q_explode_pos": q_explode_pos,
    "q_tpch_q3": q_tpch_q3,
    "q_top_n_per_group": q_top_n_per_group,
    "q_grouped_topk": q_grouped_topk,
    "q_ranked_topk_suite": q_ranked_topk_suite,
    "q_window_dist": q_window_dist,
    "q_collect_set_sorted": q_collect_set_sorted,
    "q_date_dim": q_date_dim,
    "q_scd2_dim": q_scd2_dim,
    "q_snapshot_diff": q_snapshot_diff,
    "q_equidepth_histogram": q_equidepth_histogram,
    "q_dim_build_suite": q_dim_build_suite,
    "q_embedding_quantize": q_embedding_quantize,
    "q_null_semantics": q_null_semantics,
    "q_salted_agg": q_salted_agg,
    "q_unpivot": q_unpivot,
    "q_covariance_matrix": q_covariance_matrix,
    "q_pca_power": q_pca_power,
    "q_embedding_outliers": q_embedding_outliers,
}

STATS_ORACLES = {
    "q_stats_suite": ORACLE_STATS_SUITE,
    "q_stats_moments": ORACLE_STATS_MOMENTS,
    "q_linear_regression": ORACLE_LINEAR_REGRESSION,
    "q_mode": ORACLE_MODE,
    "q_histogram": ORACLE_HISTOGRAM,
    "q_entropy": ORACLE_ENTROPY,
    "q_explode_pos": ORACLE_EXPLODE_POS,
    "q_tpch_q3": ORACLE_TPCH_Q3,
    "q_top_n_per_group": ORACLE_TOP_N_PER_GROUP,
    "q_grouped_topk": ORACLE_GROUPED_TOPK,
    "q_ranked_topk_suite": ORACLE_RANKED_TOPK_SUITE,
    "q_window_dist": ORACLE_WINDOW_DIST,
    "q_collect_set_sorted": ORACLE_COLLECT_SET_SORTED,
    "q_date_dim": ORACLE_DATE_DIM,
    "q_scd2_dim": ORACLE_SCD2_DIM,
    "q_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "q_equidepth_histogram": ORACLE_EQUIDEPTH_HISTOGRAM,
    "q_dim_build_suite": ORACLE_DIM_BUILD_SUITE,
    "q_embedding_quantize": ORACLE_EMBEDDING_QUANTIZE,
    "q_null_semantics": ORACLE_NULL_SEMANTICS,
    "q_salted_agg": ORACLE_SALTED_AGG,
    "q_unpivot": ORACLE_UNPIVOT,
    "q_covariance_matrix": ORACLE_COVARIANCE_MATRIX,
    "q_pca_power": _oracle_pca_power(),
    "q_embedding_outliers": ORACLE_EMBEDDING_OUTLIERS,
}

