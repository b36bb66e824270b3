"""TPC-H completion to 22/22 (r9): the six queries that need the
``partsupp`` table (Q2, Q9, Q11, Q16, Q20) or lineitem shipping
columns (Q12) the driver's testdata does not generate.

**Derived partsupp.** The testdata ships no partsupp file, so both
engines BUILD the identical one from `part` × a supplier census with
pure integer arithmetic (the generated-dimension precedent of E12's
date dim, plans/stats.py): each part gets exactly four suppliers
``(p_partkey*4 + i) % S`` for i∈0..3 (0-based, matching the
testdata's 0-based supplier keys) — four consecutive integers
mod S are distinct whenever S ≥ 4, so the (partkey, suppkey) primary
key holds by construction (dbgen's own formula, `(p + i*(S/4 +
(p-1)/S)) % S + 1`, collapses to one supplier for whole partkey bands
at the small test S — e.g. every step ≡ 0 mod S — so we keep dbgen's
*shape*, 4 suppliers spread over S, with a collision-free stride).
``ps_availqty`` and ``ps_supplycost_c`` (integer CENTS — no doubles
anywhere in the derived table) are fixed residues of the key pair, so
Spark and DuckDB materialize bit-identical tables with no shared
files: the oracle re-derives partsupp relationally inside its own CTE
(`PARTSUPP_SQL`).

Adaptations (same policy as plans/tpch_ext.py — the *plan shape* each
query exists to exercise is preserved exactly, substitutions are
documented):

- Q2's ``p_type LIKE '%BRASS'``/`size = 15` → `p_type = 'LARGE'` and
  a size band (the testdata's 6 one-word types / 200-part sf0.001
  table make the canonical point filter empty).
- Q11's GERMANY scope → region EUROPE through the nation→region dim
  chain (a single nation holds ~S/25 suppliers — zero w.p. 0.66 at
  sf0.001).
- Q12's ``l_shipmode`` → a derived 7-mode dictionary column keyed by
  ``(l_orderkey + l_linenumber*3) % 7`` (deterministic in both
  engines); its commit/receipt lateness runs the REAL
  ``l_shipdate < l_commitdate < l_receiptdate`` sandwich over the
  derived date columns (tpch.py ``with_commit_receipt``, r10 — the
  r9 shipped-late stand-in is gone).
- Q16's "customer complaints" supplier exclusion → suppliers with
  negative account balance (testdata has no s_comment; keeps the
  NOT-IN anti-join shape with a non-trivial excluded set).
- Q20's CANADA scope → region ASIA (same sparsity argument as Q11)
  and ``p_name LIKE 'small%'`` (testdata names are "<adj> <noun>").

Scale posture (shared with plans/tpch.py): partsupp is 4×|part| —
two orders of magnitude under lineitem at every SF — and is built
with one narrow projection + explode, no shuffle; dimension sides
broadcast; the one large join in Q9/Q20 is lineitem⋈partsupp keyed by
(partkey, suppkey) where AQE picks broadcast vs shuffle by actual
size; money stays in integer cents / e4-scaled longs end to end so
partial/final agg order never changes a hash (plans/queries.scaled_sum
contract); Q2's min-cost-per-part and Q20's half-of-shipped threshold
are decorrelated into window/agg joins — no correlated re-scans.

Reference: the star schema these serve is WeatherFlow's
dbdiagram.txt:59-63 warehouse shape; TPC-H is the canonical workload
family for it (SURVEY §2.11 E6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weatherflow_spark.io import load_table
from weatherflow_spark.operators.bucketing import layout_table
from weatherflow_spark.plans.tpch import COMMIT_RECEIPT_SQL, with_commit_receipt


# ---------------------------------------------------------------------------
# derived partsupp — deterministic, engine-independent, PK by construction
# ---------------------------------------------------------------------------


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """partsupp(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_c)
    derived from part × supplier-count (see module doc). All BIGINT;
    supplycost is integer cents in 100..99_999 (1.00..999.99), the
    canonical dbgen domain. One narrow scan of part plus a 1-row
    supplier census broadcast — no shuffle, no files."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = (
        load_table(spark, sf_dir, "supplier")
        .agg(F.count(F.lit(1)).cast("long").alias("s_cnt"))
    )
    # testdata keys are 0-based (s_suppkey in 0..S-1) — no +1, or the
    # top supplier would be a phantom FK and supplier 0 never stocked.
    sk = (F.col("p_partkey") * 4 + F.col("i")) % F.col("s_cnt")
    return (
        part.crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            "s_cnt",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            sk.cast("long").alias("ps_suppkey"),
        )
        .select(
            "ps_partkey",
            "ps_suppkey",
            (
                (F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 11) % 9999
                + 1
            ).alias("ps_availqty"),
            (
                (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 99900
                + 100
            ).alias("ps_supplycost_c"),
        )
    )


PARTSUPP_SQL = """
    SELECT p_partkey AS ps_partkey,
           (p_partkey * 4 + i) % s_cnt AS ps_suppkey,
           (p_partkey * 7 + ((p_partkey * 4 + i) % s_cnt) * 11) % 9999
               + 1 AS ps_availqty,
           (p_partkey * 31 + ((p_partkey * 4 + i) % s_cnt) * 17) % 99900
               + 100 AS ps_supplycost_c
    FROM part
    CROSS JOIN (SELECT count(*) AS s_cnt FROM supplier) sc
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) iv
"""


# ---------------------------------------------------------------------------
# q_tpch_q2 — minimum-cost supplier: decorrelated min-per-part window
# ---------------------------------------------------------------------------


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for LARGE parts in a size band, the EUROPE
    supplier(s) offering the minimum supply cost, top-100 by account
    balance. The canonical correlated min-subquery is decorrelated
    into ``min(...) OVER (PARTITION BY p_partkey)`` on the already-
    region-qualified rows — the window shares the shuffle the
    per-part comparison needs anyway, so one exchange total; every
    dimension side broadcasts. Ties on min cost keep all suppliers
    (canonical semantics); the ORDER BY ends with (n_name, s_name,
    p_partkey) so the LIMIT cut is total and engine-independent."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 24)
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    )
    cand = (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        cand.withColumn("min_c", F.min("ps_supplycost_c").over(w))
        .where(F.col("ps_supplycost_c") == F.col("min_c"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "ps_supplycost_c",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_TPCH_Q2 = f"""
    WITH partsupp AS ({PARTSUPP_SQL}),
    cand AS (
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
               ps_supplycost_c,
               min(ps_supplycost_c)
                   OVER (PARTITION BY p_partkey) AS min_c
        FROM partsupp
        JOIN part     ON ps_partkey = p_partkey
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_type = 'LARGE'
          AND p_size BETWEEN 10 AND 24
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost_c
    FROM cand WHERE ps_supplycost_c = min_c
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


# ---------------------------------------------------------------------------
# q_tpch_q9 — product-type profit: revenue minus supply cost, by nation/year
# ---------------------------------------------------------------------------


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit = Σ(revenue − supply cost) per supplier
    nation per order year, for parts whose name contains 'red'.
    Profit is computed entirely in e4-scaled longs — revenue rounds
    once per row (the scaled_sum contract), the cost side is integer
    cents × integer quantity × 100, so the per-group sum is exact and
    order-independent. Join order: partsupp is pre-reduced by the
    broadcast name-filtered part, then lineitem joins it on the
    composite (partkey, suppkey) key (AQE broadcasts the reduced
    partsupp at test SF; at warehouse SF it shuffles on the same key
    the aggregate reuses), and orders joins on the order key — the
    one unavoidable large-large exchange. supplier/nation broadcast."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains("red")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ps_f = ps.join(
        F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey")
    )
    rev_e4 = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        * F.lit(10_000.0)
        + F.lit(0.5)
    )
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    cost_e4 = F.col("ps_supplycost_c") * F.lit(100) * qty
    return (
        li.join(
            ps_f,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(rev_e4 - cost_e4).alias("profit_e4"))
    )


ORACLE_TPCH_Q9 = f"""
    WITH partsupp AS ({PARTSUPP_SQL})
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(
               CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
                          + 0.5) AS BIGINT)
               - ps_supplycost_c * 100
                 * CAST(floor(l_quantity + 0.5) AS BIGINT)
           ) AS BIGINT) AS profit_e4
    FROM lineitem
    JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
    JOIN part     ON ps_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
"""


# ---------------------------------------------------------------------------
# q_tpch_q11 — important stock: fraction-of-total HAVING over a dim scope
# ---------------------------------------------------------------------------


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value (supplycost × availqty)
    held by EUROPE suppliers, keeping parts whose value exceeds
    1/10000 of the scoped total. The canonical scalar subquery is the
    grand total of the SAME grouped frame, so it is computed once and
    broadcast back as a 1-row cross join (no second scan of partsupp
    — Spark reuses the shuffle; the comparison is pure integer:
    ``value_c * 10000 > total_c``)."""
    ps = derived_partsupp(spark, sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    )
    scoped = (
        ps.join(F.broadcast(supplier), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    grouped = scoped.groupBy("ps_partkey").agg(
        F.sum(F.col("ps_supplycost_c") * F.col("ps_availqty")).alias(
            "value_c"
        )
    )
    total = grouped.agg(F.sum("value_c").alias("total_c"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .where(F.col("value_c") * 10_000 > F.col("total_c"))
        .select("ps_partkey", "value_c")
    )


ORACLE_TPCH_Q11 = f"""
    WITH partsupp AS ({PARTSUPP_SQL}),
    scoped AS (
        SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v
        FROM partsupp
        JOIN supplier ON ps_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    grouped AS (
        SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_c
        FROM scoped GROUP BY ps_partkey
    )
    SELECT ps_partkey, value_c
    FROM grouped
    WHERE value_c * 10000 > (SELECT CAST(sum(value_c) AS BIGINT)
                             FROM grouped)
"""


# ---------------------------------------------------------------------------
# q_tpch_q12 — shipping modes vs priority: derived dictionary column
# ---------------------------------------------------------------------------

SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]


def q_tpch_q12(
    spark: SparkSession, sf_dir: str, layout: dict[str, str] | None = None
) -> DataFrame:
    """TPC-H Q12: for MAIL/SHIP lines RECEIVED in 1996 that were late
    against their commitment (``l_commitdate < l_receiptdate``) after
    shipping before it (``l_shipdate < l_commitdate``) — the
    canonical three-way date sandwich over the derived commit/receipt
    columns (tpch.py) — how many belong to high- vs low-priority
    orders, per mode. ``l_shipmode`` is the derived 7-value
    dictionary column (module doc). The receipt-year filter can't
    reach the parquet scan (the column is derived), so the IMPLIED
    shipdate superset range (receipt ∈ ship+1..ship+30 ⟹ ship ∈
    [1995-12-02, 1996-12-31)) is stated explicitly and pushes down —
    the standard derived-column residual-predicate pattern. The
    orders join is a pure key equi-join, followed by a 2-group
    conditional count — one pass.

    ``layout`` maps lineitem and orders to the orderkey-bucketed
    tables (``bucketing.layout_table``); orders then carries a
    ``merge`` hint, so the join merges bucket to bucket and the only
    shuffle left is the 2-mode re-group."""
    li = layout_table(spark, sf_dir, "lineitem", layout).where(
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
    orders = layout_table(spark, sf_dir, "orders", layout).select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders.hint("merge") if layout else orders,
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
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


_MODES_SQL = "[" + ", ".join(f"'{m}'" for m in SHIP_MODES) + "]"

ORACLE_TPCH_Q12 = f"""
    WITH li0 AS (
        SELECT l_orderkey,
               CAST(l_shipdate AS DATE) AS l_shipd,
               ({_MODES_SQL})[
                   CAST((l_orderkey + l_linenumber * 3) % 7 + 1 AS INTEGER)
               ] AS l_shipmode,
               {COMMIT_RECEIPT_SQL}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-12-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
    ),
    li AS (
        SELECT l_orderkey, l_shipmode FROM li0
        WHERE l_receiptdate >= DATE '1996-01-01'
          AND l_receiptdate <  DATE '1997-01-01'
          AND l_commitdate < l_receiptdate
          AND l_shipd < l_commitdate
    )
    SELECT l_shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM li
    JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipmode IN ('MAIL', 'SHIP')
    GROUP BY l_shipmode
"""


# ---------------------------------------------------------------------------
# q_tpch_q16 — supplier counts by part descriptor: anti-join + distinct
# ---------------------------------------------------------------------------

Q16_SIZES = [3, 9, 14, 19, 23, 36, 45, 49]


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide each
    (brand, type, size) combination, excluding one brand, one type,
    and suppliers on the exclusion list (negative account balance —
    the complaints stand-in, module doc). The exclusion is a
    broadcast LEFT ANTI join (the canonical NOT IN), the part filter
    broadcasts, and the countDistinct shuffles once on the 3-column
    group key with the suppkey as payload."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#15")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(Q16_SIZES)
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(excluded),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


ORACLE_TPCH_Q16 = f"""
    WITH partsupp AS ({PARTSUPP_SQL})
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    JOIN part ON ps_partkey = p_partkey
    WHERE p_brand <> 'Brand#15' AND p_type <> 'PROMO'
      AND p_size IN ({", ".join(str(s) for s in Q16_SIZES)})
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# q_tpch_q20 — potential part promotion: stacked semi-joins + agg threshold
# ---------------------------------------------------------------------------


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: ASIA suppliers holding surplus stock
    (availqty > half the 1996 shipped quantity) of 'small%' parts.
    The canonical nested subqueries decorrelate into: (1) a shipped-
    quantity aggregate per (partkey, suppkey) over the semi-reduced
    1996 lineitems — ONE shuffle whose key the partsupp join then
    reuses; (2) an integer threshold compare ``2*availqty > qty``
    (quantities are integral by generation); (3) a LEFT SEMI from
    supplier into the qualifying suppkeys, dims broadcast. A part
    never shipped in the window disqualifies (NULL > semantics),
    which the inner join preserves."""
    ps = derived_partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
            .alias("qty")
        )
    )
    qualifying = (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"), "left_semi")
        .join(
            li,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") * 2 > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    return (
        supplier.join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(
            qualifying, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )


ORACLE_TPCH_Q20 = f"""
    WITH partsupp AS ({PARTSUPP_SQL}),
    shipped AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
                    AS BIGINT) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
        GROUP BY l_partkey, l_suppkey
    ),
    qualifying AS (
        SELECT DISTINCT ps_suppkey
        FROM partsupp
        JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        WHERE ps_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small%')
          AND ps_availqty * 2 > qty
    )
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (SELECT ps_suppkey FROM qualifying)
"""


TPCH_PS_QUERIES = {
    "q_tpch_q2": q_tpch_q2,
    "q_tpch_q9": q_tpch_q9,
    "q_tpch_q11": q_tpch_q11,
    "q_tpch_q12": q_tpch_q12,
    "q_tpch_q16": q_tpch_q16,
    "q_tpch_q20": q_tpch_q20,
}

TPCH_PS_ORACLES = {
    "q_tpch_q2": ORACLE_TPCH_Q2,
    "q_tpch_q9": ORACLE_TPCH_Q9,
    "q_tpch_q11": ORACLE_TPCH_Q11,
    "q_tpch_q12": ORACLE_TPCH_Q12,
    "q_tpch_q16": ORACLE_TPCH_Q16,
    "q_tpch_q20": ORACLE_TPCH_Q20,
}
