"""Warehouse data-quality checks (E55) — the dbt-test tier expressed
as ONE query: primary-key uniqueness, foreign-key integrity,
null-fraction and value-bound screens across the star schema, all in
a single long-format report so a scheduler can gate a load on one
row set (the reference's Airflow DAG would run exactly this after
its `load` task; the engine makes it a query instead of a script).

Every check is an exact integer aggregate (counts, anti-join counts)
— no doubles anywhere, so the report hash-checks trivially. `pass`
is 1/0 for hard invariants (pk/fk/bounds) and NULL for report-only
metrics (null tallies that carry no contract).

Scale posture: each check is one map-side-partial aggregation or one
broadcast/keyed anti-join count; the report is a plan-level union of
tiny results (no cross-check shuffle). At 100 TB the fk checks are
the expensive ones — they are plain anti-joins, so AQE picks
broadcast vs shuffle per dimension size exactly as the star joins do.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.io import load_table

DISCOUNT_LO, DISCOUNT_HI = 0.0, 0.10


def _row(tbl: str, check: str, value, passed) -> list:
    return [F.lit(tbl).alias("tbl"), F.lit(check).alias("check"), value, passed]


GATE_SECTIONS = ("gate",)
ALL_SECTIONS = ("gate", "digest", "skew")


def q_data_quality_report(
    spark: SparkSession,
    sf_dir: str,
    sections: tuple[str, ...] = ALL_SECTIONS,
) -> DataFrame:
    """One row per check: (tbl, check, value, pass).

    ``sections`` selects which report tiers run (r8, after the r7
    fold-in of digests/skew made the full report ~4x the cost of the
    pk/fk gate): ``gate`` = the hard invariants a scheduler blocks a
    load on (row counts, pk dupes, fk orphans, bounds, null tallies —
    cheap, one pass per table); ``digest`` = the E71 anti-entropy
    fingerprints; ``skew`` = the E75 join-key diagnostics. The
    registered window query runs the FULL report (same rows, same
    hash); a scheduler gate calls ``sections=GATE_SECTIONS`` and
    pays only the invariant tier. The digest subtree is checkpointed
    by ``q_table_fingerprint``, so the report reads it as a 3-row
    scan."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def _table_rows(
        tbl: str, df: DataFrame, pk: str | None, extras: dict[str, tuple] | None = None
    ) -> DataFrame:
        """ONE aggregation pass per table (r8: the gate tier used to
        plan count/pk/nulls/bounds as separate subtrees, scanning each
        table up to 3x — at 100 TB the scans ARE the cost): fuse every
        per-table check into a single agg, then stack to the report's
        long format. ``extras`` maps check name -> (agg_column,
        pass_is_null)."""
        aggs = [F.count(F.lit(1)).alias("row_count")]
        checks: list[tuple[str, str, bool]] = [("row_count", "row_count", True)]
        if pk is not None:
            aggs.append(
                (F.count(F.lit(1)) - F.countDistinct(pk)).alias("pk_dupes")
            )
            checks.append((f"pk_dupes_{pk}", "pk_dupes", False))
        for check, (col, pass_null) in (extras or {}).items():
            slug = check.replace(":", "_")
            aggs.append(col.alias(slug))
            checks.append((check, slug, pass_null))
        stacked = ", ".join(f"'{name}', {slug}" for name, slug, _ in checks)
        null_checks = "', '".join(n for n, _, p in checks if p)
        return df.agg(*aggs).selectExpr(
            f"'{tbl}' AS tbl",
            f"stack({len(checks)}, {stacked}) AS (check, value)",
        ).selectExpr(
            "tbl",
            "check",
            "value",
            f"CASE WHEN check IN ('{null_checks}') THEN cast(NULL as int) "
            "WHEN value = 0 THEN 1 ELSE 0 END AS pass",
        )

    def _fk_row(
        tbl: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str
    ) -> DataFrame:
        orphans = fact.select(F.col(fk).alias("k")).join(
            dim.select(F.col(pk).alias("k")), "k", "left_anti"
        )
        return orphans.agg(F.count(F.lit(1)).alias("value")).select(
            F.lit(tbl).alias("tbl"),
            F.lit(f"fk_orphans_{fk}").alias("check"),
            "value",
            (F.col("value") == 0).cast("int").alias("pass"),
        )

    parts = []
    if "digest" in sections:
        # E71: the anti-entropy table fingerprints as report rows (XOR +
        # modular-sum channels; pass is NULL — a digest, not an invariant).
        parts.append(
            q_table_fingerprint(spark, sf_dir).selectExpr(
                "tbl",
                "stack(2, 'fingerprint_xor', fp_xor, 'fingerprint_sum', fp_sum) "
                "AS (check, value)",
                "cast(NULL as int) AS pass",
            )
        )
    if "skew" in sections:
        # E75: join-key skew diagnostics as report rows (pass is NULL —
        # measurements feeding the salting decision, not invariants).
        parts.append(
            q_skew_report(spark, sf_dir).selectExpr(
                "rel_key AS tbl",
                "stack(5, 'skew_n_keys', n_keys, 'skew_max_count', max_count, "
                "'skew_top_share_e6', top_share_e6, 'skew_p50_count', p50_count, "
                "'skew_p99_count', p99_count) AS (check, value)",
                "cast(NULL as int) AS pass",
            )
        )
    if "gate" in sections:
        parts += [
            _table_rows("orders", orders, "o_orderkey"),
            _table_rows("customer", customer, "c_custkey"),
            _table_rows(
                "lineitem",
                lineitem,
                None,
                {
                    "discount_out_of_bounds": (
                        F.sum(
                            (
                                (F.col("l_discount") < DISCOUNT_LO)
                                | (F.col("l_discount") > DISCOUNT_HI)
                            ).cast("long")
                        ),
                        False,
                    )
                },
            ),
            _table_rows(
                "events",
                events,
                "event_id",
                {"null_props": (F.count(F.lit(1)) - F.count("props"), True)},
            ),
            _fk_row("orders", orders, "o_custkey", customer, "c_custkey"),
            _fk_row("lineitem", lineitem, "l_orderkey", orders, "o_orderkey"),
        ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


ORACLE_DATA_QUALITY = f"""
    SELECT 'orders' AS tbl, 'row_count' AS check,
           CAST(count(*) AS BIGINT) AS value, CAST(NULL AS INTEGER) AS pass
    FROM orders
    UNION ALL
    SELECT 'customer', 'row_count', CAST(count(*) AS BIGINT),
           CAST(NULL AS INTEGER) FROM customer
    UNION ALL
    SELECT 'lineitem', 'row_count', CAST(count(*) AS BIGINT),
           CAST(NULL AS INTEGER) FROM lineitem
    UNION ALL
    SELECT 'events', 'row_count', CAST(count(*) AS BIGINT),
           CAST(NULL AS INTEGER) FROM events
    UNION ALL
    SELECT 'orders', 'pk_dupes_o_orderkey',
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
           CAST(CASE WHEN count(*) = count(DISTINCT o_orderkey)
                THEN 1 ELSE 0 END AS INTEGER)
    FROM orders
    UNION ALL
    SELECT 'customer', 'pk_dupes_c_custkey',
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT),
           CAST(CASE WHEN count(*) = count(DISTINCT c_custkey)
                THEN 1 ELSE 0 END AS INTEGER)
    FROM customer
    UNION ALL
    SELECT 'events', 'pk_dupes_event_id',
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT),
           CAST(CASE WHEN count(*) = count(DISTINCT event_id)
                THEN 1 ELSE 0 END AS INTEGER)
    FROM events
    UNION ALL
    SELECT 'orders', 'fk_orphans_o_custkey',
           CAST(count(*) AS BIGINT),
           CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS INTEGER)
    FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem', 'fk_orphans_l_orderkey',
           CAST(count(*) AS BIGINT),
           CAST(CASE WHEN count(*) = 0 THEN 1 ELSE 0 END AS INTEGER)
    FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'lineitem', 'discount_out_of_bounds',
           CAST(coalesce(sum(CASE WHEN l_discount < {DISCOUNT_LO}
                                    OR l_discount > {DISCOUNT_HI}
                             THEN 1 ELSE 0 END), 0) AS BIGINT),
           CAST(CASE WHEN coalesce(sum(CASE WHEN l_discount < {DISCOUNT_LO}
                                              OR l_discount > {DISCOUNT_HI}
                                       THEN 1 ELSE 0 END), 0) = 0
                THEN 1 ELSE 0 END AS INTEGER)
    FROM lineitem
    UNION ALL
    SELECT 'events', 'null_props',
           CAST(count(*) - count(props) AS BIGINT), CAST(NULL AS INTEGER)
    FROM events
"""


# ---------------------------------------------------------------------------
# q_table_fingerprint — E71: order-independent table checksums
# ---------------------------------------------------------------------------

FP_SUM_MOD = 1_000_003  # keeps sum(h % M) < 9e18 for ~9e12 rows


def _row_fp_spark(cols_concat: str) -> str:
    # let-bind the serialized row ONCE: the char fold's substr()
    # references its argument per character, so an unbound concat_ws
    # re-evaluates the whole row serialization ~2x/char (measured
    # 4.9 s -> ~0.8 s for the 3-table digest at sf0.1; same footgun
    # as winnowing, functions/text.py:152).
    from weatherflow_spark.functions.text import (
        _tok_hash_lambda_spark,
        let_spark,
    )

    return let_spark(cols_concat, "srow", _tok_hash_lambda_spark("srow"))


def _row_fp_duck(cols_concat: str) -> str:
    from weatherflow_spark.functions.text import (
        _tok_hash_lambda_duck,
        let_duck,
    )

    return let_duck(cols_concat, "srow", _tok_hash_lambda_duck("srow"))


def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprints — the anti-entropy
    primitive behind replica comparison, migration sign-off, and
    idempotent-load verification (same bytes ⇒ same fingerprint, ANY
    row order, ANY partitioning): each row serializes canonically
    ('|'-joined typed columns, doubles as exact cents) and folds to
    the engine's polynomial hash; the table digest is the XOR of row
    hashes (commutative/associative — map-side-combinable, merge-able
    across partitions and incremental loads) plus a modular-sum
    second channel (XOR alone cannot see a row repeated twice; the
    sum channel can — and stays overflow-safe to ~9e12 rows via the
    per-row mod). Comparing two replicas = comparing 3 integers per
    table.

    One narrow scan + one global aggregate per table; no shuffles
    beyond the single-row final combine. The scan is spread with an
    explicit round-robin repartition before the fold: the char fold
    is CPU-bound, and single-file inputs (and AQE byte-coalescing of
    kB-scale stages) would otherwise run it on one task (measured
    1.8 s -> 0.8 s for the 3-table digest at sf0.1 on local[32]; on
    a real cluster the scan is already spread and the repartition is
    a cheap rebalance of narrow rows)."""
    def fp(tbl: str, df: DataFrame, concat_cols: str) -> DataFrame:
        from weatherflow_spark.functions.text import _tok_hash_lambda_spark

        # Serialize BEFORE the exchange so only the ~40-byte row
        # string shuffles (not the full row), and the fold sees a
        # materialized column (evaluated once — not re-evaluated per
        # character through substr).
        srow = df.selectExpr(f"concat_ws('|', {concat_cols}) AS srow")
        spread = srow.repartition(spark.sparkContext.defaultParallelism)
        return spread.select(
            F.expr(_tok_hash_lambda_spark("srow")).alias("h")
        ).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fp_xor"),
            F.expr(f"sum(h % {FP_SUM_MOD})").alias("fp_sum"),
        ).select(
            F.lit(tbl).alias("tbl"), "n_rows", "fp_xor", "fp_sum"
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    o = fp(
        "orders",
        orders,
        "o_orderkey, o_custkey, cast(floor(o_totalprice * 100 + 0.5) as bigint), "
        "o_orderstatus, o_orderpriority",
    )
    c = fp("customer", customer, "c_custkey, c_nationkey, c_name")
    e = fp(
        "events",
        events,
        "event_id, user_id, event_type, "
        "cast(floor(value * 100 + 0.5) as bigint)",
    )
    # Checkpoint the 3-row digest, so the quality report's plan reads
    # three rows instead of carrying the char folds.
    from weatherflow_spark.operators.caching import tracked_persist

    return tracked_persist(o.unionByName(c).unionByName(e))


def _oracle_table_fingerprint() -> str:
    def fp(tbl: str, concat_cols: str) -> str:
        h = _row_fp_duck(f"concat_ws('|', {concat_cols})")
        return f"""
        SELECT '{tbl}' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
               bit_xor(h) AS fp_xor,
               CAST(sum(h % {FP_SUM_MOD}) AS BIGINT) AS fp_sum
        FROM (SELECT {h} AS h FROM {tbl})"""

    return (
        fp(
            "orders",
            "o_orderkey, o_custkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), "
            "o_orderstatus, o_orderpriority",
        )
        + "\n    UNION ALL\n"
        + fp("customer", "c_custkey, c_nationkey, c_name")
        + "\n    UNION ALL\n"
        + fp(
            "events",
            "event_id, user_id, event_type, "
            "CAST(floor(value * 100 + 0.5) AS BIGINT)",
        )
    )


# ---------------------------------------------------------------------------
# q_skew_report — E75: join-key skew diagnostics
# ---------------------------------------------------------------------------

SKEW_KEYS = [
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_orderkey"),
    ("events", "user_id"),
    ("documents", "source"),
]


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics — the measurement that decides
    whether a key needs salting (operators/skew.py) or AQE skew-join
    before a 100 TB shuffle is launched: for each candidate join key,
    the exact key-count distribution summarized as max share, p50 and
    p99 per-key counts, and distinct-key cardinality.

    The exact-percentile trick is the COUNT-OF-COUNTS decomposition
    (the E65 compressed-domain discipline applied twice): per-key
    counts are one keyed aggregation (key-cardinality-sized output),
    then counts-of-counts collapses that to one row per DISTINCT
    count value — a table bounded by the count DOMAIN, over which the
    cumulative windows computing exact p50/p99 are trivially small.
    No sort of raw rows, no percentile over the key table itself.

    Output: one row per (relation, key) with n_rows, n_keys,
    max_count, top_share_e6 (= max_count·1e6 div n_rows), p50_count,
    p99_count — all exact integers.

    Physical shape (r8 rewrite): every table is scanned ONCE — a
    table with several candidate keys of one type explodes each row
    to (rel_key, key) pairs sharing one scan and one exchange, while
    single-key tables keep the plain keyed count — and all downstream
    stages run as one rel_key-partitioned pipeline (the cumulative
    windows are properly partitioned, never a global single-task
    window). Measured trade at sf0.1: the lineitem explode costs
    ~+0.5 s of CPU vs two separate chains (1.26 s vs 0.78 s total)
    because the toy scan is memory-cheap — at the 100 TB target the
    DUPLICATE FACT SCAN is the dominant cost and the single-scan
    shape wins outright; keys keep their native type (a string cast
    measured a further 2x penalty and was rejected)."""
    from pyspark.sql import Window

    by_table: dict[str, list[str]] = {}
    for tbl, key in SKEW_KEYS:
        by_table.setdefault(tbl, []).append(key)
    coc_parts = []
    for tbl, keys in by_table.items():
        df = load_table(spark, sf_dir, tbl)
        types = dict(df.dtypes)
        # Keys keep their native type through the count aggregation
        # (a string cast of bigint keys measured 3x slower at sf0.1 —
        # wider shuffle keys, costlier hashing); rel_keys of the same
        # type share the table's single scan via a per-row explode.
        by_type: dict[str, list[str]] = {}
        for k in keys:
            by_type.setdefault(types[k], []).append(k)
        for typ, tkeys in by_type.items():
            if len(tkeys) == 1:
                # Single candidate key: plain keyed count — an explode
                # of a 1-element array is pure overhead.
                k = tkeys[0]
                flat = df.select(
                    F.lit(f"{tbl}.{k}").alias("rel_key"), F.col(k).alias("k")
                )
            else:
                pairs = ", ".join(
                    f"struct('{tbl}.{k}' AS rel_key, {k} AS k)" for k in tkeys
                )
                flat = df.select(
                    F.explode(F.expr(f"array({pairs})")).alias("e")
                ).select("e.rel_key", "e.k")
            per_key = flat.groupBy("rel_key", "k").agg(
                F.count(F.lit(1)).alias("c")
            )
            coc_parts.append(
                per_key.groupBy("rel_key", "c").agg(
                    F.count(F.lit(1)).alias("nk")
                )
            )
    coc = coc_parts[0]
    for p in coc_parts[1:]:
        coc = coc.unionByName(p)
    w = (
        Window.partitionBy("rel_key")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("rel_key")
    ranked = coc.select(
        "rel_key",
        "c",
        "nk",
        F.sum("nk").over(w).alias("cum"),
        F.sum("nk").over(wall).alias("n_keys"),
        F.sum(F.col("c") * F.col("nk")).over(wall).alias("n_rows"),
        F.max("c").over(wall).alias("max_count"),
    )
    return (
        ranked.groupBy("rel_key")
        .agg(
            F.min("n_rows").alias("n_rows"),
            F.min("n_keys").alias("n_keys"),
            F.min("max_count").alias("max_count"),
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n_keys") * 50, F.col("c"))
            ).alias("p50_count"),
            F.min(
                F.when(F.col("cum") * 100 >= F.col("n_keys") * 99, F.col("c"))
            ).alias("p99_count"),
        )
        .select(
            "rel_key",
            "n_rows",
            "n_keys",
            "max_count",
            F.expr("max_count * 1000000 div n_rows").alias("top_share_e6"),
            "p50_count",
            "p99_count",
        )
    )


def _oracle_skew_report() -> str:
    blocks = []
    for tbl, key in SKEW_KEYS:
        blocks.append(f"""
    SELECT '{tbl}.{key}' AS rel_key, n_rows, n_keys, max_count,
           max_count * 1000000 // n_rows AS top_share_e6,
           p50_count, p99_count
    FROM (
        SELECT CAST(min(n_rows) AS BIGINT) AS n_rows,
               CAST(min(n_keys) AS BIGINT) AS n_keys,
               CAST(min(max_count) AS BIGINT) AS max_count,
               CAST(min(CASE WHEN cum * 100 >= n_keys * 50 THEN c END) AS BIGINT)
                   AS p50_count,
               CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END) AS BIGINT)
                   AS p99_count
        FROM (
            SELECT c, nk,
                   sum(nk) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(nk) OVER () AS n_keys,
                   sum(c * nk) OVER () AS n_rows,
                   max(c) OVER () AS max_count
            FROM (
                SELECT c, CAST(count(*) AS BIGINT) AS nk FROM (
                    SELECT {key}, CAST(count(*) AS BIGINT) AS c
                    FROM {tbl} GROUP BY {key}
                ) GROUP BY c
            )
        )
    )""")
    return "\n    UNION ALL\n".join(blocks)


# The GATE tier's oracle IS the base literal (hard invariants only),
# captured before the rebind below appends the digest + skew rows.
ORACLE_QUALITY_GATE = ORACLE_DATA_QUALITY

# Rebind: the report oracle gains the fingerprint rows (defined after
# the base literal, so extended here — the curation-suite precedent).
ORACLE_DATA_QUALITY = f"""
    SELECT * FROM ({ORACLE_DATA_QUALITY})
    UNION ALL
    SELECT tbl, 'fingerprint_xor' AS check, fp_xor AS value,
           CAST(NULL AS INTEGER) AS pass
    FROM ({_oracle_table_fingerprint()})
    UNION ALL
    SELECT tbl, 'fingerprint_sum', fp_sum, CAST(NULL AS INTEGER)
    FROM ({_oracle_table_fingerprint()})
    UNION ALL
    SELECT rel_key, 'skew_n_keys', n_keys, CAST(NULL AS INTEGER)
    FROM ({_oracle_skew_report()})
    UNION ALL
    SELECT rel_key, 'skew_max_count', max_count, CAST(NULL AS INTEGER)
    FROM ({_oracle_skew_report()})
    UNION ALL
    SELECT rel_key, 'skew_top_share_e6', top_share_e6, CAST(NULL AS INTEGER)
    FROM ({_oracle_skew_report()})
    UNION ALL
    SELECT rel_key, 'skew_p50_count', p50_count, CAST(NULL AS INTEGER)
    FROM ({_oracle_skew_report()})
    UNION ALL
    SELECT rel_key, 'skew_p99_count', p99_count, CAST(NULL AS INTEGER)
    FROM ({_oracle_skew_report()})
"""


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E55 gate tier standalone (r9, VERDICT r8 'Next round' #8):
    exactly the ``sections=GATE_SECTIONS`` form a scheduler blocks a
    load on — row counts, pk dupes, fk orphans, bounds, null tallies;
    no digests, no skew diagnostics. Registered so the gate has its
    own BENCH row and a pytest guard pins its budget (fewer than half
    the full report's Spark jobs at sf0.1, tests/test_plans.py) — a
    scheduler that polls this before every load needs a cost
    contract, not a vibe."""
    return q_data_quality_report(spark, sf_dir, sections=GATE_SECTIONS)


QUALITY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_data_quality_report": q_data_quality_report,
    "q_quality_gate": q_quality_gate,
    "q_table_fingerprint": q_table_fingerprint,
    "q_skew_report": q_skew_report,
}

QUALITY_ORACLES: dict[str, str] = {
    "q_data_quality_report": ORACLE_DATA_QUALITY,
    "q_quality_gate": ORACLE_QUALITY_GATE,
    "q_table_fingerprint": _oracle_table_fingerprint(),
    "q_skew_report": _oracle_skew_report(),
}
