"""Fixed-round scaled-integer PageRank over the customer-supplier
trade graph (extension tier, sibling of :mod:`plans.iterative`).

Graph: the bipartite "customer bought from supplier" relation —
distinct (o_custkey, l_suppkey) pairs from orders ⋈ lineitem — made
symmetric (each undirected edge is two directed edges). Node ids are
namespaced into one bigint space: customer c → 2c, supplier s →
2s+1.

Determinism contract (same as k-means / label propagation in
plans/iterative.py): ranks are **scaled integers** (initial mass
``SCALE = 10^9`` per node) and every transition uses only integer
division and order-independent integer sums, so the result is a pure
function of the input and the DuckDB oracle replays the rounds as
unrolled CTEs bit-for-bit:

    contrib(e) = r(src) div outdeg(src)
    r'(v)      = floor(0.15 * SCALE) + (85 * sum contrib) div 100

Every node has at least one outgoing and one incoming edge by
construction (symmetry), so no dangling-mass term is needed.

Scale posture (100 TB): each round is one shuffle join
(edges ⋈ ranks on src — ranks is node-sized, edges dominate) plus one
keyed aggregation with map-side partials; the per-round degree join
is precomputed once, and round 1 (uniform seed ranks) reads the
weighted edges alone. State lives in DataFrames, nothing on the
driver. This is the canonical Spark iteration shape; production runs
checkpoint lineage every ~5 rounds and iterate to an L1 fixpoint with
the identical round body.

DuckDB note: ``sum(BIGINT)`` promotes to HUGEINT — the oracle wraps
each new rank in ``CAST(... AS BIGINT)`` to keep the schema aligned.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.io import load_table
from weatherflow_spark.operators.caching import tracked_persist

PR_SCALE = 1_000_000_000
PR_ROUNDS = 3
PR_TOP = 20
_TELEPORT = PR_SCALE * 15 // 100


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round scaled-int PageRank on the symmetric customer-supplier
    graph; top-20 nodes by rank (ties broken on node id), with the
    side decoded from the id parity."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # Push the distinct below the join: lineitem has ~7 lines/order,
    # so deduping (l_orderkey, l_suppkey) BEFORE probing orders
    # shrinks the join probe ~7x and the pair-distinct shuffle with
    # it. The result set is identical — distinct-of-join ==
    # distinct-of-join-of-distinct when the join key is part of the
    # deduped tuple. (Structural win only: local timings are noise-
    # dominated at sf0.1 and show parity; the payoff is the smaller
    # shuffle, which is what matters at 100 TB.)
    li_pairs = lineitem.select("l_orderkey", "l_suppkey").distinct()
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(li_pairs, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    fwd = pairs.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # The weighted edge list is the loop-invariant operand of every
    # round's join — pre-shuffle it onto the join key once and
    # persist, so each round's sort-merge join reuses the cached
    # src-partitioned relation instead of re-shuffling the edges
    # (at cluster scale: cache/checkpoint the edge relation, or
    # write it bucketed by src, before iterating).
    ew = tracked_persist(edges.join(deg, "src").repartition("src"))

    def step(contribs: DataFrame) -> DataFrame:
        return contribs.groupBy("node").agg(
            (F.lit(_TELEPORT) + F.expr("85 * sum(c) div 100")).cast("long").alias("r")
        )

    # Every seed rank is PR_SCALE, so round 1 needs no join: each edge
    # contributes PR_SCALE div d. Later rounds read only the checkpoint.
    ranks = step(
        ew.select(F.col("dst").alias("node"), F.expr(f"{PR_SCALE} div d").alias("c"))
    )
    for _ in range(PR_ROUNDS - 1):
        ranks = step(
            ew.join(ranks, ew["src"] == ranks["node"]).select(
                F.col("dst").alias("node"), F.expr("r div d").alias("c")
            )
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(PR_TOP)
        .select(
            "node",
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.col("r").alias("rank_scaled"),
        )
    )


def _round_cte(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT e.dst AS node,
               CAST({_TELEPORT} + (85 * sum(r.r // e.d)) // 100 AS BIGINT) AS r
        FROM ew e JOIN {prev} r ON e.src = r.node
        GROUP BY e.dst
    )"""


ORACLE_PAGERANK = f"""
    WITH li_pairs AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    pairs AS (
        SELECT DISTINCT o_custkey, l_suppkey
        FROM orders JOIN li_pairs ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    ew AS (SELECT e.src, e.dst, deg.d FROM edges e JOIN deg ON deg.src = e.src),
    r0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
    {_round_cte('r0', 'r1')},
    {_round_cte('r1', 'r2')},
    {_round_cte('r2', 'r3')}
    SELECT
        node,
        CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
        r AS rank_scaled
    FROM r3
    ORDER BY r DESC, node ASC
    LIMIT {PR_TOP}
"""


# ---------------------------------------------------------------------------
# q_triangle_count — ordered-wedge triangle counting (co-supply graph)
# ---------------------------------------------------------------------------

TRI_TOP = 10


TRI_KNN = 8


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Degree-ordered orientation of a canonical (a < b, distinct)
    undirected edge list: each edge points from its lower-(degree, id)
    endpoint to its higher one. Out-degree under this orientation is
    bounded by the graph's degeneracy (≈ arboricity), not its max
    degree — the standard wedge-explosion remedy at real graph scale,
    where a single celebrity node would otherwise generate
    O(max_deg²) wedges. Two keyed joins against the (v, deg) table;
    the emitted ``dst_rank_deg`` carries dst's degree so wedge
    generation can order endpoints without a third join."""
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b")), "b")
    )
    # canonical a < b, so the (deg, id) tie-break keeps a→b on equal degree
    fwd = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("deg_b")).otherwise(F.col("deg_a")).alias("dst_deg"),
    )


def ordered_triangles(oriented: DataFrame) -> DataFrame:
    """Triangles from a degree-ordered orientation: each triangle has
    exactly one vertex whose two out-edges reach the other two, so
    wedges are per-source out-neighbor pairs (ordered by (deg, id) so
    each pair forms once) and a semi-join against the oriented closing
    edge v→w keeps the real triangles. Emits (wa, wb, wc) in rank
    order — the node SET per triangle is what downstream counts use,
    so the output is orientation-invariant."""
    o1 = oriented.select(
        F.col("src").alias("wa"), F.col("dst").alias("wb"), F.col("dst_deg").alias("db")
    )
    o2 = oriented.select(
        F.col("src").alias("u2"), F.col("dst").alias("wc"), F.col("dst_deg").alias("dc")
    )
    wedge = o1.join(
        o2,
        (F.col("wa") == F.col("u2"))
        & (
            (F.col("db") < F.col("dc"))
            | ((F.col("db") == F.col("dc")) & (F.col("wb") < F.col("wc")))
        ),
    ).select("wa", "wb", "wc")
    return wedge.join(
        oriented,
        (F.col("wb") == F.col("src")) & (F.col("wc") == F.col("dst")),
        "left_semi",
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the k-nearest-neighbor co-supply graph —
    the standard distributed graph benchmark, run on the graph shape a
    production co-occurrence pipeline actually builds: per supplier,
    keep the TRI_KNN strongest co-occurrence partners (by shared-order
    count, ties by partner id), then count triangles on the union of
    those selections via the DEGREE-ORDERED wedge algorithm
    (:func:`orient_by_degree` + :func:`ordered_triangles`): each edge
    is oriented toward its higher-(degree, id) endpoint, wedges are
    per-source out-neighbor pairs — bounded by degeneracy, not max
    degree — and a semi-join against the oriented closing edge keeps
    the real triangles, each exactly once. Output: per-node
    participation top-10 plus the global count as a node=-1 row.

    Measured trade-off (sf0.1, warm, min-of-reps): the orientation
    adds the degree aggregation + two keyed joins — ~0.9 s of fixed
    exchange overhead here (old id-ordered wedge 2.0 s, degree-ordered
    3.0 s) — bought deliberately: on a skewed graph the id-ordered
    form pays in(hub)·out(hub) wedges at the hub (2,500 on the 100-
    leaf star fixture vs 0 oriented; tests/test_graph.py), and at real
    graph scale the degeneracy bound is the difference between a
    bounded wedge stage and a quadratic one. The kNN sparsification
    already caps max degree at 2k, so THIS fixture never explodes —
    general co-occurrence graphs do.

    The kNN sparsification is the load-bearing scale property: the raw
    co-occurrence graph densifies as orders accumulate (at sf0.1 it is
    already near-complete over 1 000 suppliers, and the wedge join on
    it explodes to ~10^8 rows — measured, 24 s), while the kNN graph
    bounds degree at 2k, so wedges are ≤ 4k²·n at ANY corpus size.
    Pair counts come from the narrow higher-order pair expansion (see
    ext_mining.q_pmi_cooc — no self-join); the per-node selection is
    one ranking window (WindowGroupLimit trims per task).
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_order = (
        lineitem.select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (x, i) -> "
                "transform(slice(ss, i + 2, size(ss)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    pc = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    directed = pc.select("a", "b", "w").unionByName(
        pc.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    knn = directed.withColumn(
        "rn",
        F.expr(
            "row_number() OVER (PARTITION BY a ORDER BY w DESC, b ASC)"
        ),
    ).where(F.col("rn") <= TRI_KNN)
    # Persist both the canonical edge list (consumed by the degree agg
    # AND the orientation join) and the orientation (consumed three
    # times in wedge generation + the closing semi-join) — without
    # these the whole co-occurrence/kNN pipeline re-executes up to six
    # times (measured 4.6 s -> the persisted form beats even the old
    # un-oriented shape at sf0.1).
    edges = tracked_persist(
        knn.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).distinct()
    )
    # tri itself feeds the per-node tally AND the global count row.
    tri = tracked_persist(ordered_triangles(tracked_persist(orient_by_degree(edges))))
    per_node = (
        tri.select(F.explode(F.array("wa", "wb", "wc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(TRI_TOP)
    )
    total = tri.agg(
        F.lit(-1).cast("bigint").alias("node"),
        F.count(F.lit(1)).alias("n_triangles"),
    )
    return per_node.unionByName(total)


ORACLE_TRIANGLE_COUNT = f"""
    WITH per_order AS (
        SELECT l_orderkey,
               list_sort(list_distinct(list(l_suppkey))) AS ss
        FROM lineitem GROUP BY l_orderkey
    ),
    t AS (SELECT l_orderkey, unnest(ss) AS s FROM per_order),
    pc AS (
        SELECT x.s AS a, y.s AS b, CAST(count(*) AS BIGINT) AS w
        FROM t x JOIN t y ON x.l_orderkey = y.l_orderkey AND x.s < y.s
        GROUP BY x.s, y.s
    ),
    directed AS (
        SELECT a, b, w FROM pc
        UNION ALL
        SELECT b AS a, a AS b, w FROM pc
    ),
    knn AS (
        SELECT a, b FROM (
            SELECT a, b,
                   row_number() OVER (PARTITION BY a ORDER BY w DESC, b ASC)
                       AS rn
            FROM directed
        ) WHERE rn <= {TRI_KNN}
    ),
    edges AS (
        SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM knn
    ),
    deg AS (
        SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
        ) GROUP BY v
    ),
    orient AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.a ELSE e.b END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                    THEN e.b ELSE e.a END AS dst,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                    THEN db.deg ELSE da.deg END AS dst_deg
        FROM edges e
        JOIN deg da ON da.v = e.a
        JOIN deg db ON db.v = e.b
    ),
    tri AS (
        SELECT o1.src AS wa, o1.dst AS wb, o2.dst AS wc
        FROM orient o1
        JOIN orient o2 ON o1.src = o2.src
            AND (o1.dst_deg < o2.dst_deg
                 OR (o1.dst_deg = o2.dst_deg AND o1.dst < o2.dst))
        WHERE EXISTS (SELECT 1 FROM orient o3
                      WHERE o3.src = o1.dst AND o3.dst = o2.dst)
    ),
    per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT unnest([wa, wb, wc]) AS node FROM tri
        ) GROUP BY node
        ORDER BY n_triangles DESC, node ASC
        LIMIT {TRI_TOP}
    )
    SELECT node, n_triangles FROM per_node
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT) FROM tri
"""


# ---------------------------------------------------------------------------
# q_graph_suite — certification row: connected components + triangles
# ---------------------------------------------------------------------------


def q_graph_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-algorithm certification row: duplicate-cluster connected
    components (label propagation over MinHash near-dup pairs) and
    triangle counting, tagged by op and unioned in LONG format — (op,
    key, metric, value:bigint). Union is plan-level only; singles stay
    in the tail."""
    from weatherflow_spark.plans.iterative import q_dedup_clusters

    cc = q_dedup_clusters(spark, sf_dir).selectExpr(
        "'components' AS op",
        "cast(doc_id as string) AS key",
        "stack(1, 'cluster_id', cast(cluster_id as bigint)) AS (metric, value)",
    )
    tri = q_triangle_count(spark, sf_dir).selectExpr(
        "'triangles' AS op",
        "cast(node as string) AS key",
        "stack(1, 'n_triangles', n_triangles) AS (metric, value)",
    )
    # E74: entity-resolution components over the fuzzy-match graph —
    # the canonical name pins through the char-fold fingerprint so
    # the LONG value stays bigint.
    from weatherflow_spark.functions.text import _tok_hash_lambda_spark
    from weatherflow_spark.plans.ext_dedup import q_entity_clusters

    er = q_entity_clusters(spark, sf_dir).selectExpr(
        "'er_components' AS op",
        "name AS key",
        f"stack(1, 'canonical_fp', {_tok_hash_lambda_spark('canonical_name')}) "
        "AS (metric, value)",
    )
    return cc.unionByName(tri).unionByName(er)


def _oracle_graph_suite() -> str:
    # Function import, not the ORACLES dict: plans.iterative imports
    # this module while building its own suite oracle, so the dict
    # does not exist yet at that point in the import cycle.
    from weatherflow_spark.plans.iterative import _oracle_dedup_clusters
    from weatherflow_spark.plans.ext_dedup import _oracle_entity_clusters
    from weatherflow_spark.functions.text import _tok_hash_lambda_duck

    _fp_canonical = _tok_hash_lambda_duck("canonical_name")

    return f"""
        WITH cc_side AS ({_oracle_dedup_clusters()}),
        tri_side AS ({ORACLE_TRIANGLE_COUNT}),
        er_side AS ({_oracle_entity_clusters()})
        SELECT 'components' AS op, CAST(doc_id AS VARCHAR) AS key,
               'cluster_id' AS metric, CAST(cluster_id AS BIGINT) AS value
        FROM cc_side
        UNION ALL
        SELECT 'triangles', CAST(node AS VARCHAR), 'n_triangles', n_triangles
        FROM tri_side
        UNION ALL
        SELECT 'er_components', name, 'canonical_fp',
               {_fp_canonical}
        FROM er_side
    """


GRAPH_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_pagerank": q_pagerank,
    "q_triangle_count": q_triangle_count,
    "q_graph_suite": q_graph_suite,
}

GRAPH_ORACLES: dict[str, str] = {
    "q_pagerank": ORACLE_PAGERANK,
    "q_triangle_count": ORACLE_TRIANGLE_COUNT,
    "q_graph_suite": _oracle_graph_suite(),
}
