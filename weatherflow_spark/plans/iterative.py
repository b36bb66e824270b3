"""Iterative distributed algorithms as fixed-round, oracle-checkable
queries: Lloyd's k-means over `embeddings` and connected-components
dedup clustering over the MinHash near-dup pair graph.

The reference has no iterative surface at all; these are the two
iterative algorithms a training-data pipeline actually runs at scale
(vector-index training / corpus clustering, and duplicate-cluster
formation from pairwise near-dup edges).

Determinism contract: both algorithms run a FIXED number of rounds
with arithmetic-only state transitions —

- k-means seeds are vectors ``vec_id < K`` (no RNG), centroid
  updates use order-independent integer-scaled sums (the IVF pattern
  from :mod:`plans.ext_similarity`), distances are sequential-fold
  double sums, and argmin tie-breaks on cluster id — so after any
  round the assignment is a pure function of the input and the
  DuckDB oracle can replay the rounds as unrolled CTEs;
- label propagation initializes label(v)=v and each round takes
  ``min(label(v), min over neighbors label(u))`` — pure min-algebra,
  unrolled identically in SQL.

Scale posture (100 TB): each round is one broadcast join (k-means:
the K-row centroid table; label-prop: the aggregated neighbor-min
table is keyed) plus one keyed aggregation — the classic Spark
iteration shape, with nothing collected to the driver and state
that is itself a DataFrame. Fixed-round label propagation resolves
components of graph diameter ≤ rounds; production runs iterate to a
fixpoint with the identical round body (each round halves remaining
diameter in the large-star/small-star variant).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weatherflow_spark.io import load_table
from weatherflow_spark.operators.caching import tracked_persist
from weatherflow_spark.plans.ext_dedup import (
    JACCARD_THRESHOLD,
    minhash_verified_pairs,
    verified_pairs_cte,
)
from weatherflow_spark.plans.ext_similarity import CENTROID_SCALE

K_CLUSTERS = 4
KMEANS_ROUNDS = 2
LP_ROUNDS = 3


# ---------------------------------------------------------------------------
# q_kmeans — Lloyd's algorithm, 2 rounds, deterministic seeding
# ---------------------------------------------------------------------------


def _sqdist_expr(a: str, b: str) -> str:
    """Spark SQL: squared-L2 as a sequential left fold (order pinned,
    so the double result is bit-identical to the DuckDB twin)."""
    return (
        f"aggregate(zip_with(cast({a} as array<double>), cast({b} as array<double>), "
        f"(x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _sqdist_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: K-row centroid table broadcast
    against the vector scan (narrow ×K expansion, no shuffle of the
    vectors); argmin via partitioned row_number with a cluster-id
    tie-break."""
    w = Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cluster"))
    return (
        emb.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "embedding",
            "cluster",
            F.expr(_sqdist_expr("embedding", "c")).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "cluster")
    )


def _recenter(assigned: DataFrame) -> DataFrame:
    """Per-cluster mean via the order-independent integer-scaled-sum
    pattern (two keyed aggregations, both with map-side partials)."""
    flat = assigned.select("cluster", F.posexplode("embedding").alias("pos", "x"))
    return (
        flat.groupBy("cluster", "pos")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * CENTROID_SCALE).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy("cluster")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s, n))), "
                f"p -> cast(p.s as double) / ({float(CENTROID_SCALE)} * p.n))"
            ).alias("c")
        )
    )


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (K=4, 2 Lloyd rounds) over the embedding corpus —
    the coarse-quantizer training step an IVF vector index needs.
    Seeds are vec_id 0..3; every state transition is deterministic,
    so the oracle replays both rounds as unrolled SQL. Returns the
    final assignment with per-cluster sizes."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.where(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").cast("array<double>").alias("c")
    )
    # Persist each round's assignment: it feeds BOTH the centroid
    # update and the next assignment — without it every round
    # re-executes the whole lineage back to the scan (doubling per
    # round). Small state (one row per vector).
    assigned = tracked_persist(_assign(emb, centroids))
    for _ in range(KMEANS_ROUNDS - 1):
        assigned = tracked_persist(_assign(assigned.drop("cluster"), _recenter(assigned)))
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), F.min("vec_id").alias("min_vec_id"))
    )


def _oracle_kmeans() -> str:
    return f"""
        WITH emb AS (
            SELECT vec_id, embedding FROM embeddings
        ),
        c0 AS (
            SELECT vec_id AS cluster,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings WHERE vec_id < {K_CLUSTERS}
        ),
        a0 AS (
            SELECT vec_id, embedding, cluster FROM (
                SELECT e.vec_id, e.embedding, c0.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_sqdist_sql('e.embedding', 'c0.c')} ASC, c0.cluster ASC
                       ) AS rn
                FROM emb e CROSS JOIN c0
            ) WHERE rn = 1
        ),
        flat1 AS (
            SELECT cluster, i AS pos,
                   CAST(floor(CAST(embedding[i] AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT) AS xi
            FROM a0 CROSS JOIN UNNEST(generate_series(1, len(embedding))) AS u(i)
        ),
        sums1 AS (
            SELECT cluster, pos, sum(xi) AS s, count(*) AS n
            FROM flat1 GROUP BY cluster, pos
        ),
        c1 AS (
            SELECT cluster,
                   list(CAST(s AS DOUBLE) / ({float(CENTROID_SCALE)} * n) ORDER BY pos) AS c
            FROM sums1 GROUP BY cluster
        ),
        a1 AS (
            SELECT vec_id, cluster FROM (
                SELECT e.vec_id, c1.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {_sqdist_sql('e.embedding', 'c1.c')} ASC, c1.cluster ASC
                       ) AS rn
                FROM emb e CROSS JOIN c1
            ) WHERE rn = 1
        )
        SELECT cluster, count(*) AS n_members, min(vec_id) AS min_vec_id
        FROM a1 GROUP BY cluster
    """


# ---------------------------------------------------------------------------
# q_dedup_clusters — connected components by min-label propagation
# ---------------------------------------------------------------------------


def _lp_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label-propagation round: keyed join of the edge list
    against the current labels, per-src neighbor min (map-side
    combinable), left-joined back onto the labels. Consumes `labels`
    TWICE — callers must persist each round's output or the physical
    plan doubles per round."""
    nbr_min = (
        edges.join(labels, edges["dst"] == labels["doc_id"])
        .groupBy("src")
        .agg(F.min("label").alias("nbr_label"))
    )
    return labels.join(nbr_min, labels["doc_id"] == nbr_min["src"], "left").select(
        "doc_id",
        F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: MinHash near-dup pairs
    (jaccard ≥ 0.5) become an undirected graph; LP_ROUNDS (=3) rounds
    of min-label propagation assign each involved document the
    smallest doc_id reachable within 3 hops as its cluster id.
    Each round is one keyed join + one keyed min-aggregate (both
    map-side-combinable); node state never leaves the cluster."""
    docs = load_table(spark, sf_dir, "documents")
    dup = (
        minhash_verified_pairs(docs, cache=True)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    # The edge list is re-joined every propagation round — persist it
    # so the LSH/verify pipeline that produced it runs exactly once.
    edges = tracked_persist(
        dup.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(dup.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    )

    # Checkpoint EVERY round's label state (the k-means pattern at
    # :func:`q_kmeans`): each round consumes `labels` TWICE — as the
    # left side of the update join and feeding `nbr_min` — so an
    # unmaterialised loop doubles the physical plan per round (2^rounds
    # parquet scans; measured 180 scans / 262 Exchanges at 3 rounds).
    # With the checkpoint each round plans two scans of the previous
    # round's blocks instead, keeping plan size constant per added
    # round (asserted by tests/test_plan_audit.py::test_lp_round_plan_constant).
    labels = tracked_persist(
        edges.select(F.col("src").alias("doc_id")).distinct().select(
            "doc_id", F.col("doc_id").alias("label")
        )
    )
    for _ in range(LP_ROUNDS):
        labels = tracked_persist(_lp_round(edges, labels))
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def _oracle_dedup_clusters() -> str:
    rounds = []
    prev = "l0"
    for r in range(1, LP_ROUNDS + 1):
        rounds.append(
            f"""
        l{r} AS (
            SELECT l.doc_id,
                   least(l.label, coalesce(min(n.label), l.label)) AS label
            FROM {prev} l
            LEFT JOIN edges e ON e.src = l.doc_id
            LEFT JOIN {prev} n ON n.doc_id = e.dst
            GROUP BY l.doc_id, l.label
        )"""
        )
        prev = f"l{r}"
    rounds_sql = ",".join(rounds)
    return f"""
        WITH {verified_pairs_cte()},
        dup AS (
            SELECT doc_a, doc_b FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM dup
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM dup
        ),
        l0 AS (
            SELECT DISTINCT src AS doc_id, src AS label FROM edges
        ),{rounds_sql}
        SELECT doc_id, label AS cluster_id FROM {prev}
    """


# ---------------------------------------------------------------------------
# q_iterative_suite — consolidated fixed-round-algorithm row
# ---------------------------------------------------------------------------


def q_iterative_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated iterative-algorithm certification row: 3-round
    scaled-int PageRank (plans/graph.py) + 2-round scaled-int k-means
    (above), tagged by algo on a normalized schema — PageRank rows
    carry (node, node_type, rank_scaled) in (entity_id, tag,
    metric1); k-means rows carry (cluster, n_members, min_vec_id) in
    (entity_id, metric1, metric2). Both are deterministic fixed-round
    integer algorithms whose oracles replay every round as unrolled
    CTEs; each branch keeps its own physical loop shape (persisted
    loop-invariant relations, keyed joins + map-side-partial aggs).
    Round 7 adds the E59 representative-selection branch (algo
    'representatives'): entity_id carries cluster_id, tag packs
    '<rep_doc_id>:<rep_keep>', metric1/metric2/metric3 carry
    n_members / n_rule_kept / rep_n_words — documented column reuse,
    so the hash pins the full per-cluster selection. Single-algorithm
    twins stay registered in the tail."""
    from weatherflow_spark.operators.overlap import overlap_materialize
    from weatherflow_spark.plans.graph import q_pagerank

    # r14: the three branches are independent fixed-round algorithms;
    # build + materialize them concurrently (guide §2.6) so their
    # small per-round jobs back-fill each other instead of the union
    # action walking the three loop chains serially. Union order and
    # oracle hash unchanged.
    pr_b, km_b, reps_b = overlap_materialize([
        lambda: q_pagerank(spark, sf_dir),
        lambda: q_kmeans(spark, sf_dir),
        lambda: q_cluster_representatives(spark, sf_dir),
    ])
    pr = pr_b.select(
        F.lit("pagerank").alias("algo"),
        F.col("node").alias("entity_id"),
        F.col("node_type").alias("tag"),
        F.col("rank_scaled").alias("metric1"),
        F.lit(None).cast("long").alias("metric2"),
        F.lit(None).cast("long").alias("metric3"),
    )
    km = km_b.select(
        F.lit("kmeans").alias("algo"),
        F.col("cluster").alias("entity_id"),
        F.lit(None).cast("string").alias("tag"),
        F.col("n_members").alias("metric1"),
        F.col("min_vec_id").alias("metric2"),
        F.lit(None).cast("long").alias("metric3"),
    )
    reps = reps_b.select(
        F.lit("representatives").alias("algo"),
        F.col("cluster_id").alias("entity_id"),
        F.concat_ws(":", F.col("rep_doc_id"), F.col("rep_keep")).alias("tag"),
        F.col("n_members").cast("long").alias("metric1"),
        F.col("n_rule_kept").cast("long").alias("metric2"),
        F.col("rep_n_words").cast("long").alias("metric3"),
    )
    return pr.unionByName(km).unionByName(reps)


def _oracle_iterative_suite() -> str:
    from weatherflow_spark.plans.graph import ORACLE_PAGERANK

    return f"""
    WITH pr_side AS ({ORACLE_PAGERANK}),
    km_side AS ({_oracle_kmeans()}),
    reps_side AS ({_oracle_cluster_representatives()})
    SELECT 'pagerank' AS algo, node AS entity_id, node_type AS tag,
           rank_scaled AS metric1, CAST(NULL AS BIGINT) AS metric2,
           CAST(NULL AS BIGINT) AS metric3
    FROM pr_side
    UNION ALL
    SELECT 'kmeans', cluster, CAST(NULL AS VARCHAR), n_members, min_vec_id,
           CAST(NULL AS BIGINT)
    FROM km_side
    UNION ALL
    SELECT 'representatives', cluster_id,
           CAST(rep_doc_id AS VARCHAR) || ':' || CAST(rep_keep AS VARCHAR),
           CAST(n_members AS BIGINT), CAST(n_rule_kept AS BIGINT),
           CAST(rep_n_words AS BIGINT)
    FROM reps_side
"""


# ---------------------------------------------------------------------------
# q_cluster_representatives — E59: keep the BEST copy, not the first
# ---------------------------------------------------------------------------


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection over the near-dup clusters: instead
    of dedup's keep-first rule, each connected component keeps its
    highest-QUALITY member — the release policy a real corpus wants
    (the longest clean copy survives, not the lowest id). The quality
    key is deterministic and integer: Gopher keep-flag first, then
    word count, then doc_id — one window over the cluster-keyed join
    of the component labels (E1 clusters) with the quality verdicts
    (E25 rules). Emits per-cluster size and kept-rule tallies next to
    the representative so the hash pins the whole selection.

    Scale: adds ONE keyed join (doc_id) and ONE cluster-keyed window
    pass on top of the label-propagation output — components are
    small by construction (near-dup groups), so the window partitions
    are bounded. The per-cluster size/kept tallies are whole-partition
    frame aggregates over the SAME (partition, order) spec as the
    rank, so Spark plans a single WindowExec over one exchange — no
    second clusters+quality subtree, no rejoin (previously a
    reps⋈sizes self-join doubled the upstream: 362 parquet scans,
    528 Exchanges; asserted single-subtree by
    tests/test_plan_audit.py::test_cluster_representatives_single_pass)."""
    from weatherflow_spark.plans.ext_text import q_quality_filter

    cl = q_dedup_clusters(spark, sf_dir)
    qv = q_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("keep"), "n_words"
    )
    j = cl.join(qv, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("keep"), F.desc("n_words"), F.asc("doc_id")
    )
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        j.select(
            "cluster_id",
            F.row_number().over(w).alias("rn"),
            F.col("doc_id").alias("rep_doc_id"),
            F.col("keep").alias("rep_keep"),
            F.col("n_words").alias("rep_n_words"),
            F.count(F.lit(1)).over(w_all).alias("n_members"),
            F.sum("keep").over(w_all).alias("n_rule_kept"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def _oracle_cluster_representatives() -> str:
    from weatherflow_spark.plans.ext_text import ORACLE_QUALITY_FILTER

    return f"""
    WITH clusters AS ({_oracle_dedup_clusters()}),
    qv AS (
        SELECT doc_id, CAST(keep AS INTEGER) AS keep, n_words
        FROM ({ORACLE_QUALITY_FILTER})
    ),
    j AS (
        SELECT c.cluster_id, c.doc_id, qv.keep, qv.n_words
        FROM clusters c JOIN qv USING (doc_id)
    ),
    reps AS (
        SELECT cluster_id, doc_id AS rep_doc_id, keep AS rep_keep,
               n_words AS rep_n_words
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY keep DESC, n_words DESC, doc_id ASC
            ) AS rn FROM j
        ) WHERE rn = 1
    ),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(keep) AS BIGINT) AS n_rule_kept
        FROM j GROUP BY cluster_id
    )
    SELECT r.cluster_id, r.rep_doc_id, r.rep_keep, r.rep_n_words,
           s.n_members, s.n_rule_kept
    FROM reps r JOIN sizes s USING (cluster_id)
"""


ITERATIVE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_kmeans": q_kmeans,
    "q_dedup_clusters": q_dedup_clusters,
    "q_cluster_representatives": q_cluster_representatives,
    "q_iterative_suite": q_iterative_suite,
}

ITERATIVE_ORACLES: dict[str, str] = {
    "q_kmeans": _oracle_kmeans(),
    "q_dedup_clusters": _oracle_dedup_clusters(),
    "q_cluster_representatives": _oracle_cluster_representatives(),
    "q_iterative_suite": _oracle_iterative_suite(),
}
