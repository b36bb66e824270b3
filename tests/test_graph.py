"""PageRank structural properties (oracle hash parity is covered by
test_oracle_parity)."""

from __future__ import annotations

from tests.conftest import SF_SMALL, group_jobs
from weatherflow_spark.plans.graph import PR_SCALE, PR_TOP, q_pagerank


def test_pagerank_shape_and_hubs(spark):
    rows = q_pagerank(spark, SF_SMALL).collect()
    assert len(rows) == PR_TOP
    # ranks are sorted desc with id tiebreak and strictly positive
    ranks = [r["rank_scaled"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)
    # the bipartite graph has far fewer suppliers than customers, so
    # the top ranks are led by supplier hubs (sf0.001 has only ~10
    # suppliers total — they can't fill all 20 slots)
    assert rows[0]["node_type"] == "supplier"
    n_supp = sum(1 for r in rows if r["node_type"] == "supplier")
    assert n_supp >= PR_TOP // 4
    # hubs concentrate more than the initial uniform mass
    assert ranks[0] > PR_SCALE


def test_degree_ordered_orientation_bounds_wedges(spark):
    """Skewed fixture: a 100-leaf star whose hub id sits mid-range.
    Id-ordered wedge generation pays in(hub)*out(hub) = 50*50 = 2500
    wedges at the hub; degree-ordered orientation points every edge
    AT the hub, so no source has two out-edges — zero wedges. This is
    the degeneracy-vs-max-degree bound that matters on real skewed
    graphs."""
    from pyspark.sql import functions as F

    from weatherflow_spark.plans.graph import orient_by_degree

    pairs = [(i, 50) for i in range(50)] + [(50, i) for i in range(51, 101)]
    canonical = spark.createDataFrame(
        sorted((min(a, b), max(a, b)) for a, b in pairs), "a long, b long"
    )
    e1 = canonical.select(F.col("a").alias("wa"), F.col("b").alias("wb"))
    e2 = canonical.select(F.col("a").alias("wb2"), F.col("b").alias("wc"))
    id_wedges = e1.join(e2, F.col("wb") == F.col("wb2")).count()
    assert id_wedges == 2500

    oriented = orient_by_degree(canonical)
    deg_wedges = (
        oriented.groupBy("src")
        .count()
        .selectExpr("cast(sum(count * (count - 1) / 2) as long) AS w")
        .collect()[0].w
    ) or 0
    assert deg_wedges == 0


def test_degree_ordered_triangles_match_brute_force(spark):
    """Orientation must not change WHICH triangles are found: compare
    against the known triangle set of a small graph ({1,2,3},
    {1,3,5}, {3,4,5}) plus noise edges."""
    from pyspark.sql import functions as F

    from weatherflow_spark.plans.graph import ordered_triangles, orient_by_degree

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (1, 5), (5, 6), (6, 7)]
    canonical = spark.createDataFrame(sorted(pairs), "a long, b long")
    tri = ordered_triangles(orient_by_degree(canonical))
    got = sorted(
        tuple(sorted((r.wa, r.wb, r.wc))) for r in tri.collect()
    )
    assert got == [(1, 2, 3), (1, 3, 5), (3, 4, 5)]


# Measured at sf0.001 (test session, 8 shuffle partitions): 26 jobs
# when round 1 joined the seed ranks, 19 with round 1 folded into a
# select over the weighted-edge checkpoint.
PAGERANK_JOB_BUDGET = 19


def test_pagerank_job_budget(spark):
    """Round 1 needs no join and nothing after the weighted-edge
    checkpoint re-runs the edge pipeline."""
    from weatherflow_spark.operators.caching import release_caches

    release_caches()  # a shared edge checkpoint would hide its build
    try:
        jobs = group_jobs(
            spark, "pagerank-job-budget",
            lambda: q_pagerank(spark, SF_SMALL).collect(),
        )
    finally:
        release_caches()
    assert 0 < jobs <= PAGERANK_JOB_BUDGET, jobs
