"""Extension tier E2/E41/E44/E50/E57 (SURVEY §2.11): vector
similarity over `embeddings` (array<float>, 64-dim).

- **q_similarity_topk**     — brute-force cosine top-k (the exact
                              baseline; TakeOrderedAndProject).
- **q_embedding_near_dup**  — embedding-cosine near-dup pairs,
                              blocked by label (E1's fifth family).
- **q_ann_ivf_topk**        — IVF-style ANN: per-label centroids →
                              probe 2 nearest cells → brute-force
                              within cells (the scale path).
- **q_ann_lsh_topk**        — sign-random-projection LSH ANN with
                              multi-probe (flip-1-bit) bucket search.
- **q_ann_batch_topk**      — Q queries answered in one corpus pass.
- **q_knn_graph**           — all-vectors top-k neighbor lists,
                              two-stage (Hamming shortlist → exact
                              cosine on the shortlist only).
- **q_knn_classify**        — majority-vote label propagation on the
                              graph's edge list.
- **q_semantic_dedup**      — SemDeDup cluster-blocked pruning with
                              an exact-integer cosine threshold.
- **q_ann_recall**          — measured recall@k of the approximate
                              indexes against the exact baseline.

Determinism contract (everything here hash-checks against DuckDB):

- Dot products are *sequential left-fold* sums in double —
  ``aggregate(zip_with(...))`` in Spark, ``list_reduce`` in DuckDB —
  so float summation order is pinned and results are bit-identical.
  (NEVER rely on engine-native dot/cosine built-ins for oracles:
  their accumulation order/precision is engine-private.)
- IVF centroids use order-independent *integer-scaled* sums
  (``sum(floor(x · 2^20))``) because a double sum over rows would
  depend on Spark's partial-agg order.
- LSH hyperplane weights are derived arithmetically from (plane,
  dim) via the cross-engine polynomial hash — no runtime RNG.

Scale posture (100 TB, ~1e9+ vectors): brute-force is the per-query
exact baseline (one narrow pass + top-k, no shuffle); IVF is the
scale path — the centroid table is tiny (broadcast), the probe
reduces scanned fraction to ~n_probe/n_cells; LSH bucket search is a
keyed equi-join on bucket id. Near-dup pairing is quadratic *only
within a label block* (LSH contract, as in ext_dedup).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weatherflow_spark.functions.text import MOD
from weatherflow_spark.io import load_table
from weatherflow_spark.operators.caching import tracked_persist

CENTROID_SCALE = 1 << 20  # 1048576
N_PROBE = 2
LSH_PLANES = 6
# Near-dup pair generation uses a wider code than point-lookup ANN:
# the low 16 sign bits key the candidate join (65k buckets, so bucket
# population scales ~n/2^16 — never the 64-block coarse-blocking
# trap), while the full 48-bit code ranks candidates by Hamming
# distance so only a bounded shortlist pays the exact-cosine verify.
# 48 (not 64) planes keep every packed code < 2^48, clear of BIGINT
# overflow in both engines' bit-set-by-addition folds.
NEARDUP_PLANES = 48
NEARDUP_BUCKET_BITS = 16
NEARDUP_SHORTLIST = 20000
# Per-bucket pre-limit in q_embedding_near_dup. The pre-limit is only
# result-invariant because it is >= the global shortlist LIMIT and
# uses the identical (ham, vec_a, vec_b) total order; if either cap
# or sort key ever diverges between the two stages (Spark plan AND
# oracle template alike), results silently change. Keep them tied.
NEARDUP_PRELIMIT = NEARDUP_SHORTLIST
TOP_K = 10

# ---------------------------------------------------------------------------
# sequential-fold vector math (Spark SQL + DuckDB twins)
# ---------------------------------------------------------------------------


def dot_expr(a: str, b: str) -> str:
    """Spark SQL: left-fold dot product in double (order pinned)."""
    return (
        f"aggregate(zip_with(cast({a} as array<double>), cast({b} as array<double>), "
        f"(x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def cosine_expr(a: str, b: str) -> str:
    return f"({dot_expr(a, b)}) / (sqrt({dot_expr(a, a)}) * sqrt({dot_expr(b, b)}))"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)}) / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


QUERY_VEC_ID = 0


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("q_emb"))
    )


# ---------------------------------------------------------------------------
# q_similarity_topk — exact brute-force cosine top-k
# ---------------------------------------------------------------------------


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by cosine to the vec_id=0 query vector. The
    1-row query side is broadcast (explicit hint); the scan side
    stays narrow and the top-k compiles to TakeOrderedAndProject —
    per-partition heaps, no global sort, no full shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(_query_vec(spark, sf_dir))
    # Persisted: k rows, replayed by the hybrid fusion, the recall
    # evaluation, and the ANN suite's brute branch.
    return tracked_persist(
        emb.crossJoin(q)
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            F.col("vec_id"),
            F.col("label"),
            F.expr(cosine_expr("embedding", "q_emb")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


ORACLE_SIMILARITY_TOPK = f"""
    WITH q AS (
        SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    )
    SELECT vec_id, label, {cosine_sql('embedding', 'q_emb')} AS cosine
    FROM embeddings CROSS JOIN q
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# q_embedding_near_dup — cosine near-dup pairs, blocked by label
# ---------------------------------------------------------------------------


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most-cosine-similar vector pairs, candidate-generated
    through sign-LSH codes (embedding-based near-dup — the fifth
    dedup family). Three bounded stages:

    1. **code**: 48-plane sign code per vector, materialized once
       (persist, repartitioned off the raw splits so the hyperplane
       fold parallelizes); the low 16 bits form the bucket key.
    2. **candidates**: keyed equi-join — one side multi-probes its
       bucket plus all 1-bit flips, the other keeps its raw bucket.
       Never a block-×-block join on a low-cardinality key.
    3. **shortlist + verify**: candidates ranked by 48-bit code
       Hamming distance (a cheap cosine surrogate), top-20k kept
       (total order: hamming, vec_a, vec_b), and only the shortlist
       pays the exact-cosine verify against the full vectors —
       clustered corpora can emit millions of candidates (measured
       1M pairs on 2k clustered vectors), and reranking a bounded
       shortlist is what caps the verify stage at scale.
    Ties broken by (vec_a, vec_b)."""
    emb_ids = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding")
    )
    par = spark.sparkContext.defaultParallelism
    hashed = (
        emb_ids.repartition(par, F.col("vec_id"))
        .select(
            F.col("vec_id"),
            F.expr(lsh_bucket_expr("embedding", NEARDUP_PLANES)).alias("code"),
        )
        .withColumn("bucket", F.col("code") % F.lit(1 << NEARDUP_BUCKET_BITS))
    )
    hashed = tracked_persist(hashed)
    probe_arr = (
        f"array_union(array(bucket), transform(sequence(0, {NEARDUP_BUCKET_BITS - 1}), "
        f"p -> bucket ^ shiftleft(cast(1 as bigint), p)))"
    )
    probes = hashed.select(
        F.col("vec_id"),
        F.col("code"),
        F.explode(F.expr(probe_arr)).alias("bucket"),
    )
    # Hamming is computed inside the join's codegen stage so the
    # dedup shuffle carries (vec_a, vec_b, ham) — one int instead of
    # two 64-bit codes per candidate row (clustered corpora emit
    # ~1M candidates from 2k vectors; the dedup exchange is the
    # widest point of the query).
    #
    # Two-stage shortlist: a per-bucket row_number pre-limit runs
    # BEFORE the global top-k. The join output is already hash-
    # distributed by bucket, so the window needs no extra exchange
    # (only a per-bucket sort), and it bounds the rows entering the
    # global TakeOrderedAndProject to shortlist-per-bucket — the
    # driver-side merge stays flat at arbitrary partition counts.
    # Result-invariant: any pair in the global top-k is within the
    # top-k of every bucket that contains it (fewer pairs precede it
    # in a bucket than globally under the same total order) — see the
    # NEARDUP_PRELIMIT coupling note at the constant definition.
    wb = Window.partitionBy("bucket").orderBy(
        F.asc("ham"), F.asc("vec_a"), F.asc("vec_b")
    )
    cand = (
        probes.alias("a")
        .join(hashed.alias("b"), "bucket")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr("bit_count(a.code ^ b.code)").cast("int").alias("ham"),
        )
        .withColumn("prn", F.row_number().over(wb))
        .where(F.col("prn") <= NEARDUP_PRELIMIT)
        .select("vec_a", "vec_b", "ham")
        .distinct()
    )
    shortlist = (
        cand.orderBy(F.asc("ham"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(NEARDUP_SHORTLIST)
        .select("vec_a", "vec_b")
    )
    return (
        shortlist.join(
            emb_ids.withColumnsRenamed({"vec_id": "vec_a", "embedding": "emb_a"}),
            "vec_a",
        )
        .join(
            emb_ids.withColumnsRenamed({"vec_id": "vec_b", "embedding": "emb_b"}),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.expr(cosine_expr("emb_a", "emb_b")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(25)
    )


ORACLE_EMBEDDING_NEAR_DUP_TEMPLATE = """
    WITH hashed AS (
        SELECT vec_id, {code} AS code,
               ({code}) % {bucket_mod} AS bucket
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id, code, unnest(list_distinct(list_prepend(bucket,
            list_transform(generate_series(0, {bucket_bits_minus_1}),
                           p -> xor(bucket, CAST(1 AS BIGINT) << p))))) AS bucket
        FROM hashed
    ),
    cand AS (
        SELECT DISTINCT vec_a, vec_b, ham FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   CAST(bit_count(xor(a.code, b.code)) AS INTEGER) AS ham,
                   row_number() OVER (
                       PARTITION BY bucket
                       ORDER BY bit_count(xor(a.code, b.code)) ASC,
                                a.vec_id ASC, b.vec_id ASC) AS prn
            FROM probes a JOIN hashed b USING (bucket)
            WHERE a.vec_id < b.vec_id
        )
        WHERE prn <= {prelimit}
    ),
    shortlist AS (
        SELECT vec_a, vec_b FROM cand
        ORDER BY ham ASC, vec_a ASC, vec_b ASC
        LIMIT {shortlist}
    )
    SELECT vec_a, vec_b, {cosine} AS cosine
    FROM shortlist
    JOIN embeddings ea ON ea.vec_id = vec_a
    JOIN embeddings eb ON eb.vec_id = vec_b
    ORDER BY cosine DESC, vec_a ASC, vec_b ASC
    LIMIT 25
"""


# ---------------------------------------------------------------------------
# q_ann_ivf_topk — IVF coarse-quantizer ANN
# ---------------------------------------------------------------------------


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: (1) centroid per label cell via order-independent
    integer-scaled sums; (2) rank cells by centroid cosine to the
    query, probe the best 2; (3) exact cosine over the probed cells
    only, top-10.

    At 1e9 vectors the centroid table is n_cells rows (broadcast
    both ways); step 3 scans ~n_probe/n_cells of the data with a
    partition-prunable `label IN (...)` predicate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(_query_vec(spark, sf_dir))

    flat = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    centroids = (
        flat.groupBy("label", "pos")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * CENTROID_SCALE).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, s, n))), "
                f"p -> cast(p.s as double) / ({float(CENTROID_SCALE)} * p.n))"
            ).alias("centroid")
        )
    )
    probed = (
        centroids.crossJoin(q)
        .select(
            F.col("label"),
            F.expr(cosine_expr("centroid", "q_emb")).alias("c_cos"),
        )
        .orderBy(F.desc("c_cos"), F.asc("label"))
        .limit(N_PROBE)
        .select("label")
    )
    return (
        emb.join(F.broadcast(probed), "label")
        .crossJoin(q)
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            F.col("vec_id"),
            F.col("label"),
            F.expr(cosine_expr("embedding", "q_emb")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


ORACLE_ANN_IVF_TOPK = f"""
    WITH q AS (
        SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    flat AS (
        SELECT label, i AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * {CENTROID_SCALE}) AS BIGINT) AS xi
        FROM embeddings CROSS JOIN UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    sums AS (
        SELECT label, pos, sum(xi) AS s, count(*) AS n
        FROM flat GROUP BY label, pos
    ),
    cents AS (
        SELECT label,
               list(CAST(s AS DOUBLE) / ({float(CENTROID_SCALE)} * n) ORDER BY pos) AS centroid
        FROM sums GROUP BY label
    ),
    probed AS (
        SELECT label FROM cents CROSS JOIN q
        ORDER BY {cosine_sql('centroid', 'q_emb')} DESC, label ASC
        LIMIT {N_PROBE}
    )
    SELECT vec_id, label, {cosine_sql('embedding', 'q_emb')} AS cosine
    FROM embeddings JOIN probed USING (label) CROSS JOIN q
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# q_ann_lsh_topk — sign-random-projection LSH with multi-probe
# ---------------------------------------------------------------------------
#
# Hyperplane weight for (plane p, dim d): derived from the polynomial
# hash h = (a·(p·64+d) + b) mod M, mapped to [-1, 1). Pure arithmetic
# → identical in both engines, no RNG at query time.

_LSH_A = 48271
_LSH_B = 11213


def _plane_weight_spark(p: str, d: str) -> str:
    return (
        f"(cast((({_LSH_A} * ({p} * 64 + {d}) + {_LSH_B}) % {MOD}) as double) "
        f"/ {float(MOD)} * 2.0 - 1.0)"
    )


def lsh_bucket_expr(vec: str, planes: int = LSH_PLANES) -> str:
    """Spark SQL: ``planes``-bit sign bucket — bit p set iff
    dot(plane_p, vec) > 0. Plane-p weight for dim d is derived
    arithmetically from (p, d), so Spark's 1-indexed fold below and
    DuckDB's 1-indexed lists agree exactly."""
    dot_p = (
        f"aggregate(sequence(1, size({vec})), cast(0.0 as double), "
        f"(acc, d) -> acc + {_plane_weight_spark('p', 'd')} * cast({vec}[d - 1] as double))"
    )
    return (
        f"aggregate(sequence(0, {planes - 1}), cast(0 as bigint), (acc, p) -> "
        f"acc + (CASE WHEN ({dot_p}) > 0.0 THEN shiftleft(cast(1 as bigint), p) "
        f"ELSE cast(0 as bigint) END))"
    )


def lsh_bucket_sql(vec: str, planes: int = LSH_PLANES) -> str:
    dot_p = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, len({vec})), "
        f"d -> (CAST((({_LSH_A} * (p * 64 + d) + {_LSH_B}) % {MOD}) AS DOUBLE) "
        f"/ {float(MOD)} * 2.0 - 1.0) * CAST({vec}[d] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(0, {planes - 1}), p -> "
        f"CASE WHEN ({dot_p}) > 0.0 THEN (CAST(1 AS BIGINT) << p) "
        f"ELSE CAST(0 AS BIGINT) END)), (acc, v) -> acc + v)"
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN: hash every vector to a 6-bit sign bucket; probe the
    query's bucket plus its 6 one-bit-flip neighbors (multi-probe —
    recall without extra tables); exact cosine within probed buckets,
    top-10. Candidate lookup is a keyed (broadcastable) equi-join on
    bucket id — never a cross join against the corpus."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(lsh_bucket_expr("embedding"))
    )
    probes = (
        _query_vec(spark, sf_dir)
        .select(
            F.col("q_emb"),
            F.explode(
                F.expr(
                    f"array_union(array({lsh_bucket_expr('q_emb')}), "
                    f"transform(sequence(0, {LSH_PLANES - 1}), "
                    f"p -> {lsh_bucket_expr('q_emb')} ^ shiftleft(cast(1 as bigint), p)))"
                )
            ).alias("bucket"),
        )
    )
    return (
        emb.join(F.broadcast(probes), "bucket")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .select(
            F.col("vec_id"),
            F.col("label"),
            F.col("bucket"),
            F.expr(cosine_expr("embedding", "q_emb")).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(TOP_K)
    )


ORACLE_ANN_LSH_TOPK = f"""
    WITH hashed AS (
        SELECT vec_id, label, embedding, {lsh_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT embedding AS q_emb, {lsh_bucket_sql('embedding')} AS q_bucket
        FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ),
    probes AS (
        SELECT q_emb, unnest(list_distinct(list_prepend(q_bucket,
            list_transform(generate_series(0, {LSH_PLANES - 1}),
                           p -> xor(q_bucket, CAST(1 AS BIGINT) << p))))) AS bucket
        FROM q
    )
    SELECT vec_id, label, bucket, {cosine_sql('embedding', 'q_emb')} AS cosine
    FROM hashed JOIN probes USING (bucket)
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id ASC
    LIMIT {TOP_K}
"""


# ---------------------------------------------------------------------------
# q_ann_batch_topk — batched multi-query ANN (one corpus pass, Q queries)
# ---------------------------------------------------------------------------

BATCH_QUERY_IDS = (1, 2, 3)
BATCH_TOP_K = 5


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN — the production shape: a *set* of query vectors
    answered in ONE corpus pass instead of one scan per query. Every
    query explodes to its LSH bucket plus the 6 one-bit-flip probes
    (broadcast — queries are small by definition); the corpus streams
    through a single keyed equi-join on bucket id, and per-query
    top-5 ranks only the bucket-matched candidates (each corpus
    vector lives in exactly one bucket, so a query never sees a
    candidate twice). The ranking window shuffles candidates keyed by
    q_id — bucket-bounded rows, never the Q×N cross product a naive
    batch join would make. More planes shrink the probed fraction at
    corpus scale; 6 here matches the single-query twin so the two are
    comparable."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(lsh_bucket_expr("embedding"))
    )
    ids = ", ".join(str(i) for i in BATCH_QUERY_IDS)
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.expr(f"vec_id IN ({ids})"))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    )
    probes = queries.select(
        "q_id",
        "q_emb",
        F.explode(
            F.expr(
                f"array_union(array({lsh_bucket_expr('q_emb')}), "
                f"transform(sequence(0, {LSH_PLANES - 1}), "
                f"p -> {lsh_bucket_expr('q_emb')} ^ shiftleft(cast(1 as bigint), p)))"
            )
        ).alias("bucket"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        emb.join(F.broadcast(probes), "bucket")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            F.expr(cosine_expr("embedding", "q_emb")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= BATCH_TOP_K)
    )


ORACLE_ANN_BATCH_TOPK = f"""
    WITH hashed AS (
        SELECT vec_id, label, embedding, {lsh_bucket_sql('embedding')} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS q_id, embedding AS q_emb,
               {lsh_bucket_sql('embedding')} AS q_bucket
        FROM embeddings WHERE vec_id IN ({', '.join(str(i) for i in BATCH_QUERY_IDS)})
    ),
    probes AS (
        SELECT q_id, q_emb, unnest(list_distinct(list_prepend(q_bucket,
            list_transform(generate_series(0, {LSH_PLANES - 1}),
                           p -> xor(q_bucket, CAST(1 AS BIGINT) << p))))) AS bucket
        FROM q
    ),
    scored AS (
        SELECT p.q_id, h.vec_id, h.label,
               {cosine_sql('h.embedding', 'p.q_emb')} AS cosine
        FROM hashed h JOIN probes p USING (bucket)
        WHERE h.vec_id <> p.q_id
    )
    SELECT q_id, vec_id, label, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC
        ) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {BATCH_TOP_K}
"""


# Filled here (not at its definition site) because it needs
# lsh_bucket_sql, defined above.
ORACLE_EMBEDDING_NEAR_DUP = ORACLE_EMBEDDING_NEAR_DUP_TEMPLATE.format(
    code=lsh_bucket_sql("embedding", NEARDUP_PLANES),
    bucket_mod=1 << NEARDUP_BUCKET_BITS,
    bucket_bits_minus_1=NEARDUP_BUCKET_BITS - 1,
    prelimit=NEARDUP_PRELIMIT,
    shortlist=NEARDUP_SHORTLIST,
    cosine=cosine_sql("ea.embedding", "eb.embedding"),
)


# ---------------------------------------------------------------------------
# q_knn_graph — E44: k-NN graph construction (all-vectors neighbor lists)
# ---------------------------------------------------------------------------

KNN_K = 3
# Stage-1 Hamming shortlist size per vector: only these pay the exact
# cosine fold (two-stage ANN; see q_knn_graph).
HAM_SHORTLIST = 16


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph build: top-K cosine neighbors for EVERY vector —
    the all-nodes generalization of batched ANN, and the substrate
    graph-based curation runs on (SemDeDup clustering diagnostics,
    connected-component dedup over semantic edges, kNN-classifier
    label propagation).

    Candidate generation is the LSH bucket equi-join: every vector
    lives in exactly ONE raw bucket; the probe side explodes each
    vector to its own bucket plus the {LSH_PLANES} one-bit-flip
    probes (`array_union` dedups, so a candidate pair appears at most
    once). Candidates per vector are bounded by probes × bucket
    population — never the N² cross product — and the per-vector
    ranking window shuffles only those bounded candidates, keyed by
    source vector. At 1e9+ vectors both shuffles (bucket join,
    ranking) stay keyed and bounded; more planes shrink bucket
    population to hold the per-vector candidate budget flat.

    Two-stage ranking — the production ANN shape: the bucket join
    scores candidates by the CHEAP 48-bit code Hamming distance only
    (one xor + popcount per pair; the candidate shuffle carries ids
    and one int, never vectors — the q_embedding_near_dup lesson),
    per-source WindowGroupLimit heaps trim to the HAM_SHORTLIST
    best, and only that bounded shortlist joins back to the vector
    table to pay the exact-cosine fold (measured 7 s → the fix at
    sf0.1: exact folds drop from every candidate pair to ≤ shortlist
    per vector). Neighbors are the top-K by exact cosine AMONG the
    Hamming shortlist — the standard two-stage recall contract,
    deterministic both stages (ties: hamming then nb_id; cosine then
    nb_id). Vectors whose probed buckets hold fewer candidates emit
    fewer rows. Both join inputs carry an EXPLICIT fixed-count
    repartition on the bucket key: the pair stage is CPU-bound on
    kilobyte-scale shuffle bytes, exactly the shape AQE's byte-based
    coalescing collapses to one task."""
    par = spark.sparkContext.defaultParallelism
    nrm = (
        "sqrt(aggregate(zip_with(ed, ed, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, v) -> acc + v))"
    )
    hashed = tracked_persist(
        load_table(spark, sf_dir, "embeddings")
        .repartition(par, F.col("vec_id"))
        .select(
            "vec_id",
            "label",
            F.expr("cast(embedding as array<double>)").alias("ed"),
            F.expr(lsh_bucket_expr("embedding", NEARDUP_PLANES)).alias("code"),
        )
        .withColumn("bucket", F.col("code") % F.lit(1 << LSH_PLANES))
        .withColumn("nrm", F.expr(nrm))
    )
    probes = hashed.select(
        F.col("vec_id").alias("src_id"),
        F.col("code").alias("src_code"),
        F.explode(
            F.expr(
                f"array_union(array(bucket), transform(sequence(0, {LSH_PLANES - 1}), "
                f"p -> bucket ^ shiftleft(cast(1 as bigint), p)))"
            )
        ).alias("bucket"),
    )
    wham = Window.partitionBy("src_id").orderBy(F.asc("ham"), F.asc("nb_id"))
    shortlist = (
        probes.repartition(par, F.col("bucket"))
        .join(
            hashed.select(
                F.col("vec_id").alias("nb_id"),
                F.col("code").alias("nb_code"),
                "bucket",
            ).repartition(par, F.col("bucket")),
            "bucket",
        )
        .where(F.col("src_id") != F.col("nb_id"))
        .select(
            "src_id",
            "nb_id",
            F.expr("bit_count(src_code ^ nb_code)").alias("ham"),
        )
        .withColumn("hrank", F.row_number().over(wham))
        .where(F.col("hrank") <= HAM_SHORTLIST)
        .select("src_id", "nb_id")
    )
    dot = (
        "aggregate(zip_with(src_ed, nb_ed, (x, y) -> x * y), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("nb_id"))
    # Persisted: N·k edge rows, read by the classifier vote layer, the
    # margin miner and the ANN suite's knn branch.
    return tracked_persist(
        shortlist.join(
            hashed.select(
                F.col("vec_id").alias("src_id"),
                F.col("ed").alias("src_ed"),
                F.col("nrm").alias("src_nrm"),
            ),
            "src_id",
        )
        .join(
            hashed.select(
                F.col("vec_id").alias("nb_id"),
                F.col("label").alias("nb_label"),
                F.col("ed").alias("nb_ed"),
                F.col("nrm").alias("nb_nrm"),
            ),
            "nb_id",
        )
        .select(
            "src_id",
            "nb_id",
            "nb_label",
            F.expr(f"({dot}) / (src_nrm * nb_nrm)").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
    )


ORACLE_KNN_GRAPH = f"""
    WITH hashed AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
               {lsh_bucket_sql('embedding', NEARDUP_PLANES)} AS code
        FROM embeddings
    ),
    normed AS (
        SELECT vec_id, label, ed, code,
               code % {1 << LSH_PLANES} AS bucket,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(ed, x -> x * x)), (acc, v) -> acc + v)) AS nrm
        FROM hashed
    ),
    probes AS (
        SELECT vec_id AS src_id, code AS src_code,
               unnest(list_distinct(list_prepend(bucket,
                   list_transform(generate_series(0, {LSH_PLANES - 1}),
                       p -> xor(bucket, (CAST(1 AS BIGINT) << p)))))) AS bucket
        FROM normed
    ),
    shortlist AS (
        SELECT src_id, nb_id FROM (
            SELECT p.src_id, h.vec_id AS nb_id,
                   row_number() OVER (
                       PARTITION BY p.src_id
                       ORDER BY bit_count(xor(p.src_code, h.code)) ASC,
                                h.vec_id ASC
                   ) AS hrank
            FROM probes p JOIN normed h USING (bucket)
            WHERE p.src_id <> h.vec_id
        ) WHERE hrank <= {HAM_SHORTLIST}
    ),
    scored AS (
        SELECT s.src_id, s.nb_id, hb.label AS nb_label,
               (list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(generate_series(1, len(ha.ed)),
                        i -> ha.ed[i] * hb.ed[i])), (acc, v) -> acc + v))
                   / (ha.nrm * hb.nrm) AS cosine
        FROM shortlist s
        JOIN normed ha ON ha.vec_id = s.src_id
        JOIN normed hb ON hb.vec_id = s.nb_id
    )
    SELECT src_id, nb_id, nb_label, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY src_id ORDER BY cosine DESC, nb_id ASC
        ) AS INTEGER) AS rank
        FROM scored
    ) WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# q_margin_pairs — E83: margin-based mutual-kNN pair mining
# ---------------------------------------------------------------------------

MARGIN_MIN_E6 = 1_000_000  # keep pairs scoring above the neighborhood mean

# Identical arithmetic text in both engines: every input is an exact
# integer (e6-pinned cosines, counts), so the margin is ONE double
# expression tree over integers — deterministic cross-engine.
_MARGIN_E6 = (
    "cast(floor(2.0 * cos_e6 / "
    "(pen_sum_a / pen_cnt_a + pen_sum_b / pen_cnt_b) * 1e6 + 0.5) as bigint)"
)


def q_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based mutual-kNN pair mining — the CCMatrix/LASER-style
    bitext/alignment miner, the operator that pairs parallel or
    near-parallel documents across two corpora for translation /
    contrastive training data. Sides are the vec_id parity halves
    (the stand-in for two languages); candidates are the kNN-graph
    edges that CROSS sides; a pair must be MUTUAL (x in y's
    neighborhood and y in x's); and the score is the ratio margin
    margin(x,y) = cos(x,y) / ((pen(x) + pen(y)) / 2), where pen(v) is
    the mean cosine of v's cross-side neighborhood — pairs only count
    if they beat what their endpoints' neighborhoods offer on
    average, which kills hub vectors that are merely close to
    everything. Pairs below margin 1.0 are dropped.

    Built ON the persisted kNN graph (q_knn_graph — bounded LSH
    candidate generation, two-stage Hamming→cosine ranking), so the
    mining layer adds only key-sized aggregations and a semi-join:
    per-vector penalty sums over ≤ K edges, the mutuality check, and
    one margin expression per surviving pair. At 1e9 vectors the
    extra shuffles carry (id, 3 ints) rows — the graph build
    dominates, exactly as in the published pipelines. Determinism:
    cosines are e6-pinned BEFORE the penalty average (a raw double
    sum would be summation-order-dependent), and the margin is a
    single double expression over exact integers, spelled with the
    same text in the DuckDB oracle."""
    return _margin_pairs(q_knn_graph(spark, sf_dir))


def _margin_pairs(knn: DataFrame) -> DataFrame:
    """q_margin_pairs over an already built q_knn_graph."""
    cross = knn.where(
        (F.col("src_id") % 2) != (F.col("nb_id") % 2)
    ).select(
        "src_id",
        "nb_id",
        F.expr("cast(floor(cosine * 1e6 + 0.5) as bigint)").alias("cos_e6"),
    )
    pen = cross.groupBy("src_id").agg(
        F.sum("cos_e6").alias("pen_sum"),
        F.count(F.lit(1)).alias("pen_cnt"),
    )
    fwd = cross.where(F.col("src_id") % 2 == 0).select(
        F.col("src_id").alias("a_id"),
        F.col("nb_id").alias("b_id"),
        "cos_e6",
    )
    rev = cross.select(
        F.col("nb_id").alias("a_id"), F.col("src_id").alias("b_id")
    )
    mutual = fwd.join(rev, ["a_id", "b_id"], "left_semi")
    return (
        mutual.join(
            pen.select(
                F.col("src_id").alias("a_id"),
                F.col("pen_sum").alias("pen_sum_a"),
                F.col("pen_cnt").alias("pen_cnt_a"),
            ),
            "a_id",
        )
        .join(
            pen.select(
                F.col("src_id").alias("b_id"),
                F.col("pen_sum").alias("pen_sum_b"),
                F.col("pen_cnt").alias("pen_cnt_b"),
            ),
            "b_id",
        )
        .withColumn("margin_e6", F.expr(_MARGIN_E6))
        .where(F.col("margin_e6") >= MARGIN_MIN_E6)
        .select("a_id", "b_id", "cos_e6", "margin_e6")
    )


ORACLE_MARGIN_PAIRS = f"""
    WITH knn AS ({ORACLE_KNN_GRAPH}),
    cross_e AS (
        SELECT src_id, nb_id,
               CAST(floor(cosine * 1e6 + 0.5) AS BIGINT) AS cos_e6
        FROM knn WHERE src_id % 2 <> nb_id % 2
    ),
    pen AS (
        SELECT src_id, CAST(sum(cos_e6) AS BIGINT) AS pen_sum,
               count(*) AS pen_cnt
        FROM cross_e GROUP BY src_id
    ),
    mutual AS (
        SELECT f.src_id AS a_id, f.nb_id AS b_id, f.cos_e6
        FROM cross_e f
        WHERE f.src_id % 2 = 0
          AND EXISTS (
              SELECT 1 FROM cross_e b
              WHERE b.src_id = f.nb_id AND b.nb_id = f.src_id
          )
    ),
    scored AS (
        SELECT a_id, b_id, cos_e6,
               {_MARGIN_E6.replace('cast(', 'CAST(').replace(' as bigint', ' AS BIGINT')}
                   AS margin_e6
        FROM mutual m
        JOIN (SELECT src_id AS a_id, pen_sum AS pen_sum_a,
                     pen_cnt AS pen_cnt_a FROM pen) pa USING (a_id)
        JOIN (SELECT src_id AS b_id, pen_sum AS pen_sum_b,
                     pen_cnt AS pen_cnt_b FROM pen) pb USING (b_id)
    )
    SELECT a_id, b_id, cos_e6, margin_e6
    FROM scored WHERE margin_e6 >= {MARGIN_MIN_E6}
"""


# ---------------------------------------------------------------------------
# q_ann_recall — E57: index-quality self-evaluation (recall@k)
# ---------------------------------------------------------------------------


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the approximate indexes against the exact
    brute-force baseline — the measure-don't-guess loop every vector
    index needs before anyone trusts it at scale: how many of the
    true top-k does each approximate method return for the same
    query? Pure composition of the certified retrievals: semi-join
    each method's id list against the exact list and count. All
    integer except the final e6-scaled ratio (exact division of two
    small ints, floor-rounded)."""
    return _ann_recall(spark, sf_dir, q_similarity_topk(spark, sf_dir))


def _ann_recall(spark: SparkSession, sf_dir: str, exact_topk: DataFrame) -> DataFrame:
    """q_ann_recall against an already built q_similarity_topk."""
    exact = exact_topk.select("vec_id")
    rows = []
    for method, q in (
        ("ivf", q_ann_ivf_topk),
        ("lsh", q_ann_lsh_topk),
    ):
        hits = (
            q(spark, sf_dir)
            .select("vec_id")
            .join(exact, "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        rows.append(
            hits.select(
                F.lit(method).alias("method"),
                F.lit(TOP_K).alias("k"),
                "n_hits",
                F.expr(
                    f"cast(floor(cast(n_hits as double) / {TOP_K} * 1e6 + 0.5) "
                    "as bigint)"
                ).alias("recall_e6"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


ORACLE_ANN_RECALL = f"""
    WITH exact_side AS ({ORACLE_SIMILARITY_TOPK}),
    ivf_side AS ({ORACLE_ANN_IVF_TOPK}),
    lsh_side AS ({ORACLE_ANN_LSH_TOPK}),
    ivf_hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hits FROM ivf_side i
        WHERE EXISTS (SELECT 1 FROM exact_side e WHERE e.vec_id = i.vec_id)
    ),
    lsh_hits AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hits FROM lsh_side l
        WHERE EXISTS (SELECT 1 FROM exact_side e WHERE e.vec_id = l.vec_id)
    )
    SELECT 'ivf' AS method, {TOP_K} AS k, n_hits,
           CAST(floor(CAST(n_hits AS DOUBLE) / {TOP_K} * 1e6 + 0.5) AS BIGINT)
               AS recall_e6
    FROM ivf_hits
    UNION ALL
    SELECT 'lsh', {TOP_K}, n_hits,
           CAST(floor(CAST(n_hits AS DOUBLE) / {TOP_K} * 1e6 + 0.5) AS BIGINT)
    FROM lsh_hits
"""


# ---------------------------------------------------------------------------
# q_knn_classify — E50: kNN majority-vote label prediction
# ---------------------------------------------------------------------------


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification riding the E44 graph: each vector's label
    is predicted by majority vote over its top-K neighbors' labels
    (ties: smaller label wins — deterministic), scored against the
    true label — the label-propagation / weak-supervision primitive
    (predict a quality tag for unlabeled docs from their labeled
    neighbors). Adds only group-by work on the graph's edge list: one
    (src, label) count, one per-src argmax window, one broadcast join
    back to the true labels. Emits per-vector rows so the hash pins
    every single prediction, not just the aggregate accuracy."""
    return _knn_classify(spark, sf_dir, q_knn_graph(spark, sf_dir))


def _knn_classify(spark: SparkSession, sf_dir: str, knn: DataFrame) -> DataFrame:
    """q_knn_classify over an already built q_knn_graph."""
    edges = knn.select("src_id", "nb_label")
    votes = edges.groupBy("src_id", "nb_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("src_id").orderBy(
        F.desc("n_votes"), F.asc("nb_label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("src_id", F.col("nb_label").alias("pred_label"), "n_votes")
    )
    truth = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("src_id"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "src_id").select(
        "src_id",
        "pred_label",
        "true_label",
        "n_votes",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    )


ORACLE_KNN_CLASSIFY = f"""
    WITH knn AS ({ORACLE_KNN_GRAPH}),
    votes AS (
        SELECT src_id, nb_label, CAST(count(*) AS BIGINT) AS n_votes
        FROM knn GROUP BY src_id, nb_label
    ),
    pred AS (
        SELECT src_id, nb_label AS pred_label, n_votes FROM (
            SELECT *, row_number() OVER (
                PARTITION BY src_id ORDER BY n_votes DESC, nb_label ASC
            ) AS rn FROM votes
        ) WHERE rn = 1
    )
    SELECT p.src_id, p.pred_label, e.label AS true_label, p.n_votes,
           CAST(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END AS INTEGER)
               AS correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.src_id
"""


# ---------------------------------------------------------------------------
# q_semantic_dedup — SemDeDup: cluster-blocked embedding dedup (E41)
# ---------------------------------------------------------------------------
# q_random_projection — E68: signed random projection (integer-exact SRP)
# ---------------------------------------------------------------------------

SRP_DIM = 16          # output dimensionality
SRP_SCALE = 1000      # component quantization (exact int64 arithmetic)


def _srp_sign(i: str, j: str) -> str:
    """±1 projection-matrix entry from a deterministic integer hash of
    (input dim i, output dim j) — identical text in both engines; the
    mod-97 scramble decorrelates the parity from i+j."""
    return (
        f"CASE WHEN ((({i}) * CAST(1315423911 AS BIGINT) "
        f"+ ({j}) * CAST(2654435761 AS BIGINT)) % 97) % 2 = 0 "
        f"THEN 1 ELSE -1 END"
    )


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection (Achlioptas/SRP): compress every
    64-d embedding to SRP_DIM signed-integer components via a
    deterministic ±1 matrix — the database-friendly dimensionality
    reduction under LSH families and ANN pre-filters (projected
    distances approximate originals within Johnson-Lindenstrauss
    bounds; signs of the projections ARE the simhash-style code).

    Everything is INTEGER-EXACT: components quantize to int64
    (×SRP_SCALE) before the matrix multiply, the ±1 entries come from
    an integer hash of (i, j), and each output component is an exact
    int64 fold — no float addition order, no rounding surface at all;
    the serialized projection string pins every component. Narrow
    per-row higher-order expressions only (64×16 multiply-adds inside
    whole-stage codegen): zero shuffles — the featurizer streams the
    corpus once, embarrassingly parallel, at any scale. The explicit
    repartition spreads single-file testdata off one split (the
    q_feature_hash lesson)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    )
    qx = (
        f"transform(embedding, x -> "
        f"cast(floor(cast(x as double) * {SRP_SCALE} + 0.5) as bigint))"
    )
    proj = (
        f"transform(sequence(0, {SRP_DIM - 1}), j -> "
        f"aggregate(sequence(1, size(q)), cast(0 as bigint), "
        f"(acc, i) -> acc + element_at(q, i) * ({_srp_sign('i - 1', 'j')})))"
    )
    return (
        emb.select("vec_id", F.expr(qx).alias("q"))
        .select("vec_id", F.expr(proj).alias("y"))
        .select(
            "vec_id",
            F.expr("array_join(transform(y, v -> cast(v as string)), '|')").alias(
                "proj"
            ),
            F.expr(
                "aggregate(y, cast(0 as bigint), (acc, v) -> acc + abs(v))"
            ).alias("l1"),
            F.expr("cast(size(filter(y, v -> v > 0)) as bigint)").alias("n_pos"),
        )
    )


ORACLE_RANDOM_PROJECTION = f"""
    WITH qx AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * {SRP_SCALE} + 0.5) AS BIGINT))
                   AS q
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id,
               list_transform(generate_series(0, {SRP_DIM - 1}), j ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, len(q)),
                           i -> q[i] * ({_srp_sign('i - 1', 'j')}))),
                       (acc, v) -> acc + v)) AS y
        FROM qx
    )
    SELECT vec_id,
           array_to_string(list_transform(y, v -> CAST(v AS VARCHAR)), '|')
               AS proj,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(y, v -> abs(v))), (acc, v) -> acc + v) AS l1,
           CAST(len(list_filter(y, v -> v > 0)) AS BIGINT) AS n_pos
    FROM proj
"""


# ---------------------------------------------------------------------------

SEMDEDUP_K = 8          # seed centroids (vec_id 0..K-1)
SEMDEDUP_SCALE = 1000   # component quantization for exact integer math
# cosine >= 0.35  ⇔  dot > 0 AND 400·dot² >= 49·|a|²·|b|²  — all-integer
# (t² = 49/400), so the threshold decision is bit-identical cross-engine
# with zero float ops. Magnitude check: |x| ≤ 0.53 ⇒ scaled |aᵢ| ≤ 530,
# dot ≤ 64·530² ≈ 1.8e7, 400·dot² ≈ 1.3e17 — inside BIGINT. (0.35 is
# tuned to this synthetic corpus's cosine spread — max pairwise ≈ 0.51
# — so the dup arm actually fires and the hash certifies it; a real
# SemDeDup run uses ~0.8+ on contentful embeddings.)
SEMDEDUP_T2_NUM = 49
SEMDEDUP_T2_DEN = 400
# Pair-join key space = K clusters × S slices (see semantic_dup_pairs)
SEMDEDUP_SLICES = 8

_INT_VEC = (
    f"transform(embedding, x -> cast(floor(cast(x as double) * {SEMDEDUP_SCALE}) as bigint))"
)
_INT_N2 = "aggregate(transform(v, x -> x * x), cast(0 as bigint), (acc, e) -> acc + e)"


def _semdedup_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized vectors + nearest-seed-centroid assignment.

    The K-row centroid table is collapsed to a single array row and
    broadcast, so assignment is a NARROW ×1 pass (argmin folded into
    one `array_min(transform(...))` expression) — no K·N window
    shuffle like the Lloyd-round `_assign` in plans/iterative.py
    needs. At 100 TB this is the point: cluster assignment touches
    every vector and must not shuffle them."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        # Explicit spread off the raw file splits: the quantize +
        # argmin pass is CPU-bound on kB-scale input, the shape AQE
        # byte-coalescing would otherwise single-task (same fix as
        # q_knn_graph).
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    )
    scaled = emb.select("vec_id", F.expr(_INT_VEC).alias("v")).select(
        "vec_id", "v", F.expr(_INT_N2).alias("n2")
    )
    cents = (
        scaled.where(F.col("vec_id") < SEMDEDUP_K)
        .select(F.struct(F.col("vec_id").alias("cluster"), F.col("v").alias("cv")).alias("s"))
        .agg(F.array_sort(F.collect_list("s")).alias("cents"))
    )
    sq = (
        "aggregate(zip_with(v, c.cv, (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, e) -> acc + e)"
    )
    return scaled.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "v",
        "n2",
        F.expr(
            f"array_min(transform(cents, c -> struct({sq} as d, c.cluster as cluster))).cluster"
        ).alias("cluster"),
    )


def semantic_dup_pairs(
    spark: SparkSession, sf_dir: str, assigned: DataFrame | None = None
) -> DataFrame:
    """SemDeDup candidate pairs above the cosine threshold:
    (cluster, vec_a, vec_b) with vec_a < vec_b, pairwise ONLY within
    a cluster (the cluster is the blocking key — the quadratic is
    bounded by cluster population, never corpus-wide). One shuffle on
    the cluster key for the self-join; the threshold test is exact
    integer arithmetic (see SEMDEDUP_T2_*). Callers that also need
    the assignment itself pass a persisted ``assigned`` so the corpus
    is scanned once (q_semantic_dedup); standalone the two join sides
    re-derive the narrow assignment inline — pipelined codegen work,
    the same trade-off documented on q_near_dup_suite's branches."""
    if assigned is None:
        assigned = _semdedup_assigned(spark, sf_dir)
    # The cluster key alone has only K distinct values — K tasks max,
    # however many cores exist. Slicing side A by vec_id (side B
    # replicated across the S slices) multiplies the join key space
    # to K·S so the pairwise fold spreads across the cluster; each
    # (a, b) pair still meets exactly once (a lives in one slice).
    # The cost is an S× replication of one side's shuffle — the
    # standard blocked-quadratic trade, bounded and explicit.
    par = spark.sparkContext.defaultParallelism
    a = (
        assigned.withColumn(
            "slice", F.pmod(F.col("vec_id"), F.lit(SEMDEDUP_SLICES))
        )
        .repartition(par, F.col("cluster"), F.col("slice"))
        .alias("a")
    )
    b = (
        assigned.select(
            "cluster",
            "vec_id",
            "v",
            "n2",
            F.explode(F.expr(f"sequence(0, {SEMDEDUP_SLICES - 1})")).alias("slice"),
        )
        .repartition(par, F.col("cluster"), F.col("slice"))
        .alias("b")
    )
    dot = (
        "aggregate(zip_with(a.v, b.v, (x, y) -> x * y), "
        "cast(0 as bigint), (acc, e) -> acc + e)"
    )
    return (
        a.join(
            b,
            on=[
                F.col("a.cluster") == F.col("b.cluster"),
                F.col("a.slice") == F.col("b.slice"),
                F.col("a.vec_id") < F.col("b.vec_id"),
            ],
        )
        .select(
            F.col("a.cluster").alias("cluster"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(dot).alias("dot"),
            F.col("a.n2").alias("n2a"),
            F.col("b.n2").alias("n2b"),
        )
        .where(
            (F.col("dot") > 0)
            & (
                F.lit(SEMDEDUP_T2_DEN) * F.col("dot") * F.col("dot")
                >= F.lit(SEMDEDUP_T2_NUM) * F.col("n2a") * F.col("n2b")
            )
        )
        .select("cluster", "vec_a", "vec_b")
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic dedup): cluster the embedding corpus, then
    prune within-cluster near-duplicates by cosine — the curation
    step that removes *semantically* redundant documents exact/LSH
    dedup can't see. A vector is pruned iff some smaller-id vector in
    its cluster has cosine ≥ 0.35 (keep-first rule, deterministic).

    Physical shape: narrow broadcast-argmin assignment (no K·N
    shuffle), cluster-keyed self-join (quadratic bounded by cluster
    size — the SemDeDup blocking contract), distinct + anti-join for
    the kept set. K here is a small certifiable constant; at 100 TB
    the codebook comes from q_kmeans (K ∝ √N) so cluster populations
    stay bounded as the corpus grows — the plan shape is unchanged.

    Returns per-cluster totals: members, pruned, kept, min kept id.
    The assignment feeds four consumers (both self-join sides, the
    member counts, the kept set), so it is persisted — one corpus
    scan, not four."""
    assigned = tracked_persist(_semdedup_assigned(spark, sf_dir))
    pruned = (
        semantic_dup_pairs(spark, sf_dir, assigned=assigned)
        .select("cluster", F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    kept = assigned.join(pruned, ["cluster", "vec_id"], "left_anti")
    members = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    kept_agg = kept.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_kept"), F.min("vec_id").alias("min_kept_vec_id")
    )
    return members.join(kept_agg, "cluster").select(
        "cluster",
        "n_members",
        (F.col("n_members") - F.col("n_kept")).alias("n_pruned"),
        "n_kept",
        "min_kept_vec_id",
    )


# Shared CTE prefix: quantized vectors, seed centroids, assignment,
# and threshold-filtered within-cluster pairs (DuckDB twin of
# semantic_dup_pairs; the argmin is a row_number — the oracle mirrors
# semantics, not the physical plan).
_SEMANTIC_CTES = f"""
    scaled AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SEMDEDUP_SCALE}) AS BIGINT)) AS v
        FROM embeddings
    ),
    wn AS (
        SELECT vec_id, v,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(v, x -> x * x)), (acc, e) -> acc + e) AS n2
        FROM scaled
    ),
    cents AS (
        SELECT vec_id AS cluster, v AS cv FROM scaled WHERE vec_id < {SEMDEDUP_K}
    ),
    assigned AS (
        SELECT vec_id, v, n2, cluster FROM (
            SELECT w.vec_id, w.v, w.n2, c.cluster,
                   row_number() OVER (
                       PARTITION BY w.vec_id
                       ORDER BY list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(generate_series(1, len(w.v)),
                               i -> (w.v[i] - c.cv[i]) * (w.v[i] - c.cv[i]))),
                           (acc, e) -> acc + e) ASC, c.cluster ASC) AS rn
            FROM wn w CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    sem_pairs AS (
        SELECT cluster, vec_a, vec_b FROM (
            SELECT a.cluster AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, len(a.v)),
                           i -> a.v[i] * b.v[i])), (acc, e) -> acc + e) AS dot,
                   a.n2 AS n2a, b.n2 AS n2b
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        )
        WHERE dot > 0
          AND {SEMDEDUP_T2_DEN} * dot * dot >= {SEMDEDUP_T2_NUM} * n2a * n2b
    )
"""


ORACLE_SEMANTIC_DEDUP = f"""
    WITH {_SEMANTIC_CTES},
    pruned AS (SELECT DISTINCT cluster, vec_b AS vec_id FROM sem_pairs),
    kept AS (
        SELECT s.cluster, s.vec_id FROM assigned s
        LEFT JOIN pruned p ON p.cluster = s.cluster AND p.vec_id = s.vec_id
        WHERE p.vec_id IS NULL
    )
    SELECT m.cluster,
           m.n_members,
           m.n_members - k.n_kept AS n_pruned,
           k.n_kept,
           k.min_kept_vec_id
    FROM (SELECT cluster, count(*) AS n_members FROM assigned GROUP BY cluster) m
    JOIN (SELECT cluster, count(*) AS n_kept, min(vec_id) AS min_kept_vec_id
          FROM kept GROUP BY cluster) k USING (cluster)
"""


# The suite branch certifies the pair list itself (ext_dedup's
# q_near_dup_suite 'semantic' branch selects from this).
ORACLE_SEMANTIC_PAIRS = f"""
    WITH {_SEMANTIC_CTES}
    SELECT cluster, vec_a, vec_b FROM sem_pairs
"""


def q_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 consolidated certification row: brute-force exact top-10,
    IVF-probed top-10, and LSH-bucketed top-10 for the same query
    vector, plus the batched multi-query form (3 queries, one corpus
    pass, per-query top-5) — tagged by method and unioned. ``q_id``
    identifies the query vector (the single-query branches all use
    vec_id 0). Each branch keeps its own physical strategy (broadcast
    1-row query + TakeOrdered heaps / pruned `label IN` probe scan /
    keyed bucket equi-join / broadcast probe set + bounded ranking
    window); the union is plan-level only — no cross-branch shuffle.
    Single-method twins stay registered in the tail."""
    qid = F.lit(QUERY_VEC_ID).cast("long").alias("q_id")
    # Built once and read by several branches: the exact top-k (brute,
    # recall) and the kNN graph (knn, vote, margin).
    exact = q_similarity_topk(spark, sf_dir)
    graph = q_knn_graph(spark, sf_dir)
    brute = exact.select(
        F.lit("brute").alias("method"), qid, "vec_id", "label", "cosine"
    )
    ivf = q_ann_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), qid, "vec_id", "label", "cosine"
    )
    lsh = q_ann_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), qid, "vec_id", "label", "cosine"
    )
    batch = q_ann_batch_topk(spark, sf_dir).select(
        F.lit("batch").alias("method"), "q_id", "vec_id", "label", "cosine"
    )
    # E44: the all-vectors k-NN graph — every vector is a query.
    knn = graph.select(
        F.lit("knn").alias("method"),
        F.col("src_id").alias("q_id"),
        F.col("nb_id").alias("vec_id"),
        F.col("nb_label").alias("label"),
        "cosine",
    )
    # E50: the vote layer on that graph, projected onto the suite
    # shape — vec_id carries the PREDICTED label, label the true one,
    # cosine the 0/1 correctness flag (documented column reuse; the
    # hash pins every per-vector prediction).
    vote = _knn_classify(spark, sf_dir, graph).select(
        F.lit("knn_vote").alias("method"),
        F.col("src_id").alias("q_id"),
        F.col("pred_label").cast("long").alias("vec_id"),
        F.col("true_label").alias("label"),
        F.col("correct").cast("double").alias("cosine"),
    )
    # E57: index-quality self-eval projected onto the suite shape —
    # q_id carries k, vec_id the hit count, cosine the e6-scaled
    # recall (documented column reuse; 2 rows, hash pins both).
    recall = _ann_recall(spark, sf_dir, exact).select(
        F.concat(F.lit("recall_"), F.col("method")).alias("method"),
        F.col("k").cast("long").alias("q_id"),
        F.col("n_hits").cast("long").alias("vec_id"),
        F.lit(None).cast("int").alias("label"),
        F.col("recall_e6").cast("double").alias("cosine"),
    )
    # E68: the signed-random-projection sketch — vec_id carries the
    # char-fold fingerprint of the serialized projection (pins every
    # component), cosine its L1 mass (documented column reuse).
    from weatherflow_spark.functions.text import _tok_hash_lambda_spark

    srp = q_random_projection(spark, sf_dir).select(
        F.lit("srp").alias("method"),
        F.col("vec_id").alias("q_id"),
        F.expr(_tok_hash_lambda_spark("proj")).alias("vec_id"),
        F.lit(None).cast("int").alias("label"),
        F.col("l1").cast("double").alias("cosine"),
    )
    # E70: PQ codes fingerprinted the same way; cosine carries the
    # e6 reconstruction error.
    pq = q_pq_encode(spark, sf_dir).select(
        F.lit("pq").alias("method"),
        F.col("vec_id").alias("q_id"),
        F.expr(_tok_hash_lambda_spark("codes")).alias("vec_id"),
        F.lit(None).cast("int").alias("label"),
        F.col("err_e6").cast("double").alias("cosine"),
    )
    # E79: batch-vs-corpus admission verdicts projected onto the
    # suite shape — q_id the batch vector, vec_id its best corpus
    # match (-1 when none), label the dup flag, cosine the e6 best
    # cosine (documented column reuse; hash pins every verdict).
    admit = q_incremental_embedding(spark, sf_dir).select(
        F.lit("admit").alias("method"),
        F.col("vec_id").alias("q_id"),
        F.coalesce(F.col("best_match"), F.lit(-1)).cast("long").alias("vec_id"),
        (F.col("verdict") == "dup").cast("int").alias("label"),
        F.col("best_cos_e6").cast("double").alias("cosine"),
    )
    # E83: mutual-kNN margin pairs on the same kNN graph —
    # q_id/vec_id the pair, cosine the e6 margin (documented column
    # reuse; the hash pins every mined pair and its score).
    margin = _margin_pairs(graph).select(
        F.lit("margin").alias("method"),
        F.col("a_id").alias("q_id"),
        F.col("b_id").alias("vec_id"),
        F.lit(None).cast("int").alias("label"),
        F.col("margin_e6").cast("double").alias("cosine"),
    )
    # Materialise the eleven branches concurrently in a bounded pool;
    # union order and oracle hash unchanged.
    from weatherflow_spark.operators.overlap import overlap_materialize

    (brute, ivf, lsh, batch, knn, vote, recall, srp, pq, admit,
     margin) = overlap_materialize(
        [
            lambda d=d: d
            for d in (brute, ivf, lsh, batch, knn, vote, recall, srp,
                      pq, admit, margin)
        ]
    )
    return (
        brute.unionByName(ivf)
        .unionByName(lsh)
        .unionByName(batch)
        .unionByName(knn)
        .unionByName(vote)
        .unionByName(recall)
        .unionByName(srp)
        .unionByName(pq)
        .unionByName(admit)
        .unionByName(margin)
    )


# ---------------------------------------------------------------------------
# q_pq_encode — E70: product quantization (seeded codebook, exact argmin)
# ---------------------------------------------------------------------------

PQ_M = 8   # subspaces (64 dims -> 8 sub-vectors of 8)
PQ_K = 4   # centroids per subspace (seeded: vec_id 0..PQ_K-1)
PQ_SUB = 8  # dims per subspace


def _pq_subdist(a: str, b: str, m: str) -> str:
    """Spark SQL: squared L2 between subspace ``m`` of two double
    arrays — sequential left fold over the PQ_SUB dims (order pinned,
    the q_kmeans _sqdist discipline)."""
    return (
        f"aggregate(zip_with(slice({a}, ({m}) * {PQ_SUB} + 1, {PQ_SUB}), "
        f"slice({b}, ({m}) * {PQ_SUB} + 1, {PQ_SUB}), "
        f"(x, y) -> (x - y) * (x - y)), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _pq_subdist_duck(a: str, b: str, m: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {PQ_SUB}), "
        f"i -> (CAST({a}[({m}) * {PQ_SUB} + i] AS DOUBLE) "
        f"- CAST({b}[({m}) * {PQ_SUB} + i] AS DOUBLE)) "
        f"* (CAST({a}[({m}) * {PQ_SUB} + i] AS DOUBLE) "
        f"- CAST({b}[({m}) * {PQ_SUB} + i] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — THE vector-compression standard behind
    billion-scale ANN serving (FAISS IVFPQ): each 64-d embedding
    splits into PQ_M={PQ_M} sub-vectors, each encoded as the id of its
    nearest subspace centroid, compressing the vector to {PQ_M} small
    codes; the summed subspace distances are the reconstruction error
    the index designer monitors. The codebook here is SEEDED (subspace
    centroids = the sub-vectors of vec_id 0..{PQ_K}-1 — the q_kmeans
    seeding rule) so the whole encode is a pure function of the input
    and DuckDB replays it; production trains each subspace codebook
    with the identical Lloyd machinery of q_kmeans, and serving-side
    asymmetric-distance scans are lookup-table sums over these codes.

    Scale posture: the codebook is ONE broadcast row ({PQ_K} packed
    vectors); encoding is a narrow per-row expression (PQ_M×PQ_K
    pinned-order folds inside codegen) — zero data-scale shuffles.
    Argmin per subspace via array_min + first-position (smaller
    centroid id wins ties, both engines)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    )
    seeds = emb.where(F.col("vec_id") < PQ_K).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(vec_id, embedding))), "
            "s -> cast(s.embedding as array<double>))"
        ).alias("cbs")
    )
    d_m = (
        f"transform(sequence(0, {PQ_K - 1}), c -> "
        + _pq_subdist("cast(embedding as array<double>)", "element_at(cbs, c + 1)", "m")
        + ")"
    )
    from weatherflow_spark.functions.text import let_spark

    per_sub = (
        f"transform(sequence(0, {PQ_M - 1}), m -> "
        + let_spark(
            d_m,
            "d",
            "struct(cast(array_position(d, array_min(d)) - 1 as int) AS code, "
            "array_min(d) AS err)",
        )
        + ")"
    )
    return (
        emb.crossJoin(F.broadcast(seeds))
        .select("vec_id", F.expr(per_sub).alias("ps"))
        .select(
            "vec_id",
            F.expr(
                "array_join(transform(ps, r -> cast(r.code as string)), '|')"
            ).alias("codes"),
            F.expr(
                "cast(floor(aggregate(transform(ps, r -> r.err), "
                "cast(0.0 as double), (acc, v) -> acc + v) * 1e6 + 0.5) as bigint)"
            ).alias("err_e6"),
        )
    )


def _oracle_pq_encode() -> str:
    from weatherflow_spark.functions.text import let_duck

    d_m = (
        f"list_transform(generate_series(0, {PQ_K - 1}), c -> "
        + _pq_subdist_duck("e.embedding", "cbs[c + 1]", "m")
        + ")"
    )
    per_sub = (
        f"list_transform(generate_series(0, {PQ_M - 1}), m -> "
        + let_duck(
            d_m,
            "d",
            "{'code': CAST(list_position(d, list_min(d)) - 1 AS INTEGER), "
            "'err': list_min(d)}",
        )
        + ")"
    )
    return f"""
    WITH seeds AS (
        SELECT list_transform(
                   list_sort(list({{'v': vec_id, 'e': embedding}})),
                   s -> list_transform(s.e, x -> CAST(x AS DOUBLE)))
               AS cbs
        FROM embeddings WHERE vec_id < {PQ_K}
    ),
    enc AS (
        SELECT e.vec_id, {per_sub} AS ps
        FROM embeddings e CROSS JOIN seeds
    )
    SELECT vec_id,
           array_to_string(list_transform(ps, r -> CAST(r.code AS VARCHAR)), '|')
               AS codes,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(ps, r -> r.err)), (acc, v) -> acc + v)
               * 1e6 + 0.5) AS BIGINT) AS err_e6
    FROM enc
"""


from weatherflow_spark.functions.text import _tok_hash_lambda_duck as _fp_duck

_fp_of_proj = _fp_duck("proj")

ORACLE_ANN_SUITE = f"""
    WITH brute_side AS ({ORACLE_SIMILARITY_TOPK}),
    ivf_side AS ({ORACLE_ANN_IVF_TOPK}),
    lsh_side AS ({ORACLE_ANN_LSH_TOPK}),
    batch_side AS ({ORACLE_ANN_BATCH_TOPK}),
    knn_side AS ({ORACLE_KNN_GRAPH}),
    vote_side AS ({ORACLE_KNN_CLASSIFY}),
    recall_side AS ({ORACLE_ANN_RECALL}),
    srp_side AS ({ORACLE_RANDOM_PROJECTION}),
    pq_side AS ({_oracle_pq_encode()})
    SELECT 'brute' AS method, CAST({QUERY_VEC_ID} AS BIGINT) AS q_id,
           vec_id, label, cosine FROM brute_side
    UNION ALL
    SELECT 'ivf', CAST({QUERY_VEC_ID} AS BIGINT), vec_id, label, cosine
    FROM ivf_side
    UNION ALL
    SELECT 'lsh', CAST({QUERY_VEC_ID} AS BIGINT), vec_id, label, cosine
    FROM lsh_side
    UNION ALL
    SELECT 'batch', q_id, vec_id, label, cosine FROM batch_side
    UNION ALL
    SELECT 'knn', src_id, nb_id, nb_label, cosine FROM knn_side
    UNION ALL
    SELECT 'knn_vote', src_id, CAST(pred_label AS BIGINT), true_label,
           CAST(correct AS DOUBLE)
    FROM vote_side
    UNION ALL
    SELECT 'recall_' || method, CAST(k AS BIGINT), n_hits,
           CAST(NULL AS INTEGER), CAST(recall_e6 AS DOUBLE)
    FROM recall_side
    UNION ALL
    SELECT 'srp', vec_id, {_fp_of_proj},
           CAST(NULL AS INTEGER), CAST(l1 AS DOUBLE)
    FROM srp_side
    UNION ALL
    SELECT 'pq', vec_id, {_fp_duck("codes")},
           CAST(NULL AS INTEGER), CAST(err_e6 AS DOUBLE)
    FROM pq_side
"""


# ---------------------------------------------------------------------------
# q_incremental_embedding — E79: batch-vs-corpus embedding admission
# ---------------------------------------------------------------------------

INCR_EMB_MOD = 13          # vec_id % 13 == 0 -> the ingest batch
INCR_EMB_CAP = 64          # per-batch-vector candidate cap (ham, id order)
INCR_EMB_DUP_T_E6 = 950_000  # cosine >= 0.95 -> semantic duplicate


def q_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING admission — the ANN analog of
    q_incremental_dedup, the decision a training pipeline runs on
    every new ingest batch's vectors: is this embedding a semantic
    duplicate of the existing corpus (cosine ≥ 0.95 against any
    corpus vector in its sign-LSH neighborhood) or genuinely new?
    One verdict row per batch vector, with the best-matching corpus
    vector and its e6-pinned cosine.

    Scale posture (the point vs the self-join families): the corpus
    side is NEVER shuffle-JOINED — corpus sign codes are a narrow
    per-row fold over the scan, the candidate join streams the corpus
    against the *broadcast* multi-probed batch codes (batch ≪
    corpus), the per-batch-vector candidate list is capped at
    {INCR_EMB_CAP} by cheap code-Hamming rank (a window over
    batch-bounded rows), and only the capped shortlist pays the
    exact-cosine verify against a second corpus scan (again broadcast
    on the shortlist). Recall contract = the near-dup family's:
    16-bit bucket + all 1-bit flips."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    par = spark.sparkContext.defaultParallelism
    is_batch = F.col("vec_id") % INCR_EMB_MOD == 0
    # Codes once for both sides; the repartition spreads the CPU-bound
    # hyperplane fold off the raw splits (narrow data, the near-dup
    # precedent) — the corpus is never JOIN-shuffled.
    hashed = tracked_persist(
        emb.repartition(par, F.col("vec_id"))
        .select(
            "vec_id",
            F.expr(lsh_bucket_expr("embedding", NEARDUP_PLANES)).alias("code"),
        )
        .withColumn("bucket", F.col("code") % F.lit(1 << NEARDUP_BUCKET_BITS))
    )
    probe_arr = (
        f"array_union(array(bucket), transform(sequence(0, {NEARDUP_BUCKET_BITS - 1}), "
        f"p -> bucket ^ shiftleft(cast(1 as bigint), p)))"
    )
    batch_probes = (
        hashed.where(is_batch)
        .select(
            F.col("vec_id").alias("b_vec"),
            F.col("code").alias("b_code"),
            F.explode(F.expr(probe_arr)).alias("bucket"),
        )
    )
    corpus_codes = hashed.where(~is_batch).select(
        F.col("vec_id").alias("c_vec"), F.col("code").alias("c_code"), "bucket"
    )
    wv = Window.partitionBy("b_vec").orderBy(F.asc("ham"), F.asc("c_vec"))
    cand = (
        corpus_codes.join(F.broadcast(batch_probes), "bucket")
        .select(
            "b_vec",
            "c_vec",
            F.expr("bit_count(b_code ^ c_code)").cast("int").alias("ham"),
        )
        .distinct()
        .withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") <= INCR_EMB_CAP)
        .select("b_vec", "c_vec", "ham")
    )
    batch_emb = emb.where(is_batch).select(
        F.col("vec_id").alias("b_vec"), F.col("embedding").alias("emb_b")
    )
    probe = cand.join(batch_emb, "b_vec")  # batch-bounded, carries emb_b
    corpus_emb = emb.where(~is_batch).select(
        F.col("vec_id").alias("c_vec"), F.col("embedding").alias("emb_c")
    )
    best = (
        corpus_emb.join(F.broadcast(probe), "c_vec")
        .select(
            "b_vec",
            "c_vec",
            F.expr(
                f"cast(floor(({cosine_expr('emb_b', 'emb_c')}) * 1e6 + 0.5) as bigint)"
            ).alias("cos_e6"),
        )
        .groupBy("b_vec")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.expr("max(named_struct('cos_e6', cos_e6, 'neg', -c_vec))").alias("m"),
        )
        .select(
            "b_vec",
            "n_candidates",
            (-F.col("m.neg")).alias("best_match"),
            F.col("m.cos_e6").alias("best_cos_e6"),
        )
    )
    return (
        emb.where(is_batch)
        .select("vec_id")
        .join(F.broadcast(best.withColumnRenamed("b_vec", "vec_id")), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "best_match",
            "best_cos_e6",
            F.when(
                F.col("best_cos_e6") >= INCR_EMB_DUP_T_E6, F.lit("dup")
            )
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


ORACLE_INCREMENTAL_EMBEDDING = f"""
    WITH hashed AS (
        SELECT vec_id, {lsh_bucket_sql('embedding', NEARDUP_PLANES)} AS code,
               ({lsh_bucket_sql('embedding', NEARDUP_PLANES)}) % {1 << NEARDUP_BUCKET_BITS} AS bucket
        FROM embeddings
    ),
    batch_probes AS (
        SELECT vec_id AS b_vec, code AS b_code,
               unnest(list_distinct(list_prepend(bucket,
                   list_transform(generate_series(0, {NEARDUP_BUCKET_BITS - 1}),
                                  p -> xor(bucket, CAST(1 AS BIGINT) << p))))) AS bucket
        FROM hashed WHERE vec_id % {INCR_EMB_MOD} = 0
    ),
    cand AS (
        SELECT b_vec, c_vec, ham FROM (
            SELECT b_vec, c_vec, ham,
                   row_number() OVER (PARTITION BY b_vec
                                      ORDER BY ham ASC, c_vec ASC) AS rn
            FROM (
                SELECT DISTINCT p.b_vec, h.vec_id AS c_vec,
                       CAST(bit_count(xor(p.b_code, h.code)) AS INTEGER) AS ham
                FROM hashed h JOIN batch_probes p USING (bucket)
                WHERE h.vec_id % {INCR_EMB_MOD} <> 0
            )
        ) WHERE rn <= {INCR_EMB_CAP}
    ),
    scored AS (
        SELECT c.b_vec, c.c_vec,
               CAST(floor(({cosine_sql('eb.embedding', 'ec.embedding')})
                    * 1e6 + 0.5) AS BIGINT) AS cos_e6
        FROM cand c
        JOIN embeddings eb ON eb.vec_id = c.b_vec
        JOIN embeddings ec ON ec.vec_id = c.c_vec
    ),
    best AS (
        SELECT b_vec, n_candidates, c_vec AS best_match,
               cos_e6 AS best_cos_e6
        FROM (
            SELECT b_vec, c_vec, cos_e6,
                   row_number() OVER (PARTITION BY b_vec
                                      ORDER BY cos_e6 DESC, c_vec ASC) AS rn,
                   CAST(count(*) OVER (PARTITION BY b_vec) AS BIGINT)
                       AS n_candidates
            FROM scored
        ) WHERE rn = 1
    )
    SELECT e.vec_id,
           COALESCE(b.n_candidates, CAST(0 AS BIGINT)) AS n_candidates,
           b.best_match,
           b.best_cos_e6,
           CASE WHEN b.best_cos_e6 >= {INCR_EMB_DUP_T_E6} THEN 'dup'
                ELSE 'new' END AS verdict
    FROM (SELECT vec_id FROM embeddings WHERE vec_id % {INCR_EMB_MOD} = 0) e
    LEFT JOIN best b ON b.b_vec = e.vec_id
"""


# Rebind: the ANN-suite oracle gains the E79 admission branch (defined
# after the base literal, so extended here — the curation-suite
# precedent).
ORACLE_ANN_SUITE = f"""
    WITH base AS ({ORACLE_ANN_SUITE}),
    admit_side AS ({ORACLE_INCREMENTAL_EMBEDDING}),
    margin_side AS ({ORACLE_MARGIN_PAIRS})
    SELECT * FROM base
    UNION ALL
    SELECT 'admit' AS method, vec_id AS q_id,
           CAST(COALESCE(best_match, -1) AS BIGINT) AS vec_id,
           CAST(CASE WHEN verdict = 'dup' THEN 1 ELSE 0 END AS INTEGER)
               AS label,
           CAST(best_cos_e6 AS DOUBLE) AS cosine
    FROM admit_side
    UNION ALL
    SELECT 'margin' AS method, a_id AS q_id, b_id AS vec_id,
           CAST(NULL AS INTEGER) AS label,
           CAST(margin_e6 AS DOUBLE) AS cosine
    FROM margin_side
"""


SIMILARITY_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_similarity_topk": q_similarity_topk,
    "q_embedding_near_dup": q_embedding_near_dup,
    "q_ann_ivf_topk": q_ann_ivf_topk,
    "q_ann_lsh_topk": q_ann_lsh_topk,
    "q_ann_batch_topk": q_ann_batch_topk,
    "q_ann_suite": q_ann_suite,
    "q_semantic_dedup": q_semantic_dedup,
    "q_knn_graph": q_knn_graph,
    "q_knn_classify": q_knn_classify,
    "q_ann_recall": q_ann_recall,
    "q_random_projection": q_random_projection,
    "q_pq_encode": q_pq_encode,
    "q_incremental_embedding": q_incremental_embedding,
    "q_margin_pairs": q_margin_pairs,
}

SIMILARITY_ORACLES: dict[str, str] = {
    "q_semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "q_knn_graph": ORACLE_KNN_GRAPH,
    "q_knn_classify": ORACLE_KNN_CLASSIFY,
    "q_ann_recall": ORACLE_ANN_RECALL,
    "q_random_projection": ORACLE_RANDOM_PROJECTION,
    "q_pq_encode": _oracle_pq_encode(),
    "q_similarity_topk": ORACLE_SIMILARITY_TOPK,
    "q_embedding_near_dup": ORACLE_EMBEDDING_NEAR_DUP,
    "q_ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
    "q_ann_lsh_topk": ORACLE_ANN_LSH_TOPK,
    "q_ann_batch_topk": ORACLE_ANN_BATCH_TOPK,
    "q_ann_suite": ORACLE_ANN_SUITE,
    "q_incremental_embedding": ORACLE_INCREMENTAL_EMBEDDING,
    "q_margin_pairs": ORACLE_MARGIN_PAIRS,
}
