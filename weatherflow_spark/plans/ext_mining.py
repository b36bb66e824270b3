"""Extension tier: corpus mining — BM25 relevance scoring, PMI token
co-occurrence, and the consolidated text certification suites.

The reference has no text surface at all (SURVEY §2.3 — its only
string op is date formatting, etl.py:96); these are the
training-data-pipeline operators a 100 TB corpus needs beyond the
per-document metrics in :mod:`ext_text`: scoring documents against a
query (BM25 — the lexical-retrieval baseline every curation pipeline
runs for quality/topicality), and corpus-level token association
mining (PMI over co-occurring pairs — collocation detection,
phrase-vocabulary induction).

Scale posture:
- **BM25**: the query-term list is a constant predicate applied to the
  token array BEFORE explode (narrow), so only matching (doc, term)
  rows reach the first exchange. Document frequency is a count window
  over the single tf derivation (no self-recompute, no join); the
  single-row corpus stats broadcast; the final top-k is a
  rounded-score TakeOrdered, never a global sort. Three data-scale
  shuffles (tf agg, df window, per-doc score agg), all pre-shrunk by
  the term filter.
- **PMI**: pair generation is a NARROW higher-order-function expansion
  over each document's sorted-distinct token array (`transform` x
  `slice` → `flatten` → `explode`) — there is no self-join and no
  cartesian anywhere; tests/test_plan_audit.py asserts it. The
  vocabulary cap (top-V by frequency, tie-broken by token) bounds the
  pair space to V²/2 regardless of corpus size and rides into the plan
  as a broadcast single-row array. Marginal counts join back broadcast
  (vocab-sized by construction).

Cross-engine determinism: scores involve `ln`, so every comparison
surface is pre-rounded to fixed precision (e6 for BM25, e9 for PMI —
the :func:`q_entropy` precedent) and ordering keys use the ROUNDED
value with full tie-breaks; double expression trees are built from ONE
shared SQL string so Spark and DuckDB evaluate identical shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from weatherflow_spark.functions import text as T
from weatherflow_spark.io import load_table

# Fixed BM25 query — sorted so the per-doc score sum has one textual
# (and therefore one floating-point) addition order in both engines.
QUERY_TERMS = ["hash", "spark", "table"]
BM25_TOPK = 25
PMI_MIN_SUPPORT = 5
PMI_TOP = 50
PMI_VOCAB_CAP = 500

_LANGS = sorted(T.LANG_STOPWORDS)


def _bm25_term_sql(tf: str, df: str, dl: str, n_docs: str, tok_total: str) -> str:
    """One BM25 term contribution (k1=1.2, b=0.75) as SQL text shared
    verbatim by both engines so the double expression trees match."""
    return (
        f"ln(1.0 + ({n_docs} - {df} + 0.5) / ({df} + 0.5)) * "
        f"({tf} * 2.2) / "
        f"({tf} + 1.2 * (0.25 + 0.75 * {dl} / ({tok_total} / {n_docs})))"
    )


# ---------------------------------------------------------------------------
# q_tfidf_topk — BM25 document relevance, top-k
# ---------------------------------------------------------------------------


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 documents by BM25 relevance to a fixed 3-term query.

    Narrow prelude: token array, doc length, and the term-filtered
    array all pipeline into the scan. Only (doc, query-term) matches
    are exploded; df/idf come from a count window over the tf rows and
    the 1-row corpus stats broadcast back. The score is summed in
    fixed term order (one conditional sum per term, then a literal
    3-term addition) so float addition order cannot diverge between
    engines.
    """
    in_list = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        T.n_tokens("text").cast("double").alias("dl"),
        F.expr(
            f"filter({T.tokens_expr('text')}, x -> x IN ({in_list}))"
        ).alias("qtoks"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").alias("tok_total"),
    )
    qt = (
        base.select("doc_id", "dl", F.explode("qtoks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"), F.min("dl").alias("dl"))
    )
    # df as a count window over the tf rows: reuses the single qt
    # derivation (a separate agg+join would recompute the whole
    # term-filter subtree — a second corpus scan) and keeps the plan
    # join-free apart from the 1-row stats broadcast.
    from pyspark.sql import Window

    qt = qt.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token")).cast("double")
    )
    s = F.expr(_bm25_term_sql("tf", "df", "dl", "n_docs", "tok_total"))
    terms = qt.crossJoin(F.broadcast(stats)).select("doc_id", "token", s.alias("s"))
    per_term = [
        F.sum(F.when(F.col("token") == t, F.col("s"))).alias(f"s_{t}")
        for t in QUERY_TERMS
    ]
    per_doc = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms_matched"), *per_term
    )
    score = None
    for t in QUERY_TERMS:
        piece = F.coalesce(F.col(f"s_{t}"), F.lit(0.0))
        score = piece if score is None else score + piece
    from weatherflow_spark.operators.caching import tracked_persist

    # Persisted: the 25-row result is replayed by the hybrid fusion
    # AND the rerank's internal hybrid AND the suite's own bm branch —
    # caching the tiny output saves two full corpus-scoring replays.
    return tracked_persist(
        per_doc.select(
            "doc_id",
            "n_terms_matched",
            F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


def _oracle_tfidf_topk() -> str:
    in_list = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    s = _bm25_term_sql("tf", "df", "dl", "n_docs", "tok_total")
    cond_sums = ", ".join(
        f"coalesce(sum(CASE WHEN token = '{t}' THEN s END), 0.0) AS s_{t}"
        for t in QUERY_TERMS
    )
    add = " + ".join(f"s_{t}" for t in QUERY_TERMS)
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST({T.n_tokens_sql('text')} AS DOUBLE) AS dl,
                   list_filter({T.tokens_sql('text')},
                               x -> x IN ({in_list})) AS qtoks
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   sum(dl) AS tok_total
            FROM base
        ),
        qt AS (
            SELECT doc_id, token,
                   CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
            FROM (SELECT doc_id, dl, unnest(qtoks) AS token FROM base)
            GROUP BY doc_id, token
        ),
        df_t AS (
            SELECT token, CAST(count(*) AS DOUBLE) AS df FROM qt GROUP BY token
        ),
        terms AS (
            SELECT qt.doc_id, qt.token, {s} AS s
            FROM qt JOIN df_t USING (token) CROSS JOIN stats
        ),
        per_doc AS (
            SELECT doc_id, CAST(count(*) AS INTEGER) AS n_terms_matched,
                   {cond_sums}
            FROM terms GROUP BY doc_id
        )
        SELECT doc_id, n_terms_matched,
               CAST(floor(({add}) * 1e6 + 0.5) AS BIGINT) AS score_e6
        FROM per_doc
        ORDER BY score_e6 DESC, doc_id ASC
        LIMIT {BM25_TOPK}
    """


# ---------------------------------------------------------------------------
# q_retrieval_eval — E84: ranking-quality metrics (MRR / nDCG / P@k)
# ---------------------------------------------------------------------------

EVAL_CUTS = (5, 10)
# 1/log2(rank+1) discount weights as e9 integers — computed ONCE here
# and injected as identical literals into both engines' expressions,
# so no cross-libm log2 ulp can diverge; DCG sums are then exact
# integer sums and nDCG one double division of integers.
import math as _math

_DCG_W_E9 = {
    i: int(_math.floor(1.0 / _math.log2(i + 1) * 1e9 + 0.5))
    for i in range(1, max(EVAL_CUTS) + 1)
}
_IDCG_PREFIX_E9 = {0: 0}
for _i in range(1, max(EVAL_CUTS) + 1):
    _IDCG_PREFIX_E9[_i] = _IDCG_PREFIX_E9[_i - 1] + _DCG_W_E9[_i]


def _dcg_case(rank: str) -> str:
    whens = " ".join(
        f"WHEN {i} THEN {w}" for i, w in sorted(_DCG_W_E9.items())
    )
    return f"CASE {rank} {whens} ELSE 0 END"


def _idcg_case(n_rel: str, k: int) -> str:
    # IDCG@k with binary relevance = prefix sum of the first
    # min(n_rel, k) weights; n_rel < k resolved by a literal ladder.
    whens = " ".join(
        f"WHEN {i} THEN {_IDCG_PREFIX_E9[i]}" for i in range(k)
    )
    return (
        f"CASE WHEN {n_rel} >= {k} THEN {_IDCG_PREFIX_E9[k]} "
        f"ELSE CASE {n_rel} {whens} ELSE 0 END END"
    )


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the BM25 ranking — the metrics
    layer every retrieval pipeline ships with (the companion of the
    ANN tier's measured recall, q_ann_recall): MRR@k, binary-relevance
    nDCG@k, and precision@k at cutoffs {5, 10}, against the
    deterministic ground truth "document contains ALL query terms"
    (exactly ``n_terms_matched == |terms|`` in the BM25 table, but
    counted corpus-wide — an all-terms doc outside the top-25 still
    belongs in n_rel and the IDCG base).

    Determinism: the log2 discounts are e9-integer literals computed
    once in Python and injected into BOTH engines (no cross-libm
    log2); DCG/IDCG are exact integer sums; MRR, nDCG, precision are
    each one double division of exact integers. The ranking window is
    a single partition over the ≤ {BM25_TOPK}-row persisted BM25
    result — bounded by construction, like the bloom word collect.
    At 100 TB the eval cost is the ground-truth census (one narrow
    token scan with the tokenization let-bound once per row); the
    per-ranking arithmetic is constant-size."""
    from pyspark.sql import Window

    n_terms = len(QUERY_TERMS)
    bm = q_tfidf_topk(spark, sf_dir)
    ranked = bm.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("score_e6"), F.asc("doc_id"))
        ),
    )
    contains = " AND ".join(
        f"array_contains(tk, '{t}')" for t in QUERY_TERMS
    )
    docs = load_table(spark, sf_dir, "documents")
    n_rel_df = docs.select(
        F.expr(
            T.let_spark(T.tokens_expr("text"), "tk", contains)
        ).alias("rel")
    ).agg(F.sum(F.col("rel").cast("bigint")).alias("n_rel"))

    aggs = []
    for k in EVAL_CUTS:
        hit = (F.col("n_terms_matched") == n_terms) & (F.col("rank") <= k)
        aggs += [
            F.coalesce(F.sum(hit.cast("bigint")), F.lit(0)).alias(
                f"hits_{k}"
            ),
            F.min(F.when(hit, F.col("rank"))).alias(f"first_{k}"),
            F.coalesce(
                F.sum(F.when(hit, F.expr(_dcg_case("rank")))), F.lit(0)
            ).alias(f"dcg_{k}"),
        ]
    summ = ranked.agg(*aggs).crossJoin(F.broadcast(n_rel_df))

    parts = []
    for k in EVAL_CUTS:
        idcg = _idcg_case("n_rel", k)
        parts.append(
            summ.selectExpr(
                f"cast({k} as int) AS k",
                "n_rel",
                f"hits_{k} AS n_hits",
                f"cast(coalesce(floor(1e6 / first_{k} + 0.5), 0) as bigint)"
                " AS mrr_e6",
                f"cast(CASE WHEN {idcg} > 0 THEN "
                f"floor(dcg_{k} / ({idcg}) * 1e6 + 0.5) ELSE 0 END "
                "as bigint) AS ndcg_e6",
                f"cast(floor(hits_{k} * 1e6 / {k} + 0.5) as bigint)"
                " AS precision_e6",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _oracle_retrieval_eval() -> str:
    n_terms = len(QUERY_TERMS)
    contains = " AND ".join(
        f"list_contains(tk, '{t}')" for t in QUERY_TERMS
    )
    agg_cols = []
    for k in EVAL_CUTS:
        hit = f"(n_terms_matched = {n_terms} AND rank <= {k})"
        agg_cols += [
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN 1 END), 0) AS BIGINT)"
            f" AS hits_{k}",
            f"min(CASE WHEN {hit} THEN rank END) AS first_{k}",
            f"CAST(coalesce(sum(CASE WHEN {hit} THEN"
            f" {_dcg_case('rank')} END), 0) AS BIGINT) AS dcg_{k}",
        ]
    selects = []
    for k in EVAL_CUTS:
        idcg = _idcg_case("n_rel", k)
        selects.append(
            f"""SELECT CAST({k} AS INTEGER) AS k, n_rel,
                   hits_{k} AS n_hits,
                   CAST(coalesce(floor(1e6 / first_{k} + 0.5), 0)
                       AS BIGINT) AS mrr_e6,
                   CAST(CASE WHEN {idcg} > 0 THEN
                       floor(dcg_{k} / ({idcg}) * 1e6 + 0.5)
                       ELSE 0 END AS BIGINT) AS ndcg_e6,
                   CAST(floor(hits_{k} * 1e6 / {k} + 0.5) AS BIGINT)
                       AS precision_e6
            FROM summ"""
        )
    union = "\nUNION ALL\n".join(selects)
    return f"""
        WITH bm AS ({_oracle_tfidf_topk()}),
        ranked AS (
            SELECT doc_id, n_terms_matched, score_e6,
                   row_number() OVER (
                       ORDER BY score_e6 DESC, doc_id ASC
                   ) AS rank
            FROM bm
        ),
        nrel AS (
            SELECT CAST(coalesce(sum(CASE WHEN
                {T.let_duck(T.tokens_sql('text'), 'tk', contains)}
                THEN 1 END), 0) AS BIGINT) AS n_rel
            FROM documents
        ),
        summ AS (
            SELECT {', '.join(agg_cols)}, n_rel
            FROM ranked CROSS JOIN nrel
            GROUP BY n_rel
        )
        {union}
    """


# ---------------------------------------------------------------------------
# q_pmi_cooc — PMI token co-occurrence (collocation mining)
# ---------------------------------------------------------------------------


def q_pmi_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token pairs by document-level PMI.

    Per-document sorted-distinct token arrays expand to ordered pairs
    with a narrow higher-order expression (no self-join); pair counts
    take the only data-scale exchange; marginals and the single-row
    doc count broadcast back. A top-V vocabulary cap (deterministic
    tie-break) bounds the pair space at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(
            f"array_sort(array_distinct(filter({T.tokens_expr('text')}, x -> x <> '')))"
        ).alias("ts"),
    )
    tokc = (
        base.select(F.explode("ts").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = tokc.orderBy(F.desc("c"), F.asc("token")).limit(PMI_VOCAB_CAP)
    vocab_arr = vocab.agg(F.array_sort(F.collect_list("token")).alias("vocab"))
    filt = base.crossJoin(F.broadcast(vocab_arr)).select(
        "doc_id", F.expr("filter(ts, x -> array_contains(vocab, x))").alias("ts")
    )
    pairs = filt.select(
        F.explode(
            F.expr(
                "flatten(transform(ts, (x, i) -> "
                "transform(slice(ts, i + 2, size(ts)), y -> struct(x AS x, y AS y))))"
            )
        ).alias("p")
    ).select("p.x", "p.y")
    pc = (
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= PMI_MIN_SUPPORT)
    )
    nd = base.agg(F.count(F.lit(1)).alias("n_docs"))
    vx = vocab.select(F.col("token").alias("x"), F.col("c").alias("c_x"))
    vy = vocab.select(F.col("token").alias("y"), F.col("c").alias("c_y"))
    pmi = F.expr(
        "ln(CAST(c_xy AS DOUBLE) * CAST(n_docs AS DOUBLE) / "
        "(CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))"
    )
    return (
        pc.join(F.broadcast(vx), "x")
        .join(F.broadcast(vy), "y")
        .crossJoin(F.broadcast(nd))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            F.floor(pmi * F.lit(1e9) + F.lit(0.5)).cast("bigint").alias("pmi_e9"),
        )
        .orderBy(F.desc("pmi_e9"), F.asc("x"), F.asc("y"))
        .limit(PMI_TOP)
    )


def _oracle_pmi_cooc() -> str:
    return f"""
        WITH base AS (
            SELECT doc_id,
                   list_sort(list_distinct(
                       list_filter({T.tokens_sql('text')}, x -> x <> ''))) AS ts
            FROM documents
        ),
        t AS (SELECT doc_id, unnest(ts) AS token FROM base),
        tokc AS (SELECT token, count(*) AS c FROM t GROUP BY token),
        vocab AS (
            SELECT token, c FROM tokc
            ORDER BY c DESC, token ASC LIMIT {PMI_VOCAB_CAP}
        ),
        tv AS (SELECT t.doc_id, t.token FROM t JOIN vocab USING (token)),
        pairs AS (
            SELECT a.token AS x, b.token AS y
            FROM tv a JOIN tv b
              ON a.doc_id = b.doc_id AND a.token < b.token
        ),
        pc AS (
            SELECT x, y, count(*) AS c_xy FROM pairs
            GROUP BY x, y HAVING count(*) >= {PMI_MIN_SUPPORT}
        ),
        nd AS (SELECT count(*) AS n_docs FROM base)
        SELECT pc.x, pc.y, pc.c_xy, vx.c AS c_x, vy.c AS c_y,
               CAST(floor(
                   ln(CAST(c_xy AS DOUBLE) * CAST(n_docs AS DOUBLE) /
                      (CAST(vx.c AS DOUBLE) * CAST(vy.c AS DOUBLE)))
                   * 1e9 + 0.5) AS BIGINT) AS pmi_e9
        FROM pc
        JOIN vocab vx ON pc.x = vx.token
        JOIN vocab vy ON pc.y = vy.token
        CROSS JOIN nd
        ORDER BY pmi_e9 DESC, x ASC, y ASC
        LIMIT {PMI_TOP}
    """


# ---------------------------------------------------------------------------
# q_text_mining_suite — certification row: BM25 + PMI, one hash
# ---------------------------------------------------------------------------


def q_text_mining_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mining certification row: BM25 top-k, PMI pairs, and the
    learned BPE merge table, tagged by op and unioned in LONG format —
    (op, key, metric, value:bigint) — the same consolidation shape as
    :func:`ext_text.q_curation_suite`. Union is plan-level only; the
    single-op twins stay registered in the tail."""
    from weatherflow_spark.operators.overlap import overlap_materialize

    bm = q_tfidf_topk(spark, sf_dir).selectExpr(
        "'bm25' AS op",
        "cast(doc_id as string) AS key",
        "stack(2, 'score_e6', score_e6, "
        "'n_terms', cast(n_terms_matched as bigint)) AS (metric, value)",
    )
    pm = q_pmi_cooc(spark, sf_dir).selectExpr(
        "'pmi' AS op",
        "concat(x, '|', y) AS key",
        "stack(4, 'pmi_e9', pmi_e9, 'c_xy', c_xy, "
        "'c_x', c_x, 'c_y', c_y) AS (metric, value)",
    )
    bpe = q_bpe_train(spark, sf_dir).selectExpr(
        "'bpe' AS op",
        "concat(cast(merge_round as string), ':', left_sym, '>', right_sym) AS key",
        "stack(1, 'pair_count', pair_count) AS (metric, value)",
    )
    # E43 encode branch: the full segmented text collapses to the
    # cross-engine rolling char-fold hash so the LONG value stays a
    # bigint while still pinning every piece boundary.
    enc = q_bpe_encode(spark, sf_dir).selectExpr(
        "'bpe_encode' AS op",
        "cast(doc_id as string) AS key",
        "stack(2, 'n_pieces', n_pieces, "
        f"'enc_fp', {T._tok_hash_lambda_spark('encoded')}) AS (metric, value)",
    )
    # E46 vectorization branch: every component of the hashed feature
    # vector pinned through the char-fold fingerprint of its string
    # form, alongside the sparsity/L1 summaries.
    fh = q_feature_hash(spark, sf_dir).selectExpr(
        "'feature_hash' AS op",
        "cast(doc_id as string) AS key",
        "stack(3, 'nnz', nnz, 'l1', l1, "
        f"'fvec_fp', {T._tok_hash_lambda_spark('fvec')}) AS (metric, value)",
    )
    # E52: the fused retrieval ranks — NULL ranks (one-list docs)
    # surface as -1 so the LONG value stays non-null bigint. Built
    # ONCE and shared with the rerank branch below (the persisted
    # fused shortlist previously planned twice — suite cost ~11.4 s
    # vs ~7.5 s for its singles, VERDICT r6 What's wrong #3).
    hyb_df = q_hybrid_retrieval(spark, sf_dir)
    hyb = hyb_df.selectExpr(
        "'hybrid' AS op",
        "cast(doc_id as string) AS key",
        "stack(4, 'lex_rank', coalesce(lex_rank, -1), "
        "'vec_rank', coalesce(vec_rank, -1), "
        "'rrf_e9', rrf_e9, 'fused_rank', fused_rank) AS (metric, value)",
    )
    # E58: the second-stage rerank over the SAME fused shortlist.
    rr = q_rerank_topk(spark, sf_dir, hybrid=hyb_df).selectExpr(
        "'rerank' AS op",
        "cast(doc_id as string) AS key",
        "stack(4, 'fused_rank', fused_rank, 'ce_score', ce_score, "
        "'rerank', rerank, 'rank_delta', rank_delta) AS (metric, value)",
    )
    # E64: hard-negative mining over the SAME fused shortlist (label
    # encoded: both=0 / lex_only=1 / vec_only=2 to stay bigint).
    hn = q_hard_negatives(spark, sf_dir, hybrid=hyb_df).selectExpr(
        "'hard_negatives' AS op",
        "cast(doc_id as string) AS key",
        "stack(4, 'label_code', cast(CASE label WHEN 'both' THEN 0 "
        "WHEN 'lex_only' THEN 1 ELSE 2 END as bigint), "
        "'lex_rank', lex_rank, 'vec_rank', vec_rank, "
        "'neg_rank', neg_rank) AS (metric, value)",
    )
    # E84 (r8): the metrics layer over the same persisted BM25 ranking
    # — one LONG row per (cutoff, metric), the hash pins every score.
    ev = q_retrieval_eval(spark, sf_dir).selectExpr(
        "'retrieval_eval' AS op",
        "cast(k as string) AS key",
        "stack(5, 'n_rel', n_rel, 'n_hits', n_hits, 'mrr_e6', mrr_e6, "
        "'ndcg_e6', ndcg_e6, 'precision_e6', precision_e6) "
        "AS (metric, value)",
    )
    # r14: materialize the nine branches concurrently (guide §2.6 —
    # persist + count in a bounded pool). Every fixture branches share
    # (the persisted BM25 table, the BPE word/argmax tables, the fused
    # shortlist hyb_df) is tracked-persisted, so concurrent branches
    # compute it once through the cache; the union action then reads
    # nine small branch caches instead of walking one nine-leg
    # mega-plan serially. Union order and oracle hash unchanged.
    bm, pm, bpe, enc, fh, hyb, rr, hn, ev = overlap_materialize(
        [lambda d=d: d for d in (bm, pm, bpe, enc, fh, hyb, rr, hn, ev)]
    )
    return (
        bm.unionByName(pm)
        .unionByName(bpe)
        .unionByName(enc)
        .unionByName(fh)
        .unionByName(hyb)
        .unionByName(rr)
        .unionByName(hn)
        .unionByName(ev)
    )


def _oracle_text_mining_suite() -> str:
    return f"""
        WITH bm_side AS ({_oracle_tfidf_topk()}),
        pm_side AS ({_oracle_pmi_cooc()}),
        bpe_side AS ({_oracle_bpe_train()}),
        enc_side AS ({_oracle_bpe_encode()}),
        fh_side AS ({ORACLE_FEATURE_HASH}),
        hyb_side AS ({_oracle_hybrid_retrieval()}),
        rr_side AS ({_oracle_rerank_topk()}),
        hn_side AS ({_oracle_hard_negatives()}),
        ev_side AS ({_oracle_retrieval_eval()})
        SELECT 'bm25' AS op, CAST(doc_id AS VARCHAR) AS key,
               'score_e6' AS metric, score_e6 AS value FROM bm_side
        UNION ALL
        SELECT 'bm25', CAST(doc_id AS VARCHAR),
               'n_terms', CAST(n_terms_matched AS BIGINT) FROM bm_side
        UNION ALL
        SELECT 'pmi', x || '|' || y, 'pmi_e9', pmi_e9 FROM pm_side
        UNION ALL
        SELECT 'pmi', x || '|' || y, 'c_xy', c_xy FROM pm_side
        UNION ALL
        SELECT 'pmi', x || '|' || y, 'c_x', c_x FROM pm_side
        UNION ALL
        SELECT 'pmi', x || '|' || y, 'c_y', c_y FROM pm_side
        UNION ALL
        SELECT 'bpe', CAST(merge_round AS VARCHAR) || ':' || left_sym
                   || '>' || right_sym,
               'pair_count', pair_count FROM bpe_side
        UNION ALL
        SELECT 'bpe_encode', CAST(doc_id AS VARCHAR),
               'n_pieces', n_pieces FROM enc_side
        UNION ALL
        SELECT 'bpe_encode', CAST(doc_id AS VARCHAR),
               'enc_fp', {T._tok_hash_lambda_duck('encoded')} FROM enc_side
        UNION ALL
        SELECT 'feature_hash', CAST(doc_id AS VARCHAR), 'nnz', nnz FROM fh_side
        UNION ALL
        SELECT 'feature_hash', CAST(doc_id AS VARCHAR), 'l1', l1 FROM fh_side
        UNION ALL
        SELECT 'feature_hash', CAST(doc_id AS VARCHAR),
               'fvec_fp', {T._tok_hash_lambda_duck('fvec')} FROM fh_side
        UNION ALL
        SELECT 'hybrid', CAST(doc_id AS VARCHAR), 'lex_rank',
               COALESCE(lex_rank, -1) FROM hyb_side
        UNION ALL
        SELECT 'hybrid', CAST(doc_id AS VARCHAR), 'vec_rank',
               COALESCE(vec_rank, -1) FROM hyb_side
        UNION ALL
        SELECT 'hybrid', CAST(doc_id AS VARCHAR), 'rrf_e9', rrf_e9 FROM hyb_side
        UNION ALL
        SELECT 'hybrid', CAST(doc_id AS VARCHAR), 'fused_rank',
               fused_rank FROM hyb_side
        UNION ALL
        SELECT 'rerank', CAST(doc_id AS VARCHAR), 'fused_rank',
               fused_rank FROM rr_side
        UNION ALL
        SELECT 'rerank', CAST(doc_id AS VARCHAR), 'ce_score',
               ce_score FROM rr_side
        UNION ALL
        SELECT 'rerank', CAST(doc_id AS VARCHAR), 'rerank', rerank FROM rr_side
        UNION ALL
        SELECT 'rerank', CAST(doc_id AS VARCHAR), 'rank_delta',
               rank_delta FROM rr_side
        UNION ALL
        SELECT 'hard_negatives', CAST(doc_id AS VARCHAR), 'label_code',
               CAST(CASE label WHEN 'both' THEN 0 WHEN 'lex_only' THEN 1
                    ELSE 2 END AS BIGINT) FROM hn_side
        UNION ALL
        SELECT 'hard_negatives', CAST(doc_id AS VARCHAR), 'lex_rank',
               lex_rank FROM hn_side
        UNION ALL
        SELECT 'hard_negatives', CAST(doc_id AS VARCHAR), 'vec_rank',
               vec_rank FROM hn_side
        UNION ALL
        SELECT 'hard_negatives', CAST(doc_id AS VARCHAR), 'neg_rank',
               neg_rank FROM hn_side
        UNION ALL
        SELECT 'retrieval_eval', CAST(k AS VARCHAR), 'n_rel',
               n_rel FROM ev_side
        UNION ALL
        SELECT 'retrieval_eval', CAST(k AS VARCHAR), 'n_hits',
               n_hits FROM ev_side
        UNION ALL
        SELECT 'retrieval_eval', CAST(k AS VARCHAR), 'mrr_e6',
               mrr_e6 FROM ev_side
        UNION ALL
        SELECT 'retrieval_eval', CAST(k AS VARCHAR), 'ndcg_e6',
               ndcg_e6 FROM ev_side
        UNION ALL
        SELECT 'retrieval_eval', CAST(k AS VARCHAR), 'precision_e6',
               precision_e6 FROM ev_side
    """


# ---------------------------------------------------------------------------
# q_text_profile_suite — certification row: quality metrics + lang-ID
# ---------------------------------------------------------------------------

# predicted_lang → stable integer code, written once as SQL so both
# engines encode identically ('und' → -1).
def _pred_code_sql(col: str) -> str:
    clauses = " ".join(
        f"WHEN {col} = '{lang}' THEN {i}" for i, lang in enumerate(_LANGS)
    )
    return f"CASE {clauses} ELSE -1 END"


def q_text_profile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-profile certification row: the quality
    metrics of :func:`ext_text.q_text_stats` and the stopword-hit
    language-ID of :func:`ext_text.q_lang_id`, tagged and unioned in
    LONG format (doubles re-round to e6 integers; the predicted
    language encodes as its index in the sorted language list). Third
    branch (E42): the unigram-LM mean-NLL quality score per document
    — already an e6 integer, stacked alongside its token count."""
    from weatherflow_spark.plans.ext_text import (
        q_lang_id,
        q_text_stats,
        q_unigram_lm_score,
    )

    stats = q_text_stats(spark, sf_dir).selectExpr(
        "'text_stats' AS op",
        "cast(doc_id as string) AS key",
        "stack(6, 'n_chars', cast(n_chars_calc as bigint), "
        "'n_tokens', cast(n_tokens as bigint), "
        "'n_bpe_tokens', cast(n_bpe_tokens as bigint), "
        "'n_punct', cast(n_punct as bigint), "
        "'stopword_ratio_e6', cast(floor(stopword_ratio * 1e6 + 0.5) as bigint), "
        "'quality_e6', cast(floor(quality_score * 1e6 + 0.5) as bigint)) "
        "AS (metric, value)",
    )
    score_stack = ", ".join(
        f"'score_{lang}', cast(score_{lang} as bigint)" for lang in _LANGS
    )
    lang = q_lang_id(spark, sf_dir).selectExpr(
        "'lang_id' AS op",
        "cast(doc_id as string) AS key",
        f"stack({len(_LANGS) + 2}, {score_stack}, "
        f"'pred_code', cast(({_pred_code_sql('predicted_lang')}) as bigint), "
        "'is_match', cast(is_match as bigint)) AS (metric, value)",
    )
    lm = q_unigram_lm_score(spark, sf_dir).selectExpr(
        "'lm_score' AS op",
        "cast(doc_id as string) AS key",
        "stack(2, 'n_tokens', cast(n_tokens as bigint), "
        "'nll_e6', nll_e6) AS (metric, value)",
    )
    # E66: the corpus-level drift monitor (keys are tokens / total
    # markers rather than doc ids — same LONG shape).
    from weatherflow_spark.plans.ext_text import (
        q_bigram_lm_score,
        q_corpus_drift,
    )

    drift = q_corpus_drift(spark, sf_dir).selectExpr(
        "'drift' AS op",
        "key",
        "stack(3, 'c_a', c_a, 'c_b', c_b, 'metric_e9', metric_e9) "
        "AS (metric, value)",
    )
    # E69: the interpolated bigram LM score.
    bilm = q_bigram_lm_score(spark, sf_dir).selectExpr(
        "'bigram_lm' AS op",
        "cast(doc_id as string) AS key",
        "stack(2, 'n_tokens', cast(n_tokens as bigint), "
        "'bi_nll_e6', bi_nll_e6) AS (metric, value)",
    )
    return (
        stats.unionByName(lang)
        .unionByName(lm)
        .unionByName(drift)
        .unionByName(bilm)
    )


def _oracle_text_profile_suite() -> str:
    from weatherflow_spark.plans.ext_text import (
        ORACLE_BIGRAM_LM_SCORE,
        ORACLE_CORPUS_DRIFT,
        ORACLE_TEXT_STATS,
        ORACLE_UNIGRAM_LM_SCORE,
        _oracle_lang_id,
    )

    score_rows = "\n        UNION ALL\n".join(
        f"        SELECT 'lang_id', CAST(doc_id AS VARCHAR), "
        f"'score_{lang}', CAST(score_{lang} AS BIGINT) FROM lang_side"
        for lang in _LANGS
    )
    return f"""
        WITH stats_side AS ({ORACLE_TEXT_STATS}),
        lang_side AS ({_oracle_lang_id()}),
        lm_side AS ({ORACLE_UNIGRAM_LM_SCORE}),
        drift_side AS ({ORACLE_CORPUS_DRIFT}),
        bilm_side AS ({ORACLE_BIGRAM_LM_SCORE})
        SELECT 'text_stats' AS op, CAST(doc_id AS VARCHAR) AS key,
               'n_chars' AS metric, CAST(n_chars_calc AS BIGINT) AS value
        FROM stats_side
        UNION ALL
        SELECT 'text_stats', CAST(doc_id AS VARCHAR),
               'n_tokens', CAST(n_tokens AS BIGINT) FROM stats_side
        UNION ALL
        SELECT 'text_stats', CAST(doc_id AS VARCHAR),
               'n_bpe_tokens', CAST(n_bpe_tokens AS BIGINT) FROM stats_side
        UNION ALL
        SELECT 'text_stats', CAST(doc_id AS VARCHAR),
               'n_punct', CAST(n_punct AS BIGINT) FROM stats_side
        UNION ALL
        SELECT 'text_stats', CAST(doc_id AS VARCHAR),
               'stopword_ratio_e6',
               CAST(floor(stopword_ratio * 1e6 + 0.5) AS BIGINT) FROM stats_side
        UNION ALL
        SELECT 'text_stats', CAST(doc_id AS VARCHAR),
               'quality_e6',
               CAST(floor(quality_score * 1e6 + 0.5) AS BIGINT) FROM stats_side
        UNION ALL
{score_rows}
        UNION ALL
        SELECT 'lang_id', CAST(doc_id AS VARCHAR),
               'pred_code',
               CAST(({_pred_code_sql('predicted_lang')}) AS BIGINT) FROM lang_side
        UNION ALL
        SELECT 'lang_id', CAST(doc_id AS VARCHAR),
               'is_match', CAST(is_match AS BIGINT) FROM lang_side
        UNION ALL
        SELECT 'lm_score', CAST(doc_id AS VARCHAR),
               'n_tokens', CAST(n_tokens AS BIGINT) FROM lm_side
        UNION ALL
        SELECT 'lm_score', CAST(doc_id AS VARCHAR),
               'nll_e6', nll_e6 FROM lm_side
        UNION ALL
        SELECT 'drift', key, 'c_a', c_a FROM drift_side
        UNION ALL
        SELECT 'drift', key, 'c_b', c_b FROM drift_side
        UNION ALL
        SELECT 'drift', key, 'metric_e9', metric_e9 FROM drift_side
        UNION ALL
        SELECT 'bigram_lm', CAST(doc_id AS VARCHAR),
               'n_tokens', CAST(n_tokens AS BIGINT) FROM bilm_side
        UNION ALL
        SELECT 'bigram_lm', CAST(doc_id AS VARCHAR),
               'bi_nll_e6', bi_nll_e6 FROM bilm_side
    """


# ---------------------------------------------------------------------------
# q_bpe_train — BPE merge-rule induction (tokenizer training)
# ---------------------------------------------------------------------------

BPE_MERGES = 4


def _bpe_word_types(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The corpus collapsed to its word-type frequency table — the ONE
    relation both BPE halves iterate on. Both halves pass it to
    ``tracked_persist``, so encode gets training's checkpoint back (one
    materialisation, no second corpus pass); keep every change here
    mirrored in both callers' expectations.

    The trailing hash repartition is a performance property, not a
    semantic one (r14, guide §2.5/§1 'AQE byte-coalescing single-tasks
    CPU-bound kB-scale shuffles'): the aggregated type table is only
    KBs, so AQE coalesces the post-agg exchange to ONE partition — and
    every downstream BPE round then runs its interpreted
    per-type symbol folds (the expensive part of both train and
    encode) on a single core. REPARTITION_BY_NUM is immune to AQE
    coalescing; 2×defaultParallelism keeps the spread scale-adaptive
    (core count locally, executor total on a cluster). The factor of
    two is load-bearing, not tuning: a repartition whose (keys, n)
    equal the upstream agg exchange's is dropped by the optimizer as
    redundant (verified in the formatted plan — 0 REPARTITION_BY_NUM
    markers at n=defaultParallelism when shuffle.partitions matches),
    and AQE then coalesces the agg exchange to one partition anyway;
    at 2× the node survives and pins the spread (1 marker, measured
    coalesce-off min 4.5 s vs coalesced 9.8 s same-session). The +1
    guard (r15 ADVICE): the agg exchange's partition count is
    ``spark.sql.shuffle.partitions``, not defaultParallelism — on a
    session where 2×dp happens to EQUAL shuffle.partitions (e.g.
    dp=100 under Spark's default 200) the same-(keys, n) redundancy
    elision would silently drop the spread again; bumping off the
    collision keeps the node alive in every config."""
    n_spread = 2 * spark.sparkContext.defaultParallelism
    try:
        if n_spread == int(spark.conf.get("spark.sql.shuffle.partitions")):
            n_spread += 1
    except (TypeError, ValueError):
        pass  # "auto"/unset: no equal-(keys, n) exchange to collide with
    return (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.sum(F.lit(1)).alias("freq"))
        .repartition(n_spread, F.col("word"))
    )


def _merge_fold_spark(a: str, b: str) -> str:
    """Leftmost-non-overlapping merge of adjacent pair ({a}, {b}) in a
    symbol array, as a Spark SQL fold. The freshly merged symbol can
    never re-match as the left side within the round: equality against
    {a} is exact and the merged string is strictly longer — which is
    precisely BPE's scan-resumes-after-the-merge rule (verified for
    the a=b run case by tests/test_extensions.py)."""
    return (
        "aggregate(syms, cast(array() as array<string>), (acc, s) -> "
        f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {a} AND s = {b} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array(concat({a}, {b}))) "
        "ELSE concat(acc, array(s)) END)"
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training — learn the first ``BPE_MERGES`` merge
    rules from the corpus, the way GPT-2-style vocabularies are
    actually built: collapse the corpus ONCE to the word-type
    frequency table, then iterate on that table alone (pair counts are
    frequency-weighted, so word types stand in for every occurrence).
    Each round: adjacent symbol pairs → weighted counts → argmax pair
    (ties: count desc, then pair lexicographically) → leftmost
    non-overlapping merge via an array fold. Output: (merge_round,
    left_sym, right_sym, pair_count) — the learned merge table.

    Scale posture: ONE corpus-scale shuffle (the word-frequency agg,
    map-side partials), persisted; every round after that runs on the
    vocabulary-sized type table (pair-count exchanges are vocab-scale,
    the argmax row broadcasts). That is the distributed-BPE shape: at
    100 TB the corpus pass dominates and happens exactly once.

    Fully hash-checked: counts are exact integers, ties lexicographic,
    merges replayed by the DuckDB oracle as unrolled CTEs (the
    PageRank precedent)."""
    from weatherflow_spark.operators.caching import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    words = tracked_persist(_bpe_word_types(spark, docs))
    cur = words.select(
        "word", "freq", F.expr("regexp_extract_all(word, '.', 0)").alias("syms")
    )
    merge_rows = []
    for r in range(1, BPE_MERGES + 1):
        pairs = (
            cur.where(F.expr("size(syms) >= 2"))
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), i -> "
                        "struct(element_at(syms, i) AS x, "
                        "element_at(syms, i + 1) AS y))"
                    )
                ).alias("p"),
            )
            .select("p.x", "p.y", "freq")
        )
        # Persisted: round r's argmax row is referenced by the output
        # union AND (as a broadcast) by every later round's symbol
        # table — without the persist the round-r pair aggregation
        # re-executes once per downstream reference (measured 14
        # vocab-scale exchanges instead of 4 in the encode plan).
        best = tracked_persist(
            pairs.groupBy("x", "y")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("x"), F.asc("y"))
            .limit(1)
            .select(
                F.col("x").alias("m_left"),
                F.col("y").alias("m_right"),
                F.col("cnt").alias("m_cnt"),
            )
        )
        merge_rows.append(
            best.select(
                F.lit(r).cast("int").alias("merge_round"),
                F.col("m_left").alias("left_sym"),
                F.col("m_right").alias("right_sym"),
                F.col("m_cnt").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(best))
            .select(
                "word",
                "freq",
                F.expr(_merge_fold_spark("m_left", "m_right")).alias("syms"),
            )
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def _duck_merge_fold(a: str, b: str) -> str:
    """DuckDB twin of _merge_fold_spark (list_reduce needs the
    wrap-every-symbol-in-a-list trick because it has no init value)."""
    return (
        "list_reduce(list_transform(syms, s -> [s]), (acc, xx) -> "
        f"CASE WHEN len(acc) > 0 AND acc[len(acc)] = {a} AND xx[1] = {b} "
        f"THEN list_concat(acc[1:len(acc)-1], [{a} || {b}]) "
        "ELSE list_concat(acc, xx) END)"
    )


def _bpe_train_ctes() -> list[str]:
    """The unrolled training CTE chain (words → w0 → p/m/w per round);
    shared by the train oracle and the encode oracle (which replays
    the same merges over document words)."""
    fold = _duck_merge_fold
    ctes = [
        f"""words AS (
            SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest({T.tokens_sql('text')}) AS word FROM documents)
            WHERE word <> '' GROUP BY word
        )""",
        "w0 AS (SELECT word, freq, regexp_extract_all(word, '.') AS syms FROM words)",
    ]
    for r in range(1, BPE_MERGES + 1):
        prev = f"w{r - 1}"
        ctes.append(
            f"""p{r} AS (
                SELECT syms[i] AS x, syms[i + 1] AS y,
                       CAST(sum(freq) AS BIGINT) AS cnt
                FROM {prev}, unnest(range(1, len(syms))) AS t(i)
                WHERE len(syms) >= 2
                GROUP BY x, y
            )"""
        )
        ctes.append(
            f"""m{r} AS (
                SELECT x AS a, y AS b, cnt FROM p{r}
                ORDER BY cnt DESC, x ASC, y ASC LIMIT 1
            )"""
        )
        ctes.append(
            f"""w{r} AS (
                SELECT word, freq, {fold('a', 'b')} AS syms
                FROM {prev}, m{r}
            )"""
        )
    return ctes


def _oracle_bpe_train() -> str:
    union = "\n    UNION ALL\n".join(
        f"    SELECT CAST({r} AS INTEGER) AS merge_round, a AS left_sym, "
        f"b AS right_sym, cnt AS pair_count FROM m{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n    ".join(_bpe_train_ctes()) + "\n" + union


# ---------------------------------------------------------------------------
# q_bpe_encode — E43: apply the trained merge rules (tokenization)
# ---------------------------------------------------------------------------


# Documents above which q_bpe_encode assumes an open-web vocabulary
# whose per-type segmentation map outgrows a driver broadcast and
# switches to the instance<->type equi-join. Corpus row count is the
# (memoized, cheap-scan) proxy; a production deployment would feed the
# measured type cardinality instead. Never reached at test SFs — both
# paths are equality-tested and the join path is plan-audited.
BPE_JOIN_DOC_THRESHOLD = 20_000_000
# Keyed by (dir, data mtime) so a rewritten corpus re-measures (the
# ext_text census discipline).
_BPE_DOC_CENSUS: dict[tuple, int] = {}


def _corpus_docs(spark: SparkSession, sf_dir: str) -> int:
    from weatherflow_spark.plans.ext_text import _docs_mtime

    key = (sf_dir, _docs_mtime(sf_dir))
    if key not in _BPE_DOC_CENSUS:
        _BPE_DOC_CENSUS[key] = load_table(spark, sf_dir, "documents").count()
    return _BPE_DOC_CENSUS[key]


def q_bpe_encode(
    spark: SparkSession,
    sf_dir: str,
    join_threshold: int = BPE_JOIN_DOC_THRESHOLD,
) -> DataFrame:
    """BPE **encoding**: segment every document with the merge table
    q_bpe_train just learned — the apply half of the tokenizer pair
    (train once, encode the whole corpus). Merge rules apply in
    learned priority order; within a rule the scan is leftmost
    non-overlapping (the same fold as training, so train and encode
    can never disagree on segmentation).

    The fold runs over word TYPES, not token instances — the same
    corpus-collapses-to-the-type-table move training itself makes:
    the trained rules (one broadcast row, sorted by round) encode the
    word-frequency table once (its plan is identical to training's
    checkpointed aggregation, so that checkpoint is reused — no
    second corpus pass), and the per-type segmentations collapse to
    ONE broadcast map. The document pass is then a pure narrow map
    lookup per token (measured 8 s → sub-second at sf0.1 vs folding
    every instance). At open-web vocabulary scale the map outgrows a
    broadcast; when the (memoized) corpus census exceeds
    ``join_threshold`` the encode switches to the instance↔type
    equi-join on word (one word exchange + one doc_id regroup with a
    position-sorted reassembly) — implemented below (r8), same
    output bit-for-bit, equality-tested and plan-audited with the
    join path forced.

    Output per doc: word/piece counts and the segmented text
    (pieces '|'-joined within a word, words ' '-joined) — the full
    segmentation is what the hash certifies."""
    merges = q_bpe_train(spark, sf_dir)
    model = merges.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(merge_round, "
            "left_sym, right_sym))), m -> "
            "struct(m.left_sym AS l, m.right_sym AS r))"
        ).alias("mlist")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Same plan as q_bpe_train's word table → its checkpoint
    # (including the spread repartition — see _bpe_word_types).
    from weatherflow_spark.operators.caching import tracked_persist

    types = tracked_persist(_bpe_word_types(spark, docs))
    enc_word = (
        "aggregate(mlist, regexp_extract_all(word, '.', 0), (cursyms, m) -> "
        "aggregate(cursyms, cast(array() as array<string>), (acc, s) -> "
        "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = m.l AND s = m.r "
        "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(m.l, m.r))) "
        "ELSE concat(acc, array(s)) END))"
    )
    if _corpus_docs(spark, sf_dir) >= join_threshold:
        # Open-web path: the per-type segmentation stays a TABLE
        # (word, ps, np) and token instances equi-join it on word —
        # no driver-sized map anywhere. One exchange on word, one
        # regroup on doc_id; word order restored by position.
        seg = (
            types.crossJoin(F.broadcast(model))
            .select("word", F.expr(enc_word).alias("syms"))
            .select(
                "word",
                F.expr("array_join(syms, '|')").alias("ps"),
                F.expr("cast(size(syms) as bigint)").alias("np"),
            )
        )
        inst = docs.select(
            "doc_id",
            F.posexplode(
                F.expr(f"filter({T.tokens_expr('text')}, w -> w <> '')")
            ).alias("word_idx", "word"),
        )
        return (
            inst.join(seg, "word")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("np").alias("n_pieces"),
                F.expr(
                    "concat_ws(' ', transform(array_sort("
                    "collect_list(struct(word_idx, ps))), x -> x.ps))"
                ).alias("encoded"),
            )
            .select("doc_id", "n_words", "n_pieces", "encoded")
        )
    vocab = (
        types.crossJoin(F.broadcast(model))
        .select("word", F.expr(enc_word).alias("syms"))
        .agg(
            F.expr(
                "map_from_entries(array_sort(collect_list(struct(word, "
                "struct(array_join(syms, '|') AS ps, "
                "cast(size(syms) as bigint) AS np)))))"
            ).alias("vmap")
        )
    )
    return (
        docs.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(f"filter({T.tokens_expr('text')}, w -> w <> '')").alias("words"),
            F.col("vmap"),
        )
        .where(F.expr("size(words) >= 1"))
        .select(
            "doc_id",
            F.expr("size(words)").alias("n_words"),
            F.expr(
                "aggregate(words, cast(0 as bigint), (acc, w) -> acc + vmap[w].np)"
            ).alias("n_pieces"),
            F.expr("concat_ws(' ', transform(words, w -> vmap[w].ps))").alias(
                "encoded"
            ),
        )
    )


def _oracle_bpe_encode() -> str:
    # w{BPE_MERGES} from the training chain IS the fully-merged
    # word-type table — the oracle encodes documents by joining token
    # instances to it, the same type-level move the Spark plan makes.
    inst = f"""inst AS (
            SELECT doc_id, i AS word_idx, toks[i] AS word
            FROM (SELECT doc_id,
                         list_filter({T.tokens_sql('text')}, w -> w <> '') AS toks
                  FROM documents),
                 unnest(range(1, len(toks) + 1)) AS t(i)
        )"""
    return (
        "WITH "
        + ",\n    ".join(_bpe_train_ctes() + [inst])
        + f"""
    SELECT i.doc_id,
           CAST(count(*) AS INTEGER) AS n_words,
           CAST(sum(len(w.syms)) AS BIGINT) AS n_pieces,
           string_agg(array_to_string(w.syms, '|'), ' ' ORDER BY i.word_idx)
               AS encoded
    FROM inst i JOIN w{BPE_MERGES} w USING (word)
    GROUP BY i.doc_id
"""
    )


# ---------------------------------------------------------------------------
# q_hybrid_retrieval — E52: BM25 + vector fusion (reciprocal-rank)
# ---------------------------------------------------------------------------

RRF_K = 60


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the lexical BM25 top-k and the vector cosine
    top-k fused by reciprocal-rank fusion (RRF: Σ 1/(K + rank)) — the
    standard two-tower retrieval shape under RAG pipelines, where
    neither signal alone ranks well. Both candidate lists arrive
    already bounded (their own heap top-ks), so every window here
    runs over ≤ k rows — single-partition but k-bounded by
    construction, never data-scale. The fused rank orders by the
    e9-ROUNDED RRF score (bigint) with a doc_id tie-break, so rank
    boundaries cannot sit on a cross-engine double ulp."""
    from weatherflow_spark.plans.ext_similarity import q_similarity_topk

    lex = q_tfidf_topk(spark, sf_dir)
    wl = Window.orderBy(F.desc("score_e6"), F.asc("doc_id"))
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    vec = q_similarity_topk(spark, sf_dir)
    wv = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    vecr = vec.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).cast("long").alias("vec_rank"),
    )
    fused = lexr.join(vecr, "doc_id", "full_outer")
    rrf = (
        f"coalesce(1.0 / ({RRF_K} + lex_rank), cast(0.0 as double)) "
        f"+ coalesce(1.0 / ({RRF_K} + vec_rank), cast(0.0 as double))"
    )
    from weatherflow_spark.operators.caching import tracked_persist

    wf = Window.orderBy(F.desc("rrf_e9"), F.asc("doc_id"))
    # Persisted: ≤ k rows, replayed by the rerank stage and the
    # suite's hybrid branch.
    return tracked_persist(
        fused.select(
            "doc_id",
            "lex_rank",
            "vec_rank",
            F.expr(f"cast(floor(({rrf}) * 1e9 + 0.5) as bigint)").alias("rrf_e9"),
        )
        .withColumn("fused_rank", F.row_number().over(wf).cast("long"))
    )


def _oracle_hybrid_retrieval() -> str:
    from weatherflow_spark.plans.ext_similarity import ORACLE_SIMILARITY_TOPK

    return f"""
    WITH lex AS ({_oracle_tfidf_topk()}),
    vec AS ({ORACLE_SIMILARITY_TOPK}),
    lexr AS (
        SELECT doc_id, CAST(row_number() OVER (
            ORDER BY score_e6 DESC, doc_id ASC) AS BIGINT) AS lex_rank
        FROM lex
    ),
    vecr AS (
        SELECT vec_id AS doc_id, CAST(row_number() OVER (
            ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS vec_rank
        FROM vec
    ),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               CAST(floor((COALESCE(1.0 / ({RRF_K} + l.lex_rank),
                                    CAST(0.0 AS DOUBLE))
                           + COALESCE(1.0 / ({RRF_K} + v.vec_rank),
                                      CAST(0.0 AS DOUBLE))) * 1e9 + 0.5)
                    AS BIGINT) AS rrf_e9
        FROM lexr l FULL OUTER JOIN vecr v USING (doc_id)
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_e9,
           CAST(row_number() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS BIGINT)
               AS fused_rank
    FROM fused
"""


# ---------------------------------------------------------------------------
# q_rerank_topk — E58: model rerank over the bounded shortlist
# ---------------------------------------------------------------------------


def _make_cross_encoder_fn(query: str) -> "Callable":
    """Closure-built (pickles by value — the applyInPandas lesson)
    Arrow-batched stand-in for a cross-encoder scorer: the engine's
    rolling char fold over ``query || '|' || text`` — deterministic,
    SQL-replicable, and exercising the exact seam a real model uses
    (pandas in, scores out, one bounded batch). Swap the fold for an
    ONNX/torch call and nothing else changes."""
    from weatherflow_spark.functions.text import CHAR_P, MOD

    def score(texts):
        import pandas as pd

        out = []
        for t in texts:
            s = f"{query}|{t}"
            acc = 0
            for ch in s:
                acc = (acc * CHAR_P + ord(ch)) % MOD
            out.append(acc)
        return pd.Series(out)

    return score


RERANK_QUERY = " ".join(QUERY_TERMS)


def q_rerank_topk(
    spark: SparkSession, sf_dir: str, hybrid: DataFrame | None = None
) -> DataFrame:
    """Second-stage rerank — the retrieve-then-rerank shape every RAG
    stack runs: the fused first-stage shortlist (E52, already
    k-bounded) joins back to its documents and a "cross-encoder"
    scores each (query, doc) pair through the sanctioned pandas_udf
    seam. The defining scale property is WHERE the model runs: over
    the ≤ k-row shortlist only, never the corpus — inference cost is
    O(k) per query regardless of corpus size, and the plan shows it
    (the corpus scan feeds a semi-join-shaped broadcast join against
    34 ids, then the UDF).

    The scorer is the deterministic char-fold stand-in (real
    deployments swap in the model behind the same seam — the
    multimodal-decode precedent), so the rerank is DuckDB-oracled
    end-to-end: score, new rank, and the rank delta vs the fused
    first stage all hash-check.

    ``hybrid`` lets a caller that already built the first stage pass
    it in (the ``semantic_dup_pairs(assigned=...)`` pattern) so the
    fused shortlist plans ONCE — q_text_mining_suite unions both the
    hybrid branch and this rerank."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    if hybrid is None:
        hybrid = q_hybrid_retrieval(spark, sf_dir)
    cands = hybrid.select("doc_id", "fused_rank")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ce = pandas_udf(LongType())(_make_cross_encoder_fn(RERANK_QUERY))
    w = Window.orderBy(F.desc("ce_score"), F.asc("doc_id"))
    return (
        docs.join(F.broadcast(cands), "doc_id")
        .select("doc_id", "fused_rank", ce(F.col("text")).alias("ce_score"))
        .withColumn("rerank", F.row_number().over(w).cast("long"))
        .withColumn("rank_delta", F.col("fused_rank") - F.col("rerank"))
    )


def _oracle_rerank_topk() -> str:
    # The fold helper takes ANY SQL expression — hand it the composed
    # (query || '|' || text) string directly rather than post-hoc
    # string surgery on its output (r6 ADVICE: a .replace() on the
    # helper's internal spelling silently no-ops if the helper ever
    # renames its parameter).
    fold = T._tok_hash_lambda_duck(f"('{RERANK_QUERY}|' || d.text)")
    return f"""
    WITH cands AS (
        SELECT doc_id, fused_rank FROM ({_oracle_hybrid_retrieval()})
    ),
    scored AS (
        SELECT c.doc_id, c.fused_rank, {fold} AS ce_score
        FROM cands c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, fused_rank, ce_score,
           CAST(row_number() OVER (ORDER BY ce_score DESC, doc_id ASC)
                AS BIGINT) AS rerank,
           fused_rank - CAST(row_number() OVER (
               ORDER BY ce_score DESC, doc_id ASC) AS BIGINT) AS rank_delta
    FROM scored
"""


# ---------------------------------------------------------------------------
# q_hard_negatives — E64: hard-negative mining for retrieval training
# ---------------------------------------------------------------------------


def q_hard_negatives(
    spark: SparkSession, sf_dir: str, hybrid: DataFrame | None = None
) -> DataFrame:
    """Hard-negative mining — the training-pair generator behind every
    dense-retriever fine-tune (DPR/ANCE style): documents one signal
    ranks highly but the other misses entirely are the informative
    negatives. Rides the SAME fused frame as hybrid retrieval (pass it
    in via ``hybrid`` to plan the shortlist once): docs with a lexical
    rank but no vector rank are 'lex_only' hard negatives for the
    dense tower, the converse 'vec_only' for the sparse tower, and
    agreement rows 'both' (positives). ``neg_rank`` orders each class
    by how hard the negative is (best surviving rank first, doc_id
    tie-break).

    Scale posture: pure classification + one k-bounded window over
    the already-k-bounded fused shortlist — no new corpus pass, no
    new shuffle beyond a <=2k-row sort."""
    if hybrid is None:
        hybrid = q_hybrid_retrieval(spark, sf_dir)
    labeled = hybrid.select(
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(-1)).alias("lex_rank"),
        F.coalesce(F.col("vec_rank"), F.lit(-1)).alias("vec_rank"),
        F.when(F.col("lex_rank").isNull(), "vec_only")
        .when(F.col("vec_rank").isNull(), "lex_only")
        .otherwise("both")
        .alias("label"),
        F.least(
            F.coalesce(F.col("lex_rank"), F.lit(1_000_000)),
            F.coalesce(F.col("vec_rank"), F.lit(1_000_000)),
        ).alias("best_rank"),
    )
    w = Window.partitionBy("label").orderBy(F.asc("best_rank"), F.asc("doc_id"))
    return labeled.select(
        "doc_id",
        "label",
        "lex_rank",
        "vec_rank",
        F.row_number().over(w).cast("long").alias("neg_rank"),
    )


def _oracle_hard_negatives() -> str:
    return f"""
    WITH fused AS ({_oracle_hybrid_retrieval()}),
    labeled AS (
        SELECT doc_id,
               COALESCE(lex_rank, -1) AS lex_rank,
               COALESCE(vec_rank, -1) AS vec_rank,
               CASE WHEN lex_rank IS NULL THEN 'vec_only'
                    WHEN vec_rank IS NULL THEN 'lex_only'
                    ELSE 'both' END AS label,
               least(COALESCE(lex_rank, 1000000),
                     COALESCE(vec_rank, 1000000)) AS best_rank
        FROM fused
    )
    SELECT doc_id, label, lex_rank, vec_rank,
           CAST(row_number() OVER (
               PARTITION BY label ORDER BY best_rank ASC, doc_id ASC
           ) AS BIGINT) AS neg_rank
    FROM labeled
"""


# ---------------------------------------------------------------------------
# q_feature_hash — E46: hashing-trick feature vectors (vectorization)
# ---------------------------------------------------------------------------

FEATURE_DIM = 16


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (HashingTF with sign correction):
    every document becomes a fixed-D signed token-count vector —
    bucket = hash(token) mod D, sign = parity of the next hash bit —
    the stateless, vocabulary-free featurizer that feeds linear
    models and MinHash-free clustering at any corpus size (no fitted
    vocabulary to broadcast, no OOV problem, D fixed up front).

    Entirely NARROW: the token hash is the engine's cross-engine
    char fold, the D bucket sums are per-document array folds, and no
    shuffle of any kind appears — the featurizer streams through the
    corpus once, embarrassingly parallel. The vector serializes to a
    '|'-joined string so the certification hash pins every component.

    The one exchange in the plan is an EXPLICIT spread off the raw
    file splits (single-file testdata would otherwise run the whole
    CPU-bound fold in one task — the q_knn_graph lesson); at
    production split counts the scan parallelizes naturally and the
    spread is a cheap rebalance."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    )
    th = (
        f"transform(filter({T.tokens_expr('text')}, w -> w <> ''), "
        f"tok -> {T._tok_hash_lambda_spark('tok')})"
    )
    fvec = (
        f"transform(sequence(0, {FEATURE_DIM - 1}), i -> "
        f"aggregate(hs, cast(0 as bigint), (acc, h) -> acc + "
        f"CASE WHEN h % {FEATURE_DIM} = i THEN "
        f"(CASE WHEN (h div {FEATURE_DIM}) % 2 = 0 THEN 1 ELSE -1 END) "
        f"ELSE 0 END))"
    )
    return (
        docs.select("doc_id", F.expr(th).alias("hs"))
        .select("doc_id", F.expr(fvec).alias("fv"))
        .select(
            "doc_id",
            F.expr("cast(size(filter(fv, x -> x <> 0)) as bigint)").alias("nnz"),
            F.expr(
                "aggregate(fv, cast(0 as bigint), (acc, x) -> acc + abs(x))"
            ).alias("l1"),
            F.expr("array_join(transform(fv, x -> cast(x as string)), '|')").alias(
                "fvec"
            ),
        )
    )


ORACLE_FEATURE_HASH = f"""
    WITH hs AS (
        SELECT doc_id,
               list_transform(list_filter({T.tokens_sql('text')}, w -> w <> ''),
                   tok -> {T._tok_hash_lambda_duck('tok')}) AS hs
        FROM documents
    ),
    fv AS (
        SELECT doc_id,
               list_transform(generate_series(0, {FEATURE_DIM - 1}), i ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(hs, h ->
                           CASE WHEN h % {FEATURE_DIM} = i THEN
                               (CASE WHEN (h // {FEATURE_DIM}) % 2 = 0
                                     THEN CAST(1 AS BIGINT)
                                     ELSE CAST(-1 AS BIGINT) END)
                           ELSE CAST(0 AS BIGINT) END)),
                       (acc, x) -> acc + x)) AS fv
        FROM hs
    )
    SELECT doc_id,
           CAST(len(list_filter(fv, x -> x <> 0)) AS BIGINT) AS nnz,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(fv, x -> abs(x))), (acc, x) -> acc + x) AS l1,
           array_to_string(list_transform(fv, x -> CAST(x AS VARCHAR)), '|')
               AS fvec
    FROM fv
"""


# ---------------------------------------------------------------------------
# q_inverted_index — capped posting-list construction
# ---------------------------------------------------------------------------

POSTINGS_K = 20
INDEX_TOP = 20


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: for the 20 highest-df tokens, the exact
    document frequency plus a capped posting sample (first 20 doc ids
    in id order, comma-joined) — the index-construction pass under
    every lexical-retrieval system, with the posting cap that keeps
    output rows bounded no matter how hot the token.

    One token exchange serves the df count window, the posting-rank
    window (row_number ≤ K plans as WindowGroupLimit — per-task heaps
    trim before the shuffle), and the per-token fold; the final
    top-20 is a heap."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"array_distinct(filter({T.tokens_expr('text')}, x -> x <> ''))"
            )
        ).alias("token"),
    )
    win = Window.partitionBy("token")
    ranked = dt.withColumn(
        "df", F.count(F.lit(1)).over(win).cast("bigint")
    ).withColumn(
        "rn", F.row_number().over(win.orderBy(F.asc("doc_id")))
    )
    return (
        ranked.where(F.col("rn") <= POSTINGS_K)
        .groupBy("token")
        .agg(
            F.min("df").alias("df"),
            F.array_join(
                F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ","
            ).alias("postings_sample"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(INDEX_TOP)
    )


ORACLE_INVERTED_INDEX = f"""
    WITH dt AS (
        SELECT doc_id,
               unnest(list_distinct(
                   list_filter({T.tokens_sql('text')}, x -> x <> ''))) AS token
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, token,
               CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df,
               row_number() OVER (PARTITION BY token ORDER BY doc_id ASC) AS rn
        FROM dt
    )
    SELECT token, min(df) AS df,
           array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',')
               AS postings_sample
    FROM ranked WHERE rn <= {POSTINGS_K}
    GROUP BY token
    ORDER BY df DESC, token ASC
    LIMIT {INDEX_TOP}
"""


MINING_QUERIES = {
    "q_text_profile_suite": q_text_profile_suite,
    "q_text_mining_suite": q_text_mining_suite,
    "q_tfidf_topk": q_tfidf_topk,
    "q_pmi_cooc": q_pmi_cooc,
    "q_inverted_index": q_inverted_index,
    "q_bpe_train": q_bpe_train,
    "q_bpe_encode": q_bpe_encode,
    "q_feature_hash": q_feature_hash,
    "q_hybrid_retrieval": q_hybrid_retrieval,
    "q_hard_negatives": q_hard_negatives,
    "q_rerank_topk": q_rerank_topk,
    "q_retrieval_eval": q_retrieval_eval,
}

MINING_ORACLES = {
    "q_bpe_encode": _oracle_bpe_encode(),
    "q_feature_hash": ORACLE_FEATURE_HASH,
    "q_hybrid_retrieval": _oracle_hybrid_retrieval(),
    "q_hard_negatives": _oracle_hard_negatives(),
    "q_rerank_topk": _oracle_rerank_topk(),
    "q_text_profile_suite": _oracle_text_profile_suite(),
    "q_text_mining_suite": _oracle_text_mining_suite(),
    "q_tfidf_topk": _oracle_tfidf_topk(),
    "q_pmi_cooc": _oracle_pmi_cooc(),
    "q_inverted_index": ORACLE_INVERTED_INDEX,
    "q_bpe_train": _oracle_bpe_train(),
    "q_retrieval_eval": _oracle_retrieval_eval(),
}
