"""Physical-plan regression audit: the properties that make the
certified queries viable at 100 TB must be visible in their plans,
not just assumed — filters reaching the parquet scan, column pruning,
dimension broadcasts, top-k as a bounded heap, and (globally) no
cartesian products anywhere in the certified window. A refactor that
silently de-optimizes a plan fails here even though results stay
correct."""

from __future__ import annotations

import re

import pytest

from weatherflow_spark.plans import QUERIES
from tests.conftest import SF_SMALL

# The certified prefix (dict insertion order = registry order).
WINDOW = list(QUERIES)[:50]


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    """Plan audits assert exchange/scan counts, which the CacheManager
    perturbs by substituting any still-persisted relation from earlier
    tests into the audited plan — audit against a cold cache."""
    from weatherflow_spark.operators.caching import release_caches

    release_caches()
    spark.catalog.clearCache()
    yield


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plan(df) -> str:
    """The query's formatted plan plus the plans of the relations its
    build materialised (``tracked_persist`` checkpoints read back as
    ``Scan ExistingRDD``, so their subtrees live only in those)."""
    from weatherflow_spark.operators.caching import materialised_plans

    p = "\n".join([_explain(df), *materialised_plans()])
    # A plan that outgrew spark.sql.maxPlanStringLength is truncated
    # with a marker, against which every absence/count assertion below
    # would pass VACUOUSLY ("'SortMergeJoin' not in p" is true of any
    # truncated tail). Fail loudly instead.
    assert "more characters" not in p and "Truncated" not in p, (
        "formatted plan hit spark.sql.maxPlanStringLength"
    )
    return p


def _detail_headers(plan: str, node: str) -> list[str]:
    """Unique physical nodes of a type, counted via the formatted
    explain's detail-section headers (``(N) NodeName``, plus the
    ``[codegen id : K]`` suffix outside AQE) — one line per node, no
    double counting from the tree section."""
    return re.findall(
        rf"^\(\d+\) {re.escape(node)}(?: \[codegen id : \d+\])?\s*$",
        plan,
        flags=re.M,
    )


def _detail_blocks(plan: str, node: str) -> list[str]:
    """The full detail block (header + Input/Arguments lines) of every
    physical node of the given type."""
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.M)
    return [b for b in blocks if re.match(rf"\(\d+\) {re.escape(node)}\s*$", b.splitlines()[0])]


def test_scan_filter_project_pushes_down(spark):
    """S1/P1/P2: the predicate and the 3-column projection must reach
    the parquet scan — a scan reading all columns for a 3-column
    projection is wrong at any scale."""
    p = _plan(QUERIES["q_scan_filter_project"](spark, SF_SMALL))
    assert "PushedFilters: [" in p, p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no filters pushed to the scan:\n{p}"
    read_schema = p.split("ReadSchema: ", 1)[1].splitlines()[0]
    for unused in ("c_address", "c_phone", "c_comment"):
        assert unused not in read_schema, (
            f"unused column read from parquet:\n{read_schema}"
        )


def test_derived_metrics_is_narrow_single_stage(spark):
    """F11-F14 are pure column arithmetic: the whole query must be one
    shuffle-free whole-stage-codegen pipeline over the scan."""
    p = _plan(QUERIES["q_derived_metrics"](spark, SF_SMALL))
    assert "Exchange" not in p, f"narrow transform plan contains a shuffle:\n{p}"
    # formatted explain marks codegen'd operators with "[codegen id : N]"
    assert "[codegen id :" in p, f"transform fell out of whole-stage codegen:\n{p}"


def test_star_join_broadcasts_dimensions(spark):
    """J2: the star join must broadcast its dimension sides — a
    shuffle join against a small dim wastes a full fact shuffle."""
    p = _plan(QUERIES["q_star_join_agg"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, f"star join plans no broadcast:\n{p}"


def test_tpch_suite_broadcasts_dimensions(spark):
    p = _plan(QUERIES["q_tpch_suite"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p


def test_topk_is_bounded_heap(spark):
    """O2: ORDER BY + LIMIT must plan as TakeOrderedAndProject (a
    k-row heap per partition + driver merge), never a global sort."""
    p = _plan(QUERIES["q_topk"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p, p


def test_groupby_agg_has_map_side_partials(spark):
    """A1: hash aggregation must run partial (map-side) before the
    exchange and final after — one aggregated row per group crosses
    the wire, not one row per fact."""
    p = _plan(QUERIES["q_groupby_agg"](spark, SF_SMALL))
    assert p.count("HashAggregate") >= 2, p
    assert "Exchange" in p


def test_funnel_single_data_scale_exchange(spark):
    """q_funnel's documented shape (plans/analytics.py): the three
    same-key windows + per-user collapse reuse ONE
    hashpartitioning(user_id) exchange; the only other exchange is the
    constant-size SinglePartition for the 3-row totals."""
    p = _plan(QUERIES["q_funnel"](spark, SF_SMALL))
    exchanges = _detail_blocks(p, "Exchange")
    assert len(exchanges) == 2, f"expected 2 Exchanges, plan:\n{p}"
    by_user = [b for b in exchanges if "hashpartitioning(user_id" in b]
    single = [b for b in exchanges if "SinglePartition" in b]
    assert len(by_user) == 1, f"expected one user_id exchange:\n{p}"
    assert len(single) == 1, f"expected one SinglePartition exchange:\n{p}"


def test_source_mixture_scans_corpus_exactly_twice(spark):
    """q_source_mixture's persist contract (plans/ext_text.py): the
    documents corpus is scanned exactly twice — the persisted totals
    pass and the fingerprint/membership pass. A third scan means the
    persist stopped covering a subtree."""
    p = _plan(QUERIES["q_source_mixture"](spark, SF_SMALL))
    scans = _detail_headers(p, "Scan parquet")
    assert len(scans) == 2, f"expected exactly 2 corpus FileScans:\n{p}"


def test_incremental_dedup_never_shuffles_corpus(spark):
    """q_incremental_dedup's scale contract (plans/ext_dedup.py): the
    corpus side is never shuffled — every join must be a broadcast
    hash join with the batch-bounded side built (no SortMergeJoin /
    ShuffledHashJoin anywhere), and the only Exchanges are the
    batch-bounded distinct/agg relations (≤ 5)."""
    p = _plan(QUERIES["q_incremental_dedup"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p, f"corpus-side shuffle join:\n{p}"
    assert "ShuffledHashJoin" not in p, f"corpus-side shuffle join:\n{p}"
    n_exchange = len(_detail_headers(p, "Exchange"))
    assert n_exchange <= 5, f"unexpected extra exchange ({n_exchange}):\n{p}"


def test_decontaminate_broadcasts_only_bench_grams(spark):
    """q_decontaminate must broadcast exactly ONE relation: the
    small-by-construction benchmark gram set. A second broadcast means
    the data-dependent hits/verdict rejoin came back — the one flagged
    100 TB hazard of round 4 (driver OOM on a heavily-leaked corpus)."""
    p = _plan(QUERIES["q_decontaminate"](spark, SF_SMALL))
    assert len(_detail_headers(p, "BroadcastExchange")) == 1, (
        f"expected exactly one BroadcastExchange (bench grams):\n{p}"
    )
    agg = [b for b in _detail_blocks(p, "Exchange") if "hashpartitioning(doc_id" in b]
    assert len(agg) == 1, f"expected one per-doc re-aggregation exchange:\n{p}"


def test_pii_redact_is_narrow_single_stage(spark):
    """E27: PII counting + redaction + fingerprint are pure per-row
    column expressions — the plan must be a shuffle-free codegen
    pipeline over the scan."""
    p = _plan(QUERIES["q_pii_redact"](spark, SF_SMALL))
    assert "Exchange" not in p, f"narrow redaction plan contains a shuffle:\n{p}"
    assert "[codegen id :" in p


def test_doc_chunks_is_narrow_generator(spark):
    """E28: chunking is a 1→N generator pipelined into the scan —
    no shuffle anywhere."""
    p = _plan(QUERIES["q_doc_chunks"](spark, SF_SMALL))
    assert "Exchange" not in p, f"narrow chunking plan contains a shuffle:\n{p}"
    assert len(_detail_headers(p, "Generate")) == 1, p


def test_sequence_pack_single_stream_exchange(spark):
    """E29: packing shuffles once on the stream key (source) for the
    per-partition prefix sum — exactly one Exchange, one Window."""
    p = _plan(QUERIES["q_sequence_pack"](spark, SF_SMALL))
    exchanges = _detail_blocks(p, "Exchange")
    assert len(exchanges) == 1, f"expected exactly one Exchange:\n{p}"
    assert "hashpartitioning(source" in exchanges[0], exchanges[0]
    assert len(_detail_headers(p, "Window")) == 1, p


def test_quality_filter_is_narrow_single_stage(spark):
    """Gopher rule set is pure per-row column math over two let-bound
    arrays — the whole query must pipeline into the scan with zero
    shuffles."""
    p = _plan(QUERIES["q_quality_filter"](spark, SF_SMALL))
    assert "Exchange" not in p, f"narrow quality filter contains a shuffle:\n{p}"
    assert len(_detail_headers(p, "Scan parquet")) == 1, p


def test_sequence_pack_indexed_has_no_stream_wide_window(spark):
    """E29 scale-safe form: every data-scale window partition must be
    bucket-bounded — the window that orders by doc_id has to carry the
    _bucket column in its partition spec (so no single source can
    funnel the corpus through one task), the base-offset table joins
    back by broadcast (no shuffle join), and exactly one exchange is
    data-scale: hashpartitioning(source, _bucket) for that window."""
    p = _plan(QUERIES["q_sequence_pack_indexed"](spark, SF_SMALL))
    doc_windows = [
        m
        for m in re.findall(r"windowspecdefinition\([^)]*\)", p)
        if "doc_id" in m
    ]
    assert doc_windows, f"no doc-ordered window found:\n{p}"
    for w in doc_windows:
        assert "_bucket" in w.split("doc_id")[0], (
            f"doc-ordered window is not bucket-bounded:\n{w}\n{p}"
        )
    assert "BroadcastHashJoin" in p, f"base-offset join is not broadcast:\n{p}"
    assert "SortMergeJoin" not in p
    # Three exchanges total: the tiny (source,_bucket) partial-agg and
    # per-source prefix exchanges over the totals table, and ONE
    # data-scale (source,_bucket) exchange — the only one whose rows
    # still carry doc_id.
    data_scale = [
        b
        for b in _detail_blocks(p, "Exchange")
        if "hashpartitioning(source" in b and "_bucket" in b and "doc_id" in b
    ]
    assert len(data_scale) == 1, f"expected one data-scale (source,_bucket) exchange:\n{p}"


def test_ann_batch_broadcasts_probes_and_bounds_ranking(spark):
    """E2 batch form: the probe set must broadcast (corpus streams
    through one keyed bucket join — no shuffle join), and the only
    data-scale exchange is the per-query ranking window's
    hashpartitioning(q_id) over bucket-bounded candidates."""
    p = _plan(QUERIES["q_ann_batch_topk"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in p, f"probe join is not broadcast:\n{p}"
    assert "SortMergeJoin" not in p
    exchanges = [b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b]
    assert len(exchanges) == 1 and "q_id" in exchanges[0], f"{exchanges}\n{p}"


def test_tfidf_broadcasts_stats_and_bounds_topk(spark):
    """E30 BM25: the plan is join-free except the 1-row corpus-stats
    broadcast (df is a count window over the single tf derivation, so
    the term-filter subtree is computed once, not once per use), and
    the final top-k must be a bounded heap, not a global sort. Three
    data-scale exchanges — (doc_id, token) tf agg, token df window,
    per-doc score agg — all pre-shrunk by the narrow query-term
    filter; exactly two corpus scans (stats pass + term pass)."""
    p = _plan(QUERIES["q_tfidf_topk"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p, f"BM25 plans a shuffle join:\n{p}"
    assert "ShuffledHashJoin" not in p
    assert "TakeOrderedAndProject" in p, f"top-k fell back to a global sort:\n{p}"
    data_scale = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    assert len(data_scale) == 3, f"expected 3 data-scale exchanges:\n{p}"
    assert len(_detail_headers(p, "Scan parquet")) == 2, (
        f"expected exactly 2 corpus scans:\n{p}"
    )


def test_pmi_pair_generation_is_narrow(spark):
    """E31 PMI: pair expansion must be a higher-order-function
    Generate over each document's token array — never a self-join.
    Marginals and the vocab cap ride back as broadcasts; the bounded
    top-k is a heap."""
    p = _plan(QUERIES["q_pmi_cooc"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p, f"PMI pair-gen degraded to a shuffle join:\n{p}"
    assert "ShuffledHashJoin" not in p
    assert len(_detail_headers(p, "Generate")) >= 2, (
        f"expected explode-based token and pair generators:\n{p}"
    )
    assert "BroadcastHashJoin" in p, f"marginal join is not broadcast:\n{p}"
    assert "TakeOrderedAndProject" in p, f"top-k fell back to a global sort:\n{p}"


def test_domain_quota_single_exchange(spark):
    """Per-source quota is one hash-partitioned ranking window: exactly
    one Exchange (on source), one Window, no joins."""
    p = _plan(QUERIES["q_domain_quota"](spark, SF_SMALL))
    exchanges = _detail_blocks(p, "Exchange")
    assert len(exchanges) == 1, f"expected exactly one Exchange:\n{p}"
    assert "hashpartitioning(source" in exchanges[0], exchanges[0]
    assert len(_detail_headers(p, "Window")) == 1, p


def test_event_transitions_two_exchanges_no_join(spark):
    """E35 transition matrix: one user_id exchange for the lead
    window, one (from, to) exchange for the pair count; the per-state
    totals are a window over the counts (no join, no third data-scale
    exchange)."""
    p = _plan(QUERIES["q_event_transitions"](spark, SF_SMALL))
    assert "Join" not in p, f"transition plan contains a join:\n{p}"
    data_scale = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    # user_id window + (from,to) agg + from_type totals window — the
    # third exchange carries only state-cardinality rows.
    assert len(data_scale) == 3, f"expected 3 exchanges:\n{p}"
    assert any("user_id" in b for b in data_scale), p
    assert any("from_type" in b and "to_type" in b for b in data_scale), p


def test_triangle_count_narrow_pairs_no_cartesian(spark):
    """E34 triangles: edge pairs come from the narrow higher-order
    expansion (Generate), wedge/closure are keyed equi-joins — no
    cartesian product anywhere."""
    p = _plan(QUERIES["q_triangle_count"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, f"triangle plan went cartesian:\n{p}"
    assert len(_detail_headers(p, "Generate")) >= 1, (
        f"expected explode-based pair generator:\n{p}"
    )


def test_boilerplate_flag_join_stays_keyed(spark):
    """E39 boilerplate: the flag join is UNHINTED — Catalyst's size
    estimate picks broadcast at test scale (fp counts are tiny here)
    and degrades gracefully to the chunk_fp-co-partitioned shuffle
    join at corpus scale; what must hold at every scale is the keyed
    shape: a chunk_fp count exchange, a doc_id fold-back exchange, and
    no cartesian anywhere."""
    p = _plan(QUERIES["q_boilerplate_detect"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    fp_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning(chunk_fp" in b
    ]
    doc_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning(doc_id" in b
    ]
    assert fp_ex and doc_ex, f"expected chunk_fp and doc_id exchanges:\n{p}"


def test_weighted_sample_is_narrow_heap(spark):
    """E36 ES weighted sampling: fingerprint, weight, and the −ln(u)/w
    key are pure column math pipelining into the scan; the top-k is a
    bounded heap. Zero data-scale exchanges."""
    p = _plan(QUERIES["q_weighted_sample"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in p, f"sample fell back to a global sort:\n{p}"
    data_scale = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    assert not data_scale, f"narrow sample plan shuffles:\n{p}"


def test_inverted_index_single_token_exchange(spark):
    """E37 inverted index: the df window, the posting-rank window
    (WindowGroupLimit — per-task heaps trim before the shuffle), and
    the per-token fold all ride ONE token exchange; the final top-20
    is a heap."""
    p = _plan(QUERIES["q_inverted_index"](spark, SF_SMALL))
    data_scale = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    assert len(data_scale) == 1 and "token" in data_scale[0], (
        f"expected one token exchange:\n{p}"
    )
    assert "WindowGroupLimit" in p, f"posting cap does not pre-trim:\n{p}"
    assert "TakeOrderedAndProject" in p, f"top-k fell back to a global sort:\n{p}"


def test_scd2_single_user_exchange(spark):
    """E33 SCD2: the change window, the run aggregation (user_id is a
    prefix of the grouping key, so no re-exchange), and the valid_to
    lead window must all ride ONE hash exchange on user_id — and the
    plan is join-free."""
    p = _plan(QUERIES["q_scd2_dim"](spark, SF_SMALL))
    exchanges = _detail_blocks(p, "Exchange")
    assert len(exchanges) == 1, f"expected exactly one Exchange:\n{p}"
    assert "hashpartitioning(user_id" in exchanges[0], exchanges[0]
    assert "Join" not in p, f"SCD2 plan contains a join:\n{p}"


def test_semantic_dedup_single_corpus_scan_keyed_pair_join(spark):
    """E41 SemDeDup: the assignment (quantize + broadcast-argmin) is
    computed ONCE into a cached relation feeding all four consumers —
    no repeated corpus scan in the executed plan; the within-cluster
    pair generation is a keyed equi-join on the cluster id (never a
    data-scale cartesian — the only BroadcastNestedLoopJoin allowed
    is the 1-row centroid-array attach inside the materialization);
    the kept set is a LeftAnti join."""
    p = _plan(QUERIES["q_semantic_dedup"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    bnlj = _detail_blocks(p, "BroadcastNestedLoopJoin")
    assert len(bnlj) <= 1, f"unexpected nested-loop joins:\n{p}"
    for b in bnlj:
        assert "Join type: Cross" in b and "Join condition: None" in b, b
    pair_joins = [
        b
        for b in _detail_blocks(p, "BroadcastHashJoin")
        + _detail_blocks(p, "SortMergeJoin")
        + _detail_blocks(p, "ShuffledHashJoin")
        if "cluster#" in b and "Join type: Inner" in b and "aggregate(zip_with" in b
    ]
    assert pair_joins, f"pair generation is not a cluster-keyed equi-join:\n{p}"
    assert "Join type: LeftAnti" in p, f"kept set is not an anti-join:\n{p}"


def test_unigram_lm_one_token_exchange_narrow_scoring(spark):
    """E42 unigram-LM scoring: the model phase owns the single
    corpus-scale exchange (token counts, map-side partials); the
    top-V + total fold to broadcast rows; scoring is narrow — no
    per-token join back to the corpus (the broadcast map lookup
    replaces it), so the plan has no keyed join at all."""
    p = _plan(QUERIES["q_unigram_lm_score"](spark, SF_SMALL))
    hash_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    assert len(hash_ex) == 1, f"expected one hash exchange:\n{p}"
    assert "hashpartitioning(token" in hash_ex[0], hash_ex[0]
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, f"unexpected keyed join ({node}):\n{p}"
    assert "CartesianProduct" not in p, p


def test_bpe_encode_one_corpus_exchange_per_round_pair_aggs(spark):
    """E43 BPE encode: the word-frequency exchange appears twice in
    the PLAN (training's aggregation + the type table the encoder
    folds over) but the lineages are identical, so the persisted
    training relation serves both at runtime — and the pair-count
    exchanges stay at exactly BPE_MERGES because per-round argmax
    rows are persisted (no round's aggregation re-executes per
    downstream reference). The document pass itself is narrow
    (broadcast vocab map, per-token lookup, no keyed join)."""
    from weatherflow_spark.plans.ext_mining import BPE_MERGES

    p = _plan(QUERIES["q_bpe_encode"](spark, SF_SMALL))
    hash_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    word_ex = [b for b in hash_ex if "hashpartitioning(word" in b]
    pair_ex = [b for b in hash_ex if "hashpartitioning(x#" in b]
    # r14: each word-type lineage is agg exchange + the explicit
    # REPARTITION_BY_NUM spread that keeps the per-type symbol folds
    # off a single AQE-coalesced partition (_bpe_word_types). The
    # spread MUST survive optimization — a dropped spread silently
    # single-cores the fold again — and the agg count stays ≤2.
    word_spread = [b for b in word_ex if "REPARTITION_BY_NUM" in b]
    word_agg = [b for b in word_ex if "REPARTITION_BY_NUM" not in b]
    assert 1 <= len(word_spread) <= 2, (
        f"word-type spread repartition missing or multiplied:\n{p}"
    )
    assert len(word_agg) <= 2, f"expected at most two word agg exchanges:\n{p}"
    assert len(pair_ex) == BPE_MERGES, (
        f"expected {BPE_MERGES} pair exchanges, got {len(pair_ex)}:\n{p}"
    )
    assert len(hash_ex) == len(word_ex) + len(pair_ex), p
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, f"unexpected keyed join ({node}):\n{p}"
    assert "CartesianProduct" not in p, p


def test_knn_graph_bucket_join_heap_trimmed_ranking(spark):
    """E44 two-stage k-NN graph: candidate generation is a keyed
    equi-join on the LSH bucket (never a cartesian over vectors)
    whose shuffle carries only (ids, hamming) — the vector join-backs
    for the exact-cosine stage are keyed on the shortlist ids; the
    Hamming shortlist plans as partial+final WindowGroupLimit (heaps
    trim candidates before the single src_id exchange) and the cosine
    stage reuses that partitioning — exactly ONE src_id exchange in
    the whole plan."""
    p = _plan(QUERIES["q_knn_graph"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    joins = (
        _detail_blocks(p, "BroadcastHashJoin")
        + _detail_blocks(p, "SortMergeJoin")
        + _detail_blocks(p, "ShuffledHashJoin")
    )
    bucket_joins = [b for b in joins if "Left keys [1]: [bucket#" in b]
    id_joins = [
        b
        for b in joins
        if "Left keys [1]: [src_id#" in b or "Left keys [1]: [nb_id#" in b
    ]
    assert len(bucket_joins) == 1, f"expected one bucket-keyed join:\n{p}"
    assert len(id_joins) == 2, f"expected two shortlist join-backs:\n{p}"
    assert len(joins) == 3, p
    assert len(_detail_headers(p, "WindowGroupLimit")) == 3, (
        f"expected partial+final hamming trim and final cosine trim:\n{p}"
    )
    hash_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    src_ex = [b for b in hash_ex if "hashpartitioning(src_id" in b]
    bucket_ex = [
        b
        for b in hash_ex
        if "REPARTITION_BY_NUM" in b and "hashpartitioning(bucket" in b
    ]
    assert len(src_ex) == 1, f"expected one src_id ranking exchange:\n{p}"
    assert len(bucket_ex) == 2, (
        f"expected two explicit bucket repartitions:\n{p}"
    )


def test_feature_hash_is_narrow_zero_shuffle(spark):
    """E46 hashing-trick vectorization is stateless and
    vocabulary-free — the featurizer must pipeline after ONE explicit
    spread repartition (no ENSURE_REQUIREMENTS exchange of its own)
    with zero joins."""
    p = _plan(QUERIES["q_feature_hash"](spark, SF_SMALL))
    exchanges = _detail_blocks(p, "Exchange")
    assert len(exchanges) == 1 and "REPARTITION_BY_NUM" in exchanges[0], (
        f"expected only the explicit spread repartition:\n{p}"
    )
    assert "Join" not in p, f"narrow featurizer contains a join:\n{p}"
    assert len(_detail_headers(p, "Scan parquet")) == 1, p


def test_ewma_single_user_exchange_no_join(spark):
    """E45 EWMA: the sequential fold rides ONE user_id exchange (the
    groupBy collect) — no window, no join, nothing corpus-wide."""
    p = _plan(QUERIES["q_ewma"](spark, SF_SMALL))
    hash_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    assert len(hash_ex) == 1 and "user_id" in hash_ex[0], (
        f"expected one user_id exchange:\n{p}"
    )
    assert "Join" not in p, f"EWMA plan contains a join:\n{p}"


def test_perplexity_filter_two_exchanges_no_keyed_join(spark):
    """E51: the LM model phase owns the token exchange, the
    percentile cut adds ONE source-keyed window exchange — nothing
    else shuffles and there is no keyed join (the model is a
    broadcast map)."""
    p = _plan(QUERIES["q_perplexity_filter"](spark, SF_SMALL))
    hash_ex = [
        b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b
    ]
    token_ex = [b for b in hash_ex if "hashpartitioning(token" in b]
    source_ex = [b for b in hash_ex if "hashpartitioning(source" in b]
    assert len(token_ex) == 1, f"expected one token exchange:\n{p}"
    assert len(source_ex) == 1, f"expected one source window exchange:\n{p}"
    assert len(hash_ex) == 2, f"unexpected extra exchanges:\n{p}"
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, f"unexpected keyed join ({node}):\n{p}"


def test_data_quality_report_joins_are_anti_and_keyed(spark):
    """E55: the fk checks must be keyed ANTI joins (broadcast or
    shuffled — AQE's call), never cartesian, and every other check is
    a plain aggregation."""
    p = _plan(QUERIES["q_data_quality_report"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    joins = (
        _detail_blocks(p, "BroadcastHashJoin")
        + _detail_blocks(p, "SortMergeJoin")
        + _detail_blocks(p, "ShuffledHashJoin")
    )
    assert joins and all("LeftAnti" in b for b in joins), (
        f"fk checks must plan as anti joins:\n{p}"
    )


@pytest.mark.parametrize("name", WINDOW)
def test_no_cartesian_product_in_certified_window(spark, name):
    """No certified plan may contain a CartesianProduct. (Broadcast
    nested-loop joins against 1-row/tiny broadcast relations are
    allowed — that is the planned shape for scalar subqueries.)"""
    p = _plan(QUERIES[name](spark, SF_SMALL))
    assert "CartesianProduct" not in p, f"{name} plans a cartesian product:\n{p}"


def test_lp_round_plan_constant(spark):
    """E1 clusters (What's wrong r6 #1): each label-propagation round
    consumes the previous labels twice, so an unpersisted loop doubles
    the physical plan per round (measured r6: 180 parquet scans / 262
    Exchanges at LP_ROUNDS=3). With the per-round tracked_persist each
    round plans against the previous round's checkpoint, so the audited
    plan (query plan plus every materialised round) grows LINEARLY (one
    round's plan per round), never geometrically — asserted as constant
    node-count increments across rounds."""
    from weatherflow_spark.operators.caching import tracked_persist
    from weatherflow_spark.plans.iterative import _lp_round

    edges = tracked_persist(
        spark.createDataFrame(
            [(1, 2), (2, 1), (2, 3), (3, 2), (5, 6), (6, 5)], "src long, dst long"
        )
    )
    edges.count()
    labels = tracked_persist(
        edges.selectExpr("src AS doc_id", "src AS label").distinct()
    )
    labels.count()
    nodes = []
    for _ in range(3):
        labels = tracked_persist(_lp_round(edges, labels))
        p = _plan(labels)
        nodes.append(len(re.findall(r"^\(\d+\) ", p, flags=re.M)))
        labels.count()  # materialize this round before building the next
    deltas = [b - a for a, b in zip(nodes, nodes[1:])]
    assert len(set(deltas)) == 1, (
        f"plan growth per round is not constant (geometric lineage?): {nodes}"
    )


def test_dedup_clusters_plan_is_linear_in_rounds(spark):
    """The full q_dedup_clusters physical plan: r6 measured 180
    parquet scans / 262 Exchanges from the unpersisted loop doubling
    per round. With per-round persists the MinHash pipeline plans its
    scans once and each round reads the previous round's checkpoint —
    single-digit scan/exchange counts at LP_ROUNDS=3, counted over the
    query plan plus every checkpointed round's plan."""
    p = _plan(QUERIES["q_dedup_clusters"](spark, SF_SMALL))
    scans = _detail_headers(p, "Scan parquet")
    exchanges = _detail_headers(p, "Exchange")
    assert len(scans) <= 6, f"{len(scans)} parquet scans — lineage blowup is back:\n{p}"
    assert len(exchanges) <= 20, f"{len(exchanges)} Exchanges — lineage blowup:\n{p}"
    assert _detail_headers(p, "Scan ExistingRDD"), p


def test_cluster_representatives_single_pass(spark):
    """E59 (What's wrong r6 #2): the size/kept tallies must ride the
    SAME cluster_id window pass as the representative rank — ONE
    WindowExec over one clusters+quality subtree, no reps x sizes
    rejoin (previously 362 parquet scans / 528 Exchanges / 0
    ReusedExchange; now the plan adds exactly one scan over the
    clusters baseline)."""
    p = _plan(QUERIES["q_cluster_representatives"](spark, SF_SMALL))
    assert len(_detail_headers(p, "Window")) == 1, f"expected one WindowExec:\n{p}"
    scans = _detail_headers(p, "Scan parquet")
    assert len(scans) <= 7, f"duplicated upstream subtree ({len(scans)} scans):\n{p}"
    exchanges = _detail_headers(p, "Exchange")
    assert len(exchanges) <= 21, f"{len(exchanges)} Exchanges — double subtree:\n{p}"


def test_assoc_rules_no_basket_self_join(spark):
    """E63: pair generation must be the narrow in-array expansion —
    the only joins are the broadcast marginals/total; no sort-merge or
    shuffled join of basket against basket."""
    p = _plan(QUERIES["q_assoc_rules"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p, f"basket self-join planned:\n{p}"
    assert "ShuffledHashJoin" not in p, f"basket self-join planned:\n{p}"
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, f"rule list is not a bounded heap:\n{p}"


def test_train_split_single_source_exchange(spark):
    """E62: both windows (row_number + count) share ONE source-keyed
    exchange; nothing else shuffles and there are no joins."""
    p = _plan(QUERIES["q_train_split"](spark, SF_SMALL))
    hash_ex = [b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b]
    assert len(hash_ex) == 1 and "source" in hash_ex[0], (
        f"expected one source exchange:\n{p}"
    )
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in p, f"unexpected join ({node}):\n{p}"


def test_corpus_drift_one_token_exchange_heap_vocab(spark):
    """E66: the token count agg is the only corpus-scale exchange;
    the vocab cap plans as a bounded heap; totals ride a broadcast."""
    p = _plan(QUERIES["q_corpus_drift"](spark, SF_SMALL))
    hash_ex = [b for b in _detail_blocks(p, "Exchange") if "hashpartitioning(token" in b]
    assert len(hash_ex) >= 1, f"expected a token exchange:\n{p}"
    assert "TakeOrderedAndProject" in p, f"vocab cap is not a heap:\n{p}"
    assert "BroadcastExchange" in p, p


def test_random_projection_zero_shuffle_codegen(spark):
    """E68: the projection is embarrassingly parallel — no exchange
    beyond the explicit input spread, no join, and the matrix fold
    stays inside whole-stage codegen."""
    p = _plan(QUERIES["q_random_projection"](spark, SF_SMALL))
    hash_ex = [b for b in _detail_blocks(p, "Exchange") if "hashpartitioning" in b]
    assert len(hash_ex) == 1, f"expected only the explicit input spread:\n{p}"
    assert "REPARTITION_BY_NUM" in p, f"input spread is not the explicit form:\n{p}"
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Window"):
        assert node not in p, f"unexpected {node}:\n{p}"
    # (codegen annotation is hidden inside the un-finalized AQE plan;
    # the zero-join/one-exchange shape is the load-bearing claim)


def test_winnow_posting_cap_and_keyed_joins(spark):
    """E67: pair generation rides the capped posting explode (no
    all-pairs join); the only wide joins are the two doc-id size
    joins; no cartesian anywhere."""
    p = _plan(QUERIES["q_winnow_fingerprint"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in p, f"top-k is not a bounded heap:\n{p}"


def test_equidepth_histogram_one_corpus_pass(spark):
    """E65: the per-value aggregation is the only pass over raw rows;
    the bucket window runs over the compressed distinct-value table
    (single scan in the plan), with map-side partials."""
    p = _plan(QUERIES["q_equidepth_histogram"](spark, SF_SMALL))
    scans = _detail_headers(p, "Scan parquet")
    assert len(scans) == 1, f"expected one corpus scan:\n{p}"
    assert p.count("HashAggregate") >= 2, f"no map-side partials:\n{p}"


def test_bigram_lm_scoring_is_broadcast_zero_join_on_docs(spark):
    """E69: the scoring pass must consume the model via broadcast —
    no keyed join between the corpus and the model tables."""
    p = _plan(QUERIES["q_bigram_lm_score"](spark, SF_SMALL))
    for node in ("SortMergeJoin", "ShuffledHashJoin"):
        assert node not in p, f"model joined instead of broadcast ({node}):\n{p}"
    assert "BroadcastExchange" in p, p


def test_digest_subtree_shared_between_fingerprint_and_report(spark):
    """E71 (verdict r7 #1): a cycle that runs both the standalone
    digest and the full quality report must materialize the char-fold
    digest ONCE — the report's build gets the fingerprint's checkpoint
    back from tracked_persist (same plan, one materialisation) and
    reads it as one 3-row Scan ExistingRDD instead of planning the
    digest's own parquet scans."""
    from weatherflow_spark.operators.caching import (
        materialised_plans,
        release_caches,
    )
    from weatherflow_spark.plans.quality import (
        q_data_quality_report,
        q_table_fingerprint,
    )

    try:
        q_table_fingerprint(spark, SF_SMALL).count()
        live = _explain(q_data_quality_report(spark, SF_SMALL))
        folds = [m for m in materialised_plans() if "bit_xor" in m]
        assert len(folds) == 1, f"digest materialized {len(folds)} times"
        assert len(_detail_headers(live, "Scan ExistingRDD")) == 1, live
        assert "bit_xor" not in live, (
            f"digest re-planned outside the shared checkpoint:\n{live}"
        )
    finally:
        release_caches()
        spark.catalog.clearCache()


def test_quality_gate_section_skips_digest_and_skew(spark):
    """The scheduler gate path (sections=GATE_SECTIONS) must plan
    neither the char-fold digest nor the skew windows — only the
    pk/fk/bounds aggregations."""
    from weatherflow_spark.plans.quality import (
        GATE_SECTIONS,
        q_data_quality_report,
    )

    df = q_data_quality_report(spark, SF_SMALL, sections=GATE_SECTIONS)
    p = _plan(df)
    assert "bit_xor" not in p, f"gate path plans the digest:\n{p}"
    assert not _detail_headers(p, "Window"), f"gate path plans skew windows:\n{p}"
    checks = {(r.tbl, r.check) for r in df.collect()}
    assert len(checks) == 11  # 4 counts + 3 pk + 2 fk + bounds + nulls
    assert ("lineitem", "fk_orphans_l_orderkey") in checks


def test_covariance_blocking_plans_per_tile_exchanges(spark):
    """E47: with blocking forced (B=32 over D=64 -> 3 tiles), each
    tile owns its keyed aggregation — the plan carries one (i, j)
    exchange PER TILE (bounded per-task hash-agg state), where the
    single-pass form has exactly one."""
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.plans.stats import q_covariance_matrix

    def ij_exchanges(df) -> int:
        try:
            p = _plan(df)
        finally:
            release_caches()  # the next build audits its own checkpoints
        return sum(
            1
            for b in _detail_blocks(p, "Exchange")
            if re.search(r"hashpartitioning\(i#\d+, j#\d+", b)
        )

    assert ij_exchanges(q_covariance_matrix(spark, SF_SMALL)) == 1
    assert ij_exchanges(q_covariance_matrix(spark, SF_SMALL, block_size=32)) == 3


def test_bpe_encode_join_path_matches_and_avoids_broadcast_map(spark):
    """E43 open-web path (verdict r7 #7): with the instance<->type
    equi-join forced, q_bpe_encode must (a) reproduce the broadcast-map
    output exactly and (b) plan WITHOUT the driver-sized vocab map —
    a word-keyed join + a doc_id regroup instead."""
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.plans.ext_mining import q_bpe_encode

    try:
        default = sorted(q_bpe_encode(spark, SF_SMALL).collect())
        joined_df = q_bpe_encode(spark, SF_SMALL, join_threshold=1)
        joined = sorted(joined_df.collect())
        assert joined == default
        p = _plan(joined_df)
        assert "map_from_entries" not in p, (
            f"join path still builds the broadcast vocab map:\n{p}"
        )
        ex = _detail_blocks(p, "Exchange")
        assert any("hashpartitioning(word" in b for b in ex) or any(
            "hashpartitioning(doc_id" in b for b in ex
        ), f"no word/doc exchanges in join path:\n{p}"
        assert any("hashpartitioning(doc_id" in b for b in ex), (
            f"missing doc_id regroup:\n{p}"
        )
    finally:
        release_caches()
        spark.catalog.clearCache()


def test_incremental_embedding_never_shuffle_joins_corpus(spark):
    """E79's scale contract: the corpus side is never shuffle-JOINED —
    every join is a broadcast hash join with the batch-bounded side
    built (the q_incremental_dedup discipline applied to vectors)."""
    p = _plan(QUERIES["q_incremental_embedding"](spark, SF_SMALL))
    assert "SortMergeJoin" not in p, f"corpus-side shuffle join:\n{p}"
    assert "ShuffledHashJoin" not in p, f"corpus-side shuffle join:\n{p}"
    assert "BroadcastHashJoin" in p, p


def test_phash_near_dup_plan_is_band_equi_join(spark):
    """E86 (r9): the perceptual-hash candidate stage must plan as an
    EQUI-join on the band key — never a cartesian or nested-loop over
    signatures — and the Hamming verify must sit in the join output's
    codegen, with the persisted signature relation feeding both sides
    (one Arrow pass, not two)."""
    p = _plan(QUERIES["q_phash_near_dup"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    joins = (
        _detail_blocks(p, "BroadcastHashJoin")
        + _detail_blocks(p, "SortMergeJoin")
        + _detail_blocks(p, "ShuffledHashJoin")
    )
    assert joins and any("band_key" in b for b in joins), (
        f"candidate stage must equi-join on band_key:\n{p}"
    )
    assert _detail_headers(p, "Scan ExistingRDD"), (
        f"phash signatures must be checkpointed (both join sides):\n{p}"
    )


def test_media_segments_plan_two_exchanges_agg_reuses_window(spark):
    """E87 (r9): exactly TWO doc_id exchanges and no more — the
    explicit REPARTITION_BY_NUM spreading the Arrow energy pass off
    the single-file scan, and the window's ENSURE_REQUIREMENTS; the
    segment aggregation must REUSE the window's partitioning (no
    third exchange) and plan as partial+final HashAggregate. Never a
    cartesian."""
    p = _plan(QUERIES["q_media_segments"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert _detail_headers(p, "Window"), p
    exchanges = [
        b for b in _detail_blocks(p, "Exchange")
        if "hashpartitioning(doc_id" in b
    ]
    assert len(exchanges) == 2, (
        f"expected exactly two doc_id exchanges (pre-UDF spread + "
        f"window), got {len(exchanges)}:\n{p}"
    )
    assert sum("REPARTITION_BY_NUM" in b for b in exchanges) == 1, p
    assert sum("ENSURE_REQUIREMENTS" in b for b in exchanges) == 1, p
    assert any(
        "partial_count" in b for b in _detail_blocks(p, "HashAggregate")
    ), f"segment agg must have a map-side partial:\n{p}"


def test_ann_index_serve_scan_prunes_to_probed_cells(spark):
    """E88 (r9): the index-served ANN search must read ONLY the
    probed cells — the vectors scan's PartitionFilters must carry the
    label IN-list (file-level pruning), and the centroid ranking must
    come from the stored centroid table, not a corpus recompute."""
    p = _plan(QUERIES["q_ann_index_serve"](spark, SF_SMALL))
    scans = _detail_blocks(p, "Scan parquet")
    vec = [b for b in scans if "ivf_index/vectors" in b]
    assert vec, f"expected a scan of the stored vectors table:\n{p}"
    assert any(
        "PartitionFilters" in b and "label" in b.split("PartitionFilters", 1)[1].split("]", 1)[0]
        for b in vec
    ), f"vectors scan must partition-prune on the probed labels:\n{p}"
    # the raw embeddings table may appear ONLY as the 1-row query-
    # vector point read (vec_id = 0 pushed to the scan) — never as a
    # corpus rescan
    for b in scans:
        if "embeddings.parquet" in b:
            assert "EqualTo(vec_id,0)" in b, (
                f"serve plan rescans the raw corpus:\n{p}"
            )


def test_tpch_q1_pushdown_and_one_pass_agg(spark):
    """r9 Q1: the shipdate predicate must reach the parquet scan and
    the nine aggregates must compute in ONE partial+final hash-agg
    pass (no second exchange, no join)."""
    p = _plan(QUERIES["q_tpch_q1"](spark, SF_SMALL))
    assert "PushedFilters: [" in p, p
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, f"shipdate not pushed:\n{p}"
    assert len(_detail_headers(p, "Exchange")) == 1, (
        f"Q1 must be one agg exchange:\n{p}"
    )
    assert not _detail_blocks(p, "BroadcastHashJoin"), p
    assert any(
        "partial_sum" in b for b in _detail_blocks(p, "HashAggregate")
    ), f"Q1 aggregates must run map-side partials:\n{p}"


def test_tpch_q19_broadcasts_part_no_cartesian(spark):
    """r9 Q19: the part side must broadcast (pruned by its brand/size
    conjunctions) and the disjunctive predicate must never degrade
    the equi-join into a cartesian/nested-loop."""
    p = _plan(QUERIES["q_tpch_q19"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert _detail_blocks(p, "BroadcastHashJoin"), (
        f"part side must broadcast:\n{p}"
    )


def test_tpch_q4_plans_left_semi_once_per_order(spark):
    """r9 Q4: the EXISTS must plan as a LEFT SEMI join (each order
    counted once with no dedup shuffle), never inner-join+distinct,
    and the quarter predicate must reach the orders scan."""
    p = _plan(QUERIES["q_tpch_q4"](spark, SF_SMALL))
    joins = (
        _detail_blocks(p, "BroadcastHashJoin")
        + _detail_blocks(p, "SortMergeJoin")
        + _detail_blocks(p, "ShuffledHashJoin")
    )
    assert joins and all("LeftSemi" in b for b in joins), (
        f"EXISTS must plan as a semi join:\n{p}"
    )
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderdate" in pushed, f"quarter filter not pushed:\n{p}"


def test_tpch_q18_joins_only_qualifying_keys(spark):
    """r9 Q18: the HAVING filter runs on the aggregated side before
    the join back, so the qualifying-order relation broadcasts and
    the plan is a bounded top-20 heap — no cartesian, no global
    sort."""
    p = _plan(QUERIES["q_tpch_q18"](spark, SF_SMALL))
    assert "CartesianProduct" not in p, p
    assert _detail_blocks(p, "BroadcastHashJoin"), p
    assert "TakeOrderedAndProject" in p, f"top-20 must be a heap:\n{p}"


def test_tpch_q6_every_predicate_reaches_the_scan(spark):
    """r9 Q6: the query exists to prove predicates reach parquet —
    shipdate bounds AND the quantity bound must appear in
    PushedFilters, the plan must contain no join at all, and the
    global sum must be one partial+final pass (a single exchange)."""
    p = _plan(QUERIES["q_tpch_q6"](spark, SF_SMALL))
    pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, (
        f"Q6 predicates not pushed:\n{p}"
    )
    assert "Join" not in p, f"Q6 must be join-free:\n{p}"
    assert len(_detail_headers(p, "Exchange")) == 1, p


def test_tpch_q15_scans_lineitem_once(spark):
    """r9 Q15: max-revenue equality consumes the per-supplier
    aggregate twice; the tracked_persist must make both consumers
    read the cached frame so lineitem is scanned ONCE (unpersisted
    this planned as two full scans, zero reused exchanges)."""
    p = _plan(QUERIES["q_tpch_q15"](spark, SF_SMALL))
    assert p.count("lineitem.parquet") == 1, (
        f"Q15 must scan lineitem once:\n{p}"
    )


def test_tpch_q17_window_stats_single_scan(spark):
    """r9 Q17: the decorrelated per-part average uses WINDOW
    aggregates over the partkey shuffle, not agg + join-back — one
    scan of the brand-pruned lineitem (join-back planned two), the
    brand prune a broadcast join into the scan side."""
    p = _plan(QUERIES["q_tpch_q17"](spark, SF_SMALL))
    assert p.count("lineitem.parquet") == 1, (
        f"Q17 must scan lineitem once:\n{p}"
    )
    assert _detail_headers(p, "Window"), f"Q17 must use window stats:\n{p}"
    assert _detail_blocks(p, "BroadcastHashJoin"), p


def test_tpch_q21_one_pass_profile_no_self_join(spark):
    """r9 Q21: the EXISTS/NOT-EXISTS pair must decorrelate into ONE
    per-order profile aggregate — lineitem scanned once, never the
    textbook double self-join (which would scan it three times), and
    no cartesian anywhere."""
    p = _plan(QUERIES["q_tpch_q21"](spark, SF_SMALL))
    assert p.count("lineitem.parquet") == 1, (
        f"Q21 must scan lineitem once:\n{p}"
    )
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, f"top-20 must be a heap:\n{p}"


def test_tpch_q22_anti_join_and_broadcast_scalar(spark):
    """r9 Q22: the NOT-EXISTS must plan as a LEFT ANTI join against
    the date-pruned orders projection (pushed filter), and the scalar
    average must arrive as a 1-row broadcast, never a shuffle."""
    p = _plan(QUERIES["q_tpch_q22"](spark, SF_SMALL))
    assert "LeftAnti" in p, f"Q22 must anti-join:\n{p}"
    pushed_blocks = [
        b
        for b in _detail_blocks(p, "Scan parquet")
        if "orders.parquet" in b
    ]
    assert pushed_blocks and any(
        "o_orderdate" in b.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        for b in pushed_blocks
        if "PushedFilters: [" in b
    ), f"Q22 dormancy date not pushed to orders scan:\n{p}"


def test_ivm_rollup_broadcasts_changed_keys_and_stays_delta_sized(spark):
    """r10 E92: the pre-image read (old version pruned to changed
    keys) must arrive as a BROADCAST semi join — the delta path's
    cost is O(|changes|), so shuffling the version for it would
    defeat the operator's reason to exist. And nothing in the
    delta-merge may plan a cartesian."""
    p = _plan(QUERIES["q_ivm_rollup"](spark, SF_SMALL))
    semi = [
        b
        for b in _detail_blocks(p, "BroadcastHashJoin")
        if "LeftSemi" in b
    ]
    assert semi, f"changed-keys pre-image must broadcast-semi-join:\n{p}"
    assert "CartesianProduct" not in p, p
    # the pre-image version scan must be partition-pruned to the
    # feed's touched partitions (the bytes bound of the delta path)
    assert re.search(
        r"PartitionFilters: \[[^\]]*o_orderpriority[^\]]*IN", p
    ), f"pre-image scan not partition-pruned:\n{p}"


def test_version_diff_plans_no_cartesian_or_python(spark):
    """r10 E91: the diff itself is two co-partitioned exchanges
    (exceptAll + key anti join) — no cartesian, no Python boundary,
    and the D side anti-joins rather than re-aggregating the full
    version. The serve query localCheckpoints the feed, so the diff
    plan is audited directly on the table the serve query builds."""
    import os

    from weatherflow_spark.operators.snaplog import diff_versions
    from weatherflow_spark.plans import serving

    # builds the versioned scratch table (v1, v2) as a side effect
    QUERIES["q_version_diff"](spark, SF_SMALL)
    path = os.path.join(serving._scratch_dir(SF_SMALL), "vdiff_tbl")
    p = _plan(diff_versions(spark, path, 1, 2, ["o_orderkey"]))
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "LeftAnti" in p, f"D side must plan as an anti join:\n{p}"


def test_dim_broadcast_degrades_to_shuffle_by_size(spark):
    """Size-based broadcast decision (r13 verdict #8): under the
    bucketed routes' broadcast-off conf, _dim_broadcast pins the hint
    only while the dim's on-disk bytes are under the ceiling — an
    outgrown dim must plan a shuffle join instead of OOMing the
    driver with a pinned broadcast."""
    from weatherflow_spark.plans.serving import (
        DIM_BROADCAST_MAX_BYTES,
        _dim_broadcast,
    )

    fact = spark.range(0, 10_000).withColumnRenamed("id", "k")
    dim = spark.range(0, 50).withColumnRenamed("id", "k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = fact.join(_dim_broadcast(dim, 1024), "k")
        p_small = _plan(small)
        assert "BroadcastHashJoin" in p_small, p_small
        big = fact.join(
            _dim_broadcast(dim, DIM_BROADCAST_MAX_BYTES + 1), "k"
        )
        p_big = _plan(big)
        assert "BroadcastHashJoin" not in p_big, p_big
        assert "SortMergeJoin" in p_big or "ShuffledHashJoin" in p_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_table_bytes_reads_real_sizes():
    """table_bytes feeds the broadcast decision — it must report the
    actual on-disk size for the single-file testdata tables."""
    import os

    from weatherflow_spark.io import table_bytes

    n = table_bytes(SF_SMALL, "nation")
    assert n == os.path.getsize(os.path.join(SF_SMALL, "nation.parquet"))
    assert table_bytes(SF_SMALL, "customer") > n
    assert table_bytes(SF_SMALL, "no_such_table") == 0


def test_no_broadcast_twin_scopes_the_guard(spark):
    """r15 (VERDICT r14 #5): forcing sort-merge for the bucketed-layout
    certifications must not leak into sibling branches. The guard is a
    CLONED planning session holding autoBroadcastJoinThreshold=-1; the
    parent session — where every other overlapped branch plans — keeps
    its threshold, so a dim-join sibling still plans BroadcastHashJoin
    WHILE a guarded branch is active."""
    from weatherflow_spark.io import load_table
    from weatherflow_spark.operators.overlap import no_broadcast_session

    twin = no_broadcast_session(spark)
    assert twin is not spark
    assert twin.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
    # one twin per parent, shared by all guarded branches
    assert no_broadcast_session(spark) is twin
    # the parent's threshold is untouched by the twin's existence
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"

    def small_join(sess):
        o = load_table(sess, SF_SMALL, "orders").select(
            "o_orderkey", "o_custkey"
        )
        c = load_table(sess, SF_SMALL, "customer").select("c_custkey")
        return o.join(c, o.o_custkey == c.c_custkey)

    # identical join, both built while the guard session is live:
    # sibling (parent) broadcasts, guarded (twin) sort-merges.
    assert "BroadcastHashJoin" in _plan(small_join(spark))
    twin_plan = _plan(small_join(twin))
    assert "BroadcastHashJoin" not in twin_plan, twin_plan
    assert "SortMergeJoin" in twin_plan or "ShuffledHashJoin" in twin_plan
