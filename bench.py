"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "runs": {...}, "reps": R, "sf": ...}

Methodology (round-4 change): each query is executed ``REPS`` times
(default 3) and ``queries[name]`` reports the MIN across reps, with
the full per-rep list under ``runs[name]``. A single cold shot per
query — the old scheme — cannot distinguish a real 2x regression
from this sandbox's I/O scheduling variance (observed 1.5-6x swings
on identical code between rounds); min-of-N is robust to one-sided
noise because interference only ever adds time. Caches are cleared
between reps so the min is still the query's own cost, not a
residual-cache artifact; a warm-up query runs first so JVM/codegen
warm-up isn't billed to the first headline query. Execution is via a
noop sink — full computation without driver result serialization.

A query that raises on any rep is recorded under ``failed`` (error
class and the first line of its message) and left out of ``value``;
the rest of the set still runs, the line is still printed, and the
process then exits non-zero.

``codegen_compiles[name]`` in ``bench_last.json`` counts the classes
Spark compiled during each rep (``CodegenMetrics``' compilation
histogram, which the JVM-wide codegen cache skips on a hit): with the
cache sized to the working set, reps after the first compile nothing.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
# Slow queries carry the most absolute noise and keep descending as the
# JVM warms (round-5's +36% pagerank flag was exactly this); queries
# whose min is still >= SLOW_SEC after REPS reps get EXTRA_REPS more.
# VERY_SLOW_SEC rows get NO extras (r14): the extras exist because
# JVM/codegen warm-up distorts short-multi-second rows RELATIVELY; a
# ≥15 s certification suite's min is stable by rep 3, and two extra
# runs of each such row cost ~5-10 min of wall clock across the set —
# enough to push the whole bench past a scheduler window.
SLOW_SEC = 2.0
VERY_SLOW_SEC = 15.0
EXTRA_REPS = 2

# Ambient-session controls (round-9, VERDICT r8 'Next round' #5):
# whole-SESSION inflation up to ~2x on untouched queries is a measured
# phenomenon here (ARCHITECTURE.md bench notes: r8 q_topk 0.116->0.24
# with zero code change). These three cheap window queries have been
# code-stable for several rounds; their pinned reference minima (r8
# bench_last.json, local[32] sf0.1) make the session's inflation
# MECHANICAL: ambient_factor = median(now/ref), reported in the
# compact stdout line so cross-round comparisons can normalize by it
# before reading any row as a regression. Re-pin the refs if a
# control's code ever changes.
#
# Duration-classed controls (r11, VERDICT r10 'What's wrong' #3):
# the original three controls are all sub-0.5 s, and short queries
# inflate far more than multi-second ones under ambient load (JVM /
# launch contention is a near-constant tax, so its RELATIVE weight
# shrinks with duration) — one short-derived factor OVER-corrected
# long suites (r10: raw comparable ratio 0.98x vs "normalized"
# 1.17x). Ambient inflation is therefore measured PER DURATION
# CLASS: sub-SLOW_SEC queries normalize by the short controls'
# median, multi-second ones by the long control.
#
# RE-PINNED r13 (VERDICT r12 'What's wrong' #3): the r8 pins had
# drifted — q_groupby_agg ran 2.75x its pin in r12 and 2.02x in r13
# while its peers ran 1.3-1.6x, and one rogue in a 3-element median
# is one bad rep from mis-normalizing the round. All refs now come
# from ONE r13 session (BENCH_r13 run; same box, min-of-3,
# local[32], sf0.1), and a FOURTH mid-duration control
# (q_fidelity_datetime, ~0.6 s, code-stable fidelity core) joins the
# short class so its median tolerates an outlier. Per-class medians
# on the re-pin session vs the old r8 refs: short 1.59x
# (1.31/1.59/2.02 + the new control), long 1.49x — i.e. the re-pin
# session itself carried ~1.5x ambient vs r8-calm; factors are
# relative, so normalization stays consistent as long as every ref
# comes from the same session.
CONTROL_REFS = {
    "q_topk": 0.145,
    "q_sort": 0.238,
    "q_groupby_agg": 0.789,
    "q_fidelity_datetime": 0.632,
}
CONTROL_REFS_LONG = {"q_graph_suite": 11.417}

# Pin provenance (r14, VERDICT r13 'What's wrong' #3): normalized
# totals are only comparable BETWEEN rounds that share a pin set —
# BENCH_r12 (r8 pins) vs BENCH_r13 (r13 re-pin) normalized totals
# differ 1.9x on a 1.10x raw basis purely because the divisor
# changed. The payload therefore stamps the pin set's identity; the
# cross-round rule is: same pin_generation → compare normalized,
# different pin_generation → compare RAW on the common-query basis
# only.
PIN_GENERATION = {
    "pinned": "r13",  # round whose calm session produced the refs
    "hash": None,     # filled below from the ref values themselves
}


def _pin_hash() -> str:
    import hashlib

    blob = json.dumps(
        {**CONTROL_REFS, **CONTROL_REFS_LONG}, sort_keys=True
    ).encode()
    return hashlib.sha256(blob).hexdigest()[:12]

# Every certified-window query gets a timing row (round-5 change: a
# certified query with no timing history can regress silently — the
# window IS the headline set). The window is the registry's first 50
# names, resolved at runtime so slot swaps are benched automatically.
WINDOW_SIZE = 50
# Legacy / tail extras kept for round-over-round timing continuity
# (single-op twins that moved into consolidated suites, plus
# non-window ops benched since round 1).
OPTIONAL = [
    "q_window_rank",
    "q_tumbling_window_agg",
    "q_session_window",
    "q_corpus_curation",
    "q_token_topk",
    "q_doc_fingerprint",
    "q_similarity_topk",
    "q_ann_ivf_topk",
    "q_minhash_near_dup",
    # statistics / TPC-H singles (round 1 widening)
    "q_stats_moments",
    "q_tpch_q3",
    "q_tpch_q5",
    # round 2: re-blocked near-dup families (now in q_near_dup_suite)
    "q_simhash_near_dup",
    "q_ngram_jaccard",
    "q_ann_lsh_topk",
    "q_ann_batch_topk",
    # graph single (now in q_iterative_suite, with q_kmeans)
    "q_pagerank",
    "q_kmeans",
    # round 4/5 singles (now in q_curation_suite / q_product_analytics_suite)
    "q_decontaminate",
    "q_funnel",
    "q_retention",
    "q_source_mixture",
    "q_pii_redact",
    "q_doc_chunks",
    "q_sequence_pack",
    "q_grouped_topk",
    # round 6: displaced window singles + new mining/dim singles
    "q_text_stats",
    "q_lang_id",
    "q_date_dim",
    "q_tfidf_topk",
    "q_pmi_cooc",
    "q_scd2_dim",
    "q_domain_quota",
    "q_quality_filter",
    "q_dedup_clusters",
    "q_triangle_count",
    "q_event_transitions",
    "q_cms_heavy_hitters",
    "q_hll_distinct",
    "q_bloom_semi_join",
    "q_weighted_sample",
    "q_inverted_index",
    "q_bpe_train",
    "q_boilerplate_detect",
    "q_mixture_weights",
    # round 6: semantic dedup / LM scoring / tokenizer-apply / kNN graph
    "q_semantic_dedup",
    "q_unigram_lm_score",
    "q_bpe_encode",
    "q_knn_graph",
    # round 6: timeseries singles (window slot now q_timeseries_suite)
    "q_gap_fill_interpolate",
    "q_ewma",
    "q_feature_hash",
    "q_covariance_matrix",
    "q_pca_power",
    "q_hll_grouped",
    "q_knn_classify",
    "q_perplexity_filter",
    "q_hybrid_retrieval",
    "q_grouped_quantiles_udf",
    # displaced window singles (now in q_udf_suite)
    "q_pandas_udf_metric",
    "q_multimodal_features",
    "q_multimodal_frames",
    "q_embedding_outliers",
    "q_data_quality_report",
    "q_ann_recall",
    "q_rerank_topk",
    "q_cluster_representatives",
    "q_containment",
    # round 7: new tail singles (suite branches get window rows)
    "q_snapshot_diff",
    "q_train_split",
    "q_assoc_rules",
    "q_hard_negatives",
    "q_equidepth_histogram",
    "q_corpus_drift",
    "q_winnow_fingerprint",
    "q_random_projection",
    "q_bigram_lm_score",
    "q_pq_encode",
    "q_table_fingerprint",
    "q_event_sequences",
    "q_seasonal_anomaly",
    "q_entity_clusters",
    "q_skew_report",
    "q_release_datasheet",
    # round 8: serving tier singles (suite has the window row) +
    # displaced window single
    "q_rollup_serve",
    "q_global_index",
    "q_embedding_near_dup",
    "q_containment_sweep",
    "q_incremental_embedding",
    "q_upsert_serve",
    "q_compact_serve",
    "q_grouped_rank",
    "q_cdc_apply",
    "q_index_admit",
    "q_stream_serve",
    "q_sketch_serve",
    "q_margin_pairs",
    "q_retrieval_eval",
    "q_shard_export",
    # round 9: multimodal near-dup single (suite carries the window row)
    "q_phash_near_dup",
    # round 9: scheduler-gate form of the quality report (pinned budget)
    "q_quality_gate",
    "q_media_segments",
    "q_ann_index_serve",
    "q_tpch_q1",
    "q_tpch_q4",
    "q_tpch_q18",
    "q_tpch_q19",
    # round 9 continuation: TPC-H completion singles (suite branches
    # carry the window rows)
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q21",
    "q_tpch_q22",
    # round 9 continuation: repeated-span dedup single (suite branch
    # carries the window row)
    "q_span_dedup",
    # round 9 continuation: derived-partsupp TPC-H completion (22/22;
    # suite branches carry the window rows)
    "q_tpch_q2",
    "q_tpch_q9",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q16",
    "q_tpch_q20",
    # round 10: snapshot time-travel + version-diff singles (suite
    # branches carry the window rows)
    "q_time_travel",
    "q_version_diff",
    "q_ivm_rollup",
    "q_bucketed_join_serve",
    "q_schema_evolution",
    "q_change_feed",
    "q_table_clone",
    # round 11: cross-table warehouse snapshot + bucketed-layout TPC-H
    # adoption singles (suite branch carries the window rows); the
    # plain q_tpch_q3/q_tpch_q18 stay benched above, so BENCH_r11
    # carries the measured bucketed-vs-plain delta side by side
    "q_warehouse_snapshot",
    "q_tpch_q3_bucketed",
    "q_tpch_q18_bucketed",
    # r12: the rest of the orderkey family routed through the durable
    # layout (plain q4/q12/q21 stay benched above for the delta)
    "q_tpch_q4_bucketed",
    "q_tpch_q12_bucketed",
    "q_tpch_q21_bucketed",
    "q_time_travel_manifest",
    # r11: the five-table transactional star load (2 loads x 5 keyed
    # merges of REAL I/O — the cost IS the certified claim)
    "q_star_transaction",
    # r12: displaced from the window by q_lakehouse_suite (family
    # certified via q_text_mining_suite's bpe branches)
    "q_bpe_token_count",
    # r12: per-load multi-table replication single (suite branch
    # carries the window row)
    "q_warehouse_replica",
    # r12: E100 file-skipping single (suite branch carries the window row)
    "q_file_skipping",
    "q_partition_compaction",
    # r12.2: maintenance-tier singles + the slots q_order_suite
    # consolidated (window rows ride q_maintenance_suite /
    # q_order_suite; the singles keep their own bench trend lines)
    "q_delete_where",
    "q_warehouse_maintenance",
    "q_tpch_q6_skipping",
    "q_restore_version",
    "q_sort",
    "q_topk",
    # r13: displaced from the window by q_warehouse_suite (family
    # certified via q_stats_suite's 'window_dist' branch)
    "q_window_dist",
    # r13: merge-on-read deletion-vector single (suite branch
    # 'delete_dv' carries the window row)
    "q_delete_where_dv",
    # r13: conjunctive two-column skipping over the Morton layout
    # (suite branch 'zorder_skipping' carries the window row)
    "q_zorder_skipping",
    # r13: the custkey family routed through the second standing
    # layout (plain q10/q13 stay benched above for the delta)
    "q_tpch_q13_bucketed",
    "q_tpch_q10_bucketed",
    # r14: displaced from the window by q_maintenance2_suite (E19
    # certified via that row's 'zorder_skipping' branch)
    "q_zorder_key",
    # r14: streaming right-to-be-forgotten single (suite branch
    # 'forget_stream' carries the window row)
    "q_forget_stream",
]


def main() -> None:
    from weatherflow_spark.session import get_spark
    from weatherflow_spark.plans import QUERIES
    from weatherflow_spark.operators.caching import release_caches

    spark = get_spark(app_name="weatherflow-bench", master=f"local[{CPUS}]")
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    compiles: dict[str, list[int]] = {}

    def run_once(name: str) -> float:
        n0 = compilations.getCount()
        t0 = time.perf_counter()
        try:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 3)
        finally:
            # Queries that persist loop-invariant relations (near-dup
            # signatures, pagerank edges) would otherwise accumulate
            # cache across reps — drop it so every timing is the
            # query's own cost and memory pressure stays flat.
            release_caches()
            spark.catalog.clearCache()
            compiles.setdefault(name, []).append(compilations.getCount() - n0)

    # warm-up (JVM + parquet footer caches), not billed
    QUERIES["q_flagship_season_rollup"](spark, SF_DIR).count()

    window = list(QUERIES)[:WINDOW_SIZE]
    names = window + [n for n in OPTIONAL if n in QUERIES and n not in window]

    def run_reps(name: str) -> list[float]:
        reps = [run_once(name) for _ in range(REPS)]
        extra = 0
        while (
            SLOW_SEC <= min(reps) < VERY_SLOW_SEC and extra < EXTRA_REPS
        ):
            reps.append(run_once(name))
            extra += 1
        return reps

    runs: dict[str, list[float]] = {}
    failed: dict[str, str] = {}
    for name in names:
        try:
            runs[name] = run_reps(name)
        except Exception as exc:
            first = (str(exc).strip().splitlines() or [""])[0]
            failed[name] = f"{type(exc).__name__}: {first[:200]}"
    timings = {name: min(reps) for name, reps in runs.items()}
    total = round(sum(timings.values()), 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Controls re-use the window timings (no extra executions): the
    # ratio of this session's minima to the pinned calm-session refs
    # is the session's ambient inflation.
    def _median_ratio(refs: dict) -> float | None:
        ratios = sorted(
            timings[n] / ref for n, ref in refs.items() if n in timings
        )
        if not ratios:
            return None
        mid = len(ratios) // 2
        med = (
            ratios[mid]
            if len(ratios) % 2
            else (ratios[mid - 1] + ratios[mid]) / 2
        )
        return round(med, 3)

    ambient = _median_ratio(CONTROL_REFS)
    ambient_long = _median_ratio(CONTROL_REFS_LONG)
    controls = {
        n: {"ref": ref, "now": timings.get(n)}
        for n, ref in {**CONTROL_REFS, **CONTROL_REFS_LONG}.items()
    }
    # Normalized view (r10, VERDICT r9 #5): downstream readers saw the
    # RAW r9 total as a 1.33x regression that the controls showed was
    # 0.92x — emit the division so nobody has to redo it. Normalized =
    # raw / the DURATION-CLASSED ambient factor (r11, see
    # CONTROL_REFS_LONG), per query and in total; when the controls
    # are unavailable the normalized fields mirror the raw ones.
    factor_short = ambient if ambient else 1.0
    factor_long = ambient_long if ambient_long else factor_short
    timings_norm = {
        n: round(t / (factor_long if t >= SLOW_SEC else factor_short), 3)
        for n, t in timings.items()
    }
    total_norm = round(sum(timings_norm.values()), 3)
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "value_normalized": total_norm,
        "unit": "sec",
        "queries": timings,
        "queries_normalized": timings_norm,
        "runs": runs,
        "reps": REPS,
        "sf": float(sf) if sf else None,
        "controls": controls,
        "ambient_factor": ambient,
        "ambient_factor_long": ambient_long,
        "pin_generation": {**PIN_GENERATION, "hash": _pin_hash()},
        "failed": failed,
        "codegen_compiles": compiles,
    }
    # The driver only keeps a ~2,000-char stdout tail, which the full
    # per-query payload outgrew rounds ago (BENCH_r04..r07 all recorded
    # `parsed: null`). Split the output: the FULL payload goes to
    # bench_last.json in-repo (complete per-query history for
    # regression adjudication), and stdout gets ONE COMPACT line —
    # headline total, reps, sf, the slowest queries, and a pointer —
    # small enough that the driver's tail parses it.
    try:
        with open(os.path.join(REPO_DIR, "bench_last.json"), "w") as f:
            f.write(json.dumps(payload) + "\n")
    except OSError as exc:  # read-only checkout: stdout line still stands
        print(f"bench_last.json not written: {exc}", file=sys.stderr)
    # Compact "queries" content: the full 50-row certification window
    # (the driver's own correctness set) at 0.1 s precision plus the
    # 12 slowest overall, so big tail rows keep their trend line. The
    # full 3-decimal payload stays in bench_last.json. Measured line
    # length ~1.7 KB, inside the driver's ~2,000-char stdout tail.
    slowest = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))[:12]
    stdout_rows = dict.fromkeys(window + [n for n, _ in slowest])
    compact_queries = {
        n: round(timings[n], 1) for n in stdout_rows if n in timings
    }
    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "value_normalized": total_norm,
        "unit": "sec",
        "queries": compact_queries,
        "n_queries": len(timings),
        "reps": REPS,
        "sf": payload["sf"],
        "controls": {n: [c["ref"], c["now"]] for n, c in controls.items()},
        "ambient_factor": ambient,
        "ambient_factor_long": ambient_long,
        "pin_generation": payload["pin_generation"],
        "full_payload": "bench_last.json",
        "failed": failed,
    }
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
