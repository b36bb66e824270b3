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

# Every registered query gets a timing row, in registry order. The
# certification window is the registry's first 50 names; the compact
# stdout line carries all of them.
WINDOW_SIZE = 50


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

    names = list(QUERIES)
    window = names[:WINDOW_SIZE]

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
