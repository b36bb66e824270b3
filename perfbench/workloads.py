"""Workload process: set up, run a closed loop for ``--seconds``, check
outputs, and write the result for ``perfbench/run.py`` to print.

Every workload is one client issuing one operation at a time against a
``local[<cores>]`` session. A *round* is the unit the end-to-end
metrics are taken over:

- ``etl_load``: one load op (batch rows handed to the engine →
  transform core → five-table star → ``load_star_warehouse``, plus
  ``maintain_warehouse`` after every batch) followed by
  one read op (``read_warehouse`` at head or at a seeded earlier load
  still inside retention, then the season aggregate collected).
- ``warehouse_query``: one pass over the query mix in a
  seeded order; each op builds one registry query and runs it to a
  ``noop`` sink, then the pass releases caches (the ``bench.py``
  protocol).

In a traced run, rounds alternate untraced and traced; the per-layer
metrics come from the traced rounds and ``trace.overhead_s`` is the
difference of the two medians.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

import numpy as np

from perfbench import datagen
from perfbench.tracing import BRANCH, WRAPPED, Tracer, parse_event_log, pyworker_cpu_s, worst_stage_skew

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# The warehouse_query mix: star and relational rows, the three bucketed
# rows (q_bucketed_join_serve fails on every in-process repeat; that
# failure is counted, not hidden), and the LLM-curation rows that
# exercise the overlap pool and the Python-worker tier. The slowest
# registry suites do not fit the per-run budget (see perfbench/README.md).
#
# The warm-up pass runs the two groups side by side (more groups only
# contend for the cores). They share no scratch state.
WARMUP_GROUPS = (
    ("q_flagship_season_rollup", "q_star_join_agg", "q_join_mix", "q_groupby_agg",
     "q_tpch_q3_bucketed", "q_tpch_q18_bucketed", "q_bucketed_join_serve"),
    ("q_udf_suite", "q_iterative_suite"),
)
QUERY_MIX = tuple(sorted(q for g in WARMUP_GROUPS for q in g))
QUERY_SF = 0.01
SMOKE_SF = 0.001

STATIONS = 200          # stations polled per 5-minute batch
KEEP_LOADS = 2          # maintain_warehouse after every load keeps the last 2
WARMUP_LOADS = KEEP_LOADS  # untimed loads before the first round


def pass_orders(seed: int, mix: tuple[str, ...]):
    """Endless seeded sequence of pass orders over ``mix``."""
    rng = np.random.default_rng([seed, 4])
    while True:
        yield [mix[j] for j in rng.permutation(len(mix))]


def choose_read(rng, loads: list[int]) -> int:
    """The load a read op targets: head half the time, otherwise one of
    the earlier loads still inside retention."""
    window = loads[-KEEP_LOADS:]
    if rng.random() < 0.5 or len(window) < 2:
        return window[-1]
    return int(rng.choice(window[:-1]))


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else float("nan")


def _tree(path: str) -> dict[str, int]:
    """File path -> size for every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.lstat(p).st_size
            except OSError:
                pass
    return out


def _du(path: str) -> int:
    return sum(_tree(path).values())


class Workload:
    """Shared loop: subclasses define ``setup`` and ``round``."""

    name = ""

    def __init__(self, args):
        self.spark = None
        self.tracer: Tracer | None = None
        self.seed = args.seed
        self.smoke = args.smoke
        self.seconds = args.seconds
        self.work = args.work
        self.rounds: list[dict] = []
        self.check_errors: list[str] = []
        self.fail_detail: dict[str, dict] = {}
        self.detail: dict = {}  # workload-specific facts for the detail line
        self.space_amp = float("nan")  # set by ``finish``

    def prepare(self) -> None:
        """Make the seeded inputs; runs before the session starts."""

    def run(self, seconds: float) -> None:
        t_end = time.monotonic() + seconds
        # A traced run needs one untraced and one traced round. Past
        # that, a round starts only if it should end by the deadline: a
        # run measures at most ``seconds``, so a slow engine cannot
        # lengthen it, and a round longer than ``seconds`` (a query pass)
        # runs once.
        min_rounds = 2 if self.tracer.enabled else 1
        i = 0
        while i < min_rounds or (
            time.monotonic() + _median([r["wall"] for r in self.rounds]) <= t_end
        ):
            # A traced run alternates untraced and traced rounds.
            self.tracer.active = self.tracer.enabled and i % 2 == 1
            py0 = pyworker_cpu_s() if self.tracer.active else 0.0
            t0 = time.perf_counter()
            ops_before = len(self.tracer.ops)
            self.round(i)
            wall = time.perf_counter() - t0
            self.rounds.append({
                "index": i, "wall": wall, "traced": self.tracer.active,
                "ops": self.tracer.ops[ops_before:],
                "pyworker_s": (pyworker_cpu_s() - py0) if self.tracer.active else 0.0,
            })
            self.tracer.active = False
            i += 1

    def ops(self):
        return [o for r in self.rounds for o in r["ops"]]

    def record_failures(self) -> None:
        for o in self.ops():
            if not o.ok:
                d = self.fail_detail.setdefault(o.name, {"count": 0, "error": o.error})
                d["count"] += 1

    def e2e_metrics(self) -> dict[str, float]:
        rounds = [r for r in self.rounds if not r["traced"]] or self.rounds
        ops = self.ops()
        failed = sum(not o.ok for o in ops)
        return {
            "round_p50_s": _median([r["wall"] for r in rounds]),
            "op_geomean_s": _median([_geomean([o.dur for o in r["ops"] if o.ok]) for r in rounds]),
            "success_share": 1.0 - failed / max(1, len(ops)),
            "space_amp": self.space_amp,
        }


class EtlLoad(Workload):
    name = "etl_load"

    def prepare(self) -> None:
        stations = 20 if self.smoke else STATIONS
        # A round takes well over a second, so this is more batches
        # than the run can load; batch b is the same for any count.
        n = WARMUP_LOADS + int(self.seconds) + 1
        self.batches = datagen.make_batches(self.seed, n, stations)
        self.read_rng = np.random.default_rng([self.seed, 3])
        self.wh = os.path.join(self.work, "warehouse")
        self.loads: list[tuple[int, int]] = []  # (batch index, load number)
        self.reads: list[tuple[int, int, list]] = []  # (op index, load, rows)

    def setup(self) -> None:
        # Seeded pre-state, which is also the warm-up: the first
        # WARMUP_LOADS batches go through the same load, maintenance and
        # read steps as a round. Every timed round then finds a full
        # retention window (each load merges, each maintenance pass
        # expires one load), so the rounds do equal work.
        for b in range(WARMUP_LOADS):
            self.loads.append((b, self._load(self.wh, b, f"b{b}", None)))
            self._maintain(self.wh)
            self._read_rows(self.wh, self.loads[b - 1][1] if b % 2 else None)

    def _load(self, wh: str, b: int, batch_id: str, op) -> int:
        from weatherflow_spark.operators import star
        from weatherflow_spark.streaming.pipeline import weather_transform_core

        df = self.spark.createDataFrame(self.batches[b])
        tables = star.build_weather_star(
            weather_transform_core(df), station_col="station_id", denormalize_date=True
        )
        if op is not None:
            op.build_end = time.time()
        return star.load_star_warehouse(
            self.spark, tables, wh, batch_id=batch_id,
            partition_cols=star.STAR_DATE_PARTITIONING,
        )

    def _maintain(self, wh: str) -> None:
        from weatherflow_spark.operators import star, whlog

        whlog.maintain_warehouse(
            self.spark, wh, partition_cols=star.STAR_DATE_PARTITIONING,
            keep_last_loads=KEEP_LOADS,
        )

    def _season_df(self, w: dict):
        from pyspark.sql import functions as F

        return (
            w["w_fact"].select("time_id", "temp_id", "heat_index_id")
            .join(w["w_time_dim"].select("time_id", "recorded_season_local"), "time_id")
            .join(w["w_temp_dim"].select("temp_id", "temp"), "temp_id")
            .join(w["w_heat_index_dim"].select("heat_index_id", "heat_index"), "heat_index_id")
            .groupBy(F.col("recorded_season_local").alias("season"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("temp") * 100).cast("long")).alias("temp_cents"),
                F.sum(F.round(F.col("heat_index") * 100).cast("long")).alias("hi_cents"),
            )
        )

    def _read_rows(self, wh: str, load: int | None, op=None) -> list:
        from weatherflow_spark.operators import whlog

        w = whlog.read_warehouse(self.spark, wh, load)
        df = self._season_df(w)
        if op is not None:
            op.build_end = time.time()
        rows = sorted(tuple(r) for r in df.collect())
        if op is not None and self.tracer.active:
            _plan_stats(df, op)
        return rows

    def round(self, i: int) -> None:
        traced = self.tracer.active
        before = _tree(self.wh) if traced else None
        b = WARMUP_LOADS + i
        with self.tracer.op(i, "load", "load") as op:
            self.loads.append((b, self._load(self.wh, b, f"b{b}", op)))
            self._maintain(self.wh)
        if traced and op.ok:
            op.extra["fs"] = _fs_delta(before, _tree(self.wh))
        if not op.ok:
            return
        load = choose_read(self.read_rng, [n for _, n in self.loads])
        with self.tracer.op(i, "read", "read") as op:
            rows = self._read_rows(self.wh, load, op)
            self.reads.append((op.index, load, rows))

    # -- checks --------------------------------------------------------
    def _oracle(self, load: int) -> list:
        import duckdb
        import pandas as pd

        rows = pd.concat([self.batches[b] for b, n in self.loads if n <= load], ignore_index=True)
        con = duckdb.connect()
        try:
            con.register("obs", rows)
            res = con.execute("""
                WITH x AS (
                  SELECT month(make_timestamp((timestamp + timezone) * 1000000)) AS m,
                         temp, humidity, temp * 1.8 + 32.0 AS tf
                  FROM obs)
                SELECT CASE WHEN m BETWEEN 3 AND 5 THEN 'Spring'
                            WHEN m BETWEEN 6 AND 8 THEN 'Summer'
                            WHEN m BETWEEN 9 AND 11 THEN 'Fall' ELSE 'Winter' END AS season,
                       count(*) AS n,
                       CAST(sum(CAST(round(temp * 100) AS BIGINT)) AS BIGINT) AS temp_cents,
                       CAST(sum(CAST(floor(((0.5 * (tf + 61.0 + (tf - 68.0) * 1.2 + humidity * 0.094)
                                 - 32.0) * 5.0 / 9.0) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS hi_cents
                FROM x GROUP BY 1 ORDER BY 1
            """).fetchall()
        finally:
            con.close()
        return sorted(tuple(r) for r in res)

    def finish(self) -> None:
        from weatherflow_spark.operators import whlog

        self.tracer.active = False
        n = len(self.loads)
        head = whlog.head_load(self.wh)
        if head != n:
            self.check_errors.append(f"warehouse has {head} loads after {n} batches")
        oracle: dict[int, list] = {}
        bad_ops = set()
        for op_index, load, rows in self.reads:
            oracle.setdefault(load, self._oracle(load))
            if rows != oracle[load]:
                bad_ops.add(op_index)
                self.check_errors.append(f"read at load {load}: {rows} != oracle {oracle[load]}")
        for o in self.ops():
            if o.index in bad_ops:
                o.ok, o.error = False, "output check: season digest differs from the oracle"
        if n:
            for load in {self.loads[-1][1], self.loads[max(0, n - 2)][1]}:
                rows = self._read_rows(self.wh, load)
                if rows != oracle.setdefault(load, self._oracle(load)):
                    self.check_errors.append(f"final read at load {load} differs from the oracle")
        # Space: the warehouse directory against the head tables
        # written once as plain parquet.
        plain = os.path.join(self.work, "plain")
        for t, df in whlog.read_warehouse(self.spark, self.wh).items():
            df.coalesce(1).write.parquet(os.path.join(plain, t))
        plain_bytes = _du(plain)
        self.space_amp = _du(self.wh) / plain_bytes
        untraced = [o for o in self.ops() if not o.traced and o.ok]
        self.detail = {
            "loads": n,
            "load_p50_s": _median([o.dur for o in untraced if o.kind == "load"]),
            "read_p50_s": _median([o.dur for o in untraced if o.kind == "read"]),
            "plain_bytes_per_load": plain_bytes / n,
        }


class WarehouseQuery(Workload):
    name = "warehouse_query"
    mix = QUERY_MIX

    def prepare(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from weatherflow_spark.plans import ORACLES

        sf = SMOKE_SF if self.smoke else QUERY_SF
        self.sf_dir = os.path.join(self.work, "data", f"sf{sf}")
        self.input_bytes = datagen.write_tables(datagen.make_tables(self.seed, sf), self.sf_dir)
        self.orders = pass_orders(self.seed, self.mix)
        # The DuckDB oracles need no Spark: compute them in the
        # background while the session starts and the warm-up runs.
        self._pool = ThreadPoolExecutor(max_workers=1)
        self.oracles = {
            name: self._pool.submit(_duckdb_oracle, ORACLES[name], self.sf_dir)
            for name in self.mix if name in ORACLES
        }

    def setup(self) -> None:
        # Untimed warm-up pass, which is also the output check; caches
        # are released at the end.
        from concurrent.futures import ThreadPoolExecutor

        self.detail["warmup_s"] = {}
        with ThreadPoolExecutor(max_workers=len(WARMUP_GROUPS)) as pool:
            for f in [pool.submit(self._check_group, g) for g in WARMUP_GROUPS]:
                f.result()
        self._release()
        self._pool.shutdown()

    def _check_group(self, names: tuple[str, ...]) -> None:
        from perfbench.tracing import describe_error

        for name in names:
            t0 = time.perf_counter()
            try:
                self._check(name)
            except Exception as exc:  # record and carry on; the run is marked incorrect
                self.check_errors.append(f"{name}: {describe_error(exc)}")
            self.detail["warmup_s"][name] = time.perf_counter() - t0

    def _check(self, name: str) -> None:
        from weatherflow_spark.plans import QUERIES
        from weatherflow_spark.plans.parity import compare_frames

        df = QUERIES[name](self.spark, self.sf_dir)
        if name in self.oracles:
            rep = compare_frames(name, df.toPandas(), self.oracles[name].result())
            if not rep.ok:
                self.check_errors.append(str(rep))
        elif df.count() < 1:
            self.check_errors.append(f"{name}: no rows")

    def _release(self) -> None:
        from weatherflow_spark.operators.caching import release_caches

        release_caches()
        self.spark.catalog.clearCache()

    def round(self, i: int) -> None:
        from weatherflow_spark.plans import QUERIES

        for name in next(self.orders):
            with self.tracer.op(i, "query", name) as op:
                df = QUERIES[name](self.spark, self.sf_dir)
                op.build_end = time.time()
                df.write.format("noop").mode("overwrite").save()
            if self.tracer.active and op.ok:
                _plan_stats(df, op)
            self._release()

    def finish(self) -> None:
        self.tracer.active = False
        tmp = os.environ["TMPDIR"]
        scratch = {e: _du(os.path.join(tmp, e)) for e in sorted(os.listdir(tmp))}
        self.detail["scratch_bytes"] = scratch
        self.space_amp = (self.input_bytes + sum(scratch.values())) / self.input_bytes


WORKLOADS = {w.name: w for w in (EtlLoad, WarehouseQuery)}


def _duckdb_oracle(sql: str, sf_dir: str):
    """``plans.parity.duckdb_oracle`` on one DuckDB thread, so the
    background oracles leave the cores to the Spark warm-up."""
    import duckdb

    from weatherflow_spark.io import TABLES

    con = duckdb.connect(config={"threads": 1})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(sql).df()
    finally:
        con.close()


def _plan_stats(df, op) -> None:
    """Optimised-plan size and the planner's phase times (traced ops)."""
    qe = df._jdf.queryExecution()
    op.extra["plan_chars"] = len(qe.optimizedPlan().toString())
    qe.executedPlan()
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        op.extra[f"{phase}_ms"] = opt.get().durationMs() if opt.isDefined() else 0


def _fs_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    new = {p: s for p, s in after.items() if before.get(p) != s}
    data = {p: s for p, s in new.items() if p.endswith(".parquet")}
    return {
        "files": len(data),
        "data_bytes": sum(data.values()),
        "meta_bytes": sum(s for p, s in new.items() if p not in data),
    }


# -- per-layer metrics ---------------------------------------------------
def layer_metrics(w: Workload, jobs: dict, session_start_s: float) -> dict[str, float]:
    t = w.tracer
    traced = [r for r in w.rounds if r["traced"]]
    untraced = [r for r in w.rounds if not r["traced"]]
    n_rounds = max(1, len(traced))
    ops = [o for r in traced for o in r["ops"]]
    op_ids = {o.index for o in ops}
    jobs_of: dict[int, list] = {}
    for js in jobs.values():
        if js.op in op_ids:
            jobs_of.setdefault(js.op, []).append(js)

    def per_round(values) -> float:
        return sum(values) / n_rounds

    def job_sum(attr, subset=ops) -> float:
        return sum(getattr(js, attr) for o in subset for js in jobs_of.get(o.index, []))

    def mean(xs) -> float:
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    spans = t.spans
    selfs = t.self_times()
    span_ops = {s.id: s for s in spans}

    def in_traced(s) -> bool:
        return s.op in op_ids

    def top_level_overlap(s) -> bool:
        p = span_ops.get(s.parent)
        while p is not None:
            if p.name.startswith("overlap_"):
                return False
            p = span_ops.get(p.parent)
        return True

    loads = [o for o in ops if o.kind == "load" and o.ok]
    reads = [o for o in ops if o.kind == "read" and o.ok]

    def span_sum(name, subset) -> float:
        ids = {o.index for o in subset}
        return sum(s.dur for s in spans if s.name == name and s.op in ids)

    skews = [worst_stage_skew(jobs_of.get(o.index, [])) for o in ops]
    skews = [s for s in skews if s is not None]
    fs = [o.extra.get("fs", {}) for o in loads]
    bytes_per_load = mean(f.get("data_bytes", 0) + f.get("meta_bytes", 0) for f in fs)
    plain_per_load = w.detail.get("plain_bytes_per_load", 0.0)
    maint = [s.dur for s in spans if s.name == "maintain_warehouse" and in_traced(s)]

    m = {
        "session.start_s": session_start_s,
        "session.heap_peak_mb": t.heap_peak_mb,
        "plans.build_s": per_round(o.build_s for o in ops),
        "plans.build_jobs": per_round(
            sum(1 for js in jobs_of.get(o.index, []) if js.submitted <= (o.build_end or o.start))
            for o in ops
        ),
        "plans.plan_chars": per_round(o.extra.get("plan_chars", 0) for o in ops),
        "plans.analysis_ms": per_round(o.extra.get("analysis_ms", 0) for o in ops),
        "plans.optimization_ms": per_round(o.extra.get("optimization_ms", 0) for o in ops),
        "plans.planning_ms": per_round(o.extra.get("planning_ms", 0) for o in ops),
        "exec.action_s": per_round(o.end - (o.build_end or o.start) for o in ops if o.ok),
        "exec.jobs": per_round(len(jobs_of.get(o.index, [])) for o in ops),
        "exec.stages": per_round(len(js.stages) for o in ops for js in jobs_of.get(o.index, [])),
        **{f"exec.{name}": job_sum(attr) / n_rounds for name, attr in (
            ("tasks", "tasks"), ("executor_run_s", "run_s"), ("executor_cpu_s", "cpu_s"),
            ("gc_s", "gc_s"), ("shuffle_read_bytes", "shuffle_read"),
            ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill"),
        )},
        "exec.task_skew": _median(skews) if skews else 1.0,
        "overlap.wall_s": per_round(
            s.dur for s in spans
            if s.name.startswith("overlap_") and in_traced(s) and top_level_overlap(s)
        ),
        "overlap.branch_s": per_round(s.dur for s in spans if s.name == BRANCH and in_traced(s)),
        "pyworker.cpu_s": per_round(r["pyworker_s"] for r in traced),
        "commit.load_p50_s": w.detail.get("load_p50_s", 0.0),
        "commit.upsert_s": span_sum("upsert_by_key", loads) / max(1, len(loads)),
        "commit.wh_commit_s": span_sum("commit_warehouse", loads) / max(1, len(loads)),
        "commit.jobs_per_load": mean(len(jobs_of.get(o.index, [])) for o in loads),
        "commit.tasks_per_load": job_sum("tasks", loads) / max(1, len(loads)),
        "commit.files_per_load": mean(f.get("files", 0) for f in fs),
        "commit.bytes_written_per_load": bytes_per_load,
        "commit.meta_bytes_per_load": mean(f.get("meta_bytes", 0) for f in fs),
        "commit.write_amp": bytes_per_load / plain_per_load if plain_per_load else 0.0,
        "commit.maintain_s": mean(maint),
        "read.p50_s": w.detail.get("read_p50_s", 0.0),
        "read.resolve_s": span_sum("read_warehouse", reads) / max(1, len(reads)),
        "read.action_s": mean(o.end - (o.build_end or o.start) for o in reads),
        "read.jobs": mean(len(jobs_of.get(o.index, [])) for o in reads),
        "trace.overhead_s": (
            _median([r["wall"] for r in traced]) - _median([r["wall"] for r in untraced])
            if traced and untraced else 0.0
        ),
        "trace.rounds": float(len(traced)),
    }
    for _, fn in WRAPPED:
        m[f"self.{fn}_s"] = per_round(
            d for s, d in zip(spans, selfs) if s.name == fn and in_traced(s)
        )
    return m


# -- entry ---------------------------------------------------------------
def start_session(work: str, trace: bool):
    from weatherflow_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-Dderby.system.home={work}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args(argv)
    t_spawn = float(os.environ.get("PERFBENCH_T0", time.monotonic()))

    phases = {"spawn_to_main_s": time.monotonic() - t_spawn}
    w = WORKLOADS[args.workload](args)
    t0 = time.perf_counter()
    w.prepare()
    phases["inputs_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = start_session(args.work, bool(args.trace))
    session_start_s = phases["session_s"] = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        tracer.install()
    w.spark, w.tracer = spark, tracer
    t0 = time.perf_counter()
    w.setup()
    phases["warmup_s"] = time.perf_counter() - t0
    setup_s = time.monotonic() - t_spawn
    t0 = time.perf_counter()
    w.run(args.seconds)
    phases["run_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.finish()
    w.record_failures()
    ops = w.ops()
    phases["finish_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.stop()
    phases["stop_s"] = time.perf_counter() - t0

    if args.trace:
        jobs = parse_event_log(os.path.join(args.work, "eventlog"), tracer.ops)
        values = layer_metrics(w, jobs, session_start_s)
        units = _units("per_layer")
    else:
        values = {"setup_s": setup_s, **w.e2e_metrics()}
        units = _units("end_to_end")
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    failed = sum(not o.ok for o in ops)
    result = {
        "correct": not w.check_errors,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "phases": phases, "rounds": len(w.rounds), "round_walls_s": [r["wall"] for r in w.rounds],
        "ops": [(o.round, o.name, round(o.dur, 4), o.ok) for o in ops],
        "failures": w.fail_detail, "check_errors": w.check_errors,
        **w.detail,
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".detail.json", "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.json")
    print(json.dumps(detail), flush=True)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit, as declared in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
