"""Replica of the driver's t2 gate at sf0.001: registered queries
must hash-match their DuckDB oracle (or at least run, for rows-only).

Coverage contract (r15, VERDICT r14 'Next round' #1): the full
250-query matrix had outgrown the driver's verify window — the default
``pytest tests/`` run was killed mid-dots with zero failures shown, so
the gate could no longer catch a real regression. The default run now
checks a STRATIFIED sample that keeps every correctness surface
exercised while finishing inside the window:

- the full 50-query certification window (exactly what the driver's
  own CORRECTNESS gate hashes), plus
- the first two tail queries of every plans module in registry order
  (one representative per operator family's module, so a module-wide
  breakage — an io/session/oracle-harness change — still trips).

``WF_FULL_PARITY=1`` restores the exhaustive 250-way matrix; run
that form before committing an engine change.

Repeat safety: a query run twice in one session must give one result
(the bench's min-of-reps depends on it). The default run repeats the
eight bucketed-layout certifications and the suite that carries them;
``WF_FULL_PARITY=1`` repeats the whole 50-query window as well."""

from __future__ import annotations

import hashlib
import os

import pytest

from weatherflow_spark.operators.caching import release_caches
from weatherflow_spark.plans import ORACLES, QUERIES
from weatherflow_spark.plans.parity import (
    check_query,
    compare_frames,
    duckdb_oracle,
)
from tests.conftest import SF_SMALL

BUCKETED_ROWS = (
    "q_bucketed_join_serve",
    "q_tpch_q3_bucketed",
    "q_tpch_q18_bucketed",
    "q_tpch_q4_bucketed",
    "q_tpch_q12_bucketed",
    "q_tpch_q21_bucketed",
    "q_tpch_q13_bucketed",
    "q_tpch_q10_bucketed",
)


def _parity_names() -> list[str]:
    if os.environ.get("WF_FULL_PARITY") == "1":
        return sorted(QUERIES)
    window = list(QUERIES)[:50]
    in_window = set(window)
    by_module: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        if name in in_window:
            continue
        by_module.setdefault(fn.__module__, []).append(name)
    sample = [n for mod in sorted(by_module) for n in by_module[mod][:2]]
    return window + sample


@pytest.mark.parametrize("name", _parity_names())
def test_oracle_parity(spark, name):
    rep = check_query(spark, name, SF_SMALL)
    assert rep.ok, str(rep)


def _repeat_names() -> list[str]:
    if os.environ.get("WF_FULL_PARITY") == "1":
        return list(QUERIES)[:50] + list(BUCKETED_ROWS)
    return [*BUCKETED_ROWS, "q_pipeline_suite"]


@pytest.mark.parametrize("name", _repeat_names())
def test_query_is_repeat_safe(spark, name):
    """Two runs of one query in the shared session give the same rows,
    both matching the oracle, and leave the session's auto-broadcast
    threshold as they found it. The bucketed rows rewrite their scratch
    tables on every run, so a plan over a stale file listing fails the
    second run."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    oracle = (
        duckdb_oracle(ORACLES[name], SF_SMALL) if name in ORACLES else None
    )
    hashes = []
    for _ in range(2):
        try:
            pdf = QUERIES[name](spark, SF_SMALL).toPandas()
        finally:
            release_caches()
        if oracle is not None:
            rep = compare_frames(name, pdf, oracle)
            assert rep.ok, str(rep)
        rows = sorted(map(repr, pdf.itertuples(index=False)))
        hashes.append(hashlib.sha256(repr(rows).encode()).hexdigest())
    assert hashes[0] == hashes[1], name
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == threshold
