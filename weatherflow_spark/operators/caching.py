"""Lineage cuts for relations a query reads more than once.

Iterative plans (pagerank, k-means, label propagation), multi-consumer
relations (source-mixture totals, the TPC-H Q15 per-supplier
aggregate) and the compute suites' branches (``overlap_materialize``)
compute a relation once and read it many times. ``tracked_persist``
does that with an eager ``localCheckpoint``: the relation is computed
when the builder asks for it, its blocks stay in executor storage
(memory, spilling to disk), and the returned frame plans as a scan of
those blocks (``Scan ExistingRDD``) with no upstream lineage. A plan
built on checkpoints is the size of one round or one branch however
many are chained, so analysis, optimisation and every AQE re-plan
handle, and print, only that much.

The trade: a local checkpoint cannot be recomputed. If an executor
that holds its blocks dies, every action that reads the relation fails
and the query must be re-run from its builder; a ``persist`` would have
recomputed the lost partitions from lineage.

Builders that pass semantically equal plans (``semanticHash`` +
``sameSemantics``) over the same input files share one
materialisation: the stats covariance and PCA branches read one
triangle matrix, BPE encode reads training's word table, and a verify
cycle folds the quality digest once for the fingerprint and the
report. Plan equality ignores output names, so a shared checkpoint is
handed back under the asking build's column names. File sources
compare by root path, so the input-file check is what keeps a build
over a path the query has rewritten (every Spark write names its
files afresh) from getting the old contents back.

A query builder returns a LAZY frame that still reads its checkpoints,
so it cannot release them itself. Callers in long-lived sessions call
``release_caches()`` once the query's result is consumed (bench.py,
the perfbench workloads and the parity harness do, between queries);
a frame built before a release must not be acted on after it. In a
per-job session the JVM exit releases them.

``materialised_plans()`` returns the formatted plan of every relation
``tracked_persist`` materialised since the last release, so a plan
audit can still see the subtrees a checkpoint cut out of the query's
own plan.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
# every tracked checkpoint, until the next release
_CHECKPOINTS: list[DataFrame] = []
# semanticHash -> [(source frame, its checkpoint)]
_MEMO: dict[int, list[tuple[DataFrame, DataFrame]]] = {}
# one lock per semanticHash, so concurrent builders of equal plans
# (overlapped suite branches) wait for one materialisation
_KEY_LOCKS: dict[int, threading.Lock] = {}
# an unexecuted copy of every materialised source, for plan audits
_SOURCES: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """Materialise ``df`` now and return the lineage-cut frame; an
    earlier call with a semantically equal plan over the same input
    files returns its checkpoint, under ``df``'s column names."""
    key = df.semanticHash()
    with _LOCK:
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        for source, checkpoint in _MEMO.get(key, ()):
            if source.sameSemantics(df) and sorted(source.inputFiles()) == sorted(
                df.inputFiles()
            ):
                # Equal canonical plans match column for column, so a
                # positional rename restores names that differed only
                # in their aliases.
                if checkpoint.columns == df.columns:
                    return checkpoint
                return checkpoint.toDF(*df.columns)
        # The checkpoint executes df's own QueryExecution, after which
        # it explains as the final AQE plan next to the initial one;
        # the copy keeps the plan as a fresh build would print it.
        audit_copy = df.select("*")
        checkpoint = df.localCheckpoint(eager=True)
        with _LOCK:
            _CHECKPOINTS.append(checkpoint)
            _MEMO.setdefault(key, []).append((df, checkpoint))
            _SOURCES.append(audit_copy)
    return checkpoint


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of a frame returned by ``localCheckpoint``."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def release_caches() -> int:
    """Release every tracked checkpoint; returns how many were
    released. Safe to call repeatedly."""
    with _LOCK:
        checkpoints = list(_CHECKPOINTS)
        _CHECKPOINTS.clear()
        _MEMO.clear()
        _KEY_LOCKS.clear()
        _SOURCES.clear()
    for cp in checkpoints:
        release_checkpoint(cp)
    return len(checkpoints)


def materialised_plans() -> list[str]:
    """Formatted plans of the relations ``tracked_persist``
    materialised since the last ``release_caches()``, in order."""
    with _LOCK:
        sources = list(_SOURCES)
    return [
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for df in sources
    ]
