"""Concurrent construction of independent suite branches.

Certification suites union N INDEPENDENT branches (each a registered
single: own scratch paths, own raise checks, own oracle CTE). Built
serially, every branch's small Spark jobs leave the rest of the
cluster idle — exactly the idle-capacity problem the optimization
playbook solves by submitting independent jobs from a driver thread
pool so the next job's tasks back-fill executors freed by the current
job's tail (Spark's scheduler is FIFO across concurrently submitted
jobs, which is the desired back-fill behaviour).

``overlap_branches`` runs the branch BUILDERS in a small thread pool
and returns their DataFrames in input order, so the suite's union —
and therefore its result, plan shape, and oracle hash — is unchanged;
only the wall-clock scheduling of the branches' (real, per-branch)
I/O and actions moves. Branch exceptions (the raise checks) propagate
exactly as in the serial form.

Safety preconditions (hold for every converted suite):

- branches touch DISJOINT scratch paths (each single namespaces its
  own tables) and never clear session-global state (no
  ``catalog.clearCache``/``release_caches`` inside query builders —
  grep-audited);
- per-dataset commit locks are path-keyed, so concurrent branches
  never contend on a lock;
- ``tracked_persist``'s registry is lock-guarded; a relation two
  branches read is built once by the suite and passed to both.

Worker count: a constant 4 — deliberately small. The point is
back-fill, not saturation: branch jobs are short and
overhead-dominated, so 3-4 in flight keeps the scheduler busy at any
executor count (the playbook's "2-3 jobs in flight is plenty"), and
the value is not a core-count function, so the bench stays
comparable when it runs at a lower core count.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")

OVERLAP_WORKERS = 4


def overlap_branches(thunks: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent branch builders concurrently; results in input
    order. Falls back to serial for a single branch."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    spark = SparkSession.active()
    with ThreadPoolExecutor(
        max_workers=min(OVERLAP_WORKERS, len(thunks))
    ) as pool:
        # Each branch runs with the caller's job group, description and
        # session tags, so its jobs count towards the caller's query.
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        # Collect in order; .result() re-raises a branch's raise check.
        return [f.result() for f in futures]


def overlap_materialize(thunks: Sequence[Callable[[], T]]) -> list[T]:
    """``overlap_branches`` for PURE-COMPUTE suites: build each branch
    and materialise it through ``tracked_persist`` in the pool, so the
    suite's single downstream action is a union over branch
    checkpoints instead of one mega-union plan whose independent legs
    the scheduler walks mostly serially.

    A compute suite's branches are lazy, so overlapping only their
    builders would overlap nothing: all the cost would land in one
    union action, analysed and optimised as one 10-20-branch plan,
    with each leg's stage chain queued behind shared scheduler
    breadth. Materialising per branch turns that into N small
    independent jobs that back-fill each other, and the checkpoint
    cuts each branch's lineage, so the union's plan is N scans of
    stored blocks rather than N printed branch plans. Column order,
    row set and oracle hash are unchanged: branch outputs are the
    certification digests themselves (top-k rows, merge tables,
    grouped tallies — KBs), released by the caller through
    ``release_caches``.
    """
    from weatherflow_spark.operators.caching import tracked_persist

    return overlap_branches(
        [lambda build=build: tracked_persist(build()) for build in thunks]
    )
