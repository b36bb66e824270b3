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
- ``tracked_persist``'s registry is lock-guarded, and concurrent
  builders of one plan share a single materialisation.

Worker count: ``WF_SUITE_OVERLAP`` (default 4) — deliberately small.
The point is back-fill, not saturation: branch jobs are short and
overhead-dominated, so 3-4 in flight keeps the scheduler busy at any
executor count (the playbook's "2-3 jobs in flight is plenty"), and
the value is a conf, not a core-count function, so the bench stays
comparable when the driver re-runs it at a lower core count.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

T = TypeVar("T")

OVERLAP_WORKERS = int(os.environ.get("WF_SUITE_OVERLAP", "4"))

# --- scoped no-auto-broadcast planning session -------------------------
# The bucketed-layout certifications force the sort-merge path by
# planning under spark.sql.autoBroadcastJoinThreshold=-1. SQL confs
# are SESSION-wide, so any toggle on the shared session leaks into
# concurrently-planning sibling branches: r14's refcounted guard fixed
# the restore RACE but still held -1 session-wide while any branch was
# inside it, so an unrelated overlapped branch could plan SortMergeJoin
# where it would legitimately broadcast (r14 VERDICT #5 — run-to-run
# plan nondeterminism). r15: the togglers now plan in a CLONED session
# (``SparkSession.newSession``) that shares the SparkContext, external
# catalog and CacheManager with the parent but owns its own SQLConf —
# -1 lives only there, permanently, and the parent session's planning
# is never touched. One clone per parent is shared by all togglers
# (they all want the same value and never restore), so overlapped
# guarded branches keep overlapping.
_NB_LOCK = threading.Lock()
_NB_SESSIONS: "weakref.WeakKeyDictionary" = None  # built lazily below


def no_broadcast_session(spark):
    """The parent session's no-auto-broadcast planning twin: same
    SparkContext / catalog / cached relations, own SQLConf with
    ``autoBroadcastJoinThreshold=-1``. Build every input of a
    forced-sort-merge certification plan from THIS session (reads of
    the parent's DataFrames would plan under the parent's conf);
    explicit ``F.broadcast`` hints still work — hints override the
    threshold."""
    global _NB_SESSIONS
    import weakref

    from weatherflow_spark.session import configure_session

    with _NB_LOCK:
        if _NB_SESSIONS is None:
            _NB_SESSIONS = weakref.WeakKeyDictionary()
        twin = _NB_SESSIONS.get(spark)
        if twin is None:
            twin = spark.newSession()
            # newSession starts from the CONTEXT conf: re-apply the
            # engine's required runtime confs and mirror the parent's
            # dynamic shuffle breadth so guarded plans stay comparable.
            configure_session(twin)
            try:
                twin.conf.set(
                    "spark.sql.shuffle.partitions",
                    spark.conf.get("spark.sql.shuffle.partitions"),
                )
            except Exception:
                pass
            twin.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            _NB_SESSIONS[spark] = twin
        return twin


def overlap_branches(
    thunks: Sequence[Callable[[], T]], max_workers: int | None = None
) -> list[T]:
    """Run independent branch builders concurrently; results in input
    order. Falls back to serial for a single branch or workers<=1."""
    n = max_workers if max_workers is not None else OVERLAP_WORKERS
    n = min(n, len(thunks))
    if n <= 1 or len(thunks) <= 1:
        return [t() for t in thunks]
    try:
        # Documented way to run driver threads so JVM thread-local
        # properties (job group/description) are inherited + cleaned.
        from pyspark import inheritable_thread_target as _itt
    except ImportError:  # pragma: no cover - very old pyspark
        def _itt(f):
            return f
    with ThreadPoolExecutor(max_workers=n) as pool:
        futures = [pool.submit(_itt(t)) for t in thunks]
        # Collect in order; .result() re-raises a branch's raise check.
        return [f.result() for f in futures]


def overlap_materialize(
    thunks: Sequence[Callable[[], T]], max_workers: int | None = None
) -> list[T]:
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
    ``release_caches``. A branch whose plan equals an earlier
    tracked relation shares its materialisation.
    """
    from weatherflow_spark.operators.caching import tracked_persist

    return overlap_branches(
        [lambda build=build: tracked_persist(build()) for build in thunks],
        max_workers,
    )
