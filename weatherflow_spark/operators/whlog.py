"""Cross-table consistent snapshots: warehouse-level time travel over
multi-table loads.

The reference loads each record inside ONE MySQL transaction spanning
all five star tables (reference dags/utils/database.py:25-34,
SQL/create_tables.sql:11-18) — its warehouse is always cross-table
consistent, but keeps no history. The snapshot log
(operators/snaplog.py) gives each table independent history — and
thereby a NEW inconsistency: a time-travel read of fact-at-version-N
joined to dim-at-head silently mixes commit points, and "the
warehouse as of load N" is unanswerable.

This module is the missing coordinator — one LOGICAL LOAD entry
mapping table → snapshot version, the Iceberg/Delta multi-table
transaction shape re-derived on the engine's own primitives:

- **Load entry** (``<wh>/.__whlog/L000001.json`` …, a
  :class:`~weatherflow_spark.operators.commit.NumberedLog` with the
  ``_last_load`` head pointer): appended while holding EVERY member
  table's commit lock (sorted-path order, so two warehouse commits —
  or a warehouse commit racing a clone — can never deadlock) plus a
  warehouse-level lock that serializes load numbering. Because all
  table locks are held across the per-table version records, the
  recorded ``{table: version}`` map is a CONSISTENT CUT: no writer
  can commit content to any member table between the first and the
  last record, so no load entry can ever pair fact-at-N with a dim
  state from a different instant.
- **Version reuse**: a member table whose content writer already
  minted the current state's version (every keyed upsert / CDC apply
  records one, upsert.py) is NOT re-versioned — the entry points at
  the existing version when the file set is unchanged, so warehouse
  commits after normal loads are pure metadata.
- **Consistent read** (:func:`read_warehouse`): resolves ONE entry
  (a single atomic json read) and serves every table via
  ``read_version`` from its retention mirror — the live trees are
  never consulted, so the read is isolated from every concurrent
  writer. Vacuum is the one hazard (exactly as for single-table time
  travel); :func:`pinned_load` pins every member version for the
  read's duration.
- **Replay keying**: ``batch_id`` makes the load exactly-once — a
  re-delivered load (scheduler retry, foreachBatch replay) returns
  the recorded load number instead of minting a new one, reusing the
  snaplog's per-table batch keying underneath.

Scale posture (100 TB): a load entry is O(tables) metadata on top of
O(touched files) per-table commits — the coordinator adds no data
I/O and no shuffle, and never holds locks across the load's Spark
jobs (those run before, under their own per-table write discipline).
The all-locks-held window is file-METADATA work: members whose
writers record commits at the choke points reuse via the O(dirs)
directory-fingerprint stamp (zero file stats under the locks),
falling back to one stat walk only when the stamp is stale or a bulk
write bypassed the log; the mirror is pre-linked lock-free
beforehand — including members first initialised by this very
commit — so a first commit never bulk-links under the locks.
"""

from __future__ import annotations

import json
import os
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.operators.commit import (
    NumberedLog,
    dataset_lock,
    write_json_atomic,
)
from weatherflow_spark.operators.overlap import overlap_branches


def _loads(wh_dir: str) -> NumberedLog:
    # Dot-prefixed INSIDE the warehouse dir: invisible to any Spark
    # file index, wiped together with the warehouse.
    return NumberedLog(
        os.path.join(wh_dir, ".__whlog"), "L", "_last_load", "load", "B"
    )


def _bundle(bundle_dir: str) -> NumberedLog:
    # A feed bundle's copies of the load entries (no pointer, no markers).
    return NumberedLog(os.path.join(bundle_dir, "loads"), "L")


def _wh_lock_base(wh_dir: str) -> str:
    # dataset_lock(path) locks "<path>.__lock"; underscore prefix
    # keeps the file invisible to Spark readers of wh_dir.
    return os.path.join(wh_dir, "__warehouse")


def init_warehouse_log(wh_dir: str) -> None:
    """Opt this warehouse directory into logical-load commits
    (idempotent). Member tables are plain datasets under ``wh_dir``;
    they are opted into per-table snapshot logs automatically on
    first commit."""
    os.makedirs(_loads(wh_dir).dir, exist_ok=True)


def warehouse_loads(wh_dir: str) -> list[int]:
    """Committed logical-load numbers, ascending. Lists the log:
    full-history callers (vacuum, bundle export, restore) only."""
    return _loads(wh_dir).numbers()


def head_load(wh_dir: str) -> int | None:
    """The newest committed load, from the ``_last_load`` pointer plus
    a forward probe: at the reference's 288-loads/day cadence, listing
    the log would cost ~10^5 entries a year on every warehouse read."""
    return _loads(wh_dir).head()


def load_entry(wh_dir: str, load: int | None = None) -> dict:
    """The load entry (``{"load": N, "tables": {name: version}, ...}``);
    default latest. Head resolution and explicit-load validation are
    O(since-pointer) / one entry stat — the listing only runs to build
    the error message."""
    log = _loads(wh_dir)
    if load is None:
        load = log.head()
        if load is None:
            raise ValueError(f"{wh_dir}: no committed warehouse loads")
    elif not os.path.isfile(log.path(load)):
        ls = log.numbers()
        if not ls:
            raise ValueError(f"{wh_dir}: no committed warehouse loads")
        raise ValueError(
            f"{wh_dir}: load {load} not in log (have {ls[0]}..{ls[-1]})"
        )
    with open(log.path(load)) as f:
        return json.load(f)


def _record_or_reuse(path: str, batch_id: object | None) -> int:
    """The table's version for THIS load: reuse the latest snapshot
    version when the live file set is unchanged (the table's own
    content writers already versioned it — the common case), mint one
    otherwise (bulk-written tables with no explicit record). Caller
    holds the table's lock."""
    from weatherflow_spark.operators.snaplog import (
        _clean_fingerprint,
        _walk_data_files,
        _write_dirstamp,
        dir_fingerprint,
        entry_files,
        head_version,
        live_is_head,
        record_commit,
    )

    head = head_version(path)  # pointer-resolved: no per-load listdir
    if head is not None:
        # O(dirs) fast path: every engine content
        # writer records a commit at the choke points, and
        # record_commit stamps the directory fingerprint after each
        # entry — fingerprint equality therefore means no write of
        # ANY kind (choke-point or bulk: both add/remove files, which
        # bumps a directory mtime) happened since the head version,
        # so the head is the current state and the stat walk is
        # skipped entirely. Stale/missing stamps (a crash between
        # entry and stamp) only cost the fallback walk, never a wrong
        # reuse.
        if live_is_head(path):
            return head
    # Same basis-before-listing discipline as record_commit's stamp:
    # the fingerprint that may be persisted below must
    # predate the walk, or a bulk write between walk and stamp would
    # be vouched for by a stamp whose entry excludes it.
    pre_fp = _clean_fingerprint(path)
    cur = sorted((r, s) for r, s in _walk_data_files(path))
    if head is not None:
        prev = sorted(entry_files(path, head))
        if prev == cur:
            # content equal but the stamp was stale/missing: refresh
            # it (caller holds the table lock) so the NEXT load takes
            # the O(dirs) path — only if the tree stayed exactly as
            # fingerprinted through the walk.
            if pre_fp is not None and dir_fingerprint(path) == pre_fp:
                _write_dirstamp(path, pre_fp)
            return head
    # files= commits must carry the pre-walk basis into record_commit
    # (its own fingerprint would be post-listing — the wrong-reuse
    # hole again); record_commit re-verifies the tree is still
    # exactly this before stamping.
    return record_commit(
        path, files=cur, batch_id=batch_id, stamp_basis=pre_fp
    )


def committed_load(wh_dir: str, batch_id: object) -> int | None:
    """The load number a replay-keyed commit minted for ``batch_id``,
    or None. Loaders call this BEFORE touching any member table: a
    late-redelivered OLD batch must short-circuit here, not after its
    upserts have already rewritten current rows back to stale values.
    A marker answers a replayed id, and a new id reads only the entries
    above the head pointer, so both cost O(1) however many loads are
    retained (:meth:`~weatherflow_spark.operators.commit.NumberedLog.batch_number`).

    Contract boundaries (identical to snaplog's batch keying): replay
    protection extends exactly as far as LOAD RETENTION — a batch
    whose load entry was vacuumed is out of contract (streaming
    checkpoints only replay recent batches; keep ``keep_last_loads``
    above the replay horizon). And the ID SPACE is caller-owned, the
    Delta txnAppId shape: a reset checkpoint restarts micro-batch
    numbering, so callers must scope ids by query identity (the
    engine's stream sink keys by checkpoint path) or old entries
    would silently swallow new batches."""
    return _loads(wh_dir).batch_number(batch_id)


def commit_warehouse(
    wh_dir: str, tables: list[str], batch_id: object | None = None
) -> int:
    """Record the CURRENT state of every member table as one logical
    load and return the load number. ``tables`` are directory names
    under ``wh_dir``. All member locks are taken in sorted order and
    held across every per-table version record AND the entry write —
    the consistency guarantee (module doc). ``batch_id`` keys the
    load for exactly-once replay."""
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        snapshot_enabled,
    )

    if not tables:
        raise ValueError("commit_warehouse needs at least one table")
    log = _loads(wh_dir)
    if not os.path.isdir(log.dir):
        raise ValueError(
            f"{wh_dir}: warehouse log not initialised (init_warehouse_log)"
        )
    paths = {t: os.path.join(wh_dir, t) for t in tables}
    for t, p in paths.items():
        if not os.path.isdir(p):
            raise ValueError(f"{wh_dir}: member table {t!r} does not exist")
    # Pre-warm the retention mirrors LOCK-FREE (idempotent links; a
    # superseded pre-link is garbage vacuum sweeps): the all-locks
    # window below then pays only the listing delta and the entry
    # writes, not a first-commit bulk link pass. Members
    # not yet snapshot-enabled are initialised HERE (init is
    # idempotent metadata) — prelink is a no-op on an
    # uninitialised table, so deferring init to the locked loop would
    # silently re-open the bulk-link-under-all-locks window for every
    # first-time member.
    from weatherflow_spark.operators.snaplog import (
        live_is_head,
        prelink_retained,
    )

    for p in paths.values():
        if not snapshot_enabled(p):
            init_snapshot_log(p)
        # Skip the O(files) prelink walk when the dirstamp proves the
        # table unchanged since its last commit: every
        # file present at that commit was linked by it (full-walk
        # commits link everything; scoped commits link their touched
        # files with carried files linked inductively), so a matching
        # fingerprint means the mirror is already complete and a
        # pure-metadata load is genuinely O(dirs) end to end.
        if live_is_head(p):
            continue
        prelink_retained(p)
    with ExitStack() as stack:
        # Warehouse lock FIRST (serializes load numbering between two
        # warehouse commits), then member locks sorted by path — the
        # same global order every multi-lock holder in the engine
        # uses (clone_table), so no cycle is possible.
        stack.enter_context(dataset_lock(_wh_lock_base(wh_dir)))
        if batch_id is not None:
            prior = committed_load(wh_dir, batch_id)
            if prior is not None:
                return prior  # replayed load: exactly-once
        for p in sorted(paths.values()):
            stack.enter_context(dataset_lock(p))
        table_versions = {}
        for t in sorted(paths):
            p = paths[t]
            if not snapshot_enabled(p):
                init_snapshot_log(p)
            table_versions[t] = _record_or_reuse(p, batch_id)
        h = log.head()
        n = (h if h is not None else 0) + 1
        entry = {"load": n, "tables": table_versions}
        if batch_id is not None:
            entry["batch_id"] = str(batch_id)
        log.append(n, entry, batch_id)
        return n


def read_warehouse(
    spark: SparkSession, wh_dir: str, load: int | None = None
) -> dict[str, DataFrame]:
    """Every member table AS OF logical load ``load`` (default:
    latest) — one atomic entry read, then per-table time-travel reads
    from the retention mirrors. The returned frames are mutually
    consistent by construction: they all come from versions recorded
    under one all-tables lock hold. Per-table commits made AFTER the
    load (or between loads) are invisible — exactly the "warehouse as
    of load N" contract."""
    from weatherflow_spark.operators.snaplog import read_version

    entry = load_entry(wh_dir, load)
    return {
        t: read_version(spark, os.path.join(wh_dir, t), v)
        for t, v in entry["tables"].items()
    }


def vacuum_warehouse(
    wh_dir: str,
    keep_last_loads: int = 1,
    require_exported: dict[str, str] | None = None,
) -> dict[str, dict[str, int]]:
    """Bound warehouse history WITHOUT breaking any retained load: a
    bare per-table ``vacuum_versions`` is load-blind — it can drop a
    member version an older load entry still references, silently
    turning ``read_warehouse(load)`` into an error. This is the
    load-aware form: drop load entries beyond ``keep_last_loads``,
    then vacuum every member table that appears in any entry with
    ``keep_versions`` = every version the SURVIVING loads reference —
    so "the warehouse as of load N" keeps working for exactly the
    loads the log retains. Per-table histories between loads are
    still bounded by each member's own keep_last=1 tail. Returns
    ``{table: vacuum counts}`` plus a ``"__loads__"`` entry.

    ``require_exported`` maps member table → change-feed directory
    (the warehouse form of ``vacuum_versions(require_exported=...)``):
    a load-aware vacuum must not drop a member
    version whose CDC diff was never exported — that silently
    truncates the replication trail ``foreach_batch_apply_change_feed``
    consumers depend on. EVERY mapped member is pre-flighted with a
    no-mutation dry run BEFORE any load entry or member version is
    dropped, so the vacuum either proceeds everywhere or refuses
    atomically with a per-table report — a mid-loop raise would leave
    some members vacuumed and the load entries half-dropped."""
    from weatherflow_spark.operators.snaplog import vacuum_versions

    if keep_last_loads < 1:
        raise ValueError("keep_last_loads must be >= 1")
    with dataset_lock(_wh_lock_base(wh_dir)):
        log = _loads(wh_dir)
        ls = log.numbers()
        drop = ls[:-keep_last_loads]
        keep = [n for n in ls if n not in drop]
        referenced: dict[str, set[int]] = {}
        for n in keep:
            for t, v in load_entry(wh_dir, n)["tables"].items():
                referenced.setdefault(t, set()).add(int(v))
        # Entries whose tables are no longer referenced by any kept
        # load still contribute their table names (so their versions
        # get vacuumed rather than orphaned).
        for n in drop:
            for t in load_entry(wh_dir, n)["tables"]:
                referenced.setdefault(t, set())
        # Feed-export pre-flight: dry-run EVERY
        # member BEFORE the first mutation — same decision logic as
        # the real vacuum (keep_versions included), raising with a
        # per-table report while nothing has been dropped yet. The
        # decided drop sets are FROZEN and passed to the real vacuums
        # as allowed_drop: pin releases are lock-free, so a drop set
        # recomputed later could have grown past what the pre-flight
        # cleared and re-raise mid-loop with entries half-dropped —
        # exactly the state the pre-flight exists to exclude. Newly
        # droppable versions wait for the next vacuum.
        bad: dict[str, str] = {}
        frozen_drop: dict[str, set[int]] = {}
        for t, keep_vs in sorted(referenced.items()):
            try:
                pre = vacuum_versions(
                    os.path.join(wh_dir, t),
                    keep_last=1,
                    keep_versions=keep_vs,
                    require_exported=(require_exported or {}).get(t),
                    dry_run=True,
                )
                frozen_drop[t] = set(pre["drop"])
            except ValueError as exc:
                bad[t] = str(exc)
        if bad:
            details = "; ".join(f"{t}: {m}" for t, m in bad.items())
            raise ValueError(
                f"{wh_dir}: refusing warehouse vacuum — change feed "
                f"not fully exported for {len(bad)} member table(s) "
                f"[{details}]"
            )
        log.drop(drop, keep)
        out: dict[str, dict[str, int]] = {
            "__loads__": {"dropped_loads": len(drop)}
        }
        for t, keep_vs in sorted(referenced.items()):
            out[t] = vacuum_versions(
                os.path.join(wh_dir, t), keep_last=1,
                keep_versions=keep_vs,
                # defense in depth: the pre-flight passed, but exports
                # are append-only so re-checking here is free and
                # closes any crash-window drift
                require_exported=(require_exported or {}).get(t),
                allowed_drop=frozen_drop[t],
            )
        return out


def export_warehouse_feed(
    spark: SparkSession,
    wh_dir: str,
    bundle_dir: str,
    key_cols: dict[str, list[str]],
) -> dict[str, int]:
    """Per-LOAD multi-table replication bundle: with a load log the
    natural replication unit is the logical LOAD, not the single table — a replica that applies
    table feeds independently can pair fact-at-load-N with
    dim-at-load-M, exactly the mixed cut the warehouse log exists to
    prevent. The bundle is (a) one standard change feed per member
    table (``snaplog.export_change_feed`` — incremental, idempotent,
    schema-stamped) and (b) a copy of every load entry
    (``loads/L%06d.json``, immutable once written), which tells the
    consumer WHICH feed versions form one atomic load.

    ``key_cols`` maps member table → merge keys; every table any load
    entry references must be mapped (a keyless table cannot be
    replicated by keyed merge). Raises — exporting nothing new — if a
    load references a feed version that can no longer be derived
    (vacuumed before first export; the ``vacuum_warehouse``
    ``require_exported`` interlock exists to prevent exactly that).
    Returns ``{"loads_exported": n, "tables": t}``."""
    from weatherflow_spark.operators.snaplog import (
        export_change_feed,
        exported_feed_versions,
    )

    loads = warehouse_loads(wh_dir)
    if not loads:
        raise ValueError(f"{wh_dir}: no committed warehouse loads")
    entries = {n: load_entry(wh_dir, n) for n in loads}
    referenced: dict[str, int] = {}
    for e in entries.values():
        for t, v in e["tables"].items():
            referenced[t] = max(int(v), referenced.get(t, 0))
    missing = sorted(set(referenced) - set(key_cols))
    if missing:
        raise ValueError(
            f"{wh_dir}: no key_cols for member table(s) {missing} — "
            "a keyless table cannot be replicated by keyed merge"
        )
    def _export_one(t: str, max_v: int) -> None:
        feed = os.path.join(bundle_dir, t)
        export_change_feed(
            spark, os.path.join(wh_dir, t), feed, key_cols[t]
        )
        have = exported_feed_versions(feed)
        gaps = [v for v in range(1, max_v + 1) if v not in have]
        if gaps:
            raise ValueError(
                f"{wh_dir}/{t}: feed versions {gaps[:5]}"
                f"{'…' if len(gaps) > 5 else ''} referenced by retained "
                "loads are not exportable (vacuumed before first "
                "export) — the bundle cannot rebuild the replica"
            )

    # Member tables export INDEPENDENT feeds (disjoint source tables,
    # disjoint bundle dirs) — run them through the bounded suite pool
    # so each table's small derive-diff jobs back-fill the others'
    # scheduler tails (guide §2.6); per-table derivation order and
    # every raise check are unchanged.
    overlap_branches([
        (lambda t=t, mv=max_v: _export_one(t, mv))
        for t, max_v in sorted(referenced.items())
    ])
    bundle = _bundle(bundle_dir)
    os.makedirs(bundle.dir, exist_ok=True)
    n_new = 0
    for n, e in sorted(entries.items()):
        if os.path.exists(bundle.path(n)):
            continue  # immutable once written
        write_json_atomic(bundle.path(n), e)
        n_new += 1
    return {"loads_exported": n_new, "tables": len(referenced)}


def bundle_loads(bundle_dir: str) -> list[int]:
    return _bundle(bundle_dir).numbers()


def apply_warehouse_feed(
    spark: SparkSession,
    bundle_dir: str,
    replica_wh: str,
    key_cols: dict[str, list[str]],
    partition_cols: dict[str, list[str]] | None = None,
) -> list[int]:
    """Rebuild a replica warehouse LOAD-BY-LOAD from a bundle written
    by :func:`export_warehouse_feed` — the multi-table form of
    ``foreach_batch_apply_change_feed`` with its guarantees extended
    across tables:

    - **load atomicity**: all of load N's per-table feed versions are
      merged, THEN one replica load entry commits (batch-keyed
      ``whfeed:N``) — ``read_warehouse(replica, N)`` can never serve
      a mixed cut; a crash mid-load leaves no entry and the rerun
      re-applies idempotently.
    - **version ordering**: each table applies its feed versions
      ascending within ``(prev load's version, this load's version]``
      — versions minted BETWEEN loads replay in order; versions after
      the newest load are excluded (they belong to no load yet).
    - **schema fail-fast + evolution**: per-version column stamps are
      checked before each table's merge; evolved columns replicate
      via ``merge_schema``.
    - **exactly-once**: replayed loads short-circuit on the replica's
      load log BEFORE touching any table.

    Returns the NEWLY applied load numbers."""
    from weatherflow_spark.operators.snaplog import (
        check_feed_schema,
        exported_feed_versions,
        feed_version_rows,
        read_change_feed,
    )
    from weatherflow_spark.operators.upsert import apply_changes

    bundle = _bundle(bundle_dir)
    ls = bundle.numbers()
    if not ls:
        raise ValueError(f"{bundle_dir}: no load entries in bundle")
    init_warehouse_log(replica_wh)
    applied: list[int] = []
    prev: dict[str, int] = {}
    # markers are immutable for the apply's duration: list each
    # table's feed once, not per (load, table)
    have_cache: dict[str, set[int]] = {}
    for n in ls:
        with open(bundle.path(n)) as f:
            entry = json.load(f)
        tables = entry["tables"]
        if committed_load(replica_wh, f"whfeed:{n}") is not None:
            # update, never reassign: a member absent from THIS load
            # keeps its watermark, or the next load containing it
            # would re-apply its whole feed history from version 0.
            prev.update({t: int(v) for t, v in tables.items()})
            continue
        def _apply_table(t: str) -> None:
            target = int(tables[t])
            lo = prev.get(t, 0)
            if target <= lo:
                return  # version reused across loads: pure metadata
            feed_dir = os.path.join(bundle_dir, t)
            # Fail fast on an incomplete bundle (copied mid-sync,
            # partial feed partition): applying up to a LOWER version
            # and then recording the load would pin the divergence
            # forever — the exactly-once key makes the rerun a no-op
            # even after the bundle completes. The check
            # keys on the feed's COMMIT MARKERS, not data rows — a
            # compaction version (empty logical diff) or an
            # empty-at-seed table legitimately exports a version with
            # zero rows.
            if t not in have_cache:
                have_cache[t] = exported_feed_versions(feed_dir)
            have = have_cache[t]
            missing = [v for v in range(lo + 1, target + 1) if v not in have]
            if missing:
                raise ValueError(
                    f"{bundle_dir}/{t}: load {n} needs feed versions "
                    f"({lo}, {target}] but {missing[:5]}"
                    f"{'…' if len(missing) > 5 else ''} are not committed "
                    "in the bundle — incomplete bundle; re-export and "
                    "re-apply"
                )
            feed = read_change_feed(spark, feed_dir).where(
                (F.col("change_version") > lo)
                & (F.col("change_version") <= target)
            )
            counts = {
                r.change_version: r.n
                for r in feed.groupBy("change_version")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            # partial-copy detection: a sorted-order
            # copier lands '_WF_EXPORTED' before 'part-*', so a marker
            # alone cannot vouch for the data; the marker's stamped
            # row count must match what the bundle actually holds
            # (pre-stamp legacy markers return None and skip the
            # check). Applying a short partition and recording the
            # load would pin the divergence forever.
            for v in range(lo + 1, target + 1):
                expect = feed_version_rows(feed_dir, v)
                got_n = counts.get(v, 0)
                if expect is not None and got_n != expect:
                    raise ValueError(
                        f"{bundle_dir}/{t}: feed version {v} holds "
                        f"{got_n} row(s) but its export marker stamped "
                        f"{expect} — partially copied bundle; re-copy "
                        "and re-apply"
                    )
            vs = sorted(counts)
            check_feed_schema(feed_dir, feed.columns, vs)
            for v in vs:
                apply_changes(
                    spark,
                    feed.where(feed.change_version == v).drop(
                        "change_version"
                    ),
                    os.path.join(replica_wh, t),
                    key_cols[t],
                    "op",
                    (partition_cols or {}).get(t),
                    merge_schema=True,
                )

        # Tables within ONE load are independent (disjoint replica
        # paths, path-keyed commit locks) — run their keyed merges
        # through the bounded suite pool (guide §2.6). Each table's
        # feed versions still apply strictly ascending inside its own
        # thunk, and the load entry below commits only after EVERY
        # table's merge returned, so load atomicity, version ordering
        # and the exactly-once key are unchanged.
        overlap_branches([
            (lambda t=t: _apply_table(t)) for t in sorted(tables)
        ])
        commit_warehouse(replica_wh, sorted(tables), batch_id=f"whfeed:{n}")
        applied.append(n)
        prev.update({t: int(v) for t, v in tables.items()})
    return applied


@contextmanager
def pinned_load(wh_dir: str, load: int | None = None):
    """Pin every member version of one load against vacuum for the
    block's duration (the multi-table form of
    :func:`~weatherflow_spark.operators.snaplog.pinned_version`).
    Yields the load entry. Raises before any read if ANY member
    version is already vacuumed — deterministic, never mid-scan."""
    from weatherflow_spark.operators.snaplog import pinned_version

    entry = load_entry(wh_dir, load)
    with ExitStack() as stack:
        for t, v in sorted(entry["tables"].items()):
            stack.enter_context(
                pinned_version(os.path.join(wh_dir, t), v)
            )
        yield entry


def maintain_warehouse(
    spark: SparkSession,
    wh_dir: str,
    partition_cols: dict[str, list[str]] | None = None,
    max_files: int = 8,
    sort_cols: dict[str, str] | None = None,
    recluster: bool = False,
    feed_bundle: str | None = None,
    key_cols: dict[str, list[str]] | None = None,
    keep_last_loads: int | None = None,
    batch_id: object | None = None,
) -> dict:
    """BETWEEN-LOADS warehouse maintenance: the one entry point
    a streaming warehouse schedules after every N micro-batch loads,
    composing the engine's maintenance primitives in the only order
    that preserves every retention contract:

    1. **Compact** — each member mapped in ``partition_cols`` runs
       :func:`~weatherflow_spark.operators.layout.compact_partitions`:
       offender partitions are found from the snapshot log's segments
       (O(dirs) metadata — no directory listing at any table size)
       and rewritten through the scoped choke point, versioned.
       ``sort_cols`` maps a member to its clustering column so the
       rewrite (including a DV fold) PRESERVES the member's
       range-sorted file layout instead of collapsing each partition
       to one wide-min/max file. ``recluster=True`` additionally
       plans partitions whose live files OVERLAP on the member's
       sort column as offenders (the clustering-decay
       class — append traffic decays file skipping long before file
       counts trip ``max_files``); it applies to exactly the members
       mapped in ``sort_cols``, since a re-sort-less rewrite cannot
       repair clustering.
    2. **Re-cut** — if anything compacted (or ``batch_id`` is given),
       a NEW warehouse load is committed pairing every member's
       compacted head (``commit_warehouse`` — pure metadata via the
       O(dirs) dirstamp reuse for untouched members), so warehouse
       readers see the compacted layout NOW instead of after the next
       data load. Without it, ``read_warehouse()`` would keep serving
       the pre-compaction file sets forever on an idle warehouse.
    3. **Export** — ``feed_bundle`` runs
       :func:`export_warehouse_feed` (compaction versions export as
       EMPTY feed versions — content-identical commits — keeping the
       bundle gap-free for replicas).
    4. **Vacuum** — ``keep_last_loads`` runs :func:`vacuum_warehouse`
       load-aware AND feed-aware: when a bundle was exported the
       vacuum passes ``require_exported`` for every member, so
       history can never be dropped past what replicas can still
       fetch. Vacuum runs LAST so the maintenance load itself counts
       toward the retained window.

    Replay-idempotent end to end: a re-run finds no offender
    partitions (no-op compactions), ``batch_id`` returns the recorded
    maintenance load, exports skip existing versions, vacuum is
    already-bounded. Returns ``{"members", "compaction", "load",
    "feed", "vacuum"}`` (None for skipped phases)."""
    from weatherflow_spark.operators.layout import compact_partitions

    loads = warehouse_loads(wh_dir)
    if not loads:
        raise ValueError(f"{wh_dir}: no committed warehouse loads")
    members = sorted(load_entry(wh_dir, loads[-1])["tables"])
    bad = sorted(set(partition_cols or {}) - set(members))
    if bad:
        # a typo'd member would silently skip its compaction forever
        raise ValueError(
            f"{wh_dir}: partition_cols for unknown member table(s) "
            f"{bad} (head load has {members})"
        )
    orphan_sorts = sorted(set(sort_cols or {}) - set(partition_cols or {}))
    if orphan_sorts:
        # a sort_col whose member never compacts would silently do
        # nothing — surface the config mistake instead
        raise ValueError(
            f"{wh_dir}: sort_cols for member(s) {orphan_sorts} that "
            "have no partition_cols mapping (nothing would compact)"
        )
    if feed_bundle is not None and not key_cols:
        raise ValueError(
            "feed_bundle requires key_cols (a keyless table cannot "
            "be replicated by keyed merge)"
        )
    compaction: dict[str, dict[str, int]] = {}
    for t in sorted(partition_cols or {}):
        compaction[t] = compact_partitions(
            spark, os.path.join(wh_dir, t), partition_cols[t],
            max_files=max_files,
            sort_col=(sort_cols or {}).get(t),
            recluster=recluster and t in (sort_cols or {}),
        )
    any_rewrite = any(
        c["partitions_compacted"] > 0 for c in compaction.values()
    )
    load = None
    if any_rewrite or batch_id is not None:
        load = commit_warehouse(wh_dir, members, batch_id=batch_id)
    feed = None
    if feed_bundle is not None:
        feed = export_warehouse_feed(
            spark, wh_dir, feed_bundle, key_cols
        )
    vacuum = None
    if keep_last_loads is not None:
        vacuum = vacuum_warehouse(
            wh_dir,
            keep_last_loads=keep_last_loads,
            require_exported=(
                {t: os.path.join(feed_bundle, t) for t in members}
                if feed_bundle is not None
                else None
            ),
        )
    return {
        "members": members,
        "compaction": compaction,
        "load": load,
        "feed": feed,
        "vacuum": vacuum,
    }


def restore_warehouse_load(
    spark: SparkSession,
    wh_dir: str,
    load: int,
    key_cols: dict[str, list[str]],
    partition_cols: dict[str, list[str]] | None = None,
    batch_id: object | None = None,
) -> dict:
    """RESTORE the whole warehouse to an earlier LOAD as a new load:
    every member rolls back to the version the target
    load entry recorded — each an O(changed partitions) CDC restore
    (:func:`~weatherflow_spark.operators.upsert.restore_version`),
    never a table rewrite — and ONE new load entry pairs the restored
    heads, so ``read_warehouse()`` serves the rolled-back cut the
    instant the entry lands and a replica applying the feed bundle
    converges to the same state through ordinary 'D'/'U' changes.
    History stays append-only: the bad loads still time-travel until
    ``vacuum_warehouse`` ages them out, and restoring again to the
    bad load rolls forward.

    ``key_cols`` must map every member the target load references (a
    keyless table cannot be rolled back by keyed merge). ``batch_id``
    keys the RE-CUT load exactly-once; member restores are
    content-idempotent by construction (an already-restored member
    applies an empty diff). Returns ``{"load": new_load,
    "restored": {table: changes_applied}}``."""
    from weatherflow_spark.operators.upsert import restore_version

    entry = load_entry(wh_dir, load)
    members = sorted(entry["tables"])
    missing = sorted(set(members) - set(key_cols))
    if missing:
        raise ValueError(
            f"{wh_dir}: no key_cols for member table(s) {missing} — "
            "a keyless table cannot be restored by keyed merge"
        )
    if batch_id is not None:
        prior = committed_load(wh_dir, batch_id)
        if prior is not None:
            return {"load": prior, "restored": {t: 0 for t in members}}
    restored = {}
    for t in members:
        rep = restore_version(
            spark,
            os.path.join(wh_dir, t),
            int(entry["tables"][t]),
            key_cols[t],
            (partition_cols or {}).get(t),
        )
        restored[t] = rep["changes_applied"]
    new_load = commit_warehouse(wh_dir, members, batch_id=batch_id)
    return {"load": new_load, "restored": restored}
