"""Idempotent warehouse maintenance: dynamic partition overwrite and
keyed upsert over parquet.

The reference blind-appends every 5-minute batch with fresh uuid4 keys
(reference dags/etl.py:103, dags/utils/database.py:25-34), so any
Airflow retry duplicates facts (SURVEY §2.1 K2/K3, §2.9 T3). The
engine's contract instead: deterministic content-hash surrogate keys
(operators/star.py) + the two write disciplines here, which make every
load safely re-runnable.

Scale posture:

- ``overwrite_partitions`` uses Spark's *dynamic* partition-overwrite
  commit: only partitions present in the incoming batch are replaced;
  a 5-minute micro-batch touching one hour of a 100 TB fact table
  rewrites that hour, not the table. This is the file-format analog of
  the reference's per-record transaction — atomicity comes from the
  job-level commit protocol instead of row transactions.
- ``upsert_by_key`` is read-side bounded the same way: when the table
  is partitioned, the existing side is pruned to the partitions the
  new batch touches (IN-list pushed to the scan) before the anti-join,
  so cost scales with the touched slice, never the table. The
  anti-join's build side is the (small) incoming batch — broadcast.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.operators.caching import release_checkpoint


def _record_snapshot(
    path: str,
    scope: list[str] | None = None,
    batch_id: object | None = None,
) -> None:
    """Versioned tables (E90, opt-in): EVERY content commit — through
    the dynamic-overwrite choke point, the unpartitioned full
    overwrites, AND the table-seed first writes (r9 ADVICE: the seed
    and unpartitioned branches used to bypass this, so snapshot-enabled
    unpartitioned tables silently got no versions and a full overwrite
    made the old state unrecoverable) — lands in the snapshot log.
    No-op unless init_snapshot_log ran for this dataset.

    ``scope`` (hive partition dirs, ``commit.partition_key`` form) is
    the touched-slice hint: partitioned commits pass the partitions
    they may have changed so the version listing walks only that
    slice and carries the rest from the previous entry — O(touched
    files) per micro-batch commit, never a full-tree walk."""
    from weatherflow_spark.operators.snaplog import (
        record_commit,
        snapshot_enabled,
    )

    if snapshot_enabled(path):
        record_commit(path, scope=scope, batch_id=batch_id)


def _manifest_mode(path: str) -> bool:
    from weatherflow_spark.operators.snaplog import snapshot_mode

    return snapshot_mode(path) == "manifest"


def _manifest_overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    keys: list[str],
    replaced_keys: list[str],
    snapshot_batch_id: object | None,
) -> None:
    """The manifest-mode (object-store) form of the partition
    overwrite: committed files are NEVER deleted — the batch is
    APPENDED under job-unique part names and the logical replace
    happens in the version entry (new version = previous entry minus
    every replaced partition's files, plus exactly the files this
    append created). ``keys`` are the partitions present in ``df``;
    ``replaced_keys`` adds any partitions a delete emptied (present
    in neither the output nor the new file walk, so the carve-out is
    the only thing that removes them). Runs under
    the dataset lock; superseded files stay on disk for time travel
    until :func:`~weatherflow_spark.operators.snaplog.
    vacuum_versions` sweeps them."""
    import json

    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
    )
    from weatherflow_spark.operators.snaplog import (
        _walk_data_files,
        entry_files,
        head_version,
        record_commit,
    )

    with dataset_lock(path):
        all_replaced = sorted(set(keys) | set(replaced_keys))
        head = head_version(path)  # pointer-resolved: no per-commit listdir
        if head is None and _walk_data_files(path):
            # BEFORE the physical append (r11 review #3): raising
            # after it would strand the batch's files in the live
            # tree, where the error's own recovery step (a full-walk
            # seed record_commit) would list them as live alongside
            # the rows they were meant to replace.
            raise ValueError(
                f"{path}: manifest-mode table has data but no seed "
                "version — record_commit the initial build first"
            )
        before = set(_walk_data_files(path, subdirs=all_replaced))
        df.write.mode("append").partitionBy(*partition_cols).parquet(path)
        after = set(_walk_data_files(path, subdirs=all_replaced))
        new_files = sorted(after - before)
        if head is not None:
            prev = entry_files(path, head)
            prefixes = tuple(k.rstrip("/") + "/" for k in all_replaced)
            carried = [
                (r, sz) for r, sz in prev if not r.startswith(prefixes)
            ]
        else:
            carried = []  # fresh empty table: this write IS the seed
        check_and_bump_versions(path, all_replaced)
        record_commit(
            path,
            files=carried + new_files,
            batch_id=snapshot_batch_id,
        )


def _manifest_full_replace(
    merged: DataFrame,
    path: str,
    keys: list[str],
    snapshot_batch_id: object | None,
) -> None:
    """Manifest-mode unpartitioned full overwrite: append the new
    content under job-unique names and record a version listing ONLY
    the appended files (full-replace semantics carry nothing) — the
    old files stay on disk for time travel until vacuum."""
    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
    )
    from weatherflow_spark.operators.snaplog import (
        _walk_data_files,
        record_commit,
    )

    with dataset_lock(path):
        before = set(_walk_data_files(path))
        merged.write.mode("append").parquet(path)
        after = set(_walk_data_files(path))
        check_and_bump_versions(path, keys)
        record_commit(
            path,
            files=sorted(after - before),
            batch_id=snapshot_batch_id,
        )


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    record_snapshot: bool = True,
    snapshot_batch_id: object | None = None,
    replaced_keys: list[str] | None = None,
    presorted: bool = False,
    touched_keys: list[str] | None = None,
) -> None:
    """Replace exactly the partitions present in ``df`` (INSERT
    OVERWRITE semantics), leaving all other partitions' files
    untouched. Idempotent: re-running the same batch rewrites the
    same partitions to the same content.

    Version choke point (r9 review): EVERY content writer that goes
    through this helper — keyed upserts, CDC applies, rollup refresh
    and late-merge — bumps the touched partitions' versions in the
    dataset's manifest here, under the same lock as the write. A CAS
    caller (``upsert_by_key(expected_versions=...)``) therefore
    conflicts on ANY concurrent content merge, not only on other
    upserts. The touched keys are ``touched_keys`` when the caller
    already holds them (``commit.partition_key`` form, exactly the
    partitions present in ``df``: the keyed upsert and the CDC apply
    pass them), else one distinct-collect of ``df``'s partition
    values. Direct bulk writers (initial table builds) bypass this
    helper and the manifest — they create tables, they don't merge
    into them."""
    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
    )

    keys = (
        touched_keys
        if touched_keys is not None
        else _touched_keys(df, partition_cols)[1]
    )
    # Cluster the batch by its partition values before the write
    # (r12): a dynamic overwrite otherwise emits one file per
    # (upstream task × touched partition) — a 32-task batch touching
    # 32 date partitions writes ~1000 tiny files, and every later
    # scoped read, snapshot walk, and manifest entry pays for them
    # forever. Hashing on the partition key bounds it to one file per
    # partition dir (hash collisions co-locate dirs, never split
    # them). A genuinely huge single partition lands in one task —
    # that's compaction's resize job, not the merge's.
    # ``presorted`` callers (the clustering-preserving fold,
    # layout.compact_partitions sort_col — r13 verdict #2) have
    # already range-arranged the batch's task layout so each task
    # writes one range-disjoint sorted file; the one-file-per-
    # partition clustering here would collapse that back to a single
    # file whose min/max spans the whole partition and file-skipping
    # silently decays.
    if not presorted:
        df = df.repartition(*partition_cols)
    if _manifest_mode(path):
        # Object-store discipline: append + logical replace, no
        # physical delete of committed files. record_snapshot=False
        # has no meaning here — there is no emptied-dir rmtree to
        # defer past, the carve-out already excludes emptied
        # partitions — so the version is always recorded here.
        _manifest_overwrite_partitions(
            df, path, partition_cols, keys, replaced_keys or [],
            snapshot_batch_id,
        )
        return

    # The dynamic-overwrite mode rides on the WRITER as a data-source
    # option, not a session-conf mutation (r12): the former global
    # set/restore made concurrent merges into DIFFERENT tables unsafe
    # — one thread's restore-to-static could land while another's
    # write was still planning, silently turning its scoped overwrite
    # into a whole-table replace. Per-writer scoping removes the race
    # entirely (and the engine no longer mutates shared session state
    # inside its hottest choke point).
    #
    # The advisory commit lock serializes this write against a
    # concurrent compaction's validate-and-swap (commit.py): a
    # swap cannot land mid-write and discard this batch, and this
    # write's file changes force the racing compaction to abort
    # and re-run rather than clobber.
    with dataset_lock(path):
        df.write.option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").partitionBy(*partition_cols).parquet(path)
        check_and_bump_versions(path, keys)
        # ``record_snapshot=False`` lets a caller whose commit is
        # NOT finished at this point (apply_changes with emptied
        # partitions still to rmtree) defer the version until the
        # live tree matches the logical result — otherwise the
        # head snapshot would resurrect deleted rows (r9 ADVICE).
        if record_snapshot:
            _record_snapshot(path, scope=keys, batch_id=snapshot_batch_id)


def upsert_by_key(
    spark: SparkSession,
    new_batch: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    expected_versions: dict[str, int] | None = None,
    snapshot_batch_id: object | None = None,
    merge_schema: bool = False,
    allow_missing_columns: bool = False,
    before_write: Callable[[], None] | None = None,
) -> None:
    """MERGE-style upsert into a parquet table: rows whose key appears
    in ``new_batch`` are replaced, all others kept. Without a
    transactional table format this is read-modify-write — but scoped:
    with ``partition_cols`` only the partitions the batch touches are
    read, anti-joined (existing-minus-incoming by key, incoming batch
    broadcast), unioned with the batch, and dynamically overwritten.

    Deterministic given deterministic keys: re-running the same batch
    is a no-op on content.

    Conflict detection (r9): every commit bumps the touched
    partitions' versions in the dataset's manifest
    (``commit.partition_versions``). A caller whose batch was
    COMPUTED from a read of the table passes the versions it read as
    ``expected_versions`` (partition key → version,
    ``commit.partition_key`` form); if another writer merged content
    into a touched partition since, the upsert raises
    :class:`~weatherflow_spark.operators.commit.UpsertConflict`
    BEFORE writing — re-read, recompute, retry — instead of silently
    losing that writer's merge (last-writer-wins).

    ``before_write`` is called under the dataset lock once the merged
    slice is materialised and before the first file is written, on
    every write branch; if it raises, nothing is written. The star
    loader uses it to hold the fact's write until every dimension has
    committed while the fact's read and merge run beside them."""
    from weatherflow_spark.operators.commit import dataset_lock

    # The batch is materialised once: the key check, the touched-
    # partition collect, the anti-join keys and the union all read
    # these blocks instead of each re-running the batch's lineage, and
    # they see the same rows even when that lineage is nondeterministic
    # (a dropDuplicates pick).
    batch = new_batch.localCheckpoint(eager=True)
    try:
        # Validation job runs BEFORE the lock (it must not lengthen
        # the critical section that serializes every writer on the
        # dataset).
        _require_unique_keys(batch, key_cols, "batch", path)
        # The lock covers the WHOLE read-modify-write (reentrant
        # through the overwrite helper): without it, a compaction swap
        # landing between this read's file listing and the checkpoint
        # would delete the listed files mid-job — a
        # FileNotFoundException instead of an orderly wait.
        # Compaction's long rewrite phase stays unlocked; only its
        # validate+swap contends here. The CAS validate and the
        # version bump run under this same hold, so there is no
        # validate→write→bump window.
        with dataset_lock(path):
            _upsert_locked(
                spark, batch, path, key_cols, partition_cols,
                expected_versions, snapshot_batch_id, merge_schema,
                allow_missing_columns, before_write,
            )
    finally:
        release_checkpoint(batch)


def _require_unique_keys(
    batch: DataFrame, key_cols: list[str], what: str, path: str
) -> None:
    """A batch carrying the same key twice would write BOTH rows (the
    anti-join removes existing rows, the union keeps every batch row)
    — a silently key-duplicated table, the exact corruption the keyed
    upsert exists to prevent. NULL keys are refused by the same
    check: the anti-join is null-UNSAFE, so a NULL-key batch row
    would never match an existing NULL-key row and would duplicate it
    (r10 review). One tiny aggregation over the (small by contract)
    batch, aliased so key columns named ``count`` don't collide,
    catches both before anything is written. Runs BEFORE the dataset
    lock — validation must not lengthen the critical section."""
    null_any = None
    for c in key_cols:
        cond = F.col(c).isNull()
        null_any = cond if null_any is None else (null_any | cond)
    bad = (
        batch.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__dup_n"))
        .where((F.col("__dup_n") > 1) | null_any)
        .limit(5)
        .collect()
    )
    if bad:
        sample = ", ".join(
            "("
            + ", ".join(str(r[c]) for c in key_cols)
            + f") x{r['__dup_n']}"
            for r in bad
        )
        raise ValueError(
            f"{path}: {what} carries duplicate or NULL keys — merging "
            f"it would key-duplicate the table. First offenders: {sample}"
        )


def _read_and_evolve(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    merge_schema: bool,
    what: str,
) -> DataFrame:
    """Read the existing table and apply the ADD-COLUMN evolution
    contract (E94, shared by keyed upsert and CDC apply — one
    definition so the two paths cannot drift, r10 review): with
    ``merge_schema`` the read schema-merges across part files
    (untouched partitions keep pre-evolution footers forever) and
    columns the incoming frame adds appear on the table side as
    NULLs; case-variant "adds" raise (Spark's case-insensitive
    resolution would replace the original with NULLs); without the
    flag an unknown incoming column raises instead of being silently
    dropped. Type CHANGES stay out of scope by design — int32/int64
    footers cannot be schema-merged at read time, so widening on
    plain parquet is a table rewrite —
    :func:`weatherflow_spark.operators.layout.rewrite_widen` (one
    partition-preserving validate-and-swap rewrite, r11; upserts with
    the wide type are accepted afterwards)."""
    from weatherflow_spark.operators.snaplog import head_dv, read_version

    if _manifest_mode(path) or head_dv(path):
        # A manifest-mode live tree also holds superseded files, and a
        # mirror-mode tree with live DELETION VECTORS still physically
        # holds the deleted rows — either way the ONLY correct read is
        # the head version (always schema-merged, the read_version
        # contract; DVs anti-joined). This is also what makes the DV
        # carry rule sound: every partition this writer rewrites was
        # read post-DV, so dropping its DVs materializes the delete
        # instead of losing it.
        current = read_version(spark, path)
    else:
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        current = reader.parquet(path)
    inc_types = dict(incoming.dtypes)
    if merge_schema:
        cur_lower = {c.lower(): c for c in current.columns}
        for c in incoming.columns:
            if c in current.columns:
                continue
            if c.lower() in cur_lower:
                raise ValueError(
                    f"{path}: {what} column {c!r} differs only in case "
                    f"from table column {cur_lower[c.lower()]!r} — "
                    f"rename the {what} column; case-variant evolution "
                    "is data loss, not an add"
                )
            current = current.withColumn(
                c, F.lit(None).cast(inc_types[c])
            )
    else:
        unknown = [c for c in incoming.columns if c not in current.columns]
        if unknown:
            raise ValueError(
                f"{path}: {what} carries columns the table lacks "
                f"{unknown}; pass merge_schema=True to evolve the schema"
            )
    return current


def _align_to_table(
    incoming: DataFrame,
    current: DataFrame,
    key_cols: list[str],
    allow_missing_columns: bool,
    what: str,
    path: str,
) -> DataFrame:
    """Cast the incoming frame to the table's column types (partition
    value inference can shift them), recheck key uniqueness when a
    KEY column's type actually moved (caller-distinct keys can
    collide after the cast — '7' and '07' → int 7), and NULL-backfill
    table columns the frame lacks only under the explicit
    ``allow_missing_columns`` opt-in (a whole-row replace would
    otherwise null-overwrite matched keys)."""
    cur_types = dict(current.dtypes)
    pre_cast_types = dict(incoming.dtypes)
    incoming = incoming.select(
        *[
            F.col(c).cast(cur_types[c]).alias(c)
            if pre_cast_types[c] != cur_types[c]
            else F.col(c)
            for c in incoming.columns
        ]
    )
    if any(pre_cast_types[k] != cur_types[k] for k in key_cols):
        _require_unique_keys(
            incoming, key_cols, f"{what} (after type alignment)", path
        )
    short = [c for c in current.columns if c not in incoming.columns]
    if short:
        if not allow_missing_columns:
            raise ValueError(
                f"{path}: {what} lacks table columns {short}; pass "
                "allow_missing_columns=True only if NULLing them on "
                "matched keys is intended"
            )
        for c in short:
            incoming = incoming.withColumn(
                c, F.lit(None).cast(cur_types[c])
            )
    return incoming


def _touched_keys(
    batch: DataFrame, partition_cols: list[str] | None
) -> tuple[list[tuple], list[str]]:
    """(touched partition value-tuples, their manifest keys). One tiny
    distinct-collect — batches touch few partitions by contract."""
    from weatherflow_spark.operators.commit import partition_key

    if not partition_cols:
        return [], [partition_key(None, ())]
    touched = [
        tuple(r[c] for c in partition_cols)
        for r in batch.select(*partition_cols).distinct().collect()
    ]
    return touched, [partition_key(partition_cols, t) for t in touched]


def _upsert_locked(
    spark: SparkSession,
    new_batch: DataFrame,
    path: str,
    key_cols: list[str],
    partition_cols: list[str] | None,
    expected_versions: dict[str, int] | None = None,
    snapshot_batch_id: object | None = None,
    merge_schema: bool = False,
    allow_missing_columns: bool = False,
    before_write: Callable[[], None] | None = None,
) -> None:
    from weatherflow_spark.operators import commit as _commit
    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
    )

    gate = before_write or (lambda: None)
    # Same lock contract as _apply_changes_locked: the whole
    # read-modify-write must run inside the caller's hold.
    if not _commit.lock_held_by_me(path):
        # RuntimeError, not assert: python -O would compile an assert
        # away and silently reopen the deferred-snapshot window (r11
        # review).
        raise RuntimeError(
            f"{path}: _upsert_locked requires the caller to hold the "
            "dataset lock (use upsert_by_key)"
        )
    exists = os.path.exists(path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(path)
    )
    if not exists:
        touched, keys = _touched_keys(new_batch, partition_cols)
        check_and_bump_versions(path, keys, expected_versions, bump=False)
        if partition_cols:
            # same per-partition-dir clustering as overwrite_partitions
            new_batch = new_batch.repartition(*partition_cols)
        writer = new_batch.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        gate()
        with dataset_lock(path):
            writer.parquet(path)
            check_and_bump_versions(path, keys)
            # seed = the table's first version
            _record_snapshot(path, batch_id=snapshot_batch_id)
        return

    # Evolution + type alignment: shared contract (helpers above).
    current = _read_and_evolve(spark, path, new_batch, merge_schema, "batch")
    new_batch = _align_to_table(
        new_batch, current, key_cols, allow_missing_columns, "batch", path
    )
    touched, keys = _touched_keys(new_batch, partition_cols)
    # Fail-fast CAS validate BEFORE the merge job runs (nothing to
    # undo); the bump lands after the successful write, all under the
    # outer lock hold.
    check_and_bump_versions(path, keys, expected_versions, bump=False)
    if partition_cols:
        # Prune the existing side to touched partitions: a literal
        # IN-list of the batch's partition values (typed to match, so
        # it constant-folds into a partition filter — no full-table
        # read). Batches touch few partitions, so collecting the
        # distinct values is tiny.
        cond = None
        for t in touched:
            clause = None
            for c, v in zip(partition_cols, t):
                # eqNullSafe: a NULL partition value must select the
                # __HIVE_DEFAULT_PARTITION__ rows — plain == never
                # matches NULL, so that partition's kept rows would be
                # dropped by the dynamic overwrite.
                eq = F.col(c).eqNullSafe(F.lit(v))
                clause = eq if clause is None else (clause & eq)
            cond = clause if cond is None else (cond | clause)
        current = current.where(cond)  # untouched partitions never read
    kept = current.join(F.broadcast(new_batch.select(*key_cols)), on=key_cols, how="anti")
    merged = kept.unionByName(new_batch.select(*current.columns))
    # Materialize before overwrite: the merged plan reads the same files
    # the overwrite replaces. localCheckpoint bounds the materialized
    # slice to the touched partitions (executor-local, spill-backed).
    merged = merged.localCheckpoint(eager=True)
    try:
        gate()
        if partition_cols:
            # takes the lock; bumps the touched versions (choke point).
            # merged holds exactly the touched partitions (the batch
            # has rows in each), so the keys need no second collect.
            overwrite_partitions(
                merged, path, partition_cols,
                snapshot_batch_id=snapshot_batch_id,
                touched_keys=keys,
            )
        elif _manifest_mode(path):
            _manifest_full_replace(merged, path, keys, snapshot_batch_id)
        else:
            with dataset_lock(path):
                merged.write.mode("overwrite").parquet(path)
                check_and_bump_versions(path, keys)
                # Unpartitioned full overwrite DELETES the old files —
                # without this record the pre-merge state would be
                # unrecoverable on a versioned table (r9 ADVICE).
                _record_snapshot(path, batch_id=snapshot_batch_id)
    finally:
        release_checkpoint(merged)


def apply_changes(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    op_col: str = "op",
    partition_cols: list[str] | None = None,
    expected_versions: dict[str, int] | None = None,
    snapshot_batch_id: object | None = None,
    merge_schema: bool = False,
    allow_missing_columns: bool = False,
) -> None:
    """CDC APPLY (r8): merge a change feed carrying upserts AND
    deletes into a parquet table — the consumer half of the E61
    snapshot diff (``MERGE ... WHEN MATCHED AND op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` without a
    transactional table format). ``changes`` carries the table's
    columns plus ``op_col`` ∈ {'U', 'D'}: 'U' rows replace-or-insert
    by key, 'D' rows remove the key (their non-key columns are
    ignored — a real feed often ships key-only tombstones).

    Same bounded read-modify-write shape as :func:`upsert_by_key`
    (and the same commit-lock discipline via the shared write paths):
    when partitioned, ONLY partitions the feed touches are read —
    which requires 'D' rows to carry their partition values, the
    standard CDC contract (a tombstone without a partition cannot be
    pruned to one). The existing side drops EVERY feed key (delete
    and upsert alike — one anti-join), then upsert rows union back.
    Idempotent: re-applying the same feed is a content no-op.
    """
    from weatherflow_spark.operators.commit import dataset_lock

    # Whole-operation lock (reentrant) — see upsert_by_key. Same CAS
    # contract as upsert_by_key: ``expected_versions`` turns
    # last-writer-wins into raise-and-retry.
    # Only the U side must be key-unique (a D and a U on the same key
    # is the normal replace; two D's collapse in the anti-join).
    # Validation runs BEFORE the lock.
    _require_unique_keys(
        changes.where(F.col(op_col) == "U"),
        key_cols,
        "feed's upsert side",
        path,
    )
    with dataset_lock(path):
        _apply_changes_locked(
            spark, changes, path, key_cols, op_col, partition_cols,
            expected_versions, snapshot_batch_id, merge_schema,
            allow_missing_columns,
        )


def _apply_changes_locked(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    key_cols: list[str],
    op_col: str,
    partition_cols: list[str] | None,
    expected_versions: dict[str, int] | None = None,
    snapshot_batch_id: object | None = None,
    merge_schema: bool = False,
    allow_missing_columns: bool = False,
) -> None:
    from weatherflow_spark.operators import commit as _commit
    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
        partition_key,
    )

    # The emptied-partition branch below DEFERS the snapshot record
    # past overwrite_partitions — sound only because apply_changes
    # wraps this whole function in one reentrant dataset_lock hold,
    # so no concurrent writer can record a version of the
    # half-applied state in between (r10 ADVICE). Assert the
    # invariant so a future direct caller can't silently reopen the
    # window.
    if not _commit.lock_held_by_me(path):
        raise RuntimeError(
            f"{path}: _apply_changes_locked requires the caller to "
            "hold the dataset lock (use apply_changes)"
        )

    exists = os.path.exists(path) and any(
        not n.startswith(("_", ".")) for n in os.listdir(path)
    )
    upserts = changes.where(F.col(op_col) == "U").drop(op_col)
    if not exists:
        _, keys = _touched_keys(upserts, partition_cols)
        check_and_bump_versions(path, keys, expected_versions, bump=False)
        writer = upserts.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        with dataset_lock(path):
            writer.parquet(path)
            check_and_bump_versions(path, keys)
            # seed = the table's first version
            _record_snapshot(path, batch_id=snapshot_batch_id)
        return

    # Same ADD-COLUMN evolution contract as _upsert_locked (E94):
    # evolved reads schema-merge, U rows may add columns, table-side
    # columns the feed lacks NULL-backfill — under the flag only.
    # Evolution + type alignment: shared contract (helpers above).
    current = _read_and_evolve(spark, path, upserts, merge_schema, "feed")
    # Align the feed's PARTITION and KEY column types to the table's
    # BEFORE the touched-set / anti-join / emptied-partition
    # comparisons (r14 review): a string-typed partition value in a
    # date-partitioned feed flowed into ``touched`` as a string while
    # ``remaining`` collected dates from the merged output — every
    # touched partition compared "emptied" and its directory was
    # removed AFTER the merge wrote it: the delete path silently
    # dropped whole partitions. Casts that fail produce NULL, which
    # would redirect rows to the NULL partition — refuse loudly
    # instead.
    cur_types = dict(current.dtypes)
    feed_types = dict(changes.dtypes)
    misaligned = [
        c
        for c in [*(partition_cols or []), *key_cols]
        if c in cur_types
        and c in feed_types
        and feed_types[c] != cur_types[c]
    ]
    if misaligned:
        # try_cast, not cast: under ANSI (the session default) a bad
        # value would throw a raw DateTimeException mid-job instead
        # of this check's named refusal
        bad = changes.agg(*[
            F.sum(
                (
                    F.col(c).isNotNull()
                    & F.col(c).try_cast(cur_types[c]).isNull()
                ).cast("long")
            ).alias(c)
            for c in misaligned
        ]).first()
        badcols = [c for c in misaligned if bad[c]]
        if badcols:
            raise ValueError(
                f"{path}: feed column(s) {badcols} carry values that "
                f"do not cast to the table's type(s) "
                f"({ {c: cur_types[c] for c in badcols} }) — a NULL "
                "cast would silently redirect rows to the NULL "
                "partition / match no key"
            )
        for c in misaligned:
            changes = changes.withColumn(
                c, F.col(c).try_cast(cur_types[c])
            )
        upserts = changes.where(F.col(op_col) == "U").drop(op_col)
    upserts = _align_to_table(
        upserts, current, key_cols, allow_missing_columns, "feed", path
    )
    # Touched set from the WHOLE feed (deletes prune partitions too).
    touched, keys = _touched_keys(
        changes.drop(op_col) if partition_cols else changes, partition_cols
    )
    check_and_bump_versions(path, keys, expected_versions, bump=False)
    if partition_cols:
        cond = None
        for t in touched:
            clause = None
            for c, v in zip(partition_cols, t):
                eq = F.col(c).eqNullSafe(F.lit(v))  # NULL partitions too
                clause = eq if clause is None else (clause & eq)
            cond = clause if cond is None else (cond | clause)
        current = current.where(cond)
    all_keys = changes.select(*key_cols).distinct()
    kept = current.join(F.broadcast(all_keys), on=key_cols, how="anti")
    merged = kept.unionByName(upserts.select(*current.columns))
    merged = merged.localCheckpoint(eager=True)
    try:
        if partition_cols:
            # Dynamic partition overwrite only rewrites partitions PRESENT
            # in the output: a feed whose deletes empty a touched partition
            # (and land no upsert in it) produces zero merged rows there,
            # so the old files would silently survive the 'delete'. Remove
            # those now-empty partition directories explicitly, under the
            # same commit lock as the overwrite.
            import shutil

            remaining = {
                tuple(r[c] for c in partition_cols)
                for r in merged.select(*partition_cols).distinct().collect()
            }
            emptied = [t for t in touched if t not in remaining]
            merged_keys = [partition_key(partition_cols, t) for t in remaining]
            if _manifest_mode(path):
                # Manifest mode needs no rmtree and no deferred record:
                # passing the emptied partitions as replaced_keys carves
                # their files out of the new version's list — the logical
                # delete IS the manifest change, the files stay for time
                # travel until vacuum.
                overwrite_partitions(
                    merged, path, partition_cols,
                    snapshot_batch_id=snapshot_batch_id,
                    replaced_keys=[
                        partition_key(partition_cols, t) for t in emptied
                    ],
                    touched_keys=merged_keys,
                )
                return
            # takes the lock; bumps the MERGED partitions' versions. When
            # deletes empty a partition the commit is NOT complete until
            # the emptied directories are removed below — defer the
            # snapshot record to that point, or the head version would
            # still list the deleted rows' files and read_version() at
            # the head would resurrect deleted data (r9 ADVICE, high).
            overwrite_partitions(
                merged, path, partition_cols, record_snapshot=not emptied,
                snapshot_batch_id=snapshot_batch_id,
                touched_keys=merged_keys,
            )
            if emptied:
                with dataset_lock(path):
                    for t in emptied:
                        # partition_key hive-escapes values exactly as
                        # Spark wrote the directory — a raw f-string path
                        # for a ':'-valued partition matches nothing and
                        # the "deleted" files would silently survive
                        # (r10 ADVICE).
                        sub = os.path.join(path, partition_key(partition_cols, t))
                        shutil.rmtree(sub, ignore_errors=True)
                    # Emptied partitions are content changes too, but they
                    # are absent from the merged output — bump them here.
                    check_and_bump_versions(
                        path,
                        [partition_key(partition_cols, t) for t in emptied],
                    )
                    # Deferred from overwrite_partitions: the live tree
                    # now matches the logical post-delete result. Scope =
                    # every feed-touched partition (merged AND emptied —
                    # emptied dirs walk to nothing, which is exactly the
                    # deletion the carried list must not resurrect).
                    _record_snapshot(
                        path,
                        scope=[
                            partition_key(partition_cols, t) for t in touched
                        ],
                        batch_id=snapshot_batch_id,
                    )
        elif _manifest_mode(path):
            _manifest_full_replace(merged, path, keys, snapshot_batch_id)
        else:
            with dataset_lock(path):
                merged.write.mode("overwrite").parquet(path)
                check_and_bump_versions(path, keys)
                # full overwrite deletes old files
                _record_snapshot(path, batch_id=snapshot_batch_id)
    finally:
        release_checkpoint(merged)


def delete_where(
    spark: SparkSession,
    path: str,
    predicate,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    prune: tuple | None = None,
    snapshot_batch_id: object | None = None,
    serializable: bool = False,
    use_dv: bool = False,
) -> dict[str, int]:
    """Predicate-scoped row-level DELETE (E102): remove every row
    matching ``predicate`` from a parquet table — the
    right-to-be-forgotten / bad-ingest-rollback operation a
    training-data warehouse runs routinely (``DELETE FROM t WHERE
    ...`` without a transactional table format). The reference has no
    delete at all (its star only ever INSERTs,
    dags/utils/database.py:25-34); this is the engine-native form.

    Two-phase, each phase the scale-correct shape:

    1. **Victim scan** — one column-pruned pass finds matching rows.
       On a versioned table that records file-skipping stats (E100),
       ``prune=(col, lo, hi)`` — a caller-supplied SUPERSET bound on
       the predicate — routes the scan through
       :func:`~weatherflow_spark.operators.snaplog.scan_version`, so
       only files whose zone-map range can contain matches are ever
       opened (deleting one ingest range from a 100 TB key-clustered
       table reads a handful of files, not the table). Pruning is a
       superset by contract: a too-wide bound only scans more, never
       misses a victim; the predicate is always re-applied. ``prune``
       also accepts a LIST of ``(col, lo, hi)`` ranges, ANDed at file
       granularity (r13, E106) — on a Z-ordered layout a
       date×key victim rectangle opens the intersection's files, not
       one axis's whole stripe.
    2. **Scoped rewrite** — victims become full-row ``op='D'``
       tombstones into :func:`apply_changes`, inheriting every
       hardened property of the CDC choke point verbatim: only
       partitions holding victims are read and rewritten (dynamic
       overwrite), partitions emptied by the delete are really
       removed (mirror) or carved out of the manifest, the commit is
       versioned so the pre-delete state still time-travels until
       vacuum, and the whole read-modify-write runs under the dataset
       lock.

    ``key_cols`` is the table's merge key (the keyed-upsert
    contract: keys are unique — the tombstone anti-join deletes BY
    KEY, so on a key-duplicated table it would remove all rows
    sharing a victim's key). A predicate matching nothing returns
    early: no commit, no version minted, replay-idempotent by
    construction. ``predicate`` is a Column or a SQL string.

    Isolation: the default deletes the rows matching **as of the
    victim scan** — a writer committing a new matching row between
    the scan and the rewrite keeps that row (the rewrite itself is
    still lock-serialized and conflict-safe; this is the standard
    snapshot-delete contract). ``serializable=True`` holds the
    dataset lock across BOTH phases, so the delete covers every row
    any prior writer committed — at the cost of running the victim
    scan inside the critical section that serializes all writers;
    use it for small pruned scans, not table-wide sweeps.

    Right-to-be-forgotten is a PIPELINE, not this one call — the
    delete is logical at the head; three more surfaces retain the
    rows until their own expiry step runs (the same contract as
    Delta/Iceberg DELETE + VACUUM):

    - **History**: pre-delete versions time-travel until
      ``vacuum_versions`` drops them — that retention is a feature
      for rollback and a liability for erasure; run the vacuum when
      the grace window closes.
    - **Warehouse loads** (E97 members): ``read_warehouse`` serves
      the LOAD ENTRY's recorded version, which predates the delete —
      re-cut a load (``commit_warehouse`` directly — pure metadata
      via version reuse; ``maintain_warehouse`` re-cuts too, but only
      when a compaction landed or it was given a ``batch_id``, so an
      idle-warehouse erasure must not rely on a bare maintenance
      pass) so warehouse readers see the post-delete cut, then
      ``vacuum_warehouse`` ages out the pre-delete loads
      (tests/test_whlog.py::test_member_delete_needs_a_recut_load).
    - **Exported change feeds**: already-exported versions are
      immutable and still carry the rows; the delete itself exports
      as 'D' tombstones (downstream replicas converge), but true
      erasure of old feed partitions is the feed owner's
      retention/redaction step.

    ``use_dv=True`` switches to **merge-on-read** (r12 verdict #1, the
    Delta deletion-vector / Iceberg positional-delete shape re-derived
    for keyed parquet): instead of rewriting every victim partition,
    the victim KEYS land as one small parquet sidecar
    (``<log>/dv/<name>``) recorded in a new version entry whose
    segments carry the head's VERBATIM — zero data files rewritten at
    delete time, every partition's inodes untouched. Readers
    (``read_version`` / ``scan_version`` / ``read_live`` / the write
    choke points) anti-join the DV; the next rewrite of a covered
    partition — an upsert, or ``compact_partitions``, which plans
    DV-covered partitions as offenders — folds the delete into data
    files and drops the DV. This is THE economical shape for
    right-to-be-forgotten by key, whose victims scatter across
    essentially all date partitions: the eager mode would rewrite the
    whole table; DV mode writes O(victims) bytes. Requires a
    versioned table (the DV rides the version entry); runs entirely
    under the dataset lock (serializable by construction — the victim
    scan is the bounded pruned scan, not a table sweep). Trade-off:
    reads of covered partitions pay a broadcast anti-join until the
    fold — run maintenance compaction to clear long-lived DVs.

    Returns ``{"rows_matched": r, "keys_deleted": k,
    "partitions_touched": p, "files_scanned": s, "files_total": t}``
    (scan counters are -1 when the scan was not stats-pruned); DV
    mode adds ``"files_rewritten": 0`` and ``"new_version"``."""
    from weatherflow_spark.operators.commit import dataset_lock

    if use_dv:
        return _delete_where_dv(
            spark, path, predicate, key_cols, partition_cols,
            prune, snapshot_batch_id,
        )
    if serializable:
        with dataset_lock(path):  # reentrant through apply_changes
            return delete_where(
                spark, path, predicate, key_cols, partition_cols,
                prune, snapshot_batch_id, serializable=False,
            )
    from weatherflow_spark.operators.snaplog import (
        head_version,
        read_version,
        snapshot_enabled,
        scan_version,
        stats_columns,
    )

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    scanned, total = -1, -1
    src = None
    versioned = snapshot_enabled(path) and head_version(path) is not None
    if prune is not None and versioned:
        # E102×E106: prune may be ONE (col, lo, hi) or a LIST of them
        # — a multi-dimensional victim bound over a Z-ordered layout
        # prunes on every axis (a date×key rectangle opens the
        # intersection's files, not one axis's stripe). Ranges whose
        # column records no stats are dropped (they'd never prune);
        # pruning stays an optimization, never a correctness
        # dependency — the predicate is always re-applied.
        ranges = [prune] if isinstance(prune, tuple) else list(prune)
        eligible = [r for r in ranges if r[0] in stats_columns(path)]
        if eligible:
            src, info = scan_version(spark, path, predicates=eligible)
            scanned, total = info["files_scanned"], info["files_total"]
    if src is None:
        # The versioned read serves the committed head — mandatory on
        # a manifest-mode table, whose LIVE tree keeps superseded
        # files until vacuum: a plain directory read would re-match
        # (and re-delete) rows that were already replaced.
        src = (
            read_version(spark, path)
            if versioned
            else spark.read.option("mergeSchema", "true").parquet(path)
        )
    # Persist the victims for the operation's duration: the counters
    # below and apply_changes' own jobs (key validation, touched-set
    # collect, the merge checkpoint) would otherwise each re-run the
    # victim scan — an unpruned delete on a large table would pay the
    # full table read four or five times (r12.2 review). Victims are
    # small by the delete contract (a user's rows, a bad batch), so
    # pinning them is cheap; the three report counters collapse into
    # ONE aggregation job over the pinned set.
    # Pinning mode depends on recompute safety (r12 ADVICE): versioned
    # reads are vacuum-protected immutable file sets, so persist() —
    # whose blocks can be dropped and recomputed — is safe. An
    # UNVERSIONED read serves the live directory; once apply_changes
    # starts rewriting those same files, a recomputation would read a
    # mutated/deleted tree (FileNotFound or wrong tombstones), so the
    # victims must be cut from lineage entirely: localCheckpoint
    # materializes them eagerly and truncates the plan back to the
    # stored blocks.
    if versioned:
        victims = src.where(pred).persist()
    else:
        victims = src.where(pred).localCheckpoint(eager=True)
    try:
        part_count = (
            F.countDistinct(F.struct(*partition_cols))
            if partition_cols
            else F.lit(0).cast("long")
        )
        null_any = None
        for c in key_cols:
            cond = F.col(c).isNull()
            null_any = cond if null_any is None else (null_any | cond)
        stats = victims.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct(*[F.col(c) for c in key_cols]).alias("keys"),
            part_count.alias("parts"),
            F.sum(null_any.cast("long")).alias("null_keys"),
        ).first()
        if stats["null_keys"]:
            # A NULL-key victim cannot be deleted by the keyed
            # rewrite at all — the anti-join is null-UNSAFE, so its
            # tombstone would match nothing and the row would
            # silently survive while the report claimed it deleted
            # (and countDistinct would skip it from keys_deleted,
            # r12.2 review). Refuse loudly; such a row can only
            # come from a table written OUTSIDE the keyed choke
            # points, which validate keys non-null on every batch.
            raise ValueError(
                f"{path}: {stats['null_keys']} matching row(s) carry "
                f"NULL in key column(s) {key_cols} — the keyed delete "
                "cannot remove them (null-unsafe anti-join). Repair "
                "the keys or delete their partition via apply_changes "
                "with explicit partition tombstones."
            )
        if stats["rows"] == 0:
            return {
                "rows_matched": 0, "keys_deleted": 0,
                "partitions_touched": 0,
                "files_scanned": scanned, "files_total": total,
            }
        tombstones = victims.dropDuplicates(key_cols).withColumn(
            "op", F.lit("D")
        )
        apply_changes(
            spark, tombstones, path, key_cols,
            partition_cols=partition_cols,
            snapshot_batch_id=snapshot_batch_id,
        )
        return {
            "rows_matched": stats["rows"],
            "keys_deleted": stats["keys"],
            "partitions_touched": stats["parts"],
            "files_scanned": scanned,
            "files_total": total,
        }
    finally:
        if versioned:
            victims.unpersist()
        else:
            release_checkpoint(victims)


def _delete_where_dv(
    spark: SparkSession,
    path: str,
    predicate,
    key_cols: list[str],
    partition_cols: list[str] | None,
    prune: tuple | None,
    snapshot_batch_id: object | None,
) -> dict[str, int]:
    """Merge-on-read DELETE core (see :func:`delete_where` use_dv).
    The whole scan→write-keys→mint runs under one dataset-lock hold:
    the victim scan reads the locked head, so the delete covers every
    row any prior writer committed (serializable), and no writer can
    commit between the scan and the version entry."""
    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
        partition_key,
    )
    from weatherflow_spark.operators.snaplog import (
        _dv_dir,
        committed_batch_version,
        head_version,
        read_version,
        record_dv_commit,
        scan_version,
        snapshot_enabled,
        stats_columns,
    )

    if not (snapshot_enabled(path) and head_version(path) is not None):
        raise ValueError(
            f"{path}: deletion vectors ride the snapshot log — "
            "init_snapshot_log + a seed commit first, or use the "
            "eager rewrite mode (use_dv=False)"
        )
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    with dataset_lock(path):
        if snapshot_batch_id is not None:
            prior = committed_batch_version(path, snapshot_batch_id)
            if prior is not None:
                # replayed batch: the DV already committed; nothing to
                # re-scan (the post-DV head would match nothing anyway)
                return {
                    "rows_matched": 0, "keys_deleted": 0,
                    "partitions_touched": 0,
                    "files_scanned": -1, "files_total": -1,
                    "files_rewritten": 0, "new_version": prior,
                }
        scanned, total = -1, -1
        src = None
        if prune is not None:
            # single (col, lo, hi) or a list of them — see delete_where
            ranges = [prune] if isinstance(prune, tuple) else list(prune)
            eligible = [r for r in ranges if r[0] in stats_columns(path)]
            if eligible:
                src, info = scan_version(spark, path, predicates=eligible)
                scanned, total = info["files_scanned"], info["files_total"]
        if src is None:
            src = read_version(spark, path)  # post-DV head
        victims = src.where(pred).persist()
        try:
            part_count = (
                F.countDistinct(F.struct(*partition_cols))
                if partition_cols
                else F.lit(0).cast("long")
            )
            null_any = None
            for c in key_cols:
                cond = F.col(c).isNull()
                null_any = cond if null_any is None else (null_any | cond)
            stats = victims.agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct(*[F.col(c) for c in key_cols]).alias("keys"),
                part_count.alias("parts"),
                F.sum(null_any.cast("long")).alias("null_keys"),
            ).first()
            if stats["null_keys"]:
                # same refusal as the eager mode: the DV anti-join is
                # null-unsafe, a NULL-key victim would silently survive
                raise ValueError(
                    f"{path}: {stats['null_keys']} matching row(s) carry "
                    f"NULL in key column(s) {key_cols} — the keyed DV "
                    "cannot remove them (null-unsafe anti-join)."
                )
            if stats["rows"] == 0:
                return {
                    "rows_matched": 0, "keys_deleted": 0,
                    "partitions_touched": 0,
                    "files_scanned": scanned, "files_total": total,
                    "files_rewritten": 0,
                    "new_version": head_version(path),
                }
            if partition_cols:
                dirkeys = [
                    partition_key(
                        partition_cols, tuple(r[c] for c in partition_cols)
                    )
                    for r in victims.select(*partition_cols)
                    .distinct()
                    .collect()
                ]
                manifest_keys = dirkeys
            else:
                dirkeys = [""]  # segment dirkey of root-level files
                manifest_keys = [partition_key(None, ())]
            name = f"dv_{os.getpid()}_{os.urandom(6).hex()}"
            # One small parquet of victim keys — O(victims) bytes, the
            # whole point: a scattered-key RTBF writes keys, not the
            # table. coalesce(1): victim sets are small by contract.
            victims.select(*key_cols).dropDuplicates().coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(_dv_dir(path), name))
            # CAS bump: a DV delete changes the covered partitions'
            # logical content — concurrent expected_versions writers
            # must conflict on it exactly like an eager rewrite.
            check_and_bump_versions(path, manifest_keys)
            n = record_dv_commit(
                path, name, dirkeys, batch_id=snapshot_batch_id
            )
            return {
                "rows_matched": stats["rows"],
                "keys_deleted": stats["keys"],
                "partitions_touched": stats["parts"],
                "files_scanned": scanned,
                "files_total": total,
                "files_rewritten": 0,
                "new_version": n,
            }
        finally:
            victims.unpersist()


def restore_version(
    spark: SparkSession,
    path: str,
    version: int,
    key_cols: list[str],
    partition_cols: list[str] | None = None,
    batch_id: object | None = None,
) -> dict[str, int]:
    """RESTORE a versioned table to an earlier version AS A NEW
    COMMIT (E104, the Delta ``RESTORE TABLE ... VERSION AS OF``
    verb): the rollback every warehouse needs the day a bad load
    lands. Nothing is rewound — the restore derives the CDC feed
    that transforms the current head into the target
    (:func:`~weatherflow_spark.operators.snaplog.diff_versions`) and
    applies it through :func:`apply_changes`, so:

    - the WRITE cost is O(changed partitions), never a table rewrite
      — rolling back one bad micro-batch on a 100 TB table rewrites
      that batch's partitions (the diff's compute is two version
      scans; its output is only the drift);
    - untouched partitions keep their files byte-identical;
    - history stays intact and append-only: the bad version still
      time-travels (until vacuum), the restore is itself a version,
      and a second restore to the bad version rolls FORWARD — no
      branch surgery, exactly the lakehouse restore contract;
    - re-running the same restore applies an EMPTY diff (content
      no-op; with no changes it returns early without minting a
      version), so crash-retry is safe.

    ``key_cols`` is the table's merge key (tombstones delete by key).
    Returns ``{"from_version", "to_version", "changes_applied",
    "new_version"}`` (``new_version`` == the old head when the table
    already matched the target)."""
    from weatherflow_spark.operators.commit import dataset_lock
    from weatherflow_spark.operators.snaplog import (
        diff_versions,
        versions,
    )

    # The whole resolve→diff→apply runs under the dataset lock (r12
    # ADVICE): head resolution and the diff computed from it must not
    # race a writer committing in between, or the restore applies a
    # STALE diff over the new commit — the result is neither the
    # target version nor a consistent head. Restore is a rare
    # administrative verb; serializing it against writers is the
    # correct default, and apply_changes re-enters the same lock.
    with dataset_lock(path):
        vs = versions(path)
        if not vs:
            raise ValueError(f"{path}: no committed versions to restore")
        if version not in vs:
            raise ValueError(
                f"{path}: version {version} not in log "
                f"(have {vs[0]}..{vs[-1]}, vacuumed versions are gone)"
            )
        head = vs[-1]
        if version == head:
            return {
                "from_version": head, "to_version": version,
                "changes_applied": 0, "new_version": head,
            }
        changes = diff_versions(spark, path, head, version, key_cols).persist()
        try:
            n = changes.count()
            if n == 0:
                # content-identical versions (e.g. a compaction between
                # them): nothing to write, nothing to mint
                return {
                    "from_version": head, "to_version": version,
                    "changes_applied": 0, "new_version": head,
                }
            apply_changes(
                spark, changes, path, key_cols, "op", partition_cols,
                snapshot_batch_id=batch_id,
            )
        finally:
            changes.unpersist()
    return {
        "from_version": head,
        "to_version": version,
        "changes_applied": n,
        "new_version": versions(path)[-1],
    }
