"""Data-layout operators: range-sorted writes and small-file
compaction (100 TB posture).

The reference appends MySQL rows with no physical layout control
(etl.py:96-123); at warehouse scale, layout IS performance. Two
levers beyond bucketing (operators/bucketing.py) and date
partitioning (operators/upsert.py):

1. **Range-sorted parquet** — ``repartitionByRange`` on a scan-
   predicate column, then ``sortWithinPartitions``, then write. Every
   parquet row group then carries tight min/max stats on that column,
   so a range predicate skips whole files and row groups at scan time
   (the parquet-side analog of partition pruning, without the
   small-partition explosion a high-cardinality partition key would
   cause). The range exchange samples the column to build equi-depth
   boundaries — skew-resistant by construction.

2. **Compaction** — streaming sinks and incremental upserts shed
   thousands of small files; scans then pay per-file open/footer
   costs and lose row-group skipping. Rewriting to ~target-sized
   files restores scan efficiency; doing it per-partition-directory
   keeps the rewrite incremental and idempotent (same input → same
   output layout).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def write_range_sorted(
    df: DataFrame,
    path: str,
    range_col: str,
    num_partitions: int,
    secondary_sort: list[str] | None = None,
) -> None:
    """Write ``df`` as parquet clustered by ``range_col``: one range
    exchange (sampled equi-depth boundaries → balanced output files
    even for skewed distributions), an in-partition sort (no extra
    shuffle), then write. Files end up non-overlapping in
    ``range_col``, so min/max row-group stats prune range scans.
    """
    sort_cols = [range_col, *(secondary_sort or [])]
    (
        df.repartitionByRange(num_partitions, F.col(range_col))
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def _head_token(path: str) -> int | None:
    """The versioned head number (None for an unversioned table) —
    the METADATA half of the optimistic swap token. ``dataset_snapshot``
    fingerprints only the live data-file set, so a metadata-only
    commit — a merge-on-read ``delete_where(use_dv=True)``, which
    rewrites ZERO data files — slips straight past the file-set
    re-check; the rewrite (read pre-DV) would then swap in un-deleted
    rows and its full-walk ``record_commit`` would drop the fresh DV
    (every segment name changed), silently losing an RTBF delete.
    Re-checking the head version at swap time
    catches any commit, file-touching or not. O(1): checkpoint
    pointer + forward probe."""
    from weatherflow_spark.operators.snaplog import (
        head_version,
        snapshot_enabled,
    )

    if not snapshot_enabled(path):
        return None
    return head_version(path)


def _swap_token(path: str) -> tuple[frozenset, int | None]:
    """The optimistic swap token: the live data-file set plus the
    versioned head. Take it BEFORE the rewrite's source resolves —
    Spark freezes the file listing at DataFrame creation, so a commit
    landing between the listing and a later token would be inside
    the token yet outside the rewrite, and the swap-time re-check
    would pass while dropping that commit's rows."""
    from weatherflow_spark.operators.commit import dataset_snapshot

    return dataset_snapshot(path), _head_token(path)


def _validated_swap(
    path: str,
    out: DataFrame,
    partition_cols: list[str] | None,
    token: tuple[frozenset, int | None],
    scratch: str,
    what: str,
    before_swap=None,
) -> None:
    """Write ``out`` to the sibling dir ``<path>__<scratch>``, then,
    under the dataset lock, swap it in only if ``token`` still
    matches (:func:`_swap_token`), and record the swapped layout as a
    new version on a versioned table. The write runs UNLOCKED, so
    loads proceed freely during the rewrite; the source stays
    readable until the metadata-only rename. (On an object store,
    swap via a catalog pointer instead — renames aren't atomic there;
    this file-system path is the local/HDFS form.) Any non-success
    exit removes the sibling dir. ``before_swap`` is a test seam for
    injecting a race between the write and the swap."""
    from weatherflow_spark.operators.commit import (
        CompactionConflict,
        DatasetLockTimeout,
        dataset_lock,
    )
    from weatherflow_spark.operators.snaplog import (
        record_commit,
        snapshot_enabled,
    )
    from weatherflow_spark.operators.upsert import _data_schema

    tmp = f"{path.rstrip('/')}__{scratch}"
    old = f"{path.rstrip('/')}__old_{scratch}"
    swapped = False
    try:
        writer = out.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        if before_swap is not None:
            before_swap()
        with dataset_lock(path):
            files, head = _swap_token(path)
            # Optimistic validation: any load that committed since the
            # token changed the data-file set (part-file names carry
            # task UUIDs) — swapping now would discard its rows.
            if files != token[0]:
                raise CompactionConflict(
                    f"{path}: dataset changed during {what}; re-run"
                )
            if head != token[1]:
                # A merge-on-read DV delete rewrites ZERO data files —
                # invisible to the file-set fingerprint above — but the
                # rewrite read pre-DV; swapping would resurrect its
                # victims and the full-walk record_commit below would
                # drop the fresh DV.
                raise CompactionConflict(
                    f"{path}: a version committed during {what} "
                    "(metadata-only, e.g. a deletion-vector delete); "
                    "re-run"
                )
            # Swap via rename-aside, not delete-then-rename: with
            # rmtree(path) first, a crash between the two calls loses
            # the dataset and concurrent readers see the table vanish.
            # Renaming the old copy aside keeps a complete copy on
            # disk at every instant; the stale aside dir is removed
            # last and is safe to re-remove on retry.
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(path, old)
            os.rename(tmp, path)
            swapped = True
            # The rewrite changed every file name, so the swapped
            # layout is a new version; time-travel readers keep the
            # earlier versions via the retained links (same inodes;
            # the rename-aside and its rmtree cannot touch them).
            if snapshot_enabled(path):
                record_commit(path, schema=_data_schema(out, partition_cols))
    except (CompactionConflict, DatasetLockTimeout):
        raise
    except Exception as e:
        # A concurrent dynamic overwrite can delete part files the
        # unlocked read already listed — Spark surfaces that as a
        # FileNotFound from deep in the scan. Translate it into the
        # one retryable error type callers already handle; anything
        # else propagates unchanged.
        # isinstance covers Python-side FileNotFoundError (its str()
        # lacks the class name); the string match covers Java traces.
        if isinstance(e, FileNotFoundError) or "FileNotFoundException" in str(e):
            raise CompactionConflict(
                f"{path}: files changed under the unlocked rewrite; re-run"
            ) from e
        raise
    finally:
        # Every non-success exit (conflict, lock timeout, mid-rewrite
        # failure) must reclaim the scratch dir — leaking it turns
        # retries into disk-pressure incidents at warehouse scale.
        if not swapped:
            shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
    zorder: tuple[str, str] | None = None,
    _before_swap=None,
) -> int:
    """Rewrite the parquet dataset at ``path`` into ~target-sized
    files; returns the new file count. Reads the current on-disk byte
    size (compressed) to pick the file count, so the rewrite is one
    job with no second pass. ``sort_col`` re-sorts during the rewrite
    to restore min/max clustering that incremental appends destroyed.
    ``zorder=(col_a, col_b)`` re-MORTONS instead: an
    unpartitioned Z-ordered table can only fold a
    deletion vector through THIS whole-table rewrite — its root files
    are not a partition, so ``compact_partitions`` never plans them —
    and a 1-D ``sort_col`` rewrite would silently destroy the
    two-axis rectangles its pruning relies on; the z form folds
    the DVs AND reproduces the interleaved clustering (bit width
    re-derived from the key maxima). Mutually exclusive with
    ``sort_col``.

    Idempotent: compacting an already-compacted dataset yields the
    same file count again. At cluster scale, run per partition
    directory (partition values don't change, so this composes with
    dynamic partition overwrite — operators/upsert.py).

    Concurrent-writer safe: optimistic validate-and-swap under
    the dataset's advisory commit lock (operators/commit.py). The
    file set is snapshotted before the read; the rewrite runs
    UNLOCKED (loads proceed freely); the swap happens only if — still
    holding the lock — the file set is unchanged. A load committing
    mid-rewrite aborts the swap with :class:`CompactionConflict`
    instead of silently discarding its rows; re-run compaction.
    ``_before_swap`` is a test seam for injecting that race
    deterministically.
    """
    if zorder is not None and sort_col is not None:
        raise ValueError(
            "pass either sort_col (1-D range clustering) or zorder "
            "(two-axis Morton clustering), not both"
        )
    token = _swap_token(path)
    # Per-file guard: a concurrent dynamic overwrite can delete a part
    # file between the listing and the stat (the dataset_snapshot
    # sentinel race) — a vanished file contributes 0 bytes
    # and the swap-time snapshot comparison catches the change.
    total_bytes = 0
    for f in parquet_files(path):
        try:
            total_bytes += os.path.getsize(f)
        except OSError:
            pass
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    from weatherflow_spark.operators.snaplog import head_dv, read_version

    if head_dv(path):
        # Live files still hold DV-deleted rows physically
        # — read the post-DV head so the rewrite FOLDS the deletes
        # (the post-swap full-walk commit then drops every DV).
        df = read_version(spark, path)
    else:
        df = spark.read.parquet(path)
    if zorder is not None:
        from weatherflow_spark.operators.zorder import zorder_arrange

        out = zorder_arrange(df, zorder[0], zorder[1], n_files, bits=None)
    elif sort_col is not None:
        out = df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    _validated_swap(
        path, out, None, token, "compacting", "compaction", _before_swap
    )
    return len(parquet_files(path))


# Lossless parquet type widenings: every value of the narrow type is
# exactly representable in the wide one. int64→double is deliberately
# absent (doubles hold 53 mantissa bits).
_WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}


def rewrite_widen(
    spark: SparkSession,
    path: str,
    widen: dict[str, str],
    partition_cols: list[str] | None = None,
    _before_swap=None,
) -> None:
    """WIDEN column types via a full table rewrite (the half the
    add-column evolution leaves out): the keyed upsert refuses type changes by
    design — int32 and int64 parquet footers cannot be schema-merged
    at read time, so on plain parquet widening IS a rewrite, exactly
    like a Delta/Iceberg ``ALTER COLUMN TYPE`` on formats without
    type-evolution metadata. ``widen`` maps column → target Spark
    type name; only LOSSLESS widenings are accepted (integer ladder
    ups, float→double) — anything else would silently corrupt values
    under the cast.

    Same optimistic validate-and-swap discipline as :func:`compact`
    (the rewrite job runs unlocked; the swap aborts with
    :class:`~weatherflow_spark.operators.commit.CompactionConflict`
    if any writer committed in between), but PARTITION-PRESERVING:
    the rewrite keeps the hive layout so partition pruning and the
    scoped-commit contract survive the widen. On a versioned table
    the swap mints a snapshot version — pre-widen versions stay
    readable via time travel with their ORIGINAL narrow footers (the
    retention mirror's hard links keep the old inodes alive through
    the directory swap). A widened batch upsert is accepted
    afterwards with no ``merge_schema`` flag: every live footer now
    carries the wide type."""
    from weatherflow_spark.operators.snaplog import head_dv, read_version

    token = _swap_token(path)  # before the source resolves
    if head_dv(path):
        # live files still hold DV-deleted rows — the widen
        # rewrite must fold them, not resurrect them
        df = read_version(spark, path)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(path)
    types = dict(df.dtypes)
    for col, target in widen.items():
        if col not in types:
            raise ValueError(f"{path}: no column {col!r} to widen")
        if partition_cols and col in partition_cols:
            raise ValueError(
                f"{path}: {col!r} is a partition column — its values "
                "live in directory names, not footers; widening it is "
                "a repartitioning decision, not a cast"
            )
        cur = types[col]
        if cur == target:
            continue
        if (cur, target) not in _WIDENINGS:
            raise ValueError(
                f"{path}: {col!r} {cur}→{target} is not a lossless "
                f"widening (allowed from {cur}: "
                f"{sorted(t for c, t in _WIDENINGS if c == cur) or 'none'})"
            )
    out = df.select(
        *[
            F.col(c).cast(widen[c]).alias(c)
            if c in widen and types[c] != widen[c]
            else F.col(c)
            for c in df.columns
        ]
    )
    _validated_swap(
        path, out, partition_cols, token, "widening", "the widen rewrite",
        _before_swap,
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    max_files: int = 8,
    sort_col: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    recluster: bool = False,
) -> dict[str, int]:
    """Partition-scoped small-file maintenance PLANNED from the head
    entry's segments: the snapshot log already records
    every partition directory's live file list in an immutable
    segment, so deciding WHICH partitions need compaction is O(dirs)
    of metadata — not a single directory listing or file stat at any
    table size. Partitions holding more than ``max_files`` live files
    are rewritten IN PLACE through the scoped overwrite choke point
    (one commit per offender: versioned, stats re-collected, time
    travel intact, one output file per partition — the clustering the
    choke point enforces). Untouched partitions keep their files
    byte-identical.

    Complements :func:`compact` (the whole-table resize/re-sort
    rewrite): this is the incremental form a streaming warehouse runs
    between loads — a micro-batch cadence accumulates one file per
    commit per touched date, and at 100 TB re-listing the table to
    find the hot dirs would dwarf the rewrite itself. A partition
    whose single file outgrows the file-size target is the root
    ``compact``'s resize job, not this one's.

    Requires a VERSIONED table (the segments are the planner's
    input). Locking follows the keyed-upsert discipline, per
    PARTITION: the plan is taken under one short lock hold, then each
    offender re-validates its segment is still the planned one inside
    its own hold before rewriting — a concurrent writer that touched
    the partition in between just makes this run skip it (the next
    maintenance pass re-plans), and writers never wait behind more
    than one partition's rewrite. ``partition_cols``
    must name the table's FULL partition layout — a subset would
    dynamic-overwrite (and carve out) whole parent directories whose
    sibling sub-partitions were never read; every planned dirkey is
    validated against it. Each offender is staged through an on-disk
    scratch (not localCheckpoint) so the rewrite never reads the
    files it replaces and executor storage holds nothing across a
    long maintenance loop. Returns ``{"partitions_compacted": n,
    "files_before": b, "files_after": a}`` (counted over the
    compacted partitions only).

    ``sort_col`` makes the rewrite CLUSTERING-PRESERVING: without it, each offender collapses to one file per
    partition whose min/max spans the whole partition — after a DV
    fold on a range-clustered or Z-ordered table, file
    skipping silently decays until a full re-sort; the maintenance
    loop un-maintains the layout it maintains. With it, each
    offender rewrites as N range-disjoint files sorted on
    ``sort_col`` (same repartitionByRange + sortWithinPartitions
    path as whole-table :func:`compact`), where N preserves the
    partition's file count for a pure DV fold (its files were sized
    deliberately) and resizes by ``target_file_bytes`` for a genuine
    small-file offender.

    ``recluster=True`` (requires ``sort_col``) adds a THIRD
    offender class beyond small-files and DV-coverage: partitions
    whose live files OVERLAP on ``sort_col``'s recorded zone maps
    (:func:`~weatherflow_spark.operators.snaplog._interval_depth`
    over the partition's segment stats — pure metadata, the
    per-partition form of ``clustering_status``). Append traffic
    lands whole-range files next to range-disjoint ones and file
    skipping silently decays even while file counts stay under
    ``max_files``; with this flag the maintenance cadence detects
    and repairs the decay autonomously. Files with no recorded
    stats can't be assessed and don't trigger the class on their
    own (like pruning, the diagnostic is an optimization surface)."""
    from weatherflow_spark.operators.commit import (
        check_and_bump_versions,
        dataset_lock,
        partition_key_values,
    )
    from weatherflow_spark.operators.snaplog import (
        _dv_dir,
        _entry_dv,
        _entry_schema,
        _entry_segments,
        _interval_depth,
        _load_entry,
        _scan_cmp_key,
        _segment_files,
        head_version,
        segment_stats,
        snapshot_enabled,
    )
    from weatherflow_spark.operators.upsert import (
        _record_snapshot,
        overwrite_partitions,
    )

    if not snapshot_enabled(path):
        raise ValueError(
            f"{path}: partition compaction plans from the snapshot "
            "log's segments — init_snapshot_log + record_commit first"
        )
    if recluster and not sort_col:
        raise ValueError(
            "recluster=True needs sort_col — a re-sort-less rewrite "
            "cannot restore the clustering it would be repairing"
        )
    with dataset_lock(path):
        head_v = head_version(path)
        if head_v is None:
            raise ValueError(
                f"{path}: no committed versions — record_commit the "
                "seed first"
            )
        head_entry = _load_entry(path, head_v)
        segs = _entry_segments(path, head_entry)
        head_dvs = _entry_dv(head_entry)
        plan: list[tuple[str, str, int, tuple[str, ...]]] = []
        for dirkey, segname in sorted(segs.items()):
            if not dirkey:
                continue  # root-level files are not a partition
            keys = [seg.split("=", 1)[0] for seg in dirkey.split("/")]
            if keys != list(partition_cols):
                # A SUBSET (or re-ordered) partition_cols would
                # dynamic-overwrite whole parent dirs whose sibling
                # sub-partitions were never read — silent data loss,
                # not a maintenance op.
                raise ValueError(
                    f"{path}: partition layout in the log is {keys} "
                    f"but partition_cols={list(partition_cols)} — pass "
                    "the table's full partition column sequence"
                )
            seg_files = _segment_files(path, segname)
            n_files = len(seg_files)
            n_bytes = sum(max(int(sz), 0) for _, sz in seg_files)
            dv_names = tuple(sorted(head_dvs.get(dirkey) or ()))
            # DV-covered partitions are offenders regardless of file
            # count: compaction is where merge-on-read deletes FOLD
            # into data files — every read of a
            # covered partition pays the anti-join until then.
            decayed = False
            if recluster and not dv_names and n_files <= max_files:
                # third offender class: files overlapping on
                # sort_col's zone maps — pure metadata from the
                # partition's own segment stats
                sst = segment_stats(path, segname)
                ivals = [
                    (
                        _scan_cmp_key(sst[rel][sort_col][0]),
                        _scan_cmp_key(sst[rel][sort_col][1]),
                    )
                    for rel, _sz in seg_files
                    if sst.get(rel, {}).get(sort_col) is not None
                ]
                decayed = (
                    len(ivals) >= 2 and _interval_depth(ivals)[0] > 1
                )
            if n_files > max_files or dv_names or decayed:
                plan.append((dirkey, segname, n_files, n_bytes, dv_names))
    planned_n = {d: n for d, _, n, _b, _dv in plan}
    live = path.rstrip("/")
    compacted: list[str] = []
    scratch = f"{live}__pcompact_{os.getpid()}"
    try:
        for dirkey, segname, n_files, n_bytes, dv_names in plan:
            with dataset_lock(path):
                # re-validate under THIS hold: a writer that committed
                # to the partition since planning replaced its segment
                # — rewriting the planned (stale) file list would
                # discard that commit. Skip; the next pass re-plans.
                # The DV set re-validates too: a delete landing since
                # planning adds a DV this rewrite would not fold —
                # rewriting with the stale set would RESURRECT its
                # victims (the fresh commit drops the dir's DVs).
                head_e = _load_entry(path, head_version(path))
                head = _entry_segments(path, head_e)
                if head.get(dirkey) != segname:
                    continue
                if tuple(sorted(_entry_dv(head_e).get(dirkey) or ())) != dv_names:
                    continue
                files = _segment_files(path, segname)
                # partition values must come back EXACTLY as the
                # directory spells them: type inference would re-type
                # 'hour=00' to int 0 and the rewrite would land under
                # a DIFFERENT directory (hour=0) while the scoped
                # carve-out kept the old one — every row duplicated.
                # So the leaf files are read WITHOUT a basePath (no
                # partition columns derived, so no inference to
                # disable) and the values decoded from the dirkey
                # itself are attached — byte-exact by construction,
                # and no session-conf set/restore, which would race
                # every concurrent partitioned READ in the process (a
                # second streaming query's merge could plan its date
                # column as STRING mid-window). The head entry's
                # recorded schema types the read, so no Spark job
                # infers one.
                part_cols_set = {c for c, _ in partition_key_values(dirkey)}
                schema = StructType([
                    f for f in _entry_schema(path, head_e).fields
                    if f.name not in part_cols_set
                ])
                df = spark.read.schema(schema).parquet(
                    *[os.path.join(live, rel) for rel, _ in files]
                )
                # partition values attach BEFORE the DV fold: a DV
                # whose key_cols include a partition column would
                # otherwise anti-join against a frame that lacks the
                # column entirely (this leaf read has no basePath, so
                # partition columns exist only in the directory name)
                # and the fold would raise forever.
                for col, val in partition_key_values(dirkey):
                    df = df.withColumn(col, F.lit(val).cast("string"))
                if dv_names:
                    # FOLD the partition's deletion vectors: the
                    # rewrite is the merge-on-read delete's merge
                    # half — one broadcast anti-join PER DV on its
                    # own key columns (heterogeneous key sets must
                    # not union, see snaplog._apply_dvs). Partition
                    # key columns compare TYPED:
                    # cast the attached dir-spelled string to the DV
                    # column's type — string→T parses every standard
                    # hive spelling — never T→string, because Spark's
                    # rendering can differ from the Python str() that
                    # spelled the directory at delete time (double
                    # 1e-4 → '1.0E-4' vs '0.0001'; fractional-second
                    # timestamps), and a silent mismatch here means
                    # the victims survive the rewrite while the
                    # scoped commit drops the DV — resurrection. The
                    # scoped commit below then drops the dir's DVs
                    # (its segment changed).
                    for dv_name in dv_names:
                        dvk = spark.read.parquet(
                            os.path.join(_dv_dir(path), dv_name)
                        )
                        dvk_types = dict(dvk.dtypes)
                        cond = None
                        for c in dvk.columns:
                            lhs = (
                                df[c].cast(dvk_types[c])
                                if c in part_cols_set
                                else df[c]
                            )
                            eq = lhs == dvk[c]
                            cond = eq if cond is None else (cond & eq)
                        df = df.join(
                            F.broadcast(dvk), cond, "left_anti"
                        )
                if dv_names and not df.head(1):
                    # The fold emptied the partition (the DV covered
                    # every row): an empty dynamic overwrite writes
                    # nothing and the scoped commit would carry the
                    # old segment — delete the directory explicitly,
                    # exactly like apply_changes' emptied-partition
                    # branch.
                    shutil.rmtree(
                        os.path.join(live, dirkey), ignore_errors=True
                    )
                    check_and_bump_versions(path, [dirkey])
                    _record_snapshot(path, scope=[dirkey])
                    compacted.append(dirkey)
                    continue
                # Stage on DISK, not localCheckpoint: the rewrite
                # replaces the very files this read lists, and a
                # long maintenance loop must not pin every
                # compacted partition's data in executor storage
                # until GC. Deterministic cleanup. The staged read
                # takes the schema it was written with, and the
                # rewrite names its one partition, so neither infers
                # nor collects anything.
                shutil.rmtree(scratch, ignore_errors=True)
                df.write.mode("overwrite").parquet(scratch)
                staged = spark.read.schema(df.schema).parquet(scratch)
                if sort_col is not None and sort_col in staged.columns:
                    # Clustering-preserving rewrite:
                    # range-arrange on the STAGED read (a plain read
                    # would let Spark's small-file split packing mix
                    # ranges within one task) so each task writes one
                    # range-disjoint sorted file into the partition.
                    # A pure DV fold keeps the partition's file count
                    # (its files were range-sized deliberately); a
                    # genuine small-file offender resizes by bytes.
                    if n_files > max_files:
                        n_out = max(
                            1,
                            min(
                                n_files,
                                math.ceil(n_bytes / target_file_bytes),
                            ),
                        )
                    else:
                        n_out = n_files
                    staged = staged.repartitionByRange(
                        n_out, F.col(sort_col)
                    ).sortWithinPartitions(sort_col)
                    overwrite_partitions(
                        staged, path, partition_cols, presorted=True,
                        touched_keys=[dirkey],
                    )
                else:
                    overwrite_partitions(
                        staged, path, partition_cols, touched_keys=[dirkey]
                    )
                compacted.append(dirkey)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    files_after = 0
    if compacted:
        head = _entry_segments(path, _load_entry(path, head_version(path)))
        files_after = sum(
            len(_segment_files(path, head[d]))
            for d in compacted
            if d in head
        )
    return {
        "partitions_compacted": len(compacted),
        "files_before": sum(planned_n[d] for d in compacted),
        "files_after": files_after,
    }
