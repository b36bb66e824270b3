"""Snapshot log + time-travel reads: versioned datasets on top of the
commit protocol.

The reference's warehouse has no history at all — every load mutates
the MySQL tables in place (reference dags/utils/database.py:25-34), so
"what did the table say yesterday" is unanswerable. The commit
protocol (operators/commit.py) already gives each dataset an advisory
commit lock and a partition-version manifest; this module adds the
remaining lakehouse piece, the public Delta/Iceberg pattern re-derived
for the engine's parquet layout:

- **Commit log** (``<path>.__snaplog/v000001.json`` …): one entry per
  content commit, recording the dataset's complete data-file set
  (relative path + size) and its data-file schema at that commit, so
  version reads never run Spark's schema inference. An
  :class:`~weatherflow_spark.operators.commit.NumberedLog` appended
  under the dataset lock, so versions are a gap-free monotone
  sequence and never interleave.
- **Retention store** (``<path>.__retain/<relpath>``): every committed
  data file is HARD-LINKED (same inode — zero data copy; ``copy2``
  fallback for cross-device) into a directory that mirrors the live
  hive layout. Dynamic partition overwrite and compaction DELETE
  replaced live files; the retained links keep those bytes readable,
  which is exactly what makes old versions reconstructible. Because
  Spark part-file names carry job-unique task UUIDs, a relpath is
  never reused for different content — "already linked" is a safe
  skip.
- **Live tree**: writers replace files in place, so the dataset
  directory always holds exactly the head version's files. A plain
  ``spark.read.parquet(path)`` reads the head version, minus the rows
  its deletion vectors hide (:func:`read_live` applies those).
- **Time-travel read** (:func:`read_version`): reads a version's file
  list straight FROM the retention mirror with ``basePath`` set to it,
  so hive partition columns are recovered by Spark's own partition
  discovery — live files are never touched, and a reader holds no
  lock (writers never modify retained inodes, they only add links).
  A version-N read is therefore isolated from every concurrent
  upsert/compaction — but NOT from a concurrent vacuum, which unlinks
  retained files. A reader that must outlive vacuums
  wraps the read in :func:`pinned_version`: the pin is taken under
  the dataset lock (so it either lands before a racing vacuum decides,
  or fails deterministically BEFORE any file is read if the version is
  already gone), and :func:`vacuum_versions` never drops a pinned
  version or its files.
- **Vacuum** (:func:`vacuum_versions`): bounds history — drops log
  entries beyond ``keep_last`` (pinned versions always survive) and
  unlinks retained files no surviving version references (live files
  are never deleted).

Opt-in by design: :func:`init_snapshot_log` creates the log dirs, and
the shared write choke point (``upsert.overwrite_partitions`` — every
keyed upsert, CDC apply, and rollup refresh routes through it)
records a commit automatically ONLY when the log exists, so tables
that don't want history pay nothing.

Scale posture (100 TB): the log entry is O(files) metadata, not data;
linking is an exists-check skip for every unchanged file, so a
micro-batch touching one hour of a table links only that hour's new
files. A partition-touching commit passes ``scope`` (the touched
partition directories — the write choke point knows them) so the
listing walks only the touched slice and carries the rest forward
from the previous version's entry: version cost is O(touched files)
per commit, never a full-tree walk. ``files`` remains for writers
that know their COMPLETE file set (it must be complete — see
:func:`record_commit`). An object store has no hard links; a port
there would start from the entry's file list, which already names
every file a version reads.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from weatherflow_spark.operators.commit import (
    NumberedLog,
    dataset_lock,
    write_atomic,
    write_json_atomic,
)


def _log_dir(path: str) -> str:
    # Siblings of the dataset dir (like the lock + version manifest):
    # they survive full overwrites and compaction's directory swap,
    # and are invisible to Spark's file index by construction.
    return path.rstrip("/") + ".__snaplog"


def _log(path: str) -> NumberedLog:
    # v000001.json entries, the _last_checkpoint head pointer and
    # b_<batch id>.json replay markers.
    return NumberedLog(_log_dir(path), "v", "_last_checkpoint", "version", "b")


def _retain_dir(path: str) -> str:
    return path.rstrip("/") + ".__retain"


def snapshot_enabled(path: str) -> bool:
    """True once :func:`init_snapshot_log` ran for this dataset."""
    return os.path.isdir(_log_dir(path))


def init_snapshot_log(path: str) -> None:
    """Opt this dataset into versioned commits (idempotent): create its
    log and the retention mirror that every committed file is
    hard-linked into, so versions survive writers that physically
    delete replaced files."""
    os.makedirs(_log_dir(path), exist_ok=True)
    os.makedirs(_retain_dir(path), exist_ok=True)


def _seg_dir(path: str) -> str:
    return os.path.join(_log_dir(path), "seg")


def _seg_key(rel: str) -> str:
    """A file's segment group: its containing directory ('' for root
    files). One segment per partition directory is the natural unit —
    the scope machinery already thinks in those directories."""
    return os.path.dirname(rel)


def _write_segments(
    path: str,
    files: list[tuple[str, int]],
    stats: dict[str, dict] | None = None,
) -> dict[str, str]:
    """Group ``files`` by containing directory and persist one
    IMMUTABLE segment file per group, returning {dirkey: segment
    name}. Segments are content-addressed (name = hash of the sorted
    group), so a directory whose file set did not change maps to the
    SAME segment file and costs zero writes — the Iceberg
    manifest-reuse shape: entry I/O per commit is
    O(directories) names + O(touched files) segment bytes, never
    O(total files). ``stats`` (rel → {col: [min, max]}) rides
    inside each segment so version readers can FILE-SKIP without
    opening a single footer."""
    import hashlib

    groups: dict[str, list[tuple[str, int]]] = {}
    for rel, sz in files:
        groups.setdefault(_seg_key(rel), []).append((rel, sz))
    segdir = _seg_dir(path)
    out: dict[str, str] = {}
    for dirkey, grp in groups.items():
        payload: dict = {"dir": dirkey, "files": sorted(grp)}
        if stats:
            seg_stats = {
                rel: stats[rel] for rel, _ in grp if stats.get(rel)
            }
            if seg_stats:
                payload["stats"] = seg_stats
        content = json.dumps(payload, sort_keys=True)
        name = (
            "s_"
            + hashlib.sha256(content.encode()).hexdigest()[:20]
            + ".json"
        )
        full = os.path.join(segdir, name)
        if not os.path.exists(full):
            os.makedirs(segdir, exist_ok=True)
            write_atomic(full, content)
        out[dirkey] = name
    return out


def _segment_files(path: str, name: str) -> list[tuple[str, int]]:
    with open(os.path.join(_seg_dir(path), name)) as f:
        return [tuple(x) for x in json.load(f)["files"]]


def _schema_dir(path: str) -> str:
    return os.path.join(_log_dir(path), "schema")


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field and element nullable, as Spark reads any
    parquet file back."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _merge_types(left: DataType, right: DataType) -> DataType:
    """Spark's footer-merge rule (``StructType.merge``): struct fields
    match by case-insensitive name, keep ``left``'s order and append
    ``right``'s new fields; arrays and maps merge element-wise. Where
    Spark would refuse two leaf types, ``right`` (the newer files') wins."""
    if isinstance(left, StructType) and isinstance(right, StructType):
        rfields = {f.name.lower(): f for f in right.fields}
        lnames = {f.name.lower() for f in left.fields}
        fields = [
            StructField(
                f.name,
                _merge_types(f.dataType, rfields[f.name.lower()].dataType)
                if f.name.lower() in rfields
                else f.dataType,
                True,
                f.metadata,
            )
            for f in left.fields
        ]
        fields += [f for f in right.fields if f.name.lower() not in lnames]
        return StructType(fields)
    if isinstance(left, ArrayType) and isinstance(right, ArrayType):
        return ArrayType(_merge_types(left.elementType, right.elementType), True)
    if isinstance(left, MapType) and isinstance(right, MapType):
        return MapType(
            _merge_types(left.keyType, right.keyType),
            _merge_types(left.valueType, right.valueType),
            True,
        )
    return right


def _write_schema(path: str, schema: StructType) -> str:
    """Persist ``schema`` as an immutable content-addressed file under
    ``<log>/schema/`` and return its name; versions with one schema
    share one file."""
    import hashlib

    content = schema.json()
    name = "t_" + hashlib.sha256(content.encode()).hexdigest()[:20] + ".json"
    full = os.path.join(_schema_dir(path), name)
    if not os.path.exists(full):
        os.makedirs(_schema_dir(path), exist_ok=True)
        write_atomic(full, content)
    return name


def _entry_schema(path: str, entry: dict) -> StructType:
    """The version's data-file schema: what a mergeSchema read of its
    files infers for the footer columns. Partition columns are not in
    it; Spark types them from the directory names at read time."""
    name = entry.get("schema")
    if name is None:
        raise ValueError(
            f"{path}: version {entry.get('version')} records no schema; "
            "its log predates schema-carrying entries — re-seed it"
        )
    with open(os.path.join(_schema_dir(path), name)) as f:
        return StructType.fromJson(json.load(f))


def _infer_data_schema(path: str, rels: list[str]) -> StructType:
    """The merged footer schema of ``rels`` (one Spark job). The leaf
    files are read without a basePath, so no partition column is
    derived."""
    if not rels:
        return StructType([])
    spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(path, r) for r in rels])
        .schema
    )


def _keeps_files(
    path: str, prev_segs: dict[str, str], segments: dict[str, str]
) -> bool:
    """True when the version listing ``segments`` still lists a file of
    the version listing ``prev_segs``."""
    for k, name in segments.items():
        old = prev_segs.get(k)
        if old is None:
            continue
        if old == name or {r for r, _ in _segment_files(path, old)} & {
            r for r, _ in _segment_files(path, name)
        }:
            return True
    return False


def _version_schema(
    path: str,
    prev: dict | None,
    segments: dict[str, str],
    written: StructType | None,
) -> str:
    """The schema file name for a new version listing ``segments``.
    ``written`` is the data schema of the files this commit wrote; it
    merges into the previous version's schema when the new version
    keeps some of that version's files, because their footers still
    count. A writer that knows no schema gets the one its files infer,
    once, here."""
    if written is None:
        rels = [
            rel for name in segments.values() for rel, _ in _segment_files(path, name)
        ]
        return _write_schema(path, _infer_data_schema(path, rels))
    schema = _as_nullable(written)
    if (
        prev is not None
        and prev.get("schema") is not None
        and _keeps_files(path, _entry_segments(path, prev), segments)
    ):
        schema = _merge_types(_entry_schema(path, prev), schema)
    return _write_schema(path, schema)


# Write-once entry cache: entries land atomically and are never
# modified (vacuum deletes whole files), so
# an unchanged (mtime_ns, size, inode) signature proves a cached
# parse is current. One commit parses its predecessor up to three
# times (stats carry, segment carry, DV carry) and every keyed-upsert
# read parses the head once via head_dv — at a replica-rebuild
# cadence (dozens of small commits per row) the repeated O(dirs)
# json parse is the avoidable part of the commit path. Callers must
# treat returned entries as READ-ONLY; the _entry_* accessors copy.
_ENTRY_CACHE: dict[str, tuple[tuple[int, int, int], dict]] = {}
_ENTRY_CACHE_MAX = 256


def _load_entry(path: str, version: int) -> dict:
    p = _log(path).path(version)
    st = os.stat(p)
    sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    hit = _ENTRY_CACHE.get(p)
    if hit is not None and hit[0] == sig:
        return hit[1]
    with open(p) as f:
        entry = json.load(f)
    if len(_ENTRY_CACHE) >= _ENTRY_CACHE_MAX:
        # Tolerate concurrent eviction: overlapped suite branches
        # parse entries from several driver threads; two
        # evictors racing on the same first key must not raise.
        try:
            _ENTRY_CACHE.pop(next(iter(_ENTRY_CACHE)), None)
        except RuntimeError:
            pass  # dict resized between iter() and next(): skip once
    _ENTRY_CACHE[p] = (sig, entry)
    return entry


def _entry_segments(path: str, entry: dict) -> dict[str, str]:
    """A copy of the entry's {dirkey: segment name} map."""
    return dict(entry["segments"])


def _dv_dir(path: str) -> str:
    return os.path.join(_log_dir(path), "dv")


def _entry_dv(entry: dict) -> dict[str, list[str]]:
    """The entry's deletion-vector map: {segment dirkey: [dv names]}.
    Each name is a small parquet dataset of MERGE-KEY rows under
    ``<log>/dv/<name>`` — rows of the covered directories whose key
    appears in any referenced DV are logically deleted as of this
    version (anti-joined at read). Empty for entries with no DVs.
    Inner lists are COPIES: record_dv_commit appends to them, and the
    entry may be the shared _ENTRY_CACHE parse."""
    return {k: list(v) for k, v in (entry.get("dv") or {}).items()}


def head_dv(path: str) -> dict[str, list[str]]:
    """The HEAD version's deletion-vector map (empty when the table
    has no versions or no live DVs). Writers that read the live tree
    of a versioned table directly must check this: with active DVs
    the live files still hold the deleted rows physically, so the
    only correct current-content read is :func:`read_version`."""
    if not snapshot_enabled(path):
        return {}
    head = head_version(path)
    if head is None:
        return {}
    try:
        return _entry_dv(_load_entry(path, head))
    except (OSError, ValueError):
        return {}


def _apply_dvs(
    spark: SparkSession, path: str, df: DataFrame, names: list[str]
) -> DataFrame:
    """Anti-join ``df`` against each deletion vector in ``names`` —
    one broadcast anti-join PER DV, each on that DV's OWN key columns
    (two DVs written with different key_cols must not be
    unioned into one null-padded frame — the null-unsafe anti-join
    would match nothing and resurrect every victim of both deletes).
    No dedup on the build side: anti-join semantics ignore build-side
    duplicates, and a dedup aggregation would put a shuffle Exchange
    in front of every covered read's broadcast."""
    for n in names:
        keys = spark.read.parquet(os.path.join(_dv_dir(path), n))
        df = df.join(
            F.broadcast(keys), on=list(keys.columns), how="left_anti"
        )
    return df


def _read_files_with_dv(
    spark: SparkSession,
    path: str,
    base: str,
    rels: list[str],
    dv: dict[str, list[str]],
    schema: StructType,
) -> DataFrame:
    """Version read with deletion vectors applied: files in covered
    directories anti-join their DV keys (broadcast — DVs are victim
    keys, small by the delete contract; keys are non-null by the
    delete contract, so the plain anti-join is exact); uncovered
    directories read plain. One branch per distinct DV-name set, so N
    deletes over the same dirs still cost one anti-join each, not one
    per directory."""
    plain: list[str] = []
    by_dvset: dict[tuple[str, ...], list[str]] = {}
    for rel in rels:
        names = dv.get(_seg_key(rel))
        if names:
            by_dvset.setdefault(tuple(sorted(names)), []).append(rel)
        else:
            plain.append(rel)
    branches = []
    if plain:
        branches.append(_read_retained(spark, base, plain, schema))
    for names, group in sorted(by_dvset.items()):
        branches.append(
            _apply_dvs(
                spark, path, _read_retained(spark, base, group, schema),
                list(names),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


def _merge_dir_dvs(
    path: str, dv: dict[str, list[str]], dirkeys: list[str]
) -> None:
    """Cap covered reads at ONE anti-join per directory: K RTBF deletes between folds previously stacked K broadcast
    anti-joins on every covered read (one per DV name —
    :func:`_apply_dvs`). When a directory's DV list holds several
    sidecars with IDENTICAL key schemas, union their key sets into
    one new sidecar — O(victims) pyarrow work the delete already
    pays, zero data files touched — and reference only the merged
    name. Sidecars with different key columns (heterogeneous deletes)
    stay separate: unioning them would null-pad and the null-unsafe
    anti-join would resurrect every victim). Old sidecars
    stay on disk for time travel (prior entries reference them);
    vacuum GCs them once unreferenced. Mutates ``dv`` in place;
    inductively, a directory holds at most one DV per distinct key
    schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas: dict[str, tuple | None] = {}

    def schema_of(name: str):
        if name not in schemas:
            d = os.path.join(_dv_dir(path), name)
            try:
                files = [
                    f for f in os.listdir(d) if f.endswith(".parquet")
                ]
                s = pq.read_schema(os.path.join(d, files[0]))
                schemas[name] = tuple(
                    sorted(zip(s.names, map(str, s.types)))
                )
            except (OSError, IndexError):
                schemas[name] = None  # unreadable: never merge it
        return schemas[name]

    merged_cache: dict[frozenset, str] = {}
    for k in dirkeys:
        names = dv.get(k) or []
        if len(names) < 2:
            continue
        by_schema: dict[tuple, list[str]] = {}
        for n in names:
            s = schema_of(n)
            if s is not None:
                by_schema.setdefault(s, []).append(n)
        consumed: set[str] = set()
        new_names: list[str] = []
        for group in by_schema.values():
            if len(group) < 2:
                continue
            key = frozenset(group)
            if key not in merged_cache:
                tables, cols = [], None
                for n in group:
                    t = pq.read_table(os.path.join(_dv_dir(path), n))
                    if cols is None:
                        cols = sorted(t.column_names)
                    tables.append(t.select(cols))
                merged = pa.concat_tables(tables).combine_chunks()
                # distinct via group-by-all-columns (pure pyarrow —
                # a pandas round-trip would re-type dates); the
                # anti-join ignores build-side dups, but the union
                # would otherwise grow by |victims| per delete
                merged = pa.TableGroupBy(
                    merged, merged.column_names
                ).aggregate([])
                mname = f"dv_{os.getpid()}_{os.urandom(6).hex()}_m"
                outdir = os.path.join(_dv_dir(path), mname)
                os.makedirs(outdir, exist_ok=True)
                pq.write_table(
                    merged, os.path.join(outdir, "part-00000.parquet")
                )
                merged_cache[key] = mname
            consumed.update(group)
            new_names.append(merged_cache[key])
        if new_names:
            dv[k] = new_names + [n for n in names if n not in consumed]


def record_dv_commit(
    path: str,
    dv_name: str,
    dirkeys: list[str],
    batch_id: object | None = None,
) -> int:
    """Mint a version whose ONLY change is a new deletion vector
    (merge-on-read DELETE, the Delta deletion-vector / Iceberg
    positional-delete shape re-derived for keyed parquet): the new
    entry carries the head's segments VERBATIM — zero data files
    rewritten, zero links — plus ``dv_name`` attached to every
    directory in ``dirkeys``. Existing DVs on other directories carry
    forward. The caller must already have written the key parquet to
    ``<log>/dv/<dv_name>`` (a crash before this entry lands leaves it
    unreferenced — vacuum sweeps it). ``batch_id`` gives the commit
    the same replay-keyed exactly-once contract as
    :func:`record_commit`. Same-key-schema DVs already covering a
    directory merge with the new one into a single sidecar
    (:func:`_merge_dir_dvs`) so reads pay one
    anti-join per directory regardless of how many deletes landed
    since the last fold."""
    if not snapshot_enabled(path):
        raise ValueError(
            f"{path}: snapshot log not initialised (init_snapshot_log)"
        )
    with dataset_lock(path):
        if batch_id is not None:
            prior = committed_batch_version(path, batch_id)
            if prior is not None:
                return prior
        head = head_version(path)
        if head is None:
            raise ValueError(
                f"{path}: no committed versions — a DV attaches to an "
                "existing version's file set; record_commit the seed first"
            )
        prev = _load_entry(path, head)
        segments = _entry_segments(path, prev)
        unknown = [k for k in dirkeys if k not in segments]
        if unknown:
            raise ValueError(
                f"{path}: DV covers director{'ies' if len(unknown) > 1 else 'y'} "
                f"{unknown[:5]} not present in the head version"
            )
        dv = _entry_dv(prev)
        for k in dirkeys:
            names = dv.setdefault(k, [])
            if dv_name not in names:
                names.append(dv_name)
        # same-schema sidecars on a covered directory merge into one —
        # covered reads pay one anti-join per dir,
        # not one per delete since the last fold
        _merge_dir_dvs(path, dv, dirkeys)
        n = head + 1
        entry: dict = {
            "version": n, "segments": segments, "schema": prev.get("schema"),
            "dv": dv,
        }
        if batch_id is not None:
            entry["batch_id"] = str(batch_id)
        _log(path).append(n, entry, batch_id)
        # The live tree did not change, so an existing dirstamp still
        # describes exactly what the (carried) segments list — keep it.
        return n


def _stats_cols_path(path: str) -> str:
    return os.path.join(_log_dir(path), "STATS_COLS.json")


def set_stats_columns(path: str, cols: list[str]) -> None:
    """Opt the table into FILE-SKIPPING statistics (the zone-map
    / Iceberg-metrics shape on the segmented log): from the next
    commit on, every newly listed data file's parquet-footer min/max
    for ``cols`` is recorded inside its segment, and
    :func:`scan_version` prunes files whose range cannot intersect a
    predicate — a point/range query on a 100 TB table reads only the
    files that can match, without opening a single footer at read
    time. Stats are collected ONLY for new files (carried segments are
    immutable and keep theirs), so the per-commit cost is O(touched
    files) footer reads. Numeric / date / timestamp columns record
    exact bounds; STRING columns record truncation-aware bounds
    (lower truncated to :data:`STR_STAT_TRUNC` chars, upper
    truncated-then-incremented per the Iceberg truncate(k) contract,
    see :func:`_file_stats`), so priority/mktsegment-style string
    ranges prune safely. Bytes columns are ineligible."""
    if not snapshot_enabled(path):
        raise ValueError(
            f"{path}: snapshot log not initialised (init_snapshot_log)"
        )
    write_json_atomic(_stats_cols_path(path), sorted(cols))


def stats_columns(path: str) -> list[str]:
    try:
        with open(_stats_cols_path(path)) as f:
            return list(json.load(f))
    except (OSError, ValueError):
        return []


def _jsonable_stat(v, side: str = "min"):
    import datetime
    import decimal
    import math

    if isinstance(v, bool) or v is None:
        return None  # booleans: pruning value ~nil; skip
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        # float() rounds to NEAREST — a min rounded up (or max
        # rounded down) would prune a file holding in-range rows
        # Widen each bound outward instead.
        f = float(v)
        if side == "min" and decimal.Decimal(f) > v:
            return math.nextafter(f, -math.inf)
        if side == "max" and decimal.Decimal(f) < v:
            return math.nextafter(f, math.inf)
        return f
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None  # bytes / exotic types: no safe ordering to prune on


STR_STAT_TRUNC = 16  # chars kept per string bound (Iceberg truncate(k))


def _trunc_lower(s: str, k: int = STR_STAT_TRUNC) -> str:
    """A guaranteed LOWER bound for every string >= ``s``: its k-char
    prefix (a prefix is <= the string it prefixes)."""
    return s[:k]


def _trunc_upper(s: str, k: int = STR_STAT_TRUNC) -> str | None:
    """A guaranteed UPPER bound for every string <= ``s``, at most k
    chars: ``s`` itself when short enough, else its k-prefix with the
    last incrementable code point bumped and the tail dropped — the
    Iceberg ``truncate(k)`` upper-bound contract. Incrementing the
    LAST KEPT character yields a string strictly greater than every
    string sharing the original prefix (UTF-8 byte order == code
    point order, so the comparison agrees with Spark/parquet).
    Surrogate code points are skipped; returns None when no prefix
    character is incrementable (all U+10FFFF — no finite bound)."""
    if len(s) <= k:
        return s
    chars = list(s[:k])
    for i in reversed(range(len(chars))):
        cp = ord(chars[i])
        if cp >= 0x10FFFF:
            continue  # cannot bump: drop it and carry left
        ncp = cp + 1
        if 0xD800 <= ncp <= 0xDFFF:
            ncp = 0xE000  # skip the surrogate gap
        chars[i] = chr(ncp)
        return "".join(chars[: i + 1])
    return None


def _file_stats(path: str, rel: str, cols: list[str]) -> dict:
    """{col: [min, max]} from the parquet footer's row-group
    statistics — bounds over all row groups; a column with any
    row group missing min/max is omitted (no stats ⇒ never pruned).

    STRING columns record truncation-aware
    bounds: min truncated to :data:`STR_STAT_TRUNC` chars (still a
    valid lower bound), max truncated-then-incremented
    (:func:`_trunc_upper` — a guaranteed superset). This is safe even
    when the WRITER already truncated the footer stat, because
    parquet-mr's truncation increments the max (BinaryTruncator) and
    arrow omits over-long stats entirely (``has_min_max`` false) —
    either way the stored max is >= the true max, and our
    truncate+increment of it can only widen further. Bytes columns
    stay excluded (no logical ordering contract)."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
    except Exception:
        return {}
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out = {}
    for c in cols:
        i = idx.get(c)
        if i is None:
            continue
        lo = hi = None
        ok = True
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            if isinstance(st.min, str) and isinstance(st.max, str):
                mn = _trunc_lower(st.min)
                mx = _trunc_upper(st.max)
            else:
                mn = _jsonable_stat(st.min, "min")
                mx = _jsonable_stat(st.max, "max")
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            out[c] = [lo, hi]
    return out


def _collect_stats(
    path: str,
    new_files: list[tuple[str, int]],
    prev_stats: dict[str, dict],
) -> dict[str, dict] | None:
    """Stats map for a commit: new files read their footers once;
    files already covered by the previous entry's segments reuse
    those bounds verbatim (full-list commits re-list carried files,
    which must not re-pay footer reads)."""
    cols = stats_columns(path)
    if not cols:
        return None
    out = dict(prev_stats)
    for rel, _sz in new_files:
        if rel not in out:
            out[rel] = _file_stats(path, rel, cols)
    return out


def _entry_stats(path: str, entry: dict) -> dict[str, dict]:
    """rel → {col: [min, max]} across all of an entry's segments."""
    out: dict[str, dict] = {}
    if "segments" not in entry:
        return out
    for name in entry["segments"].values():
        try:
            with open(os.path.join(_seg_dir(path), name)) as f:
                out.update(json.load(f).get("stats", {}))
        except (OSError, ValueError):
            continue
    return out


def _scan_cmp_key(x):
    """Normalize a stats bound / predicate bound for comparison: a
    bare date ('YYYY-MM-DD') and a datetime ('YYYY-MM-DDTHH:MM:SS')
    may meet in one comparison (date column vs datetime bound or vice
    versa); lexicographic comparison across formats mis-prunes
    ('2020-01-01' < '2020-01-01T00:00:00'). Dates extend to their
    midnight instant (Spark's date→timestamp coercion), the
    space-separator str(datetime) form normalizes to 'T' (only a REAL
    time-of-day qualifies — arbitrary 'YYYY-MM-DD text' strings are
    never mutated), reduced-precision ISO pads to seconds, and an
    all-zero fraction drops (it equals the second)."""
    import re as _re

    if isinstance(x, str):
        if _re.fullmatch(r"\d{4}-\d{2}-\d{2}", x):
            x = x + "T00:00:00"
        elif _re.fullmatch(
            r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}(:\d{2}(\.\d+)?)?", x
        ):
            x = x.replace(" ", "T", 1)
        if _re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}", x):
            x = x + ":00"  # reduced-precision ISO: pad to seconds
        if _re.fullmatch(r"\d{4}-\d{2}-\d{2}T[\d:]{8}\.0+", x):
            x = _re.sub(r"\.0+$", "", x)  # zero fraction == second
    return x


def scan_version(
    spark: SparkSession,
    path: str,
    col: str | None = None,
    lo=None,
    hi=None,
    version: int | None = None,
    predicates: list[tuple] | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """FILE-SKIPPING version read: return the version's rows
    whose files can contain ``col ∈ [lo, hi]`` — files whose recorded
    [min, max] cannot intersect the range are never opened (a file
    with no recorded stats is always kept — pruning is only ever an
    optimization, never a filter). The returned frame is a SUPERSET
    of the range (file granularity); callers apply their own
    predicate, which Spark additionally pushes into the surviving
    footers. Second return: ``{"files_total": n, "files_scanned": k}``
    for plan audits. At 100 TB with range-clustered layout (zorder /
    repartitionByRange + compaction sort), a selective range touches
    a handful of files instead of the table. Date/datetime bounds
    may be passed as Python objects (normalized to the stored
    isoformat — 'T' separator) or as ISO-8601 'T' strings; Decimal
    bounds widen OUTWARD on float conversion so conversion error can
    only keep an extra file, never drop one.

    ``predicates=[(col, lo, hi), ...]`` is the CONJUNCTIVE
    multi-column form: a file is opened only if
    EVERY range can intersect its recorded bounds — the read shape a
    Z-ordered layout exists for (operators/zorder.py gives each file
    a small rectangle of the two-column key space, so a
    two-dimensional band prunes on BOTH axes where single-column
    sorting prunes on one). Mutually exclusive with ``col``."""
    if predicates is not None and col is not None:
        raise ValueError("pass either col/lo/hi or predicates, not both")
    if predicates is None:
        if col is None:
            raise ValueError("pass col (single range) or predicates")
        predicates = [(col, lo, hi)]
    version, files, base = _resolve_version(path, version)
    entry = _load_entry(path, version)
    schema = _entry_schema(path, entry)
    stats = _entry_stats(path, entry)
    dv = _entry_dv(entry)
    norm: list[tuple] = []
    for pcol, plo, phi in predicates:
        if plo is not None and not isinstance(plo, (int, float, str)):
            plo = _jsonable_stat(plo, "min")
        if phi is not None and not isinstance(phi, (int, float, str)):
            phi = _jsonable_stat(phi, "max")
        norm.append((pcol, plo, phi))

    kept = []
    for rel, _sz in files:
        drop = False
        for pcol, plo, phi in norm:
            s = stats.get(rel, {}).get(pcol)
            if s is None:
                continue  # no stats for this column ⇒ cannot prune on it
            fmin, fmax = s
            try:
                if (
                    phi is not None
                    and _scan_cmp_key(fmin) > _scan_cmp_key(phi)
                ) or (
                    plo is not None
                    and _scan_cmp_key(fmax) < _scan_cmp_key(plo)
                ):
                    drop = True
                    break
            except TypeError:
                pass  # incomparable bound vs stat types: never prune
        if drop:
            continue
        kept.append(rel)
    if not kept:
        # empty selection: preserve the schema via an always-false
        # filter over one file (cheap — footer only)
        df = _read_retained(spark, base, [files[0][0]], schema).where(
            F.lit(False)
        )
        return df, {"files_total": len(files), "files_scanned": 0}
    # Deletion vectors apply to the PRUNED read too — a skipped scan
    # must never resurrect DV-deleted rows its full-read twin hides.
    df = (
        _read_files_with_dv(spark, path, base, kept, dv, schema)
        if dv
        else _read_retained(spark, base, kept, schema)
    )
    return df, {"files_total": len(files), "files_scanned": len(kept)}


def _resolve_version(
    path: str, version: int | None
) -> tuple[int, list[tuple[str, int]], str]:
    """Shared version-read plumbing (read_version + scan_version):
    validate the version, load its non-empty file list, and return
    the read base, the hard-linked retention mirror.

    Head resolution and explicit-version validation are both
    O(since-checkpoint): the pointer + forward probe for the
    head, a single entry-file stat for an explicit version — never a
    full log listing on the read path (the listing only runs to
    build the error message)."""
    if version is None:
        version = head_version(path)
        if version is None:
            raise ValueError(f"{path}: no committed versions")
    elif not os.path.isfile(_log(path).path(version)):
        vs = versions(path)
        if not vs:
            raise ValueError(f"{path}: no committed versions")
        raise ValueError(
            f"{path}: version {version} not in log "
            f"(have {vs[0]}..{vs[-1]}, vacuumed versions are gone)"
        )
    files = entry_files(path, version)
    if not files:
        raise ValueError(f"{path}: version {version} recorded no files")
    return version, files, _retain_dir(path)


def _read_retained(
    spark: SparkSession, base: str, rels: list[str], schema: StructType
) -> DataFrame:
    # The version's recorded schema covers every footer in its file
    # list, so files written before an add-column evolution read the
    # new column as NULL, and no Spark job infers it. Partition columns
    # are typed from the directory names under basePath.
    return (
        spark.read.schema(schema)
        .option("basePath", base)
        .parquet(*[os.path.join(base, r) for r in rels])
    )


def _dirstamp_path(path: str) -> str:
    # {"clean": true, "dirs": {...}}
    return os.path.join(_log_dir(path), "dirstamp2.json")


def dir_fingerprint(path: str) -> dict[str, int]:
    """{relative dir: mtime_ns} over the live tree's DIRECTORIES —
    O(directories), never stats a data file. Any bulk write must add
    or remove at least one file somewhere, which bumps its containing
    directory's mtime (engine writers never modify a data file in
    place — the clone/retention contracts already depend on that), so
    fingerprint equality means the live content is exactly what the
    last commit recorded. The multi-table coordinator uses this to
    reuse a member's head version with O(dirs) metadata instead of an
    O(files) stat walk under the all-locks window."""
    out: dict[str, int] = {}
    for root, dirs, _ in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        try:
            out[os.path.relpath(root, path)] = os.stat(root).st_mtime_ns
        except OSError:
            out[os.path.relpath(root, path)] = -1
    return out


def _clean_fingerprint(path: str) -> dict[str, int] | None:
    """A directory fingerprint PROVEN quiescent: every recorded mtime
    is strictly older than a probe timestamp taken BEFORE the scan
    (same-filesystem clock, so granularity cancels). Any write at or
    after the scan lands a dir mtime >= the probe tick > every
    recorded value — so a later fingerprint comparison MUST detect it
    (the same-granule blind spot of comparing against the stamp
    file's own mtime). Freshly written trees need the
    clock to tick past the write; wait bounded ~ms, None if the tree
    never quiets (a concurrent bulk writer) — callers then simply
    don't stamp, which only costs the fallback walk."""
    import time as _time

    if not os.path.isdir(_log_dir(path)):
        # never CREATE the log dir from a read-style probe — isdir of
        # the log dir IS snapshot_enabled, and a probe must not opt an
        # uninitialised table into versioning
        return None
    probe = os.path.join(_log_dir(path), f".probe.{os.getpid()}")
    try:
        for _ in range(8):
            with open(probe, "w") as f:
                f.write("")
            t0 = os.stat(probe).st_mtime_ns
            fp = dir_fingerprint(path)
            if all(m < t0 for m in fp.values()):
                return fp
            _time.sleep(0.003)
        return None
    finally:
        try:
            os.unlink(probe)
        except OSError:
            pass


def _write_dirstamp(path: str, fp: dict[str, int]) -> None:
    # "clean" versions the format: a stamp without it is not trusted
    # (stored_dirstamp reads it as None: one fallback walk, then the
    # next commit rewrites it).
    write_json_atomic(_dirstamp_path(path), {"clean": True, "dirs": fp})


def _drop_dirstamp(path: str) -> None:
    try:
        os.unlink(_dirstamp_path(path))
    except OSError:
        pass


def stored_dirstamp(path: str) -> dict[str, int] | None:
    """The persisted fingerprint, or None when missing/corrupt. Sound
    by CONSTRUCTION rather than by a read-time guard:
    record_commit only stamps a :func:`_clean_fingerprint` — taken
    BEFORE its file listing and re-verified unchanged after the entry
    lands — so the stamp always describes exactly the tree state the
    head entry lists, with every recorded mtime strictly older than a
    pre-scan probe tick. Any later write (bulk or choke-point) bumps
    its directory to at least that tick, so a reuse-time fingerprint
    comparison can never miss it, including writes landing in the
    same mtime granule as the stamping scan."""
    try:
        with open(_dirstamp_path(path)) as f:
            d = json.load(f)
        if d.get("clean") is not True:
            return None  # legacy/unversioned stamp: not provably clean
        return {k: int(v) for k, v in d["dirs"].items()}
    except (OSError, ValueError, KeyError, AttributeError, TypeError):
        return None


def live_is_head(path: str) -> bool:
    """True when the live tree provably holds exactly the head
    version's files: the stamp the head's commit left still matches
    the tree's directory fingerprint (O(directories), no file stat)."""
    stamp = stored_dirstamp(path)
    return stamp is not None and stamp == dir_fingerprint(path)


def entry_files(path: str, version: int) -> list[tuple[str, int]]:
    """The COMPLETE (relpath, size) set a committed version recorded,
    gathered from the entry's segments."""
    out: list[tuple[str, int]] = []
    for name in _load_entry(path, version)["segments"].values():
        out.extend(_segment_files(path, name))
    return sorted(out)


def versions(path: str) -> list[int]:
    """Committed version numbers, ascending (empty if log absent). Lists
    the log: full-history callers only; :func:`head_version` reads the
    head pointer instead."""
    return _log(path).numbers()


def head_version(path: str) -> int | None:
    """The newest committed version (None when there is none), from the
    ``_last_checkpoint`` pointer plus a forward probe."""
    return _log(path).head()


def _walk_data_files(
    path: str, subdirs: list[str] | None = None
) -> list[tuple[str, int]]:
    """(relpath, size) pairs under ``path`` — or, with ``subdirs``,
    under only those dataset-relative directories (the scoped form a
    partition-touching commit uses). Relpaths are always relative to
    the dataset root either way."""
    roots = (
        [path]
        if subdirs is None
        else [os.path.join(path, s) for s in subdirs]
    )
    out = []
    for base in roots:
        for root, _, files in os.walk(base):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(root, f)
                try:
                    size = os.path.getsize(full)
                except OSError:
                    size = -1  # vanished mid-walk; conservative sentinel
                out.append((os.path.relpath(full, path), size))
    return out


def committed_batch_version(path: str, batch_id: object) -> int | None:
    """The version a replay-keyed commit minted for ``batch_id``, or
    None if that batch never committed, so exactly-once sinks
    (foreachBatch) can skip re-delivered micro-batches. Replay
    protection lasts exactly as long as the version is retained: a
    batch whose version was vacuumed would re-commit."""
    return _log(path).batch_number(batch_id)


_STAMP_SELF = object()  # sentinel: record_commit takes its own basis


def record_commit(
    path: str,
    files: list[tuple[str, int]] | None = None,
    scope: list[str] | None = None,
    batch_id: object | None = None,
    stamp_basis=_STAMP_SELF,
    schema: StructType | None = None,
) -> int:
    """Record the dataset's CURRENT file set as the next version and
    retain every NEW file. Runs under the dataset lock (reentrant —
    the write choke point already holds it; explicit callers after a
    bulk build don't need to). Returns the new version number.

    Three listing modes, cheapest applicable wins:

    - ``files``: the COMPLETE (relpath, size) set of the dataset at
      this commit — not just the touched files; a partial list would
      be recorded verbatim and ``read_version`` would silently drop
      every untouched file. Writers that only know what
      they touched should pass ``scope`` instead.
    - ``scope``: dataset-relative directories (hive partition form,
      ``commit.partition_key``) this commit may have CHANGED —
      added, replaced, or deleted files in. Only those directories
      are walked; everything else carries over from the previous
      version's entry, so a micro-batch touching one partition of a
      100 TB table pays O(touched files), never a full-tree walk.
      Falls back to the full walk for the first-ever version (there
      is nothing to carry from).
    - neither: full O(total files) walk (bulk builds, seeds).

    Entries are SEGMENTED: the file list is split into one
    immutable content-addressed segment file per partition directory
    (``seg/s_<hash>.json``); the entry records only {dir: segment
    name}. A scoped commit re-references untouched directories'
    segments BY NAME — their lists are never read or re-written — so
    entry I/O per commit is O(directories) + O(touched files).
    Unreferenced segments are GC'd by vacuum.

    ``batch_id`` makes the commit replay-keyed: if this id already
    minted a version (a re-delivered foreachBatch micro-batch), no
    new version is created and the recorded one is returned —
    exactly-once version history under at-least-once delivery.

    Every entry names its version's data-file schema, which readers
    use instead of inferring one. ``schema`` is the data schema
    (partition columns excluded) of the files this commit wrote; a
    commit without it infers the schema from the version's files,
    which costs one Spark job.
    """
    if not snapshot_enabled(path):
        raise ValueError(
            f"{path}: snapshot log not initialised (init_snapshot_log)"
        )
    with dataset_lock(path):
        if batch_id is not None:
            prior = committed_batch_version(path, batch_id)
            if prior is not None:
                return prior
        # The reuse stamp's basis must predate the LISTING: a
        # fingerprint taken after the entry lands could
        # absorb a lock-free bulk write that the listing missed, and
        # the stamp would then vouch for a head entry that excludes
        # those files. Proven-quiescent fingerprint first; stamp only
        # if it is still exactly current after the entry is durable.
        # files= commits did their LISTING IN THE CALLER — a basis
        # taken here would already be post-listing (the same hole), so
        # they must pass their own pre-walk basis via
        # ``stamp_basis`` (possibly None: then no stamp is written).
        if files is not None:
            stamp_fp = None if stamp_basis is _STAMP_SELF else stamp_basis
        else:
            stamp_fp = _clean_fingerprint(path)
        # Head via the checkpoint pointer: a commit must not pay
        # an O(#versions) listdir just to find its predecessor.
        head = head_version(path)
        # File-skipping stats: footers are read once per NEW
        # file; files carried from the previous entry reuse their
        # recorded bounds (and untouched segments aren't rewritten at
        # all, so their stats ride for free).
        prev_stats = (
            _entry_stats(path, _load_entry(path, head))
            if head is not None and stats_columns(path)
            else {}
        )
        if files is not None:
            listed = [tuple(x) for x in files]
            to_link = listed
            segments = _write_segments(
                path, listed, stats=_collect_stats(path, listed, prev_stats)
            )
        elif scope is not None and head is not None:
            touched = _walk_data_files(path, subdirs=scope)
            # Segment carry-forward: untouched directories
            # re-reference the previous entry's IMMUTABLE segments BY
            # NAME — their file lists are never read, so a micro-batch
            # commit writes O(touched files) segment bytes + an
            # O(directories) entry.
            scope_keys = [s.rstrip("/") for s in scope]

            def covered(dirkey: str) -> bool:
                return any(
                    dirkey == s or dirkey.startswith(s + "/")
                    for s in scope_keys
                )

            prev_segs = _entry_segments(path, _load_entry(path, head))
            segments = {
                k: v for k, v in prev_segs.items() if not covered(k)
            }
            segments.update(
                _write_segments(
                    path, touched,
                    stats=_collect_stats(path, touched, prev_stats),
                )
            )
            # Emptied scoped dirs simply drop out: they are covered
            # (not carried) and the walk found no files to segment.
            # Carried files were retained by the commit that first
            # listed them (inductively), so only the walked files can
            # need links.
            to_link = touched
        else:
            # Full walk: every on-disk data file is live.
            listed = _walk_data_files(path)
            to_link = listed
            segments = _write_segments(
                path, listed, stats=_collect_stats(path, listed, prev_stats)
            )
        retain = _retain_dir(path)
        for rel, _size in to_link:
            dst = os.path.join(retain, rel)
            if os.path.exists(dst):
                continue  # part names are job-unique: same rel == same bytes
            parent = os.path.dirname(dst)
            if parent:
                os.makedirs(parent, exist_ok=True)
            src = os.path.join(path, rel)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback
        n = (head if head is not None else 0) + 1
        prev_entry = _load_entry(path, head) if head is not None else None
        entry = {
            "version": n,
            "segments": segments,
            "schema": _version_schema(path, prev_entry, segments, schema),
        }
        if head is not None:
            # Deletion-vector carry: a directory whose segment NAME is
            # unchanged (content-addressed — identical file list) was
            # untouched by this commit, so its DVs still apply. A
            # changed/new segment means a writer REWROTE the directory
            # — and every engine writer rewrites from a post-DV read
            # (read_version / read_live / _read_and_evolve), so the
            # delete is materialized in the new files and the DV must
            # drop, or re-inserted keys would be wrongly hidden.
            prev_dv = _entry_dv(prev_entry)
            if prev_dv:
                prev_segs = _entry_segments(path, prev_entry)
                dv_carry = {}
                for k, names in prev_dv.items():
                    if k not in segments:
                        continue  # directory deleted: nothing to hide
                    if segments[k] == prev_segs.get(k):
                        dv_carry[k] = names
                        continue
                    # Segment changed → the DV drops, on the
                    # convention that every engine writer REWRITES a
                    # covered directory from a post-DV read. Tripwire:
                    # an APPEND-style commit that
                    # kept old files plus new ones would also change
                    # the content-addressed segment — dropping the DV
                    # then resurrects the deleted rows still sitting
                    # in the kept files, with no diagnostic. Assert
                    # the new segment shares no files with the old
                    # one (a true rewrite); O(files in changed
                    # covered dirs) only.
                    old_seg = prev_segs.get(k)
                    if old_seg is None:
                        continue
                    shared = {
                        rel for rel, _ in _segment_files(path, old_seg)
                    } & {rel for rel, _ in _segment_files(path, segments[k])}
                    if shared:
                        raise ValueError(
                            f"{path}: commit keeps {len(shared)} file(s) "
                            f"of DV-covered directory {k!r} while adding "
                            "new ones — an append to a covered directory "
                            "would drop its deletion vector and resurrect "
                            "the deleted rows still present in the kept "
                            "files. Rewrite the directory from a post-DV "
                            f"read instead (e.g. {sorted(shared)[:3]})"
                        )
                if dv_carry:
                    entry["dv"] = dv_carry
        if batch_id is not None:
            entry["batch_id"] = str(batch_id)
        _log(path).append(n, entry, batch_id)
        # O(dirs) reuse stamp for the multi-table coordinator — written
        # only when the pre-listing fingerprint is still exactly
        # current, so the stamp describes precisely the tree this entry
        # listed; any interleaved write (its dir mtime >= the pre-scan
        # probe tick > every recorded value) voids it and the stale
        # stamp is dropped instead (fallback walk — never a wrong reuse).
        if stamp_fp is not None and dir_fingerprint(path) == stamp_fp:
            _write_dirstamp(path, stamp_fp)
        else:
            _drop_dirstamp(path)
        return n


def prelink_retained(path: str) -> int:
    """Best-effort, LOCK-FREE pre-linking of the live tree into the
    retention mirror (no-op for an unversioned table). Linking
    is idempotent and additive — a pre-linked file that a later write
    supersedes is just an unreferenced link vacuum sweeps — so this
    can run with no lock at all. Multi-table commits
    (operators/whlog.py) call it BEFORE taking every member's lock,
    shrinking the all-locks-held window to the listing delta + entry
    writes instead of a full first-commit link pass.
    Returns the number of files linked."""
    if not snapshot_enabled(path):
        return 0
    retain = _retain_dir(path)
    n = 0
    for rel, _size in _walk_data_files(path):
        dst = os.path.join(retain, rel)
        if os.path.exists(dst):
            continue
        parent = os.path.dirname(dst)
        if parent:
            os.makedirs(parent, exist_ok=True)
        src = os.path.join(path, rel)
        try:
            os.link(src, dst)
        except OSError:
            try:
                shutil.copy2(src, dst)
            except OSError:
                continue  # vanished mid-walk; the locked commit decides
        n += 1
    return n


def pinned_versions(path: str) -> set[int]:
    """Versions currently pinned by live readers (vacuum keeps them)."""
    try:
        names = os.listdir(_log_dir(path))
    except OSError:
        return set()
    out: set[int] = set()
    for n in names:
        if n.startswith("pin_"):
            try:
                out.add(int(n.split("_")[1]))
            except (IndexError, ValueError):
                continue
    return out


@contextmanager
def pinned_version(path: str, version: int):
    """Hold version ``version`` against vacuum for the block's
    duration. Taken under the dataset lock, so it serializes with any
    concurrent :func:`vacuum_versions`: either the pin lands first and
    the vacuum keeps the version, or the vacuum already dropped it and
    this raises ``ValueError`` deterministically BEFORE the reader
    touches any file — never a mid-scan FileNotFound. Yields the
    pinned version number. Pins are advisory files named with
    pid+nonce, so a crashed reader's stale pin is diagnosable (and
    removable) by an operator without ambiguity."""
    with dataset_lock(path):
        if version not in versions(path):
            raise ValueError(
                f"{path}: cannot pin version {version} — not in log "
                "(already vacuumed?)"
            )
        pin = os.path.join(
            _log_dir(path),
            f"pin_{version:06d}_{os.getpid()}_{os.urandom(4).hex()}",
        )
        with open(pin, "w") as f:
            f.write(f"{os.getpid()}\n")
    try:
        yield version
    finally:
        try:
            os.unlink(pin)
        except OSError:
            pass


def version_as_of(path: str, ts) -> int:
    """TIMESTAMP AS OF resolution: the newest committed version
    whose entry landed at or before ``ts`` — the second travel axis
    every Delta/Iceberg console exposes next to ``VERSION AS OF``.
    ``ts`` is a ``datetime`` or an ISO-8601 string; NAIVE values are
    UTC (the engine pins every session to UTC — session.py). Entry
    commit times are the entry files' own mtimes (entries land once
    atomically and are never modified, so the mtime IS the commit
    instant; ``clone_table`` copies them with copy2, preserving
    history times). Resolution walks BACKWARD from the checkpoint
    head — O(versions newer than ts), never a log listing — and stops
    at the vacuum horizon: a timestamp older than the earliest
    retained entry raises (the state no longer exists; pinned islands
    below a vacuumed gap are unreachable by timestamp — address those
    by version number)."""
    import datetime as _dt

    if isinstance(ts, str):
        t = _dt.datetime.fromisoformat(ts)
    elif isinstance(ts, _dt.datetime):
        t = ts
    else:
        raise TypeError(
            f"as_of expects a datetime or ISO-8601 string, got {type(ts)}"
        )
    if t.tzinfo is None:
        t = t.replace(tzinfo=_dt.timezone.utc)
    epoch_ns = int(t.timestamp() * 1_000_000_000)
    head = head_version(path)
    if head is None:
        raise ValueError(f"{path}: no committed versions")
    v = head
    while v >= 1:
        try:
            st = os.stat(_log(path).path(v))
        except OSError:
            break  # below the vacuum horizon
        if st.st_mtime_ns <= epoch_ns:
            return v
        v -= 1
    raise ValueError(
        f"{path}: no retained version committed at or before {ts} — "
        "the earliest retained entry is newer (or the state was "
        "vacuumed); travel by version number for pinned islands"
    )


def read_version(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of=None,
) -> DataFrame:
    """The dataset AS OF ``version`` (default: latest). Reads the
    version's file list from the retention mirror only — no lock, no
    dependence on what concurrent writers are doing to the live tree.
    Partition columns come back via Spark's partition discovery
    (``basePath`` = the mirror, which replicates the hive layout).
    ``as_of`` (datetime / ISO string, mutually exclusive with
    ``version``) travels by TIMESTAMP instead — see
    :func:`version_as_of`.

    Isolation: immune to concurrent upserts/compactions (they never
    modify retained inodes), NOT to a concurrent vacuum that drops
    this version — long reads that may overlap a vacuum should wrap
    in :func:`pinned_version`.
    """
    if as_of is not None:
        if version is not None:
            raise ValueError("pass either version or as_of, not both")
        version = version_as_of(path, as_of)
    version, files, base = _resolve_version(path, version)
    rels = [rel for rel, _ in files]
    entry = _load_entry(path, version)
    schema = _entry_schema(path, entry)
    dv = _entry_dv(entry)
    if dv:
        return _read_files_with_dv(spark, path, base, rels, dv, schema)
    return _read_retained(spark, base, rels, schema)


def read_live(spark: SparkSession, path: str) -> DataFrame:
    """The table's CURRENT logical content: a raw directory read, or the
    HEAD version when it carries DELETION VECTORS, whose live files
    still physically hold the DV-deleted rows. Every engine read of a
    possibly-DV table must go through this (or read_version directly)."""
    if head_dv(path):
        return read_version(spark, path)
    return spark.read.parquet(path)


def diff_versions(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """The CDC feed that transforms version ``v_from`` into ``v_to``:
    rows with ``op='U'`` (insert-or-replace by key) and
    ``op='D'`` (tombstones carrying the OLD row's values — including
    its partition columns, so :func:`~weatherflow_spark.operators.
    upsert.apply_changes` can prune to the touched partitions, the
    standard CDC contract). Applying the feed to a copy of ``v_from``
    reconstructs ``v_to`` exactly — the round-trip law the version-diff
    certification query pins through real writes.

    Semantics are multiset-exact, not hash-approximate: U = the rows
    of ``v_to`` minus (exceptAll) the rows of ``v_from`` — new keys
    and changed rows both land here with their NEW values; D = keys
    present in ``v_from`` but absent from ``v_to`` (a LEFT ANTI on
    the key). Both are single co-partitioned exchanges; at 100 TB
    this is the canonical two-shuffle diff, and because versions read
    from the retention mirror the live table is never touched —
    change feeds can be derived long after the fact, between ANY two
    retained versions, which the reference's overwrite-in-place
    warehouse fundamentally cannot do (dags/utils/database.py:25-34).
    """
    b = read_version(spark, path, v_to)
    a = read_version(spark, path, v_from)
    # Schema evolution between the versions: the feed's schema
    # is v_to's. A column ADDED after v_from reads back only on the b
    # side — align a with NULLs (exactly what the evolved rows held),
    # or the projection would raise / silently drop it.
    # A column DROPPED after v_from (external rewrite; the engine's
    # own upserts never drop) is simply projected away: padding b
    # with NULLs instead would make EVERY v_to row differ from its
    # v_from image and explode U to the whole table.
    b_types = dict(b.dtypes)
    for c in b.columns:
        if c not in a.columns:
            a = a.withColumn(c, F.lit(None).cast(b_types[c]))
    a = a.select(*b.columns)
    u = b.exceptAll(a).withColumn("op", F.lit("U"))
    # NULL-key rows: the engine's own writers refuse NULL keys, but a
    # version diff can run over externally written tables. A plain
    # `on=key_cols` anti-join is null-UNSAFE — an unchanged NULL-key
    # row in v_from would never match itself in v_to and would emit a
    # spurious tombstone every diff, breaking the round-trip law.
    # eqNullSafe conditions make NULL = NULL for the key
    # match; exceptAll on the U side is already null-safe (set
    # semantics treat NULLs as equal).
    keys_b = b.select(*key_cols).distinct()
    cond = None
    for k in key_cols:
        eq = a[k].eqNullSafe(keys_b[k])
        cond = eq if cond is None else (cond & eq)
    d = a.join(keys_b, cond, "left_anti").withColumn("op", F.lit("D"))
    return u.unionByName(d)


def clone_table(src: str, dst: str, with_history: bool = False) -> int:
    """Zero-copy table clone (the Delta SHALLOW CLONE shape on
    plain parquet): hard-link every data file of ``src`` into ``dst``
    (``copy2`` fallback across devices) — no bytes move, the clone is
    ready in O(files) metadata time at any table size. Safe to
    diverge both ways because every writer in this engine REPLACES
    files (dynamic overwrite, compaction swap, full overwrite) and
    never modifies an inode in place: an upsert into the clone
    unlinks the clone's name for a replaced file while the source's
    name keeps the original inode, and vice versa.

    The clone starts with FRESH sibling state — no lock, no partition
    versions, no snapshot log carried over (they describe the
    source's history, not the clone's). ``with_history=True`` opts
    the clone into its own snapshot log seeded with the cloned state
    as version 1. Returns the number of files linked. Refuses a
    non-empty destination (clone is a create, not a merge)."""
    import errno

    if not os.path.isdir(src):
        raise ValueError(f"{src}: no such table to clone")
    if os.path.exists(dst) and not os.path.isdir(dst):
        raise ValueError(f"{dst}: destination exists and is not a directory")
    n = 0
    # Lock BOTH sides, in sorted-path order (two concurrent clones in
    # opposite directions otherwise deadlock): the source lock makes
    # the linked file set one consistent commit (no upsert can swap
    # files mid-walk), the destination lock closes the TOCTOU between
    # the emptiness check and the link loop (two clones into the same
    # dst would otherwise interleave into a silently mixed table).
    first, second = sorted([src.rstrip("/"), dst.rstrip("/")])
    with dataset_lock(first), dataset_lock(second):
        if os.path.isdir(dst) and any(
            not nme.startswith(("_", ".")) for nme in os.listdir(dst)
        ):
            raise ValueError(f"{dst}: destination exists and is non-empty")
        # Stale sibling state from a previously DROPPED table at dst
        # (rmtree removes the data dir, never the siblings) would
        # graft the dead table's history, retention files, and CAS
        # counters onto the clone — versions would continue from the
        # dead table's max and read_version would serve its data. The
        # data dir is empty here, so those siblings are
        # definitionally orphaned: clear them.
        shutil.rmtree(_log_dir(dst), ignore_errors=True)
        shutil.rmtree(_retain_dir(dst), ignore_errors=True)
        try:
            os.unlink(dst.rstrip("/") + ".__versions.json")
        except OSError:
            pass
        if head_dv(src):
            # A file-level clone of a table with live deletion vectors
            # would resurrect every DV-deleted row (the files still
            # hold them physically). Folding DVs is a rewrite — the
            # opposite of a zero-copy clone — so refuse and point at
            # the fold instead of silently linking deleted data.
            raise ValueError(
                f"{src}: head version carries deletion vectors — fold "
                "them first (compact_partitions rewrites covered "
                "partitions), then clone"
            )
        for rel, _size in _walk_data_files(src):
            d = os.path.join(dst, rel)
            parent = os.path.dirname(d)
            if parent:
                os.makedirs(parent, exist_ok=True)
            try:
                os.link(os.path.join(src, rel), d)
            except OSError as exc:
                # Only the documented cross-device fallback degrades
                # to a physical copy; anything else (permissions, a
                # colliding name) must raise, not silently copy over.
                if exc.errno != errno.EXDEV:
                    raise
                shutil.copy2(os.path.join(src, rel), d)
            n += 1
    if with_history:
        init_snapshot_log(dst)
        record_commit(dst)
    return n


def export_change_feed(
    spark: SparkSession, path: str, feed_dir: str, key_cols: list[str]
) -> list[int]:
    """Materialize the dataset's CHANGE DATA FEED (the Delta CDF
    shape re-derived): one ``change_version=N`` partition per
    committed version, holding the U/D feed that transforms N-1 into
    N (:func:`diff_versions`); version 1 (the seed) exports as
    all-'U' inserts. Incremental and idempotent: versions whose
    partition already exists are skipped, so a scheduler can call
    this after every commit and only pay for the new versions.
    Returns the newly exported version numbers.

    The feed directory is a plain parquet table partitioned by
    ``change_version`` — which makes it STREAM-CONSUMABLE: a
    ``spark.readStream.parquet(feed_dir)`` sees each export as new
    files and delivers downstream exactly the committed changes, with
    checkpoint continuity across export rounds (tested). This is how
    a 100 TB pipeline fans out CDC to many consumers without each of
    them diffing versions themselves: diff once at the source, stream
    the materialized feed. Derivable only while the source versions
    are retained — export before vacuum, which
    ``vacuum_versions(require_exported=feed_dir)`` enforces.

    Seed rule: the seed is the FIRST RETAINED version,
    not literally version 1 — on a vacuumed table a fresh feed
    bootstraps from ``versions(path)[0]`` as all-'U' inserts. Two
    underivable states raise instead of exporting silently-wrong
    changes: (a) the feed already exported ``v-1`` but ``v-1`` was
    vacuumed before ``v``'s diff ran (a consumer is mid-trail and the
    exact v-1→v delta no longer exists); (b) a pinned mid-history
    version survived vacuum without its predecessor, so neither a
    diff base nor a clean seed point exists past it."""
    os.makedirs(feed_dir, exist_ok=True)
    exported = []
    # Export pointer: the feed
    # records the highest version below which EVERY retained version
    # is already exported, so a scheduled export pays O(new versions)
    # — entry-file probes — instead of an O(#versions) log listing
    # plus O(#versions) marker stats per call (~10^5/table/year at
    # the reference's cadence). Written only after a COMPLETE pass
    # (any raise propagates first), so versions at or below it can
    # never be retained-but-unexported; absent/corrupt pointer falls
    # back to the full listing (first run, feeds without one). Vacuum
    # itself legitimately keeps the full listing — it deletes the
    # history, it must see all of it.
    ptr_path = os.path.join(feed_dir, "_WF_LAST_EXPORT")
    try:
        with open(ptr_path) as f:
            ptr = int(json.load(f)["version"])
    except (OSError, ValueError, KeyError, TypeError):
        ptr = None
    log = _log(path)
    head = log.head()
    if ptr is not None and head is not None:
        # entries above the pointer probe directly (retained ⇔ the
        # entry file exists); the isfile filter also absorbs a
        # pointer lagging below the vacuum horizon
        vs = [
            v
            for v in range(ptr + 1, head + 1)
            if os.path.isfile(log.path(v))
        ]
    else:
        vs = versions(path)
    for v in vs:
        part = os.path.join(feed_dir, f"change_version={v}")
        # "already exported" means COMMITTED: a crashed partial export
        # leaves the directory (Spark creates it at job start) without
        # a completion marker, and skipping on bare isdir would drop
        # that version from the feed forever. The marker
        # is OUR OWN (written after the Spark write returns), so the
        # check keeps working when deployments suppress _SUCCESS files
        # (mapreduce.fileoutputcommitter.marksuccessfuljobs=false).
        if os.path.isfile(os.path.join(part, "_WF_EXPORTED")):
            continue
        if os.path.isfile(log.path(v - 1)):
            # retained ⇔ entry exists (the old `v-1 in vs` test, made
            # pointer-compatible: the bounded list omits versions at
            # or below the pointer, which ARE retained)
            feed = diff_versions(spark, path, v - 1, v, key_cols)
        elif not any(e < v for e in exported_feed_versions(feed_dir)):
            # Predecessor vacuumed AND the feed holds nothing earlier:
            # bootstrap here — the full snapshot as all-'U' inserts.
            # (Literal `v == 1` would make a fresh feed on any
            # vacuumed table unbootstrappable: diff_versions(v-1, v)
            # raises on the vacuumed base. A non-first
            # retained version only reaches this arm when pins left a
            # gap; seeding there is still a complete snapshot.)
            feed = read_version(spark, path, v).withColumn(
                "op", F.lit("U")
            )
        else:
            # A consumer is mid-trail (the feed exported versions
            # before v) but v's diff base was vacuumed — the exact
            # delta no longer exists, and a silent snapshot re-seed
            # would drop the intervening deletes for keyed consumers.
            raise ValueError(
                f"{path}: change feed already exported versions below "
                f"{v}, but version {v - 1} was vacuumed before version "
                f"{v}'s diff was derived — the delta up to {v} is "
                "underivable. Export before vacuuming (or vacuum with "
                "require_exported=feed_dir), or re-seed a fresh feed "
                "directory."
            )
        feed.write.mode("overwrite").parquet(part)
        # ground truth from the WRITTEN partition (footer-metadata
        # count — no second scan, no checkpoint pinning a seed-sized
        # snapshot in the block manager)
        n_rows = spark.read.parquet(part).count()
        # Schema stamp BEFORE the completion marker (a crash between
        # the two re-exports the version, never leaves a marked
        # partition without its stamp): consumers use it to fail fast
        # when an add-column evolution lands mid-stream.
        write_json_atomic(
            os.path.join(part, "_WF_SCHEMA"),
            {"version": v, "columns": feed.columns},
        )
        # The row count lets consumers detect a partially copied
        # partition (marker present, data missing: a sorted-order
        # copier lands '_WF_EXPORTED' before 'part-*'). Atomic, so the
        # marker's existence implies complete content: the export
        # skip is keyed on it, and a torn marker would disable the
        # check forever.
        write_json_atomic(
            os.path.join(part, "_WF_EXPORTED"), {"version": v, "n_rows": n_rows}
        )
        exported.append(v)
    if vs:
        # complete pass: everything retained up to the highest seen
        # version is now exported (monotone: never moves backwards)
        new_ptr = vs[-1] if ptr is None else max(ptr, vs[-1])
        write_json_atomic(ptr_path, {"version": new_ptr})
    return exported


def feed_version_rows(feed_dir: str, version: int) -> int | None:
    """The row count stamped on one exported feed version; None ONLY
    for legacy markers (bare "v\\n" content — older feeds
    keep working, partial-copy detection just can't protect them) or
    a missing marker. A marker that exists but fails to parse as
    either format RAISES: a truncated JSON marker is precisely the
    partial-copy evidence this check exists for, and mapping it to
    None would disable the guard in its own target scenario."""
    m = os.path.join(feed_dir, f"change_version={version}", "_WF_EXPORTED")
    try:
        with open(m) as f:
            raw = f.read()
    except OSError:
        return None
    try:
        return int(json.loads(raw)["n_rows"])
    except (ValueError, KeyError, TypeError):
        pass
    try:
        int(raw.strip())
        return None  # legacy marker: just the version number
    except ValueError:
        raise ValueError(
            f"{m}: unreadable export marker ({raw[:40]!r}…) — "
            "truncated/partially copied feed; re-export or re-copy"
        )


def feed_version_columns(feed_dir: str, version: int) -> list[str] | None:
    """The column list stamped on one exported feed version, or None
    for pre-stamp exports (older feeds keep working; the guard just
    can't protect them)."""
    stmp = os.path.join(
        feed_dir, f"change_version={version}", "_WF_SCHEMA"
    )
    try:
        with open(stmp) as f:
            return list(json.load(f)["columns"])
    except (OSError, ValueError, KeyError):
        return None


def check_feed_schema(feed_dir: str, consumer_columns, versions_in_batch=None):
    """Fail fast when the feed evolved past a consumer's pinned
    schema: a parquet file stream FIXES its schema
    at start, so an add-column evolution exported after the
    consumer started would be SILENTLY DROPPED from every micro-batch
    until restart — for a CDC consumer that means writing rows with
    the new column nulled while believing it replicated them.

    Compares the columns stamped on exported versions (all of them,
    or just ``versions_in_batch`` for the per-micro-batch form)
    against ``consumer_columns`` and raises naming the missing
    columns. Call it (a) before starting a consumer with an explicit
    ``schema=`` — read_change_feed does this automatically — and
    (b) inside the consumer's foreachBatch with the batch's
    ``change_version`` values, which is what makes a RUNNING consumer
    fail fast instead of silently dropping (the stamp reads are a few
    tiny json files per batch)."""
    have = {c for c in consumer_columns}
    vs = (
        sorted(exported_feed_versions(feed_dir))
        if versions_in_batch is None
        else sorted(set(versions_in_batch))
    )
    for v in vs:
        cols = feed_version_columns(feed_dir, v)
        if cols is None:
            continue
        missing = [c for c in cols if c not in have]
        if missing:
            raise ValueError(
                f"{feed_dir}: change_version={v} carries column(s) "
                f"{missing} absent from the consumer's pinned schema "
                f"{sorted(have)} — the source table's schema evolved "
                "after this consumer started; restart the consumer "
                "(or start it with a schema that includes the column)"
            )


def exported_feed_versions(feed_dir: str) -> set[int]:
    """Versions whose change-feed partition is COMMITTED in
    ``feed_dir`` (``_WF_EXPORTED`` marker present — bare directories
    left by crashed exports don't count)."""
    out: set[int] = set()
    try:
        names = os.listdir(feed_dir)
    except OSError:
        return out
    for n in names:
        if not n.startswith("change_version="):
            continue
        if os.path.isfile(os.path.join(feed_dir, n, "_WF_EXPORTED")):
            try:
                out.add(int(n.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def read_change_feed(
    spark: SparkSession,
    feed_dir: str,
    streaming: bool = False,
    schema=None,
) -> DataFrame:
    """The materialized change feed (``change_version`` recovered by
    partition discovery; footers schema-merged, so evolved columns
    survive heterogeneous per-version partitions). ``streaming=True``
    returns a file-source stream over the same directory — new
    exports arrive as micro-batches with checkpoint continuity.

    A streaming consumer that starts BEFORE the first export must
    pass ``schema`` explicitly (a file stream needs one and an empty
    directory can't be probed); without it, an empty feed raises a
    clear error instead of Spark's opaque inference failure.

    Schema-PIN caveat: a file stream fixes its schema at
    start — an add-column evolution exported AFTER the consumer
    started will not appear in its micro-batches until the consumer
    restarts (or was started with a ``schema`` that already includes
    the column). The batch form schema-merges live. Two guards close
    the silent-drop window: at start, the pinned
    schema is validated against every exported version's stamp
    (:func:`check_feed_schema` — an explicit ``schema=`` lacking an
    already-exported column raises here instead of nulling it
    forever); mid-stream, the consumer's foreachBatch should call
    ``check_feed_schema(feed_dir, batch.columns, versions_in_batch)``
    so a post-start evolution fails fast at the next micro-batch."""
    if streaming:
        if schema is None:
            try:
                schema = (
                    spark.read.option("basePath", feed_dir)
                    .option("mergeSchema", "true")
                    .parquet(feed_dir)
                    .schema
                )
            except Exception as exc:
                raise ValueError(
                    f"{feed_dir}: no exported changes to probe a schema "
                    "from — pass schema= to start a consumer before the "
                    "first export_change_feed run"
                ) from exc
        check_feed_schema(
            feed_dir, [f.name for f in schema.fields] + ["change_version"]
        )
        return (
            spark.readStream.schema(schema)
            .option("basePath", feed_dir)
            .option("mergeSchema", "true")
            .parquet(feed_dir)
        )
    return (
        spark.read.option("basePath", feed_dir)
        .option("mergeSchema", "true")
        .parquet(feed_dir)
    )


def vacuum_versions(
    path: str,
    keep_last: int = 1,
    require_exported: str | None = None,
    keep_versions: set[int] | None = None,
    dry_run: bool = False,
    allowed_drop: set[int] | None = None,
) -> dict[str, int]:
    """Bound history: keep only the newest ``keep_last`` versions'
    log entries — plus every version a live reader holds pinned via
    :func:`pinned_version` (runs under the same dataset lock as the
    pin-take, so a pin can never race past this decision) — and
    unlink retained files referenced by NO surviving version. Never
    touches live data files. Returns counts for the caller's log line
    (``{"dropped_versions": d, "removed_files": r}``).

    ``require_exported`` (a change-feed directory) interlocks vacuum
    with :func:`export_change_feed`: dropping a
    version whose diff was never exported destroys the CDC trail
    forever — and dropping version v also destroys v+1's DIFF BASE,
    so v is only droppable once v's own partition AND v+1's are both
    committed in the feed (v+1's diff can never be derived again
    otherwise). Vacuum raises, dropping nothing, when any candidate
    fails that check — run ``export_change_feed`` first.

    ``keep_versions`` is an EXTRA keep-set beyond ``keep_last`` and
    the pins — the hook warehouse-level vacuum uses to protect every
    version a retained logical load still references
    (:func:`~weatherflow_spark.operators.whlog.vacuum_warehouse`).

    ``dry_run`` runs the FULL decision logic — including the
    ``require_exported`` refusal — but mutates nothing and returns
    ``removed_files=0`` plus the decided ``drop`` list; the warehouse
    vacuum pre-flights every member with it so a multi-table vacuum
    either proceeds everywhere or refuses before touching any member.
    ``allowed_drop`` CAPS the drop set to a previously decided
    one — pin releases are lock-free, so between a dry run and the
    real run the computed drop set can GROW past what was checked;
    capping makes the real run drop at most what the pre-flight
    cleared (anything newly droppable waits for the next vacuum).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    with dataset_lock(path):
        vs = versions(path)
        pinned = pinned_versions(path)
        if keep_versions:
            pinned = pinned | set(keep_versions)
        drop = [v for v in vs[:-keep_last] if v not in pinned]
        if allowed_drop is not None:
            drop = [v for v in drop if v in allowed_drop]
        if require_exported is not None and drop:
            exported = exported_feed_versions(require_exported)
            # v+1's base-check applies only while v+1 is itself still
            # in the log: a predecessor of an already-dropped version
            # can't protect a diff that is already underivable.
            unsafe = [
                v
                for v in drop
                if v not in exported
                or (v + 1 in vs and v + 1 not in exported)
            ]
            if unsafe:
                raise ValueError(
                    f"{path}: refusing to vacuum {len(unsafe)} version(s) "
                    f"({unsafe[:5]}{'…' if len(unsafe) > 5 else ''}) whose "
                    "change feed is not fully exported to "
                    f"{require_exported} (a version is droppable only "
                    "when its own diff AND its successor's are both "
                    "committed in the feed) — run export_change_feed "
                    "first"
                )
        if dry_run:
            return {
                "dropped_versions": len(drop),
                "removed_files": 0,
                "drop": list(drop),
            }
        keep = [v for v in vs if v not in drop]
        referenced: set[str] = set()
        referenced_segs: set[str] = set()
        referenced_dv: set[str] = set()
        referenced_schemas: set[str] = set()
        for v in keep:
            entry = _load_entry(path, v)
            referenced_segs.update(_entry_segments(path, entry).values())
            referenced_schemas.add(entry.get("schema"))
            referenced.update(rel for rel, _ in entry_files(path, v))
            for names in _entry_dv(entry).values():
                referenced_dv.update(names)
        # Replay protection intentionally ends with retention (see
        # committed_batch_version).
        _log(path).drop(drop, keep)
        # GC segment and schema files no surviving entry references
        # (dropped versions' exclusive ones, plus orphans from crashed
        # commits — a file written before its entry's rename is
        # garbage by definition). Runs under the same dataset lock as
        # every committer, so an in-flight commit can't lose its
        # not-yet-referenced files.
        for d, live in (
            (_seg_dir(path), referenced_segs),
            (_schema_dir(path), referenced_schemas),
        ):
            try:
                names = os.listdir(d)
            except OSError:
                continue
            for nme in names:
                if nme.endswith(".json") and nme not in live:
                    try:
                        os.unlink(os.path.join(d, nme))
                    except OSError:
                        pass
        # GC deletion-vector datasets no surviving entry references
        # (folded by a later rewrite/compaction, or orphaned by a
        # crashed delete). Same lock as the committers, so an
        # in-flight DV delete can't lose its not-yet-referenced keys.
        try:
            for nme in os.listdir(_dv_dir(path)):
                if nme not in referenced_dv:
                    shutil.rmtree(
                        os.path.join(_dv_dir(path), nme),
                        ignore_errors=True,
                    )
        except OSError:
            pass
        removed = 0
        gc_root = _retain_dir(path)
        for root, _, files in os.walk(gc_root, topdown=False):
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # markers/CRCs are not data files
                full = os.path.join(root, f)
                if os.path.relpath(full, gc_root) not in referenced:
                    try:
                        os.unlink(full)
                        removed += 1
                    except OSError:
                        pass
            if root != gc_root and not os.listdir(root):
                os.rmdir(root)
        return {"dropped_versions": len(drop), "removed_files": removed}


def table_status(path: str) -> dict:
    """DESCRIBE DETAIL for a versioned table: one metadata-only
    call an operator runs before deciding maintenance — no Spark job,
    no data reads, O(head entry) I/O. Returns::

        {"versioned": bool, "head_version": int|None, "n_versions": int,
         "files": int, "bytes": int, "partitions": int,
         "dv_dirs": int, "dv_files": int,        # live deletion vectors
         "stats_columns": [...], "pinned_versions": [...],
         "checkpoint_fresh": bool}               # pointer == listed head

    ``dv_dirs`` > 0 means reads of those directories pay the
    merge-on-read anti-join until the next compaction folds them —
    the signal ``maintain_warehouse``-style schedulers act on.
    ``checkpoint_fresh`` False means head reads fall back to an
    O(#versions) listing (a log without a pointer, or a crashed
    commit) — the next
    commit or vacuum heals it. ``n_versions`` is the one O(#versions)
    listing in here, acceptable for an explicitly diagnostic call."""
    if not snapshot_enabled(path):
        return {"versioned": False, "head_version": None}
    vs = versions(path)
    head = vs[-1] if vs else None
    out: dict = {
        "versioned": True,
        "head_version": head,
        "n_versions": len(vs),
        "files": 0,
        "bytes": 0,
        "partitions": 0,
        "dv_dirs": 0,
        "dv_files": 0,
        "stats_columns": stats_columns(path),
        "pinned_versions": sorted(pinned_versions(path)),
        "checkpoint_fresh": False,
    }
    if head is None:
        return out
    entry = _load_entry(path, head)
    files = entry_files(path, head)
    dv = _entry_dv(entry)
    out["files"] = len(files)
    out["bytes"] = sum(max(int(sz), 0) for _, sz in files)
    out["partitions"] = len(
        {d for d in (_seg_key(rel) for rel, _ in files) if d}
    )
    out["dv_dirs"] = len(dv)
    out["dv_files"] = len({n for names in dv.values() for n in names})
    out["checkpoint_fresh"] = _log(path).pointed() == head
    return out


def _interval_depth(ivals: list[tuple]) -> tuple[int, int]:
    """(max_depth, overlapping_pairs) of closed intervals via an
    endpoint sweep — starts sort before ends at equal value, so two
    files touching at one value count as overlapping (a point query
    at it opens both)."""
    events = []
    for lo, hi in ivals:
        events.append((lo, 0))  # start
        events.append((hi, 1))  # end
    events.sort(key=lambda e: (e[0], e[1]))
    depth = max_depth = pairs = 0
    for _val, kind in events:
        if kind == 0:
            pairs += depth  # this start overlaps every active file
            depth += 1
            max_depth = max(max_depth, depth)
        else:
            depth -= 1
    return max_depth, pairs


def segment_stats(path: str, name: str) -> dict[str, dict]:
    """rel → {col: [min, max]} recorded inside ONE segment — the
    per-partition slice of the zone maps (the clustering-decay
    planner's input)."""
    try:
        with open(os.path.join(_seg_dir(path), name)) as f:
            return json.load(f).get("stats", {})
    except (OSError, ValueError):
        return {}


def clustering_status(
    path: str, cols: list[str], version: int | None = None
) -> dict:
    """Clustering-health diagnostic (the operator question the
    range and Z-order layouts leave open: *has append traffic decayed my
    range/Morton clustering enough that file skipping stopped
    paying, i.e. is it time to re-cluster?*). Pure metadata — one
    entry read plus the already-recorded per-file zone maps, no Spark
    job, no data I/O — so a scheduler can run it every maintenance
    cadence at any table count. Returns::

        {"version": v, "files_total": n, "columns": {col: {
            "files_with_stats": k,
            "max_overlap_depth": d,   # most files any point query opens
            "overlap_fraction": f,    # intersecting pairs / all pairs
            "disjoint": d <= 1,       # perfect range clustering
        }}}

    Metrics group intervals WITHIN each partition directory and
    report the worst directory (a partitioned table's every partition
    legitimately spans the sort column's domain — cross-directory
    overlap is partition pruning's job); unpartitioned and Morton
    tables have one group. Interpretation is the caller's policy,
    because healthy depends on the layout: a range-clustered table (repartitionByRange +
    sort_col compaction) is healthy at ``disjoint`` — any decay means
    appends landed overlapping files and a ``compact(sort_col=...)``
    restores pruning; a two-column Morton table is NOT per-axis
    disjoint by design (an 8×8 z-grid shows depth ~√n per axis), so
    compare depth against ~√files_with_stats and re-Z via
    ``compact(zorder=...)`` when it drifts toward n. Closed-interval
    semantics: two files touching at one value both open for a point
    query at it, so they count as overlapping. Files with no recorded
    stats for a column are excluded from that column's metrics (they
    are never pruned either way); a column nobody recorded stats for
    reports zeros rather than raising — like pruning itself, the
    diagnostic is an optimization surface, not a correctness one."""
    version, files, _base = _resolve_version(path, version)
    entry = _load_entry(path, version)
    stats = _entry_stats(path, entry)
    out_cols: dict[str, dict] = {}
    for c in cols:
        # group intervals WITHIN each partition directory: on a
        # partitioned table every partition legitimately spans the
        # sort column's whole domain (cross-directory overlap is
        # partition pruning's job, not the sort column's), so the
        # actionable decay signal is the worst per-directory depth —
        # exactly the unit compact_partitions(recluster=True) repairs.
        # Unpartitioned and Morton tables have one group (the root).
        by_dir: dict[str, list[tuple]] = {}
        for rel, _sz in files:
            s = stats.get(rel, {}).get(c)
            if s is None:
                continue
            lo, hi = _scan_cmp_key(s[0]), _scan_cmp_key(s[1])
            by_dir.setdefault(_seg_key(rel), []).append((lo, hi))
        n = sum(len(v) for v in by_dir.values())
        if n == 0:
            out_cols[c] = {
                "files_with_stats": 0, "max_overlap_depth": 0,
                "overlap_fraction": 0.0, "disjoint": True,
            }
            continue
        max_depth = pairs = all_pairs = 0
        for ivals in by_dir.values():
            d, p = _interval_depth(ivals)
            max_depth = max(max_depth, d)
            pairs += p
            all_pairs += len(ivals) * (len(ivals) - 1) // 2
        out_cols[c] = {
            "files_with_stats": n,
            "max_overlap_depth": max_depth,
            "overlap_fraction": (
                round(pairs / all_pairs, 6) if all_pairs else 0.0
            ),
            "disjoint": max_depth <= 1,
        }
    return {
        "version": version,
        "files_total": len(files),
        "columns": out_cols,
    }


def table_history(path: str, limit: int = 20) -> list[dict]:
    """DESCRIBE HISTORY for a versioned table: the last
    ``limit`` versions' metadata, newest first — the audit view an
    operator reads before a RESTORE or vacuum decision. BOUNDED I/O
    by construction: resolves the head through the checkpoint pointer
    and walks BACKWARD at most ``limit`` entries (entries are
    gap-free above the vacuum horizon, so the walk stops at the first
    missing predecessor) — never the O(#versions) full listing
    ``versions()`` pays. Per version::

        {"version": v, "committed_at": iso-utc, "files": n,
         "bytes": b, "partitions": p, "dv_dirs": d,
         "batch_id": str|None}

    ``committed_at`` is the entry file's mtime — entries land once
    atomically and are never modified (the same clock
    ``version_as_of`` travels by)."""
    import datetime as _dt

    if not snapshot_enabled(path):
        return []
    head = head_version(path)
    if head is None:
        return []
    out: list[dict] = []
    v = head
    while v >= 1 and len(out) < max(1, limit):
        try:
            st = os.stat(_log(path).path(v))
            entry = _load_entry(path, v)
        except (OSError, ValueError):
            break  # vacuum horizon: older history is gone
        files = entry_files(path, v)
        dv = _entry_dv(entry)
        out.append({
            "version": v,
            "committed_at": _dt.datetime.fromtimestamp(
                st.st_mtime, _dt.timezone.utc
            ).isoformat(),
            "files": len(files),
            "bytes": sum(max(int(sz), 0) for _, sz in files),
            "partitions": len(
                {d for d in (_seg_key(rel) for rel, _ in files) if d}
            ),
            "dv_dirs": len(dv),
            "batch_id": entry.get("batch_id"),
        })
        v -= 1
    return out
