"""Concurrent-writer safety for non-transactional parquet datasets.

Two writers race on the same dataset directory in this engine:
incremental loads (operators/upsert.py — dynamic partition overwrite,
keyed upsert) and background compaction (operators/layout.py). With
plain parquet there is no table-format transaction log, so the commit
protocol lives here:

1. **Advisory commit lock** (``dataset_lock``): every mutation of the
   dataset's file set — a load's write commit, compaction's swap —
   runs inside an exclusive advisory lock (an ``O_EXCL``-created
   ``<path>.__lock`` file; oldest-wins stale expiry so a crashed
   holder cannot wedge the dataset). The lock serializes COMMITS, not
   jobs: long read/rewrite phases run unlocked.

2. **Optimistic validate-and-swap** for compaction: compaction
   snapshots the data-file set BEFORE reading, rewrites to a sibling
   directory unlocked (loads proceed freely), then — under the lock —
   re-snapshots and swaps ONLY if the file set is unchanged. Any load
   that committed during the rewrite changes the file set (dynamic
   overwrite replaces part files; appends add them), so the swap
   aborts with ``CompactionConflict`` and nothing is lost; the caller
   simply re-runs compaction. Lost-update windows are closed by the
   lock: a load cannot commit between the validate and the swap.

This is the local/HDFS form (directory rename is atomic). On an
object store, the same two ideas become a catalog pointer swap with a
conditional-put (compare-and-set on the manifest version) — the
validate step IS the compare, the swap IS the set.

3. **Partition-version manifest**: row-level conflict detection
   for keyed content merges. Each partition carries a monotone
   version in ``<path>.__versions.json`` — a SIBLING of the dataset
   directory, like the lock file, so a full-table overwrite cannot
   wipe it and a compaction swap (directory rename) never moves it —
   bumped under the lock by every ``upsert_by_key`` / ``apply_changes``
   commit that touches it. A caller whose batch was COMPUTED from a
   read of the table passes the versions it read as
   ``expected_versions``; if any touched partition's version has
   advanced since (another writer merged content in between), the
   upsert raises :class:`UpsertConflict` BEFORE writing instead of
   silently last-writer-winning — the caller re-reads, recomputes,
   retries. This is optimistic concurrency control at partition
   granularity: the validate is the compare, the bump is the set,
   and both happen under the same lock as the write, so there is no
   window between them. (True row-granular conflict detection needs
   a table format's row lineage; partition granularity is the honest
   limit for plain parquet and is exactly what the bounded
   read-modify-write touches anyway.)

4. **Numbered logs** (:class:`NumberedLog`): the append-only JSON log
   shape the snapshot log and the warehouse load log share — numbered
   entries, a head pointer, batch-id markers — plus the one atomic
   metadata write (:func:`write_json_atomic`).
"""

from __future__ import annotations

import hashlib
import json
import os
import socket
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` via a tmp file + ``os.replace``, so a
    reader sees the old file or the complete new one, never a torn
    write."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def write_json_atomic(path: str, obj, **dump_kw) -> None:
    """:func:`write_atomic` of ``json.dumps(obj, **dump_kw)``."""
    write_atomic(path, json.dumps(obj, **dump_kw))


@dataclass(frozen=True)
class NumberedLog:
    """An append-only log of JSON entries ``<entry_prefix>NNNNNN.json``
    in ``dir``, numbered 1, 2, … without gaps above the vacuum horizon
    (dropping only ever removes a prefix).

    - ``pointer_name`` holds ``{number_key: n}``, the last appended
      number, so :meth:`head` costs one read plus a forward probe over
      entries appended since, not a listing of the whole log.
    - An entry appended with a batch id records it as ``"batch_id"``;
      a marker ``<marker_prefix>_<id>_<hash>.json`` holding
      ``{"batch_id", number_key}`` indexes it. The entry is the source
      of truth: the marker is written after it, and a marker is
      believed only while its entry exists.
    - Every batch entry at or below the pointer has its marker: the
      pointer is written after the marker, and a pointer that moves
      past entries a crash left unmarked (see :meth:`_heal_markers`)
      marks them first. So a batch id without a marker can only sit
      above the pointer, and :meth:`batch_number` scans only there."""

    dir: str
    entry_prefix: str
    pointer_name: str = ""
    number_key: str = ""
    marker_prefix: str = ""

    def path(self, n: int) -> str:
        return os.path.join(self.dir, f"{self.entry_prefix}{n:06d}.json")

    @property
    def pointer(self) -> str:
        return os.path.join(self.dir, self.pointer_name)

    def numbers(self) -> list[int]:
        """Every entry number, ascending (empty if the log is absent).
        Lists the directory: full-history callers only."""
        try:
            names = os.listdir(self.dir)
        except OSError:
            return []
        k = len(self.entry_prefix)
        out = []
        for n in names:
            if n.startswith(self.entry_prefix) and n.endswith(".json"):
                try:
                    out.append(int(n[k:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def pointed(self) -> int | None:
        """The number the head pointer holds; None if missing or
        unreadable."""
        try:
            with open(self.pointer) as f:
                return int(json.load(f)[self.number_key])
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def head(self) -> int | None:
        """The newest entry number: the pointer, then a forward probe
        (a crash between entry and pointer leaves it lagging). A
        missing or corrupt pointer, or one at a dropped entry, falls
        back to the listing."""
        n = self.pointed()
        if n is not None:
            while os.path.isfile(self.path(n + 1)):
                n += 1
            if os.path.isfile(self.path(n)):
                return n
        ns = self.numbers()
        return ns[-1] if ns else None

    def marker(self, batch_id: object) -> str:
        """The batch id's marker path: the sanitised id plus a hash of
        the raw id, because sanitising alone maps distinct ids ('8.1',
        '8_1') to one name and a replay check would then swallow a
        batch that never committed."""
        raw = str(batch_id)
        safe = "".join(c if c.isalnum() or c in "-_" else "_" for c in raw)[:40]
        digest = hashlib.sha256(raw.encode()).hexdigest()[:12]
        return os.path.join(
            self.dir, f"{self.marker_prefix}_{safe}_{digest}.json"
        )

    def _marked(self, batch_id: object) -> int | None:
        """The number the batch id's marker names, if that entry still
        exists."""
        try:
            with open(self.marker(batch_id)) as f:
                d = json.load(f)
            n = int(d[self.number_key])
        except (OSError, ValueError, KeyError, TypeError):
            return None
        if d.get("batch_id") == str(batch_id) and os.path.isfile(self.path(n)):
            return n
        return None

    def _above_pointer(self) -> list[int]:
        """The entries a pointer move has not yet covered: a forward
        probe from the pointer, or every entry when there is none."""
        n = self.pointed()
        if n is None:
            return self.numbers()
        out = []
        while os.path.isfile(self.path(n + 1)):
            n += 1
            out.append(n)
        return out

    def _read(self, n: int) -> dict | None:
        try:
            with open(self.path(n)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _heal_markers(self, upto: int) -> None:
        """Write the missing marker of every batch entry above the
        pointer and at or below ``upto``, before the pointer moves
        past them. Costs nothing when the pointer is current."""
        if not self.marker_prefix:
            return
        for n in self._above_pointer():
            if n > upto:
                break
            e = self._read(n)
            if e is None or e.get("batch_id") is None:
                continue
            if self._marked(e["batch_id"]) is None:
                write_json_atomic(
                    self.marker(e["batch_id"]),
                    {"batch_id": e["batch_id"], self.number_key: n},
                )

    def append(self, n: int, entry: dict, batch_id: object | None = None) -> None:
        """Write entry ``n``, then its batch marker, then the pointer.
        The caller holds the log's lock and sets ``entry["batch_id"]``."""
        self._heal_markers(n - 1)
        write_json_atomic(self.path(n), entry)
        if batch_id is not None:
            write_json_atomic(
                self.marker(batch_id),
                {"batch_id": str(batch_id), self.number_key: n},
            )
        write_json_atomic(self.pointer, {self.number_key: n})

    def batch_number(self, batch_id: object) -> int | None:
        """The entry a batch id committed, or None. The marker answers
        a committed id; a missing marker is only possible for an entry
        above the pointer (a crash before its marker), so only those
        entries are read. A new id costs one marker probe plus the
        forward probe, however long the log. Replay protection lasts
        exactly as long as the entry is retained."""
        n = self._marked(batch_id)
        if n is not None:
            return n
        raw = str(batch_id)
        for n in reversed(self._above_pointer()):
            e = self._read(n)
            if e is not None and e.get("batch_id") == raw:
                return n
        return None

    def drop(self, numbers: list[int], keep: list[int]) -> None:
        """Remove entries ``numbers``; ``keep`` is every entry that
        stays. Points the head pointer at ``keep[-1]`` (healing a
        lagging one and its entries' markers), removes every marker
        whose entry is not kept (strays from earlier crashes too),
        then unlinks the entries. A crash in between leaves dropped
        entries below the pointer without markers: their ids no longer
        answer, as after a completed drop. The caller holds the log's
        lock."""
        if keep:
            self._heal_markers(keep[-1])
            write_json_atomic(self.pointer, {self.number_key: keep[-1]})
        if not numbers:
            return
        kept = set(keep)
        for name in os.listdir(self.dir):
            if name.startswith(self.marker_prefix + "_") and name.endswith(".json"):
                full = os.path.join(self.dir, name)
                try:
                    with open(full) as f:
                        n = int(json.load(f)[self.number_key])
                except (OSError, ValueError, KeyError):
                    continue
                if n not in kept:
                    try:
                        os.remove(full)
                    except OSError:
                        pass
        for n in numbers:
            os.remove(self.path(n))


class CompactionConflict(RuntimeError):
    """A writer committed between compaction's read and its swap; the
    swap was aborted and the dataset is untouched. Re-run compaction."""


class DatasetLockTimeout(RuntimeError):
    """Could not acquire the dataset's advisory commit lock in time."""


class UpsertConflict(RuntimeError):
    """Compare-and-set failure: a touched partition's version advanced
    past the version the caller read, i.e. another writer merged
    content into it since this batch was computed. Nothing was
    written. Re-read the table (and ``partition_versions``), recompute
    the batch, retry."""

    def __init__(self, msg: str, stale: dict[str, tuple[int, int]]):
        super().__init__(msg)
        #: partition key → (expected version, current version)
        self.stale_partitions = stale


def _lock_path(path: str) -> str:
    return path.rstrip("/") + ".__lock"


# Per-THREAD reentrancy: a writer that takes the lock for its whole
# read-modify-write calls helpers (overwrite_partitions) that take it
# again — the inner acquisition must not deadlock on our own lock.
# Keyed by (lock path, thread ident), not lock path alone: with
# in-process multithreading (ThreadPoolExecutor dim merges in star.py
# lock DISTINCT paths, but nothing enforced that), a path-only key
# would let two threads writing the SAME dataset both pass the
# "already ours" check and enter the critical section together.
# Cross-thread same-path acquisitions now fall through to the O_EXCL
# file and block until the holder thread releases (the holder's own
# pid is alive, so the waiter never expires it as dead).
_HELD: dict[tuple[str, int], int] = {}


def lock_held_by_me(path: str) -> bool:
    """True iff the CURRENT THREAD holds the dataset lock for
    ``path`` — the assertion hook for internal helpers that require
    their caller to have locked the whole read-modify-write."""
    return _HELD.get((_lock_path(path), threading.get_ident()), 0) > 0


def _lock_token() -> str:
    """hostname + pid + nonce: identifies one ACQUISITION, not just a
    process. The hostname scopes the pid-liveness probe to this host
    (a pid is meaningless across a shared filesystem); the nonce makes
    release safe — two acquisitions by the same pid (break + retake)
    still carry distinct tokens, so a stale holder can never unlink
    the lock a successor legitimately owns."""
    return f"{socket.gethostname()} {os.getpid()} {os.urandom(8).hex()}"


def _read_token(lp: str) -> str | None:
    """The holder token recorded in the lock file (first 3 fields),
    or None if unreadable/garbled."""
    try:
        with open(lp) as f:
            parts = f.read().split()
        if len(parts) < 3:
            return None
        return " ".join(parts[:3])
    except OSError:
        return None


def _holder_alive(lp: str) -> bool:
    """Best-effort liveness of the recorded holder. The pid probe is
    only meaningful on the holder's OWN host: on a shared filesystem
    another host's live writer would look dead locally (its pid isn't
    ours to see), so for foreign hostnames we return True and let age
    — kept fresh by the holder's mtime heartbeat — be the only
    signal."""
    try:
        with open(lp) as f:
            parts = f.read().split()
        if not parts:
            return False
        # Host check BEFORE parsing the pid: a token whose second
        # field isn't an int (foreign format, pre-token writers) must
        # not fall through to "dead" — for anything not provably ours
        # the heartbeat/age is the only safe signal.
        if parts[0] != socket.gethostname():
            return True  # foreign holder: only the heartbeat can expire it
        pid = int(parts[1])
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, just not ours to signal
    except (OSError, ValueError, IndexError):
        return False


@contextmanager
def dataset_lock(path: str, timeout: float = 60.0, stale_after: float = 3600.0):
    """Exclusive (per-process reentrant) advisory lock on a dataset
    directory's COMMITS.

    Acquisition is O_EXCL file creation (atomic on POSIX and HDFS-like
    stores). The lock file records a ``hostname pid nonce`` token: the
    pid-liveness fast path applies only to same-host holders (a
    foreign host's live writer must never look dead locally), a
    heartbeat thread refreshes the file's mtime every
    ``stale_after/4`` so a live holder of ANY duration never ages
    into staleness, and release re-reads the file and unlinks only if
    the token is still ours — a broken-then-superseded holder cannot
    delete its successor's lock. A lock whose holder is provably dead
    (pid gone, same host) or older than ``stale_after`` (heartbeat
    stopped) is presumed crashed and broken ATOMICALLY: the breaker
    renames the stale file aside — rename of one source succeeds for
    exactly one waiter, so two waiters can never both
    break-and-acquire."""
    lp = _lock_path(path)
    held_key = (lp, threading.get_ident())
    if _HELD.get(held_key, 0) > 0:  # reentrant: already ours, THIS thread
        _HELD[held_key] += 1
        try:
            yield
        finally:
            _HELD[held_key] -= 1
        return
    # First-ever write: the dataset's parent may not exist yet (the
    # writer would create it) — the lock file needs it now.
    parent = os.path.dirname(lp)
    if parent:
        os.makedirs(parent, exist_ok=True)
    token = _lock_token()
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, f"{token} {time.time()}\n".encode())
            os.close(fd)
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lp)
            except OSError:
                continue  # holder released between EXISTS and stat
            if age > stale_after or (age > 1.0 and not _holder_alive(lp)):
                # Atomic break: exactly one waiter wins the rename;
                # losers hit ENOENT and loop back to O_EXCL-create.
                broken = f"{lp}.broken.{os.getpid()}.{time.monotonic_ns()}"
                try:
                    os.rename(lp, broken)
                    os.unlink(broken)
                except OSError:
                    pass
                continue
            if time.monotonic() > deadline:
                raise DatasetLockTimeout(
                    f"lock on {path} held for {age:.0f}s; timed out"
                )
            time.sleep(0.05)
    _HELD[held_key] = 1
    # Heartbeat: holders keep the lock for full Spark writes, which
    # can legitimately exceed any fixed stale_after. Refreshing mtime
    # makes staleness mean "heartbeat stopped" (crashed process /
    # lost host) instead of "write was slow".
    stop = threading.Event()

    def _beat() -> None:
        interval = max(0.5, min(stale_after / 4.0, 60.0))
        while not stop.wait(interval):
            try:
                # Verify the file still carries OUR token before each
                # refresh: a holder that resumes after its
                # stale lock was broken would otherwise refresh the
                # SUCCESSOR'S lock file mtime — if that successor then
                # crashes, its lock can't age into staleness until the
                # zombie stops beating, stalling every waiter.
                if _read_token(lp) != token:
                    return  # not ours anymore; stop beating
                now = time.time()
                os.utime(lp, (now, now))
            except OSError:
                return  # lock broken out from under us; stop beating
    beat = threading.Thread(target=_beat, daemon=True, name="wf-lock-beat")
    beat.start()
    try:
        yield
    finally:
        _HELD.pop(held_key, None)
        stop.set()
        beat.join(timeout=1.0)
        # Release ONLY our own acquisition: if a waiter broke this
        # lock as stale and re-acquired, the file now carries ITS
        # token — unlinking it would let a third writer in while two
        # are still committing (a lost-update window).
        # A name-based unlink cannot be made atomic with the token
        # read; we shrink the residual window to
        # practical zero by also requiring our heartbeat to still be
        # LIVE (fresh mtime): a holder that was suspended past
        # stale_after — the only way it can have been broken — skips
        # the unlink entirely and lets the next waiter expire the
        # file as stale instead.
        try:
            fresh = (time.time() - os.path.getmtime(lp)) < stale_after / 2
        except OSError:
            fresh = False
        if fresh and _read_token(lp) == token:
            try:
                os.unlink(lp)
            except OSError:
                pass


def dataset_snapshot(path: str) -> frozenset[tuple[str, int]]:
    """The dataset's data-file set as (relative path, size) pairs —
    the optimistic-concurrency token. Spark part files carry unique
    task UUIDs, so ANY commit (append, dynamic overwrite, upsert)
    changes this set; success/CRC markers are excluded. A file that
    vanishes between the walk and its stat (a concurrent dynamic
    overwrite) gets size -1, so the set differs from any later
    snapshot and the swap-time comparison fails — the conservative
    outcome the optimistic protocol wants."""
    from weatherflow_spark.operators.snaplog import _walk_data_files

    return frozenset(_walk_data_files(path))


# ---------------------------------------------------------------------------
# partition-version manifest — optimistic row-level conflict detection
# ---------------------------------------------------------------------------

def _manifest_path(path: str) -> str:
    # Sibling of the dataset dir (like the lock file): survives full
    # overwrites of an unpartitioned table AND compaction's directory
    # swap, and is invisible to Spark's file index by construction.
    return path.rstrip("/") + ".__versions.json"


# The characters Spark hive-escapes in partition directory names
# (ExternalCatalogUtils.escapePathName, same table as Hive's
# FileUtils): ASCII control chars plus the shell/URI-significant set.
_PATH_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\\x7f{[]^') | frozenset(
    chr(c) for c in range(1, 32)
)


def escape_path_name(s: str) -> str:
    """Spark's hive partition-value escaping (``%XX`` uppercase hex
    for each special char). ``partition_key`` routes every value
    through this so manifest keys, snapshot-log scopes, and
    emptied-partition rmtree paths all match the directory names
    Spark actually writes — a raw ``c=va:lue`` string matches nothing
    on disk and a scoped commit would silently re-record the previous
    state."""
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPE_CHARS else c for c in s
    )


def partition_key(partition_cols: list[str] | None, values: tuple) -> str:
    """Canonical manifest key for one partition — the hive directory
    form exactly as Spark writes it (``c1=v1/c2=v2``, values
    hive-escaped via :func:`escape_path_name`; NULL **and the empty
    string** → ``__HIVE_DEFAULT_PARTITION__``, matching Spark's
    getPartitionPathString, which routes both to the default
    partition — a bare ``c=`` key would match nothing on disk), or
    ``__TABLE__`` for an unpartitioned table."""
    if not partition_cols:
        return "__TABLE__"
    return "/".join(
        f"{escape_path_name(c)}="
        + (
            "__HIVE_DEFAULT_PARTITION__"
            if v is None or str(v) == ""
            else escape_path_name(str(v))
        )
        for c, v in zip(partition_cols, values)
    )


def partition_versions(path: str) -> dict[str, int]:
    """The table's current partition versions (missing manifest / new
    table → empty; absent keys mean version 0). Read this BEFORE
    computing a batch from the table's content and pass it back as
    ``expected_versions`` to get compare-and-set semantics."""
    try:
        with open(_manifest_path(path)) as f:
            data = json.load(f)
        return {str(k): int(v) for k, v in data.items()}
    except (OSError, ValueError):
        return {}


def check_and_bump_versions(
    path: str,
    touched_keys: list[str],
    expected_versions: dict[str, int] | None = None,
    *,
    bump: bool = True,
) -> None:
    """The CAS core — MUST run while holding ``dataset_lock(path)``
    (callers do; the lock is what removes the validate→write→bump
    window). With ``bump=False`` only validates (the fail-fast check
    before the merge job); with ``bump=True`` validates and advances
    every touched key, persisting the manifest atomically."""
    cur = partition_versions(path)
    if expected_versions is not None:
        stale = {
            k: (expected_versions.get(k, 0), cur.get(k, 0))
            for k in touched_keys
            if cur.get(k, 0) != expected_versions.get(k, 0)
        }
        if stale:
            raise UpsertConflict(
                f"{path}: {len(stale)} touched partition(s) changed since "
                f"the batch was computed: "
                + ", ".join(
                    f"{k} (read v{e}, now v{c})"
                    for k, (e, c) in sorted(stale.items())
                ),
                stale,
            )
    if not bump:
        return
    for k in touched_keys:
        cur[k] = cur.get(k, 0) + 1
    parent = os.path.dirname(_manifest_path(path))
    if parent:
        os.makedirs(parent, exist_ok=True)
    write_json_atomic(_manifest_path(path), cur, sort_keys=True)


def unescape_path_name(s: str) -> str:
    """Exact inverse of :func:`escape_path_name` (Spark's
    ExternalCatalogUtils.unescapePathName): every ``%XX`` hex escape
    decodes to its character; anything else passes through."""
    out = []
    i = 0
    hexd = "0123456789abcdefABCDEF"
    while i < len(s):
        c = s[i]
        # Both escape chars must be ASCII hex digits, exactly as
        # Java's Integer.parseInt(s, 16) would accept: Python's
        # int(s, 16) also tolerates whitespace/sign/unicode-digit
        # forms ('% 4', '%+4', '%٤٤') that Spark rejects, so decoding
        # them here would break the byte-exact round trip that
        # compact_partitions relies on.
        if c == "%" and i + 3 <= len(s) and s[i + 1] in hexd and s[i + 2] in hexd:
            out.append(chr(int(s[i + 1 : i + 3], 16)))
            i += 3
            continue
        out.append(c)
        i += 1
    return "".join(out)


def partition_key_values(dirkey: str) -> list[tuple[str, str | None]]:
    """Decode one hive directory key (``c1=v1/c2=v2`` as Spark wrote
    it) back to ``[(column, value), ...]`` — values unescaped, the
    default-partition marker mapped to None exactly as Spark's own
    partition read would surface it."""
    out: list[tuple[str, str | None]] = []
    for seg in dirkey.strip("/").split("/"):
        name, _, raw = seg.partition("=")
        out.append(
            (
                unescape_path_name(name),
                None
                if raw == "__HIVE_DEFAULT_PARTITION__"
                else unescape_path_name(raw),
            )
        )
    return out
