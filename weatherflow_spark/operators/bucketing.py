"""Bucketed tables: shuffle-free co-located joins (100 TB posture).

At warehouse scale the dominant cost of fact⋈fact joins (e.g.
lineitem⋈orders) is the shuffle of both sides. Writing both tables
bucketed by the join key with the same bucket count lets Spark plan a
sort-merge join with **zero Exchange**: each task reads bucket i of
both tables. This module writes and re-registers those layouts, lets
a TPC-H builder read them (:func:`layout_table`), and certifies that a
plan over them really is shuffle-free
(:func:`require_zero_shuffle_smj`). tests/test_scale_ops.py checks the
layout primitive and the adopted TPC-H family; tests/test_plan_audit.py
pins each row's join and Exchange counts.

Notes:
- Bucketing requires ``saveAsTable`` (metastore-backed); plain
  ``.parquet(path)`` writes lose bucket metadata — but the bucket id
  is ALSO encoded in each part-file name (``..._00003.c000``), which
  is what lets :func:`bucketed_warehouse` re-register the tables in a
  fresh session from the on-disk marker with a ``CREATE TABLE ...
  CLUSTERED BY ... LOCATION`` DDL instead of rewriting the data.
- Bucket count is a layout decision: pick ~(table size / 128 MB)
  rounded to a power of two, identical on both join sides. Changing
  it means rewriting the table — choose for the largest join family.
- ``spark.sql.sources.bucketing.enabled`` is on by default;
  ``bucketing.autoBucketedScan.enabled`` lets Catalyst fall back to a
  non-bucketed scan when the bucket layout doesn't help.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import re
import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

from weatherflow_spark.io import load_table

N_BUCKETS = 8  # bucket count of both standing layouts

# Columns the bucketed warehouse keeps — the orderkey join family's
# working set (Q3/Q4/Q10/Q12/Q18/Q21). A layout is a standing
# decision: add columns here rather than minting per-query layouts;
# the marker records the column spec, so a spec change triggers ONE
# rebuild and every session after that reuses the widened layout.
BW_LINEITEM_COLS = [
    "l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
    "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate",
]
BW_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
    "o_orderpriority", "o_orderstatus",
]

# The CUSTKEY join family's working set: the second standing layout —
# orders⋈customer (Q13's outer-join distribution, Q10's join-back,
# Q22's shape) shuffles both sides at every scale without it. Storage
# trade: orders is stored TWICE (once per layout, pruned to each
# family's columns) — the standard warehouse answer, documented in
# ARCHITECTURE.md.
BWC_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
    "o_orderpriority",
]
BWC_CUSTOMER_COLS = [
    "c_custkey", "c_name", "c_acctbal", "c_nationkey", "c_mktsegment",
]


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by the join
    key. Sorting within buckets additionally removes the Sort from
    sort-merge joins — the join becomes a pure streaming merge.
    ``path`` makes the table external (data at a caller-chosen
    location instead of the session warehouse dir) — scratch-backed
    certification queries use it so nothing lands in the repo's cwd."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    schema_ddl: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    n_buckets: int,
    location: str,
) -> None:
    """Re-register an EXISTING bucketed parquet directory as a catalog
    table — metadata only, zero data writes. This is what makes the
    layout durable: bucket membership is encoded in the part-file
    names (``BucketingUtils`` parses the ``_NNNNN`` suffix), so a
    fresh session only needs the DDL to plan bucket-to-bucket joins
    over files a previous session wrote."""
    if spark.catalog.tableExists(table):
        return
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) "
        f"SORTED BY ({', '.join(sort_cols)}) "
        f"INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def _bw_spec(n_buckets: int) -> dict:
    return {
        "n_buckets": n_buckets,
        "lineitem_cols": BW_LINEITEM_COLS,
        "orders_cols": BW_ORDERS_COLS,
    }


def _sf_tag(sf_dir: str) -> str:
    # Hashes realpath(sf_dir) so two scale dirs sharing a basename can
    # never alias.
    return (
        sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
        + "_"
        + hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    )


def bucketed_warehouse(
    spark: SparkSession,
    sf_dir: str,
    scratch_base: str,
    n_buckets: int = N_BUCKETS,
) -> tuple[str, str]:
    """The WAREHOUSE-ADOPTED bucketed layout: build
    lineitem and orders ONCE as co-bucketed tables (bucketBy + sortBy
    ``orderkey``, same bucket count) and return their catalog names
    ``(lineitem_table, orders_table)``. Every orderkey-join query
    routed through these tables plans its fact⋈fact join — and any
    groupBy on a superset of the orderkey — with ZERO shuffle
    Exchange; at 100 TB that shuffle is the dominant cost of the
    whole TPC-H orderkey family (module doc), paid once at layout
    time instead of per query.

    DURABLE across sessions: the build is cached per
    (scratch_base, sf_dir) on DISK — the ``_WF_BUILT`` marker records
    the layout spec (bucket count, column sets) plus both schemas, and
    a fresh process finding a valid marker RE-REGISTERS the external
    tables from it via :func:`register_bucketed` (metadata-only DDL,
    no data writes) instead of rewriting two fact tables per session.
    The tag hashes ``realpath(sf_dir)`` so two scale dirs sharing a
    basename can never alias. A spec change (new columns,
    different bucket count) invalidates the marker and rebuilds once.

    Concurrent-builder safe: the build lands in a pid-tagged sibling
    scratch and enters service via one atomic ``os.rename`` — the
    loser of a build race keeps the winner's tree and discards its
    own. Dead builders' scratch dirs are swept by pid-liveness (scratch
    is host-local, so the probe is meaningful)."""
    tag = _sf_tag(sf_dir)
    names = _standing_layout(
        spark,
        sf_dir,
        scratch_base,
        dir_name=f"bucketed_wh_{tag}",
        spec=_bw_spec(n_buckets),
        n_buckets=n_buckets,
        members=[
            {
                "name": "lineitem", "source": "lineitem",
                "table": f"wf_bw_lineitem_{tag}",
                "cols": BW_LINEITEM_COLS, "key": "l_orderkey",
            },
            {
                "name": "orders", "source": "orders",
                "table": f"wf_bw_orders_{tag}",
                "cols": BW_ORDERS_COLS, "key": "o_orderkey",
            },
        ],
    )
    return names[0], names[1]


def bucketed_warehouse_cust(
    spark: SparkSession,
    sf_dir: str,
    scratch_base: str,
    n_buckets: int = N_BUCKETS,
) -> tuple[str, str]:
    """The SECOND standing layout: orders and
    customer co-bucketed + sorted by the CUSTKEY, returned as
    ``(orders_table, customer_table)``. The custkey join family —
    Q13's customer⟕orders distribution, Q10's per-customer revenue
    join-back, Q22's account-balance shape — shuffles BOTH sides at
    every scale without it; with it the join is bucket-to-bucket and
    a groupBy on the custkey is exchange-free. Same durability /
    marker / atomic-rename machinery as :func:`bucketed_warehouse`
    (one shared implementation). Storage trade: orders is stored once
    per layout, pruned to each family's columns — documented in
    ARCHITECTURE.md; a real warehouse materializes its two or three
    hottest join layouts exactly like this."""
    tag = _sf_tag(sf_dir)
    names = _standing_layout(
        spark,
        sf_dir,
        scratch_base,
        dir_name=f"bucketed_whc_{tag}",
        spec={
            "n_buckets": n_buckets,
            "orders_cols": BWC_ORDERS_COLS,
            "customer_cols": BWC_CUSTOMER_COLS,
        },
        n_buckets=n_buckets,
        members=[
            {
                "name": "orders", "source": "orders",
                "table": f"wf_bwc_orders_{tag}",
                "cols": BWC_ORDERS_COLS, "key": "o_custkey",
            },
            {
                "name": "customer", "source": "customer",
                "table": f"wf_bwc_customer_{tag}",
                "cols": BWC_CUSTOMER_COLS, "key": "c_custkey",
            },
        ],
    )
    return names[0], names[1]


_LAYOUT_LOCKS: dict[str, threading.Lock] = {}
_LAYOUT_LOCKS_GUARD = threading.Lock()


def _layout_lock(base: str) -> threading.Lock:
    """Per-layout-path thread lock: the builder below is race-safe
    ACROSS processes (pid-tagged scratch + atomic rename) but its
    scratch names key on the pid alone, so two THREADS of one process
    (overlapped suite branches) would share a __building_ dir
    and rmtree each other mid-build; catalog DROP/CREATE of the
    durable names races the same way. Serialize per layout path —
    the loser of the race reuses the winner's marker instantly."""
    with _LAYOUT_LOCKS_GUARD:
        return _LAYOUT_LOCKS.setdefault(base, threading.Lock())


def _standing_layout(
    spark: SparkSession,
    sf_dir: str,
    scratch_base: str,
    dir_name: str,
    spec: dict,
    n_buckets: int,
    members: list[dict],
) -> list[str]:
    with _layout_lock(os.path.join(scratch_base, dir_name)):
        return _standing_layout_unlocked(
            spark, sf_dir, scratch_base, dir_name, spec, n_buckets,
            members,
        )


def _standing_layout_unlocked(
    spark: SparkSession,
    sf_dir: str,
    scratch_base: str,
    dir_name: str,
    spec: dict,
    n_buckets: int,
    members: list[dict],
) -> list[str]:
    """Shared builder for marker-durable co-bucketed layouts (see
    :func:`bucketed_warehouse` for the full contract). ``members``:
    ``{name, source, table, cols, key}`` per table — ``name`` keys the
    marker's DDL entries (``<name>_ddl``, the format the orderkey-pair
    markers already on disk use), ``table`` is the durable catalog
    name, ``key`` the bucket+sort column."""
    base = os.path.join(scratch_base, dir_name)
    marker = os.path.join(base, "_WF_BUILT")

    def _try_reuse() -> list[str] | None:
        # Our own marker gates the skip (a bare directory from a
        # crashed build is rebuilt); the recorded spec must match, or
        # a widened column list / changed bucket count would silently
        # serve the stale layout.
        try:
            with open(marker) as f:
                meta = json.load(f)
        except (OSError, ValueError):
            return None
        if meta.get("spec") != spec:
            return None
        for m in members:
            register_bucketed(
                spark, m["table"], meta[f"{m['name']}_ddl"], [m["key"]],
                [m["key"]], n_buckets, os.path.join(base, m["name"]),
            )
        return [m["table"] for m in members]

    got = _try_reuse()
    if got is not None:
        return got
    # Reclaim scratch left by DEAD processes: in-flight __building_
    # dirs, plus the pre-durability pid-tagged FINAL trees (legacy
    # names ended in the builder's decimal pid; the durable tag ends
    # in an 8-char hex hash, so a 1-7 digit numeric tail is
    # unambiguously legacy — each strands a full bucketed copy
    # forever otherwise).
    prefix = dir_name.split("_", 2)
    prefix = "_".join(prefix[:2]) + "_"  # "bucketed_wh_" / "bucketed_whc_"
    try:
        for n in os.listdir(scratch_base):
            if not n.startswith(prefix):
                continue
            tail = n.rsplit("_", 1)[-1]
            if "__building_" not in n and not (
                tail.isdigit() and len(tail) <= 7
            ):
                continue  # a durable hash-tagged tree: never swept
            try:
                pid = int(tail)
                os.kill(pid, 0)
            except ValueError:
                continue  # foreign name shape: not ours to sweep
            except ProcessLookupError:
                shutil.rmtree(
                    os.path.join(scratch_base, n), ignore_errors=True
                )
            except OSError:
                continue  # alive-but-not-ours or unknowable: keep
    except OSError:
        pass
    # Spec changed (or the marker is corrupt): the stale layout must
    # not survive next to the new one — drop this session's catalog
    # entries (external: metadata only) and clear the tree so the
    # atomic rename below can land.
    for m in members:
        if spark.catalog.tableExists(m["table"]):
            spark.sql(f"DROP TABLE {m['table']}")
    tmp = f"{base}__building_{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # Build under throwaway pid-tagged names: saveAsTable pins the
    # catalog location to the scratch path, which goes stale at the
    # rename — the durable names are registered at the final location
    # by _try_reuse after the swap.
    ddls: dict[str, str] = {}
    build_names = {
        m["name"]: f"{m['table']}_b{os.getpid()}" for m in members
    }
    try:
        for m in members:
            df = load_table(spark, sf_dir, m["source"]).select(*m["cols"])
            write_bucketed(
                df, build_names[m["name"]], [m["key"]], n_buckets,
                sort_cols=[m["key"]], path=os.path.join(tmp, m["name"]),
            )
            ddls[f"{m['name']}_ddl"] = (
                spark.table(build_names[m["name"]])._jdf.schema().toDDL()
            )
    finally:
        for t in build_names.values():
            if spark.catalog.tableExists(t):
                spark.sql(f"DROP TABLE {t}")  # external: data stays
    with open(os.path.join(tmp, "_WF_BUILT"), "w") as f:
        json.dump({"spec": spec, **ddls}, f)
    # Enter service via rename, NEVER rmtree-then-rename of a possibly
    # LIVE tree (an unconditional rmtree(base) deletes the
    # parquet files a concurrent winner's registered tables are
    # actively scanning). If base exists it is either (a) a valid
    # same-spec build a racer just landed — reuse it, discard ours —
    # or (b) a stale/invalid/different-spec tree — move it ASIDE
    # atomically (readers holding open files keep their inodes; our
    # session's catalog entries were dropped above; other sessions
    # must re-resolve through the marker, which shared mutable scratch
    # cannot protect further) and land ours.
    try:
        os.rename(tmp, base)
    except OSError:
        if _try_reuse() is not None:
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            aside = f"{base}__stale_{os.getpid()}"
            shutil.rmtree(aside, ignore_errors=True)
            try:
                os.rename(base, aside)
                os.rename(tmp, base)
            except OSError:
                # lost a second race; fall through to the final check
                shutil.rmtree(tmp, ignore_errors=True)
            finally:
                # the moved-aside tree is stale by construction
                # (invalid/mismatched marker) — reclaim it on BOTH
                # exits, or a lost second race strands a full
                # bucketed copy for the process lifetime
                shutil.rmtree(aside, ignore_errors=True)
    got = _try_reuse()
    if got is None:
        raise RuntimeError(
            f"{base}: bucketed warehouse build did not land a valid "
            "marker (concurrent builder with a different spec?)"
        )
    return got


def layout_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    layout: dict[str, str] | None,
) -> DataFrame:
    """Table ``name``: the bucketed catalog table ``layout`` maps it
    to, else the raw testdata table. ``layout`` is how a TPC-H builder
    runs over a standing layout with one query body."""
    if layout and name in layout:
        return spark.table(layout[name])
    return load_table(spark, sf_dir, name)


# On-disk (compressed parquet) bytes of a dimension above which
# :func:`dim_broadcast` stops pinning a broadcast. 256 MiB on disk is
# ~1-2 GiB deserialized, past any sane driver/executor broadcast
# budget: erring small only costs a shuffle, erring big OOMs the
# driver once customer/supplier outgrow a hard-coded hint. Every
# test-scale dim is KBs-MBs, so those plans broadcast.
DIM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def dim_broadcast(df: DataFrame, nbytes: int) -> DataFrame:
    """Broadcast ``df`` only when its on-disk footprint ``nbytes``
    (:func:`~weatherflow_spark.io.table_bytes`) is at most
    :data:`DIM_BROADCAST_MAX_BYTES`; otherwise return it unhinted so
    Spark's own choice decides the join. The ceiling is on real file
    sizes, not Spark's plan estimate, and sits above the session's
    32 MiB auto-broadcast threshold, so dims up to it stay broadcast
    beside a hinted fact⋈fact merge."""
    return F.broadcast(df) if nbytes <= DIM_BROADCAST_MAX_BYTES else df


def count_shuffle_exchanges(df: DataFrame) -> int:
    """Number of shuffle ``Exchange`` operators of ANY flavor (hash,
    range, single-partition, rebalance) in the executed plan.
    ``BroadcastExchange`` is excluded by the word boundary — the
    shuffle operator's node name IS "Exchange" — because a broadcast
    is not a shuffle."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def require_zero_shuffle_smj(
    df: DataFrame, what: str, max_exchanges: int = 0
) -> None:
    """The bucketed certifications' teeth: RAISE unless the executed
    plan is a SortMergeJoin plan with at most ``max_exchanges``
    shuffle Exchanges. The caller puts a ``merge`` hint on the
    fact⋈fact join (a broadcast build side has no Exchange either,
    which would make the check vacuous), so SortMergeJoin must
    appear; the Exchange count rejects every shuffle flavor while
    permitting the deliberate BroadcastExchange of a dimension side.
    ``max_exchanges=0`` is the fully co-located form; a query whose
    FINAL aggregate re-groups on a non-bucket key certifies with
    ``max_exchanges=1`` — the one allowed Exchange moves the tiny
    post-aggregation partials, and had the fact⋈fact join itself
    shuffled, BOTH join sides would add Exchanges and the bound
    still trips."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = count_shuffle_exchanges(df)
    if "SortMergeJoin" not in plan or n > max_exchanges:
        raise RuntimeError(
            f"{what}: expected a sort-merge plan with <= {max_exchanges} "
            f"shuffle Exchange(s) over bucketed tables (got {n}) "
            "— the co-located layout regressed"
        )
