"""Z-order layout: multi-column file-skipping + sketch properties."""

from __future__ import annotations

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from weatherflow_spark.io import load_table
from weatherflow_spark.operators.layout import parquet_files
import pytest

from weatherflow_spark.operators.zorder import write_zordered
from weatherflow_spark.plans.sketches import q_cms_heavy_hitters
from tests.conftest import SF_SMALL

BITS = 8  # bins in [0, 256)
N_FILES = 16


def _overlapping_files(path: str, col: str, lo: int, hi: int) -> int:
    """Files whose parquet row-group min/max on ``col`` intersects
    [lo, hi] — what a stats-pruning scan would have to read."""
    n = 0
    for f in sorted(parquet_files(path)):
        meta = pq.ParquetFile(f).metadata
        fmin, fmax = None, None
        for rg in range(meta.num_row_groups):
            rg_meta = meta.row_group(rg)
            stats = next(
                rg_meta.column(i).statistics
                for i in range(rg_meta.num_columns)
                if rg_meta.column(i).path_in_schema == col
            )
            fmin = stats.min if fmin is None else min(fmin, stats.min)
            fmax = stats.max if fmax is None else max(fmax, stats.max)
        if fmin is not None and not (fmax < lo or fmin > hi):
            n += 1
    return n


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Range-sorting on the Morton interleave must let a narrow
    predicate on EITHER column skip most files; single-column sorting
    only prunes its own column."""
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey",
        F.expr(f"pmod(o_custkey, {1 << BITS})").alias("bin_a"),
        F.expr(f"pmod(o_orderkey, {1 << BITS})").alias("bin_b"),
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(orders, zpath, "bin_a", "bin_b", N_FILES, bits=BITS)

    # baseline: sorted on bin_a only
    apath = str(tmp_path / "aorder")
    (
        orders.repartitionByRange(N_FILES, F.col("bin_a"))
        .sortWithinPartitions("bin_a")
        .write.mode("overwrite")
        .parquet(apath)
    )

    total = len(parquet_files(zpath))
    assert total >= N_FILES // 2  # enough files for skipping to mean anything

    # an eighth of the key space in each dimension
    lo, hi = 0, (1 << BITS) // 8 - 1
    z_a = _overlapping_files(zpath, "bin_a", lo, hi)
    z_b = _overlapping_files(zpath, "bin_b", lo, hi)
    base_b = _overlapping_files(apath, "bin_b", lo, hi)

    # z-order prunes both dimensions...
    assert z_a < total, "bin_a predicate should skip z-ordered files"
    assert z_b < total, "bin_b predicate should skip z-ordered files"
    # ...single-column layout cannot prune the other dimension
    assert base_b == len(parquet_files(apath))

    # layout preserved content
    got = spark.read.parquet(zpath).count()
    assert got == orders.count()


def test_cms_estimate_dominates_exact(spark):
    """Count-min property: estimate >= exact count for every heavy
    hitter (and exact at small scale where buckets don't collide
    across the heavy mass)."""
    out = q_cms_heavy_hitters(spark, SF_SMALL).collect()
    assert len(out) == 10
    for r in out:
        assert r.cms_est >= r.exact_n


def test_scan_version_conjunctive_predicates(spark, tmp_path):
    """r12 verdict #2: multi-column file skipping — a file is opened
    only if EVERY (col, lo, hi) range can intersect its recorded
    bounds; the conjunction prunes strictly harder than either single
    range on a z-ordered layout, never drops a qualifying row, and a
    column with no recorded stats never prunes."""
    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        scan_version,
        set_stats_columns,
    )

    path = str(tmp_path / "z")
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_zordered(orders, path, "o_custkey", "o_orderkey", 32, bits=24)
    init_snapshot_log(path)
    set_stats_columns(path, ["o_custkey", "o_orderkey"])
    record_commit(path)

    b = orders.agg(
        F.max("o_custkey").alias("cm"), F.max("o_orderkey").alias("km")
    ).first()
    c_hi, k_hi = b["cm"] // 4, b["km"] // 4
    df, both = scan_version(
        spark, path,
        predicates=[("o_custkey", 0, c_hi), ("o_orderkey", 0, k_hi)],
    )
    _, only_c = scan_version(spark, path, "o_custkey", lo=0, hi=c_hi)
    _, only_k = scan_version(spark, path, "o_orderkey", lo=0, hi=k_hi)
    assert both["files_scanned"] <= min(
        only_c["files_scanned"], only_k["files_scanned"]
    )
    assert both["files_scanned"] < both["files_total"]
    # losslessness: every qualifying row survives the pruned read
    want = orders.where(
        (F.col("o_custkey") <= c_hi) & (F.col("o_orderkey") <= k_hi)
    ).count()
    got = df.where(
        (F.col("o_custkey") <= c_hi) & (F.col("o_orderkey") <= k_hi)
    ).count()
    assert got == want and want > 0

    # a column with NO stats never prunes (optimization, not filter)
    _, nostats = scan_version(
        spark, path, predicates=[("o_totalprice", 0.0, 1.0)]
    )
    assert nostats["files_scanned"] == nostats["files_total"]

    # API guards
    import pytest

    with pytest.raises(ValueError, match="not both"):
        scan_version(
            spark, path, "o_custkey", lo=0, hi=1,
            predicates=[("o_orderkey", 0, 1)],
        )
    with pytest.raises(ValueError, match="pass col"):
        scan_version(spark, path)


def test_write_zordered_validates_bit_width(spark, tmp_path):
    """bits must cover the actual key maxima (r13 advice, low): a key
    >= 2^bits would silently drop high bits and alias far-apart keys
    into one z-rectangle — the skipping certification then raises
    spuriously at larger scale factors. Too-narrow bits raise loudly;
    bits=None derives the width from the data."""
    import pytest

    from weatherflow_spark.operators.snaplog import (
        init_snapshot_log,
        record_commit,
        scan_version,
        set_stats_columns,
    )

    df = spark.createDataFrame(
        [(i, i * 3) for i in range(5000)], "a long, b long"
    )  # max(b) = 14997 needs 14 bits
    path = str(tmp_path / "z")
    with pytest.raises(ValueError, match="too narrow"):
        write_zordered(df, path, "a", "b", num_files=8, bits=10)
    with pytest.raises(ValueError, match="non-negative"):
        write_zordered(
            df.selectExpr("a - 100 as a", "b"), path, "a", "b",
            num_files=8, bits=None,
        )
    with pytest.raises(ValueError, match="exceeds 31"):
        write_zordered(
            df.selectExpr("a * 1000000 as a", "b"), path, "a", "b",
            num_files=8, bits=None,
        )
    # derived width: layout lands and both axes prune
    write_zordered(df, path, "a", "b", num_files=16, bits=None)
    init_snapshot_log(path)
    set_stats_columns(path, ["a", "b"])
    record_commit(path)
    _, info = scan_version(
        spark, path, predicates=[("a", 0, 624), ("b", 0, 1874)]
    )
    assert info["files_total"] == 16
    assert info["files_scanned"] <= 4


def test_compact_zorder_folds_dv_and_preserves_two_axis_pruning(spark, tmp_path, snap_mode):
    """E113 (r14): an unpartitioned Z-ordered table folds its
    deletion vectors only through the whole-table rewrite (root files
    are not a partition, so compact_partitions never plans them), and
    compact(zorder=...) must reproduce the Morton rectangles — a 1-D
    sort_col fold would silently destroy the two-axis pruning E106
    certifies."""
    from weatherflow_spark.operators.layout import compact
    from weatherflow_spark.operators.snaplog import (
        head_dv,
        init_snapshot_log,
        read_version,
        record_commit,
        scan_version,
        set_stats_columns,
    )
    from weatherflow_spark.operators.upsert import delete_where

    path = str(tmp_path / "z")
    df = spark.createDataFrame(
        [(i, (i * 37) % 4096, float(i)) for i in range(4096)],
        "a long, b long, v double",
    )
    write_zordered(df, path, "a", "b", num_files=16, bits=None)
    init_snapshot_log(path)
    set_stats_columns(path, ["a", "b"])
    record_commit(path)
    band = [("a", 0, 511), ("b", 0, 511)]
    _, pre = scan_version(spark, path, predicates=band)
    assert pre["files_scanned"] <= pre["files_total"] // 4

    delete_where(spark, path, "a % 100 = 7", ["a"], use_dv=True)
    assert head_dv(path), "DV must land on the root segment"
    with pytest.raises(ValueError, match="not both"):
        compact(spark, path, sort_col="a", zorder=("a", "b"))
    compact(spark, path, target_file_bytes=8 * 1024, zorder=("a", "b"))
    assert head_dv(path) == {}, "the z rewrite must fold the DV"
    got = {r["a"] for r in read_version(spark, path).collect()}
    assert got == {i for i in range(4096) if i % 100 != 7}
    _, post = scan_version(spark, path, predicates=band)
    assert post["files_total"] >= 4
    assert post["files_scanned"] <= max(2, post["files_total"] // 4), (
        pre,
        post,
    )
