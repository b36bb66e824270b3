"""Global row indexing at scale: assign a dense 0..N-1 index in a
chosen total order WITHOUT a single-partition window.

``row_number() OVER (ORDER BY key)`` is the semantic spec, but its
physical plan funnels every row through ONE task (a global window has
one partition) — a non-starter at 100 TB. The distributed form is the
classic two-pass zipWithIndex:

  pass 1: range-repartition by the order key (sampled equi-depth
          boundaries), sort within partitions, count rows per
          partition — a cheap agg over partition ids;
  pass 2: broadcast the exclusive-prefix-sum of counts as each
          partition's base offset; each task assigns
          ``offset + local position`` while streaming its sorted
          partition. No global shuffle beyond the range exchange.

Deterministic whenever the order key is unique (ties across
partition boundaries would otherwise land nondeterministically);
equals the window spec bit-for-bit, which tests assert.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from weatherflow_spark.operators.caching import tracked_persist
from pyspark.sql.types import LongType, StructField, StructType


def assign_global_index(
    df: DataFrame,
    order_col: str,
    num_partitions: int = 32,
    index_col: str = "row_index",
) -> DataFrame:
    """Dense global index in ``order_col`` order (must be unique).
    Two jobs: a per-partition count (tiny — one row per partition),
    then the indexed pass. Output schema: input columns + index.
    """
    # checkpoint BEFORE the count pass: repartitionByRange samples its
    # boundaries per job, so without a shared materialization the
    # count job and the index job could see different partitionings
    # (and the offsets would index the wrong partitions).
    #
    # The partition id is BAKED INTO THE CACHED DATA as a column
    # (evaluated once, in the cache-build stage) rather than read
    # from TaskContext at consume time: a downstream union/coalesce
    # re-numbers stage partitions (UnionRDD concatenates child
    # partitions), so runtime partition ids silently index the wrong
    # offsets whenever the result is composed into a larger plan —
    # the r8 q_serving_suite regression.
    pid_col = "__wf_pid"
    ranged = tracked_persist(
        df.repartitionByRange(num_partitions, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn(pid_col, F.spark_partition_id())
    )

    counts = (
        ranged.groupBy(pid_col).agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r[pid_col]):
        offsets[row[pid_col]] = acc
        acc += row.cnt

    out_schema = StructType(df.schema.fields + [StructField(index_col, LongType())])
    idx_name = index_col

    def add_index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One task streams one cached partition (a single pid value),
        # but positions are tracked per pid so even a coalesced read
        # of several partitions indexes correctly.
        pos: dict[int, int] = {}
        for pdf in batches:
            pdf = pdf.copy()
            pids = pdf[pid_col].to_numpy()
            idx = pd.array([0] * len(pdf), dtype="int64")
            start = 0
            while start < len(pids):
                end = start
                while end < len(pids) and pids[end] == pids[start]:
                    end += 1
                pid = int(pids[start])
                base = pos.get(pid, offsets.get(pid, 0))
                n = end - start
                idx[start:end] = range(base, base + n)
                pos[pid] = base + n
                start = end
            pdf[idx_name] = idx
            yield pdf.drop(columns=[pid_col])

    return ranged.mapInPandas(add_index, out_schema)


def assign_grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    num_partitions: int = 32,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact 1-based rank within each group in ``order_cols`` order —
    ``row_number() OVER (PARTITION BY group ORDER BY ...)`` — without
    funneling a dominant group through ONE window task.

    The skew-proof generalization of :func:`assign_global_index`:
    range-partition on (group, order) so a huge group SPANS many
    partitions (a hash-partitioned window pins it to one), sort
    within partitions, compute per-(partition, group) counts, turn
    them into per-(partition, group) base offsets with a window over
    the TINY counts table (|partitions x groups| rows — no driver
    collect), broadcast-join the offsets back, and stream each sorted
    partition assigning ``base + local position per group``.

    Requires a total order (end ``order_cols`` with a unique
    tiebreak) — the engine-wide determinism rule; with ties across a
    partition boundary the split would be boundary-dependent.
    """
    pid_col = "__wf_pid"
    keys = [F.col(c) for c in group_cols + order_cols]
    ranged = tracked_persist(
        df.repartitionByRange(num_partitions, *keys)
        .sortWithinPartitions(*(group_cols + order_cols))
        .withColumn(pid_col, F.spark_partition_id())
    )
    counts = ranged.groupBy(pid_col, *group_cols).agg(
        F.count(F.lit(1)).alias("__wf_cnt")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(pid_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        pid_col,
        *group_cols,
        F.coalesce(F.sum("__wf_cnt").over(w), F.lit(0)).alias("__wf_base"),
    )
    with_base = ranged.join(F.broadcast(offsets), [pid_col, *group_cols])

    out_schema = StructType(df.schema.fields + [StructField(rank_col, LongType())])
    n_group = len(group_cols)
    rank_name = rank_col

    def add_rank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Partition-local streaming: rows arrive sorted by (group,
        # order), so each batch is a sequence of contiguous group
        # runs — detect run boundaries vectorized and assign
        # ``base + arange`` per run (Python touches runs, not rows).
        import numpy as np

        pos: dict[tuple, int] = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            pdf = pdf.copy()
            chg = np.zeros(n, dtype=bool)
            chg[0] = True
            for c in group_cols:
                v = pdf[c].to_numpy()
                chg[1:] |= v[1:] != v[:-1]
            starts = np.flatnonzero(chg)
            ends = np.append(starts[1:], n)
            bases = pdf["__wf_base"].to_numpy()
            gkeys = pdf[group_cols].to_numpy()
            ranks = np.empty(n, dtype="int64")
            for s, e in zip(starts, ends):
                g = tuple(gkeys[s])
                base = pos.get(g, int(bases[s]))
                ranks[s:e] = np.arange(base + 1, base + 1 + (e - s))
                pos[g] = base + (e - s)
            pdf[rank_name] = ranks
            yield pdf.drop(columns=[pid_col, "__wf_base"])

    assert n_group >= 1
    return with_base.mapInPandas(add_rank, out_schema)
