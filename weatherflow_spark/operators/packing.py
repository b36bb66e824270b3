"""Scale-safe sequence packing: a per-stream exclusive prefix sum
WITHOUT a per-stream single-partition window.

The window form (plans/ext_text.q_sequence_pack) computes
``sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN
UNBOUNDED PRECEDING AND 1 PRECEDING)``. Physically that funnels every
row of a stream through ONE task; one dominant source at 100 TB
serializes the whole corpus. This module computes the identical
offsets with the segmented two-level decomposition:

  level 1 (tiny): bucket the order key arithmetically
          (``order DIV bucket_size`` — monotonic, deterministic, no
          sampling) and aggregate one total per (stream, bucket); an
          exclusive prefix sum over these totals — a window over
          ~N/bucket_size rows — yields each bucket's base offset;
  level 2 (big):  join the base offsets back and run the exclusive
          prefix sum *within* each (stream, bucket) — a window whose
          partitions hold at most ``bucket_size`` rows each, so
          parallelism is streams x buckets and no task ever sees more
          than ``bucket_size`` rows, regardless of stream skew.

``cum_before = bucket_base + within_bucket_prefix`` — equal to the
window spec row-for-row (asserted in tests/test_scale_ops.py and
hash-checked against the window SQL by ``q_sequence_pack_indexed``).

Compared with the mapInPandas + persist two-pass index
(operators/indexing.assign_global_index), this form needs no cached
materialization (nothing to unpersist, no sampled range boundaries to
pin), stays entirely inside whole-stage codegen, and its only
data-scale shuffle is the hash exchange onto (stream, bucket) that the
level-2 window needs anyway.

Contracts: ``order_col`` must be integral and unique within its stream
(the engine-wide determinism rule for ranked queries); ``stream_col``
and ``order_col`` must be non-null — a NULL stream would be ranked by
the window idiom but silently dropped by this form's equi-join, so
callers with nullable streams coalesce to a sentinel first (same
contract style as operators/topk.grouped_topk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def exclusive_prefix_sum(
    df: DataFrame,
    stream_col: str,
    order_col: str,
    value_col: str,
    bucket_size: int = 8192,
    out_col: str = "cum_before",
) -> DataFrame:
    """Per-stream exclusive running total of ``value_col`` in
    ``order_col`` order, bucket-decomposed (see module docstring).
    Output = input columns + ``out_col`` (long). The (stream, bucket)
    base-offset table has ~N/bucket_size rows and is broadcast.
    """
    bucket = F.expr(f"{order_col} DIV {bucket_size}")

    totals = df.groupBy(
        F.col(stream_col), bucket.alias("_bucket")
    ).agg(F.sum(value_col).cast("long").alias("_btot"))

    w_buckets = (
        Window.partitionBy(stream_col)
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = totals.select(
        stream_col,
        "_bucket",
        F.coalesce(F.sum("_btot").over(w_buckets), F.lit(0).cast("long")).alias(
            "_base"
        ),
    )
    w_in = (
        Window.partitionBy(stream_col, "_bucket")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("_bucket", bucket)
        .join(F.broadcast(base), [stream_col, "_bucket"])
        .withColumn(
            out_col,
            F.col("_base")
            + F.coalesce(
                F.sum(value_col).over(w_in).cast("long"), F.lit(0).cast("long")
            ),
        )
        .drop("_bucket", "_base")
    )


def pack_sequences_indexed(
    df: DataFrame,
    stream_col: str = "source",
    order_col: str = "doc_id",
    tok_col: str = "n_tok",
    pack_tokens: int = 512,
    bucket_size: int = 8192,
) -> DataFrame:
    """Concat-and-split sequence packing with the bucket-decomposed
    prefix sum: identical output to the window form (pack number,
    in-pack token offset, boundary-straddle flag per document) with no
    single-partition window anywhere in the plan."""
    cum = exclusive_prefix_sum(
        df, stream_col, order_col, tok_col, bucket_size=bucket_size
    )
    return cum.select(
        stream_col,
        order_col,
        tok_col,
        F.expr(f"cum_before DIV {pack_tokens}").alias("pack_id"),
        (F.col("cum_before") % pack_tokens).alias("pack_offset"),
        (
            F.expr(f"cum_before DIV {pack_tokens}")
            != F.expr(f"(cum_before + {tok_col} - 1) DIV {pack_tokens}")
        )
        .cast("int")
        .alias("crosses_boundary"),
    )
