"""Per-key compaction and order-preserving batch slicing.

Reference behaviors (studied from /root/reference/lib/deimos/
active_record_consume/, behavior only):

- A14 compaction: within a batch, keep only the LAST message per key
  (batch_consumption.rb:121-125 — batch.reverse.uniq(&:key).reverse!).
- A15 slicing: when compaction is disabled (per-key order must be
  preserved through non-idempotent writes), split the batch into slices
  with distinct keys; slice i holds each key's i-th occurrence in original
  order (batch_slicer.rb:16-26).

Spark-first: both are expressed over an explicit arrival-order column
(Kafka: (partition, offset); tests: any monotonic id) instead of list
mutation — so they distribute and scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_keep_last(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """Keep the last row per key by arrival order.

    max_by over a struct = ONE hash aggregate with map-side combine — at
    scale this beats the row_number window (which needs a full sort per
    partition). NULL-keyed rows (unkeyed topics) are kept as-is, exact
    duplicates included, matching the reference's "compaction skipped
    when unkeyed" behavior: each gets a group of its own through a
    per-row id that is null on keyed rows. One aggregate over one
    evaluation of `df`, so the batch's decode runs once.
    """
    has_key = None
    for k in key_cols:
        c = F.col(k).isNotNull()
        has_key = c if has_key is None else (has_key | c)
    unkeyed_id = F.when(~has_key, F.monotonically_increasing_id())

    payload = F.struct(*[F.col(c) for c in df.columns])
    order = F.struct(*[F.col(c) for c in order_cols])
    return (
        df.groupBy(*key_cols, unkeyed_id.alias("_unkeyed"))
        .agg(F.max_by(payload, order).alias("_row"))
        .select("_row.*")
    )


def slice_ids(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> DataFrame:
    """Assign the reference's slice id: the i-th occurrence of a key goes to
    slice i (1-based). Adds a `_slice` column; callers iterate slices in
    ascending order to preserve per-key write order."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("_slice", F.row_number().over(w))


def split_slices(sliced: DataFrame) -> list[DataFrame]:
    """The slices of a `slice_ids` frame, in ascending slice order, each
    with distinct keys and without the `_slice` column. The slice count
    is max occurrences of any key — tiny in practice. Every slice is a
    lazy filter over `sliced`: a caller that applies several
    materializes `sliced` first (session.materialized), or each slice
    re-runs its lineage."""
    n = sliced.agg(F.max("_slice")).head()[0] or 0
    return [
        sliced.filter(F.col("_slice") == i).drop("_slice") for i in range(1, n + 1)
    ]


def slice_batch(
    df: DataFrame, key_cols: Sequence[str], order_cols: Sequence[str]
) -> list[DataFrame]:
    """The slices as a list of DataFrames (each has distinct keys),
    mirroring BatchSlicer.slice's list-of-batches output. Nothing is
    cached: see split_slices."""
    return split_slices(slice_ids(df, key_cols, order_cols))
