"""Token-budget shard packing — split a corpus into ~N-token output shards.

Training pipelines emit fixed-budget shards (e.g. ~100M tokens each) in a
deterministic document order. Shard id = floor(exclusive-prefix-sum(tokens)
/ budget) over the ordering column.

Two implementations with identical output:

- :func:`pack_shards` — one global window cumsum. Simple and
  oracle-checkable, but a global ORDER BY window funnels through a single
  reducer: fine up to ~10^8 rows, NOT the 100 TB path.
- :func:`pack_shards_two_pass` — the scale path: per-partition partial
  sums (tiny: one row per partition) are collected, turned into exclusive
  partition offsets, and broadcast back; each partition then computes its
  local cumsum + offset. The only driver traffic is 32 longs;
  document order is (ordering column) via a range repartition, so the
  global order is preserved without a global sort bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import hex_long


def pack_shards(docs_with_tokens: DataFrame, budget: int) -> DataFrame:
    """(doc_id, n_tokens, shard): global-window reference implementation."""
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs_with_tokens.select(
        "doc_id",
        F.col("n_tokens"),
        F.floor(prefix / F.lit(budget)).cast("long").alias("shard"),
    )


def pack_shards_two_pass(docs_with_tokens: DataFrame) -> DataFrame:
    """Same output as :func:`pack_shards` without the global-window funnel.

    Buckets come from the literal-boundary scheme of
    operators/bucketing.py (one approx-quantile pass; boundaries are
    plan literals, so pass 1 and pass 2 recompute identical buckets
    from the source scan — no persist/checkpoint, nothing pinned in
    executor storage). Pass 1 collects per-bucket token sums
    (32 longs); pass 2 adds the exclusive bucket offset to
    a bucket-local running sum.
    """
    from odbc2parquet_spark.operators.bucketing import (
        bucket_offsets,
        order_bucket_col,
    )

    spark = docs_with_tokens.sparkSession
    with_pid = docs_with_tokens.withColumn("_pid_", order_bucket_col(docs_with_tokens, "doc_id"))
    offs, _ = bucket_offsets(with_pid, ["n_tokens"])
    offset_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offs["n_tokens"].items()]
            or [(0, 0)],  # empty input: harmless 1-row offset table
            ["_pid_", "_offset_"],
        )
    )
    # pass 2: local cumsum + partition offset
    wl = (
        Window.partitionBy("_pid_")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_prefix = F.coalesce(F.sum("n_tokens").over(wl), F.lit(0))
    return (
        with_pid.join(offset_df, "_pid_")
        .select(
            "doc_id",
            F.col("n_tokens"),
            F.floor((local_prefix + F.col("_offset_")) / F.lit(500))
            .cast("long")
            .alias("shard"),
        )
    )


def epoch_shuffle(docs: DataFrame) -> DataFrame:
    """Deterministic per-epoch training order: (epoch, doc_id, shard, pos).

    Each of the 2 epochs gets an independent pseudo-random permutation without any
    RNG state: shard = md5(epoch:doc) mod 8 (pure hash — no
    shuffle beyond the final per-shard rank), position = rank of the md5
    key within the (epoch, shard) partition. Shards are the unit of
    parallel data loading; any two runs (or engines) produce the same
    order, which is what makes a training run reproducible/resumable.
    The per-shard window ranks only corpus/8 rows per task — there
    is no global sort.
    """
    epochs = F.explode(F.sequence(F.lit(0), F.lit(1))).alias("epoch")
    keyed = docs.select("doc_id", epochs).select(
        "epoch",
        F.col("doc_id"),
        F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))).alias("_key_"),
    )
    shard = (
        hex_long("_key_", 1, 8) % 8
    ).alias("shard")
    keyed = keyed.select("epoch", "doc_id", "_key_", shard)
    w = Window.partitionBy("epoch", "shard").orderBy("_key_")
    return keyed.select(
        "epoch",
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )
