"""Deterministic monotone bucketing for two-pass prefix algorithms.

The two-pass distributed prefix-sum family (prefix_sums, sweep-line
concurrency, shard packing, PPS sampling) needs every row to land in the
same ordered bucket in BOTH passes. Range-repartitioning can't promise
that across two separate query plans (each plan re-samples boundaries),
which previously forced a persist/localCheckpoint of the full input —
a session-lifetime storage pin locally and an impossible ~input-sized
spill at 100 TB.

This helper removes the materialization requirement instead: bucket
boundaries are collected ONCE (an approx-quantile pass that returns
31 doubles to the driver — never data) and embedded as
LITERALS in the bucket expression, so every downstream plan recomputes
the identical bucket for every row from the source scan. Monotone by
construction: ``bucket(x) = #{boundaries <= x}``, so bucket b's rows all
sort before bucket b+1's, and a window partitioned by bucket + a
broadcast of per-bucket offsets reconstructs any global running
statistic. Nothing is cached, checkpointed, or pinned.

Reference parity note: the reference engine (odbc2parquet) streams
batches sequentially so running statistics are trivial there; this module
is the scale-out equivalent for the port's extension operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def order_bucket_col(df: DataFrame, order_col: str, apply_col: str | None = None) -> Column:
    """A pure-expression bucket column of 32 buckets, monotone in ``order_col``.

    ``apply_col`` lets the boundary SAMPLE come from a cheaper proxy than
    the frame the expression will run on: boundaries are estimated from
    ``df[order_col]`` but the returned expression compares
    ``F.col(apply_col)``. Correctness never depends on which frame the
    boundaries came from (any literal boundary set is monotone); only
    bucket BALANCE does — so when the real key is derived from an
    expensive pipeline (e.g. sweep points from sessionized intervals), a
    same-distribution proxy (the raw event-time column) saves one full
    recomputation of that pipeline for the quantile pass.

    Runs one ``approxQuantile`` job over the (cast-to-double) key —
    Greenwald-Khanna, single pass, 31 doubles to the
    driver — then returns ``#{boundaries <= key}`` as a chain of
    codegen-friendly comparisons on literal boundaries. NULL keys (which
    Spark ascending order sorts first) get bucket 0, matching their sort
    position. Casting to double is monotone, so ties introduced by the
    cast only merge buckets — they can never reorder rows across buckets.

    Non-numeric orderable keys (strings — e.g. zero-padded composite
    sort keys) skip the quantile sketch: a hash-thinned bounded sample
    of raw key values comes to the driver, evenly spaced sample order
    statistics become the boundaries, and the bucket expression compares
    the key against those LITERAL values directly — monotone in the
    engine's own ordering by definition. Sample skew only affects bucket
    balance, never correctness.

    Duplicate/degenerate boundaries (constant or tiny inputs) collapse;
    an empty input yields the constant bucket 0.
    """
    from pyspark.sql.types import BooleanType, DateType, NumericType, TimestampType

    def _as_double(col, typ):
        # DATE has no direct DOUBLE cast in Spark; unix_date (days since
        # epoch) is the monotone numeric form. TIMESTAMP→DOUBLE (epoch
        # seconds) is a legal, monotone cast.
        if isinstance(typ, DateType):
            return F.unix_date(col).cast("double")
        return col.cast("double")

    dt = df.schema[order_col].dataType
    if isinstance(dt, (NumericType, TimestampType, DateType, BooleanType)):
        probs = [i / 32 for i in range(1, 32)]
        key = _as_double(F.col(order_col), dt)
        bnds = df.select(key.alias("_k_")).approxQuantile("_k_", probs, 0.01)
        uniq: list = sorted({b for b in bnds if b is not None})
        lits = [F.lit(float(v)) for v in uniq]
    else:
        cap = 6400
        key = F.col(order_col)
        keys = df.select(key.alias("_k_")).filter(F.col("_k_").isNotNull())
        sample = [
            r._k_
            for r in keys.filter(F.pmod(F.xxhash64("_k_"), F.lit(101)) == 0)
            .limit(cap)
            .collect()
        ]
        if len(sample) < 256:  # small input: thinning too sparse
            sample = [r._k_ for r in keys.limit(cap).collect()]
        sample.sort()
        uniq = sorted({sample[(len(sample) * i) // 32] for i in range(1, 32)}) if sample else []
        lits = [F.lit(v) for v in uniq]
    if apply_col is not None:
        key = F.col(apply_col)
        if isinstance(dt, (NumericType, TimestampType, DateType, BooleanType)):
            key = _as_double(key, dt)
    bucket: Column = F.lit(0)
    for lv in lits:
        bucket = bucket + F.when(key >= lv, 1).otherwise(0)
    return bucket.cast("int")


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind a ``localCheckpoint``-ed DataFrame
    that has been SUPERSEDED (e.g. the previous round of an iterative
    fixpoint once the next round is materialized). The checkpointed RDD
    sits directly behind the plan's ``LogicalRDD``; unpersisting it
    releases the blocks immediately instead of waiting for a JVM GC
    cycle that, in a long-lived session, may never reclaim them. The
    DataFrame must not be used again afterwards — its lineage was
    truncated by the checkpoint, so there is nothing to recompute from.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort hygiene; never fail the computation over it


def bucket_offsets(
    with_pid: DataFrame, sum_cols: list[str]
) -> tuple[dict[str, dict[int, int]], dict[str, int]]:
    """Pass 1 of the two-pass scheme: per-bucket sums of ``sum_cols``
    (``num_buckets`` rows to the driver), folded into EXCLUSIVE prefix
    offsets per bucket plus grand totals. Returns
    ``({col: {bucket: offset}}, {col: total})``; empty input gives
    ``({col: {}}, {col: 0})``.
    """
    rows = with_pid.groupBy("_pid_").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()
    offsets: dict[str, dict[int, int]] = {c: {} for c in sum_cols}
    acc = {c: 0 for c in sum_cols}
    for r in sorted(rows, key=lambda r: r["_pid_"]):
        for c in sum_cols:
            offsets[c][r["_pid_"]] = acc[c]
            acc[c] += r[c] or 0
    return offsets, acc
