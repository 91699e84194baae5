"""Range (point-in-interval) join — binned equi-join, not a theta join.

Spark plans ``p.v BETWEEN i.lo AND i.hi`` with no equality conjunct as
BroadcastNestedLoopJoin — O(|points| x |intervals|) comparisons, the
classic range-join trap. The scale formulation bins the number line:

1. each interval is replicated to every ``bin_width``-sized bin it
   overlaps (explode of a small sequence — intervals are the small side),
2. each point belongs to exactly ONE bin (floor(v / bin_width)),
3. equi-join on the bin key, then the exact BETWEEN filter.

Each point meets only the intervals overlapping its bin, so comparisons
drop from |points| x |intervals| to |points| x (intervals-per-bin). Because
a point has a single bin, no post-join dedup is needed. Pick ``bin_width``
near the median interval length: wider bins -> fewer interval replicas but
more false candidates; narrower -> the reverse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``lo <= value < hi`` (half-open), through bins 50.0 wide.
    """
    bw = F.lit(50.0)
    # Empty/inverted intervals (end <= start) can never match a point under
    # the half-open predicate, but Spark's sequence(a, b) is DESCENDING for
    # a > b — a single badly malformed row (end << start) would otherwise
    # explode into |lo-hi|/50 candidate bins. Drop them first.
    binned_intervals = intervals.filter(
        F.col("hi") > F.col("lo")
    ).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / bw).cast("long"),
                # half-open: an interval ending exactly on a bin edge does
                # not reach into that bin
                F.floor(
                    (F.col("hi") - F.lit(1e-12)) / bw
                ).cast("long"),
            )
        ),
    )
    binned_points = points.withColumn(
        "__bin", F.floor(F.col("value") / bw).cast("long")
    )
    on = (
        (binned_points["__bin"] == binned_intervals["__bin"])
        & (binned_points["value"] >= binned_intervals["lo"])
        & (binned_points["value"] < binned_intervals["hi"])
    )
    return binned_points.join(binned_intervals, on).drop("__bin")


def sweep_line_concurrency(
    intervals: DataFrame,
    boundary_source: tuple[DataFrame, str] | None = None,
) -> DataFrame:
    """Interval-overlap counting by sweep line: every interval emits a
    (+1 at ``s``, -1 at ``e``) event point; the running sum of deltas in
    (t, delta) order IS the number of concurrently-open intervals at
    each point (ends apply before starts at ties — end-exclusive
    intervals never overlap themselves). The classic peak-concurrency /
    capacity-planning primitive Spark has no operator for.

    Scale shape: NO global window — the running sum is the same
    two-pass distributed prefix sum as pack_shards_two_pass, bucketed by
    the literal-boundary scheme of operators/bucketing.py (a one-off
    approx-quantile pass on the sweep key; bucket boundaries become plan
    literals so both passes recompute identical buckets — nothing
    persisted or pinned). Per-bucket sums come to the driver
    [32 longs, never data]; the final pass adds the bucket
    offset to a bucket-local cumsum. Per-day maxima downstream are
    order-invariant within a tie group (equal (t, delta) rows
    interchange without changing any group's max), so the output is
    deterministic on any engine. Bucketing on t alone is order-safe:
    equal-t rows share a bucket, and the in-bucket window breaks ties
    by (t, delta).

    ``boundary_source`` is an optional (DataFrame, column) pair giving a
    CHEAP same-distribution proxy for the sweep key (e.g. the raw event
    time the intervals derive from): the quantile pass then scans the
    proxy instead of recomputing the whole interval pipeline a third
    time. Boundaries are plan literals either way, so the proxy affects
    only bucket balance, never correctness.

    Returns (t, delta, concurrency) — one row per event point.
    """
    from odbc2parquet_spark.operators.drift import prefix_sums

    pts = intervals.select(
        F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        intervals.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    # delegate to the generalized two-pass prefix sum (one implementation
    # of the bucket/offsets/window plumbing to keep correct, not two);
    # order (t, delta) puts -1 ends before +1 starts at ties
    cum = prefix_sums(
        pts,
        ["t", "delta"],
        ["delta"],
        boundary_source=boundary_source,
    )
    return cum.select("t", "delta", F.col("c_delta").alias("concurrency"))
