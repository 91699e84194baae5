"""Exact distributed order statistics — k-th smallest without a sort.

``approx_percentile`` trades error for speed and an exact percentile
(`percentile`) pays a per-group sort; this module computes EXACT global
order statistics with neither: iterative histogram bisection (the
distributed quickselect — Blum et al. selection adapted to scan-reduce
engines). Each round bins the surviving value range into 1024
buckets with one map-side-combinable aggregate, the driver inspects at
most 1024 (count, min, max) rows to find the bucket holding rank k,
and the range narrows by ~1024x. Convergence: a bucket whose min ==
max IS the answer (ties collapse immediately, so a value duplicated a
billion times costs one round); otherwise the range shrinks to one
bucket per round, and for 64-bit doubles ceil(2048 / log2(1024)) rounds
bound the worst case — in practice 3-5 scans at any scale.

At 100 TB: every round is one filtered scan + one <= 1024-row reduce;
the driver never sees data rows, only bucket summaries (same contract
as the two-pass prefix sums). Reference parity: the reference has no
aggregation surface at all (full-fidelity transfer, src/query/mod.rs);
this is pipeline-extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kth_smallest(df: DataFrame, k: int) -> float:
    """The exact k-th smallest (1-based) non-null value of ``l_extendedprice``.

    Raises ``ValueError`` when k is out of range. The value returned is
    an actual data value (bit-exact), not an interpolation.
    """
    vals = df.select(F.col("l_extendedprice").cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    first = vals.agg(
        F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).first()
    n, lo, hi = first["n"], first["lo"], first["hi"]
    if not 1 <= k <= (n or 0):
        raise ValueError(f"rank {k} out of range for {n} non-null rows")
    # rank within the current [lo, hi] slice: k minus rows strictly below lo
    rank = k
    for _ in range(64):
        if lo == hi:
            return lo
        width = (hi - lo) / 1024
        if width <= 0:  # adjacent doubles: range no longer splits
            return lo if rank <= 1 else hi
        b = F.least(
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int"),
            F.lit(1023),  # v == hi lands past the last bucket; clamp
        )
        hist = (
            vals.filter((F.col("v") >= lo) & (F.col("v") <= hi))
            .groupBy(b.alias("b"))
            .agg(F.count("*").alias("c"), F.min("v").alias("mn"), F.max("v").alias("mx"))
            .orderBy("b")
            .collect()
        )
        cum = 0
        for row in hist:
            if cum + row["c"] >= rank:
                if row["mn"] == row["mx"]:
                    return row["mn"]
                rank -= cum
                lo, hi = row["mn"], row["mx"]
                break
            cum += row["c"]
    raise RuntimeError("selection did not converge in 64 rounds")


def exact_median(df: DataFrame) -> DataFrame:
    """One-row (n_rows, median): the exact global median of
    ``l_extendedprice`` — lower-middle value for odd counts, the IEEE mean
    of the two middle values for even counts (the same convention DuckDB's
    MEDIAN uses, so the result hash-matches an independent engine despite
    never sorting).
    """
    spark = df.sparkSession
    n = df.filter(F.col("l_extendedprice").isNotNull()).count()
    if n == 0:
        return spark.createDataFrame([(0, None)], "n_rows long, median double")
    if n % 2 == 1:
        med = kth_smallest(df, (n + 1) // 2)
    else:
        a = kth_smallest(df, n // 2)
        b = kth_smallest(df, n // 2 + 1)
        med = (a + b) / 2.0
    return spark.createDataFrame([(n, float(med))], "n_rows long, median double")
