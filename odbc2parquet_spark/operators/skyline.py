"""Skyline (Pareto frontier) — the preference-query operator.

A row r is on the 2-D skyline of (minimize x, maximize y) iff no other row
q has ``q.x <= r.x AND q.y >= r.y`` with at least one strict inequality
(Borzsony/Kossmann/Stocker, ICDE '01). Spark has no skyline operator and
the naive NOT EXISTS formulation is a quadratic nested-loop join — the
DuckDB oracle states exactly that form; this module is the scale path.

Scale shape (the same two-pass literal-boundary scheme as the prefix-sum
family, operators/bucketing.py):

1. bucket rows by x with LITERAL monotone boundaries (one approx-quantile
   pass; bucket b's x are all strictly below bucket b+1's distinct x —
   equal x always shares a bucket since the bucket is a function of x);
2. collapse to the distinct-x table ``(bucket, x, ymax)`` — a map-side
   combinable groupBy, after which all skyline logic runs on DISTINCT x
   values, not rows;
3. pass 1: per-bucket max(ymax) -> driver (32 longs, never
   data), folded into EXCLUSIVE prefix maxima per bucket;
4. pass 2: within each bucket a window ordered by x takes the running
   max over strictly-preceding distinct-x rows; combined with the bucket
   offset this is max{ ymax(x') : x' < x } GLOBALLY. A distinct x is a
   frontier point iff its ymax strictly exceeds that (cheaper-x best);
5. rows join back to frontier points (broadcast — the frontier is at most
   one row per distinct y) keeping ties: rows with equal (x, y) do not
   dominate each other and are all reported, matching NOT EXISTS.

Total cost: one quantile sketch + one groupBy + one bucket-local window +
one broadcast join — no quadratic shape anywhere, survives any row count
with ordinary shuffle sizing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.operators.bucketing import order_bucket_col


def skyline_2d(df: DataFrame) -> DataFrame:
    """Rows of ``df`` on the Pareto frontier of (minimize ``p_retailprice``,
    maximize ``p_size``). Returns the input columns unchanged; duplicate
    frontier rows (equal x and y) are all kept. NULLs in either column are
    excluded (three-valued dominance is undefined for them).
    """
    src = df.filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
    with_pid = src.withColumn(
        "_pid_", order_bucket_col(src, "p_retailprice")
    )
    per_x = with_pid.groupBy("_pid_", "p_retailprice").agg(
        F.max("p_size").alias("_ymax_")
    )

    # pass 1: per-bucket maxima -> exclusive prefix maxima (driver sees
    # 32 values only)
    bucket_rows = per_x.groupBy("_pid_").agg(F.max("_ymax_").alias("m")).collect()
    if not bucket_rows:
        return src.limit(0)
    prefix: dict[int, object] = {}
    best = None
    for r in sorted(bucket_rows, key=lambda r: r["_pid_"]):
        prefix[r["_pid_"]] = best
        best = r["m"] if best is None or r["m"] > best else best
    spark = df.sparkSession
    ymax_type = dict(per_x.dtypes)["_ymax_"]
    offset_df = F.broadcast(
        spark.createDataFrame(
            [(pid, pm) for pid, pm in prefix.items()],
            f"_pid_ int, _pmax_ {ymax_type}",
        )
    )

    # pass 2: bucket-local running max over strictly-smaller distinct x
    wl = (
        Window.partitionBy("_pid_")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_x.withColumn("_run_", F.max("_ymax_").over(wl))
        .join(offset_df, "_pid_")
        .withColumn("_prev_", F.greatest("_run_", "_pmax_"))
        .filter(F.col("_prev_").isNull() | (F.col("_ymax_") > F.col("_prev_")))
        .select("p_retailprice", "_ymax_")
    )

    # rows join back: keep every row attaining its x's frontier ymax
    return (
        src.join(F.broadcast(frontier), on="p_retailprice")
        .filter(F.col("p_size") == F.col("_ymax_"))
        .drop("_ymax_")
    )
