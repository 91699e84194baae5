"""Z-order (Morton-curve) clustering for multi-dimensional data skipping.

The reference engine has no layout optimizer (it writes row groups in fetch
order); at 100 TB the dominant cost of every selective scan is how many row
groups the parquet min/max statistics let you SKIP. Sorting by one column
skips well on that column and not at all on any other; interleaving the
bits of two range-bucketed columns (the Morton / Z curve) makes every run
of consecutive rows a small RECTANGLE in (x, y) space, so min/max pruning
works on BOTH dimensions at once. This is the same layout strategy Delta
Lake's OPTIMIZE ZORDER BY and ClickHouse's mortonEncode expose.

Design for exact cross-engine parity (the DuckDB oracle must reproduce the
key bit-for-bit):

- range bucketing uses only integer subtraction, multiplication and one
  correctly-rounded double division: ``floor((v - min) * 2^bits /
  (max - min + 1))``. All intermediates stay far below 2^53, so the
  division is exact in IEEE double wherever the true quotient is an
  integer — no boundary flips between engines.
- bit interleaving is a sum of disjoint shifted bits, generated by ONE
  Python function in two SQL dialects (Spark ``shiftright``/``shiftleft``
  vs DuckDB ``>>``/``<<``); the arithmetic is identical.

Scale shape: key computation is map-only (no shuffle); clustering a table
on the key is one ``repartitionByRange`` + ``sortWithinPartitions`` —
exactly the cost of any global sort, paid once at write time, repaid on
every subsequent selective scan. min/max stats per bucket never leave the
executors (one small groupBy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cell_sql(v: str, mn: str, mx: str, bits: int) -> str:
    """Range-bucket ``v`` into [0, 2^bits) given min/max expressions.

    Identical text works in Spark SQL and DuckDB: integer ops plus one
    double division whose integer results are exactly representable.
    """
    return (
        f"CAST(FLOOR(({v} - {mn}) * {1 << bits} / ({mx} - {mn} + 1)) AS BIGINT)"
    )


def zorder_sql(cx: str, cy: str, bits: int, dialect: str = "spark") -> str:
    """Interleave the low ``bits`` bits of two cell coordinates.

    x occupies even bit positions, y odd; ``+`` over disjoint bits == OR.
    ``dialect`` picks shift syntax: Spark lacks ``>>``/``<<`` operators,
    DuckDB lacks ``shiftright``/``shiftleft`` functions.
    """
    if dialect == "spark":
        def shr(a: str, k: int) -> str:
            return f"shiftright({a}, {k})" if k else a

        def shl(a: str, k: int) -> str:
            return f"shiftleft({a}, {k})" if k else a
    else:
        def shr(a: str, k: int) -> str:
            return f"(({a}) >> {k})" if k else a

        def shl(a: str, k: int) -> str:
            return f"(({a}) << {k})" if k else a

    terms = []
    for i in range(bits):
        terms.append(shl(f"({shr(cx, i)} & 1)", 2 * i))
        terms.append(shl(f"({shr(cy, i)} & 1)", 2 * i + 1))
    return "(" + " + ".join(terms) + ")"


def zorder_key(df: DataFrame) -> DataFrame:
    """Append ``zkey``: the Morton interleave of ``x`` and ``y``, each
    range-bucketed into 10 bits.

    min/max for the bucketing are computed by one tiny aggregate and
    joined back as a broadcast (no driver round-trip in the plan).

    Keys are expected to be INTEGER-DOMAIN (ints, dates-as-days,
    epoch-seconds): the exact-integer cell arithmetic divides the value
    range by (max - min + 1), so a float column whose whole range spans
    less than ~2^10 units collapses into a few cells and loses
    clustering resolution (layout quality, not correctness). Pre-scale
    fractional floats to integers first — e.g.
    ``F.floor(F.col("price") * 100)`` — choosing a multiplier that
    spreads the range across at least 2^10 units.
    """
    stats = df.agg(
        F.min("x").alias("_mnx"),
        F.max("x").alias("_mxx"),
        F.min("y").alias("_mny"),
        F.max("y").alias("_mxy"),
    )
    cx = cell_sql("x", "_mnx", "_mxx", 10)
    cy = cell_sql("y", "_mny", "_mxy", 10)
    z = zorder_sql(cx, cy, 10)
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("zkey", F.expr(z))
        .drop("_mnx", "_mxx", "_mny", "_mxy")
    )


def zorder_bucket_stats(df: DataFrame) -> DataFrame:
    """Clustering-quality certificate: split the 20-bit curve into 2^6
    consecutive runs and report each run's bounding rectangle.

    A correct Z layout yields per-bucket x/y spans near range/2^3 —
    the quantitative form of "min/max pruning now works on both columns".
    Emits (bucket, n_rows, x_min, x_max, y_min, y_max).
    """
    keyed = zorder_key(df)
    bucket = F.shiftright(F.col("zkey"), 14)
    return (
        keyed.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("x").cast("long").alias("x_min"),
            F.max("x").cast("long").alias("x_max"),
            F.min("y").cast("long").alias("y_min"),
            F.max("y").cast("long").alias("y_max"),
        )
    )
