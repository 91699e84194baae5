"""Categorical feature encoding for training pipelines.

Leave-one-out target encoding is the standard leakage-safe way to turn a
high-cardinality categorical into a numeric feature: each row receives
the target mean of its category computed WITHOUT the row itself, shrunk
toward the global mean by a pseudo-count prior (Micci-Barreca 2001).
Reference parity: the reference transfers values verbatim (no feature
engineering, src/query/mod.rs); this is pipeline-extension surface.

Scale shape: per-category sums come from a map-side-combinable groupBy
(|categories| rows), NOT a window partitioned by the category — a
5-value categorical over 100 TB would otherwise funnel all rows through
5 window tasks. The tiny stats tables broadcast back onto the row
stream, so the whole encode is one narrow pass after two bounded
aggregates.

Determinism contract (matches the repo-wide recipe): target sums are
exact DECIMAL(18,6); the encoded value is a fixed IEEE expression tree
over those exact sums — double(s_cat - x) + w * (double(gs) / gn), one
divide at the end — identical in any engine, then ROUND(.., 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def target_encode_loo(df: DataFrame) -> DataFrame:
    """Adds ``enc_loo`` to ``df``: the smoothed leave-one-out encoding of
    target ``o_totalprice`` per ``o_orderpriority`` (sum_cat - x + w *
    global_mean) / (n_cat - 1 + w), prior weight w = 20.

    Categories with a single row fall back to the prior alone (the
    numerator keeps only the global-mean term; denominator is w), which
    the formula already yields — no special case.
    """
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    cat_stats = df.groupBy("o_orderpriority").agg(
        F.sum(dec).alias("_s_cat_"), F.count("*").alias("_n_cat_")
    )
    glob = df.agg(F.sum(dec).alias("_gs_"), F.count("*").alias("_gn_"))
    enc = (
        (F.col("_s_cat_") - dec).cast("double")
        + F.lit(20.0) * (F.col("_gs_").cast("double") / F.col("_gn_"))
    ) / (F.col("_n_cat_") - 1 + F.lit(20.0))
    return (
        df.join(F.broadcast(cat_stats), "o_orderpriority")
        .crossJoin(F.broadcast(glob))
        .withColumn("enc_loo", F.round(enc, 6))
        .drop("_s_cat_", "_n_cat_", "_gs_", "_gn_")
    )
