"""Distribution-drift and rank-statistic operators — the monitoring layer.

A 100 TB training pipeline re-ingests sources continuously; the question
"did this source's distribution move since the last snapshot?" must be
answerable without sampling to the driver. These operators compute the
standard drift / discrimination statistics (PSI, Kolmogorov-Smirnov D,
ROC-AUC, Gini concentration, chi-square independence) as pure DataFrame
plans whose only driver traffic is per-partition partial sums
(``prefix_sums``: 32 longs, never data).

Scale shapes (each documented per function):

- every statistic first collapses the corpus to a bounded intermediate —
  fixed bins (PSI), distinct values (KS/AUC/Gini), or a contingency grid
  (chi-square) — with map-side combine, so the shuffled volume is the
  cardinality of the *statistic*, not the data;
- cumulative distribution functions are distributed prefix sums
  (range-partition + per-partition offsets), NOT single-reducer global
  windows;
- all cross-engine-fragile arithmetic (ln, division chains) happens on
  values already rounded to 6 decimals, and multi-term totals are summed
  as DECIMAL so addition order cannot change the hash.

Reference scope note: the reference (odbc2parquet) moves bytes and leaves
statistics to the DBMS; here Spark IS the engine, so the monitoring
surface is first-class (same rationale as operators/quality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: rounded per-term contributions are summed exactly in this decimal type
_DEC = "decimal(24,6)"


def prefix_sums(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    boundary_source: tuple[DataFrame, str] | None = None,
    with_totals: bool = False,
) -> DataFrame:
    """Inclusive distributed prefix sums of ``sum_cols`` in ``order_cols``
    order — the generalized two-pass pattern of pack_shards_two_pass /
    sweep_line_concurrency, for any number of summed columns at once.

    Bucketing is the literal-boundary scheme of operators/bucketing.py:
    a one-off approx-quantile pass embeds monotone bucket boundaries as
    plan literals, so pass 1 (per-bucket sums — 32 buckets ×
    len(sum_cols) longs to the driver, never data) and pass 2 (bucket
    offset + bucket-local running sum) recompute identical buckets from
    the source scan. Nothing is persisted, checkpointed, or pinned —
    the full input never touches executor storage, which is the only
    shape that survives a 100 TB input. Output: input columns plus
    ``c_<col>`` (inclusive cumulative) per summed column.

    ``boundary_source``: optional (DataFrame, column) proxy for the
    quantile pass — when ``df`` is itself a derived aggregate (the usual
    distinct-value collapse), sampling boundaries from the RAW column it
    collapsed from skips one full recomputation of that aggregation.
    Boundaries are plan literals either way: a proxy (even a skewed one)
    affects bucket balance only, never correctness.

    ``with_totals``: additionally attach each summed column's GRAND total
    as a constant ``t_<col>`` column — the offsets pass already folds it
    on the driver, so callers that need totals (medians, CDFs) save a
    separate aggregation pass over ``df``.
    """
    from odbc2parquet_spark.operators.bucketing import (
        bucket_offsets,
        order_bucket_col,
    )

    spark = df.sparkSession
    if boundary_source is not None:
        proxy_df, proxy_col = boundary_source
        bucket = order_bucket_col(proxy_df, proxy_col, apply_col=order_cols[0])
    else:
        bucket = order_bucket_col(df, order_cols[0])
    with_pid = df.withColumn("_pid_", bucket)
    offsets, grand = bucket_offsets(with_pid, sum_cols)
    if not offsets[sum_cols[0]]:
        out = with_pid
        for c in sum_cols:
            out = out.withColumn(f"c_{c}", F.lit(0).cast("long"))
            if with_totals:
                out = out.withColumn(f"t_{c}", F.lit(0).cast("long"))
        return out.drop("_pid_").limit(0)
    rows = [
        (pid, *[offsets[c][pid] for c in sum_cols])
        for pid in sorted(offsets[sum_cols[0]])
    ]
    offset_df = F.broadcast(
        spark.createDataFrame(rows, ["_pid_", *[f"_off_{c}_" for c in sum_cols]])
    )
    wl = (
        Window.partitionBy("_pid_")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = with_pid.join(offset_df, "_pid_")
    for c in sum_cols:
        out = out.withColumn(
            f"c_{c}", (F.sum(c).over(wl) + F.col(f"_off_{c}_")).cast("long")
        )
        if with_totals:
            out = out.withColumn(f"t_{c}", F.lit(grand[c]).cast("long"))
    return out.drop("_pid_", *[f"_off_{c}_" for c in sum_cols])


def psi_drift(df: DataFrame, in_b) -> DataFrame:
    """Population Stability Index between two populations of ``value``
    (rows where boolean column expression ``in_b`` holds are population B,
    the rest population A — e.g. this week's ingest vs the reference
    snapshot).

    Bins are 10 fixed-width intervals of the pooled [min, max]
    range — a pure map expression once the 1-row (min, max) aggregate is
    broadcast, so binning rides the scan. Counts per (bin, population)
    partial-aggregate map-side; every downstream term operates on
    10 rows. Laplace smoothing ((n+1)/(N+10)) keeps empty
    bins finite and is mirrored in the oracle. Empty bins still emit a
    row (bins come from a 1-row sequence explode, observed counts LEFT
    join on), because their smoothed terms contribute to the index.

    Returns one row per bin: (bin, n_a, n_b, psi_term) with psi_term =
    (p_a - p_b) * ln(p_a / p_b) rounded to 6 decimals; the index is the
    exact decimal sum of the terms (see the registered query).
    """
    flagged = df.select(
        F.col("value").alias("v"), in_b.cast("boolean").alias("_b_")
    )
    stats = flagged.agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.sum(F.when(~F.col("_b_"), 1).otherwise(0)).cast("long").alias("n_a_tot"),
        F.sum(F.when(F.col("_b_"), 1).otherwise(0)).cast("long").alias("n_b_tot"),
    )
    binned = flagged.crossJoin(F.broadcast(stats)).select(
        # zero-range guard: a constant column (mx == mn) would divide by
        # zero and NULL every bin — collapse it to bin 0 instead
        # (mirrored in the registered oracle)
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / F.lit(10.0))
                ),
                F.lit(9),
            )
        )
        .cast("long")
        .alias("bin"),
        "_b_",
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(~F.col("_b_"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("_b_"), 1).otherwise(0)).cast("long").alias("n_b"),
    )
    grid = stats.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
        "n_a_tot",
        "n_b_tot",
    ).select(F.col("bin").cast("long").alias("bin"), "n_a_tot", "n_b_tot")
    pa = (F.col("n_a") + 1).cast("double") / (
        F.col("n_a_tot") + F.lit(10)
    ).cast("double")
    pb = (F.col("n_b") + 1).cast("double") / (
        F.col("n_b_tot") + F.lit(10)
    ).cast("double")
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            "n_a_tot",
            "n_b_tot",
        )
        .select(
            "bin",
            "n_a",
            "n_b",
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
        )
    )


def ks_two_sample(df: DataFrame, in_b) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: D = max over x of
    |F_a(x) - F_b(x)| between the two populations of ``value``.

    The corpus collapses to one row per DISTINCT value first (map-side
    combined counts), so the prefix-sum stage shuffles the value
    cardinality, not the row count; the empirical CDFs are distributed
    prefix sums (``prefix_sums`` — no global window). The per-value gap
    |c_a/N_a - c_b/N_b| is mirrored IEEE division on exact integer
    cumulative counts; the max is order-independent after rounding to 6.

    Returns one row: (n_a, n_b, d_stat).
    """
    flagged = df.select(
        F.col("value").alias("v"), in_b.cast("boolean").alias("_b_")
    )
    per_value = flagged.groupBy("v").agg(
        F.sum(F.when(~F.col("_b_"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("_b_"), 1).otherwise(0)).cast("long").alias("nb"),
    )
    # boundary proxy = the raw value column (one pruned scan) and totals
    # from the offsets fold: the distinct-value aggregation computes only
    # twice (offsets + final) instead of four times
    cum = prefix_sums(
        per_value,
        ["v"],
        ["na", "nb"],
        boundary_source=(df.select(F.col("value").alias("_v_")), "_v_"),
        with_totals=True,
    )
    return (
        cum.select(
            F.col("t_na").alias("n_a"),
            F.col("t_nb").alias("n_b"),
            F.round(
                F.abs(
                    F.col("c_na").cast("double") / F.col("t_na").cast("double")
                    - F.col("c_nb").cast("double") / F.col("t_nb").cast("double")
                ),
                6,
            ).alias("d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("d").alias("d_stat"))
    )


def rank_auc(df: DataFrame, is_pos) -> DataFrame:
    """ROC-AUC of ``value`` ranking the positive class (rows where
    ``is_pos`` holds) — the Mann-Whitney U statistic with exact
    average-rank tie handling, in pure integer arithmetic.

    Shape: corpus → one row per distinct score (map-side combined
    (n_pos, n_neg)), cumulative negatives below each score via
    ``prefix_sums``, then the doubled U statistic
    ``U2 = Σ n_pos(s) * (2 * negs_below(s) + n_neg(s))`` — a BIGINT, so
    both engines agree bit-for-bit; the single division
    ``AUC = U2 / (2 * N_pos * N_neg)`` happens once, rounded to 6.

    Returns one row: (n_pos, n_neg, auc).
    """
    flagged = df.select(
        F.col("value").alias("s"), is_pos.cast("boolean").alias("_p_")
    )
    per_score = flagged.groupBy("s").agg(
        F.sum(F.when(F.col("_p_"), 1).otherwise(0)).cast("long").alias("np"),
        F.sum(F.when(~F.col("_p_"), 1).otherwise(0)).cast("long").alias("nn"),
    )
    cum = prefix_sums(
        per_score,
        ["s"],
        ["nn"],
        boundary_source=(df.select(F.col("value").alias("_s_")), "_s_"),
    )
    u2 = cum.agg(
        F.sum(
            F.col("np") * (2 * (F.col("c_nn") - F.col("nn")) + F.col("nn"))
        )
        .cast("long")
        .alias("u2"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
    )
    return u2.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("u2").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
            6,
        ).alias("auc"),
    )


def gini_concentration(df: DataFrame) -> DataFrame:
    """Gini coefficient of the ``v`` distribution (one row per
    unit, e.g. revenue per supplier) — the inequality/concentration
    number behind "the top 1% of domains contribute 60% of tokens".

    Uses the sorted-multiset identity G = Σ_i (2i - n - 1)·x_i / (n·Σx),
    evaluated per distinct-value GROUP: a run of ``c`` equal values ``v``
    starting after cumulative position ``p`` contributes
    ``v · c · (2p + c - n)`` — exact DECIMAL × BIGINT arithmetic, so the
    numerator is order-independent. Distinct values collapse map-side;
    positions come from ``prefix_sums`` (no global window); the final
    division is the only float step, rounded to 6.

    ``v`` must be a decimal/integer type for exactness.

    Returns one row: (n, total, gini).
    """
    per_value = df.groupBy(F.col("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # n rides the offsets fold (with_totals); Σx folds into the SAME final
    # aggregate as the numerator — the distinct-value aggregation computes
    # exactly twice (offsets + final), with no separate totals pass
    cum = prefix_sums(
        per_value,
        ["v"],
        ["c"],
        boundary_source=(df.select(F.col("v").alias("_v_")), "_v_"),
        with_totals=True,
    )
    contrib = cum.select(
        F.col("t_c").alias("n"),
        (F.col("v") * F.col("c")).alias("vc"),
        (
            F.col("v")
            * F.col("c")
            * (2 * (F.col("c_c") - F.col("c")) + F.col("c") - F.col("t_c"))
        ).alias("term"),
    )
    return (
        contrib.groupBy("n")
        .agg(F.sum("term").alias("num"), F.sum("vc").alias("total"))
        .select(
            "n",
            "total",
            F.round(
                F.col("num").cast("double")
                / (F.col("n") * F.col("total")).cast("double"),
                6,
            ).alias("gini"),
        )
    )


def _cov_project(sxy_df, sums):
    """Shared final projection for both covariance formulations: from
    integer-scaled sums (sxy = Σ x6_i·x6_j, sx = Σ x6 per dim, elements
    scaled by 10^6) to the rounded covariance. Both paths feed the SAME
    token sequence, so their outputs are bit-identical by construction —
    and the DuckDB oracle mirrors it."""
    si = sums.select(F.col("d").alias("i"), F.col("sx").alias("sx_i"))
    sj = sums.select(F.col("d").alias("j"), F.col("sx").alias("sx_j"))
    return (
        sxy_df.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "n",
            (
                F.round(
                    (
                        F.col("sxy").cast("double")
                        - F.col("sx_i").cast("double")
                        * F.col("sx_j").cast("double")
                        / F.col("n").cast("double")
                    )
                    / F.lit(1000000000000.0)
                    / (F.col("n") - 1).cast("double"),
                    6,
                )
                + F.lit(0.0)  # IEEE -0.0 + 0.0 = +0.0: canonical zero on both engines
            ).alias("cov"),
        )
    )


def covariance_matrix(vectors: DataFrame) -> DataFrame:
    """Upper-triangle covariance matrix of the 64-wide ``embedding``
    column — the embedding-space drift statistic (compare against the snapshot's
    matrix to detect encoder or corpus shift; feeds whitening/PCA).

    Scale shape: an Arrow-batched numpy partial-Gram pass (mapInPandas —
    the one place built-in operators genuinely can't express the work:
    d² products per row through codegen'd explode measured 8.7× the
    data-rate at the second decade; the batched integer matmul is flat).
    Each batch emits its exact int64 Gram Xᵀ·X and per-dim sums —
    d(d+1)/2 + d rows per batch regardless of batch size — and the
    partials merge in one DECIMAL(38,0) groupBy, so the shuffle is
    statistic-sized, the driver sees nothing, and every term stays
    exact integer arithmetic until the single final division.

    Exactness contract: elements quantize to 6 decimals AS THE ENGINES
    DO (half away from zero). float32-origin values make the ×10⁶
    product exact in float64 (24+20 mantissa bits < 53), so the numpy
    quantization equals CAST(x AS DECIMAL(18,6)) bit-for-bit;
    :func:`covariance_matrix_decimal` is the engine-side verification
    twin, equality-tested. Int64 Gram accumulation is exact for
    |x| < ~3037: batches are internally chunked so that
    chunk_rows·max(|x·10⁶|)² stays below 2⁶² and the chunk partials
    merge in the DECIMAL(38,0) groupBy; beyond that bound a SINGLE
    product would wrap, so the pass raises (rescale, or use the decimal
    twin) rather than return silently wrong values.

    Returns one row per (i, j) with i <= j: (i, j, n, cov).
    """
    sxy_df, sums = _gram_partials(vectors)
    return _cov_project(sxy_df, sums)


def _gram_partials(vectors: DataFrame):
    """The shared Arrow-batched integer Gram pass behind
    :func:`covariance_matrix` and :func:`correlation_matrix`: per-batch
    exact int64 Xᵀ·X + per-dim sums (d(d+1)/2 + d rows per BATCH), merged
    in one DECIMAL(38,0) groupBy. Returns (sxy_df(i,j,sxy,n), sums(d,sx))."""
    import numpy as np
    import pandas as pd

    def gram_batches(batches):
        iu = np.triu_indices(64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # engine-equal quantization: round half away from zero at 1e6
            Xs = (np.sign(X) * np.floor(np.abs(X) * 1e6 + 0.5)).astype(np.int64)
            # Overflow guard: each Gram entry sums chunk_len products each
            # bounded by m², so chunk the batch to chunk_len·m² < 2⁶² and
            # the int64 accumulation is exact. Chunking bottoms out at one
            # row, so m² itself must fit: |x| > ~3037 after the 1e6
            # quantization would wrap a SINGLE product — refuse loudly
            # (use covariance_matrix_decimal for such magnitudes) instead
            # of returning silently wrong statistics.
            m = int(np.abs(Xs).max(initial=0))
            if m * m >= (1 << 62):
                raise ValueError(
                    f"embedding magnitude {m / 1e6:.1f} exceeds the int64 "
                    "Gram range (|x| < ~3037); rescale the vectors or use "
                    "covariance_matrix_decimal"
                )
            chunk = len(pdf) if m == 0 else max(1, (1 << 62) // (m * m))
            for s in range(0, len(pdf), chunk):
                Xc = Xs[s : s + chunk]
                G = Xc.T @ Xc
                n = len(Xc)
                out = pd.DataFrame(
                    {
                        "i": iu[0].astype(np.int32),
                        "j": iu[1].astype(np.int32),
                        "sxy": G[iu],
                        "n": np.int64(n),
                    }
                )
                dsum = pd.DataFrame(
                    {
                        "i": np.arange(64, dtype=np.int32),
                        "j": np.int32(-1),
                        "sxy": Xc.sum(axis=0),
                        "n": np.int64(n),
                    }
                )
                yield pd.concat([out, dsum], ignore_index=True)

    partials = vectors.select("embedding").mapInPandas(
        gram_batches, "i int, j int, sxy long, n long"
    )
    sxy_df = (
        partials.filter(F.col("j") >= 0)
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"),
            F.sum("n").cast("long").alias("n"),
        )
    )
    sums = (
        partials.filter(F.col("j") < 0)
        .groupBy(F.col("i").alias("d"))
        .agg(F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sx"))
    )
    return sxy_df, sums


def correlation_matrix(vectors: DataFrame) -> DataFrame:
    """Upper-triangle Pearson correlation matrix of the 64-wide
    ``embedding`` column —
    the scale-free twin of :func:`covariance_matrix` (feature-redundancy
    audit: highly correlated dimensions signal a collapsed encoder or a
    copied feature; the drift comparison that survives re-normalization).

    Same scale shape as the covariance: ONE Arrow-batched integer Gram
    pass (shared, :func:`_gram_partials`), one statistic-sized DECIMAL
    groupBy, then a projection over d(d+1)/2 rows joined with the d-row
    diagonal (broadcast). The ×10⁶ quantization scale cancels in the
    ratio; numerator and variance terms follow ONE mirrored IEEE token
    sequence (see the registered oracle) so both engines land on the
    same double before the final ROUND. Zero-variance dimensions emit
    NULL (mirrored CASE), never a 0/0 NaN.

    Returns one row per (i, j) with i <= j: (i, j, n, corr).
    """
    sxy_df, sums = _gram_partials(vectors)
    nd = F.col("n").cast("double")

    def var_term(sxy, sx):
        return sxy.cast("double") - sx.cast("double") * sx.cast("double") / nd

    diag = (
        sxy_df.filter(F.col("i") == F.col("j"))
        .join(sums.withColumnRenamed("d", "i"), "i")
        .select(F.col("i").alias("d"), var_term(F.col("sxy"), F.col("sx")).alias("var"))
    )
    si = sums.select(F.col("d").alias("i"), F.col("sx").alias("sx_i"))
    sj = sums.select(F.col("d").alias("j"), F.col("sx").alias("sx_j"))
    vi = diag.select(F.col("d").alias("i"), F.col("var").alias("var_i"))
    vj = diag.select(F.col("d").alias("j"), F.col("var").alias("var_j"))
    num = (
        F.col("sxy").cast("double")
        - F.col("sx_i").cast("double") * F.col("sx_j").cast("double") / nd
    )
    return (
        sxy_df.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .join(F.broadcast(vi), "i")
        .join(F.broadcast(vj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "n",
            F.when(
                (F.col("var_i") <= 0) | (F.col("var_j") <= 0), F.lit(None)
            )
            .otherwise(
                F.round(
                    num / F.sqrt(F.col("var_i") * F.col("var_j")), 6
                )
                + F.lit(0.0)
            )
            .alias("corr"),
        )
    )


def cusum_changepoint(df: DataFrame) -> DataFrame:
    """CUSUM changepoint detection per ``event_type``: the day t maximizing
    |Σ_{i<=t}(x_i - mean)| over the group's daily ``value`` totals
    (days of ``ts``) — the standard
    "when did this metric's level shift?" statistic a monitoring layer
    runs per source/event-type between snapshots.

    Scale shape: the corpus collapses to (group, day) totals map-side in
    one combinable groupBy (the shuffle is calendar-sized, not
    data-sized); everything after operates on days-per-group partitions —
    bounded by the calendar, so the per-group windows never concentrate
    the corpus on one reducer. Exactness: daily totals are 6-decimal
    DECIMAL sums scaled to int64 (x6); the deviation statistic is kept
    as the INTEGER D_t = n·(Σ_{i<=t} x6_i) - t·(Σ x6) — exact bigint
    arithmetic, order-independent — and only the final reported d_stat
    divides by n·10⁶. Ties on |D_t| break to the earliest day (mirrored
    rank order).

    Returns one row per group: (group, n_days, change_day, d_stat).
    """
    g = F.col("event_type")
    daily = (
        df.groupBy(g.alias("g"), F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("x")
        )
        .select("g", "day", (F.col("x") * 1000000).cast("long").alias("x6"))
    )
    totals = daily.groupBy("g").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x6").cast("long").alias("tot"),
    )
    w = Window.partitionBy("g").orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        daily.join(F.broadcast(totals), "g")
        .withColumn("t", F.row_number().over(w).cast("long"))
        .withColumn("c", F.sum("x6").over(wc).cast("long"))
        .withColumn(
            "absd", F.abs(F.col("n_days") * F.col("c") - F.col("t") * F.col("tot"))
        )
    )
    wr = Window.partitionBy("g").orderBy(F.desc("absd"), F.asc("day"))
    return (
        scored.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            F.col("g").alias("event_type"),
            "n_days",
            F.col("day").alias("change_day"),
            F.round(
                F.col("absd").cast("double")
                / (F.col("n_days").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("d_stat"),
        )
    )


def covariance_matrix_decimal(vectors: DataFrame, dim: int = 16) -> DataFrame:
    """Engine-side verification twin of :func:`covariance_matrix`: the
    same integer-scaled sums built from pure Catalyst expressions — each
    row expands its d(d+1)/2 index pairs inline (nested transform +
    flatten + explode, a map expression; no self-join) with exact long
    products, map-side combined into statistic-sized groups. Identical
    output by construction (shared final projection); quadratic in d per
    row through the row-at-a-time expression path, so the Arrow matmul
    version is the scale path."""
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def elem(i):
        return (
            F.element_at(F.col("embedding"), i + 1)
            .cast("double")
            .cast("decimal(18,6)")
            * 1000000
        ).cast("long")

    pairs = vectors.select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.sequence(i, F.lit(dim - 1)),
                        lambda j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            (elem(i) * elem(j)).alias("p"),
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.i", "e.j", "e.p")
    sxy_df = pairs.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).alias("sxy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sums = (
        vectors.select(F.posexplode(F.col("embedding")).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.sum(
                (F.col("x").cast("double").cast("decimal(18,6)") * 1000000)
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("sx")
        )
    )
    return _cov_project(sxy_df, sums)


def chi_square_independence(df: DataFrame) -> DataFrame:
    """Pearson chi-square test of independence between the categorical
    columns ``o_orderpriority`` and ``o_orderstatus`` — "is label
    distribution independent of source?", the stratification audit for
    mixture sampling.

    Shape: ONE groupBy(a, b) over the corpus (map-side combined) yields
    the contingency table; marginals re-aggregate the table itself
    (never the data); the full level grid is the bounded
    |levels_a| × |levels_b| cross of the two marginal frames, LEFT-joined
    with observed counts because zero-observed cells still contribute
    their expectation. Per-cell terms (o - e)²/e are mirrored IEEE on
    exact integer marginals, rounded to 6, and summed as DECIMAL so the
    statistic is order-independent.

    Returns one row: (n, levels_a, levels_b, dof, chi2).
    """
    obs = df.groupBy(
        F.col("o_orderpriority").alias("a"), F.col("o_orderstatus").alias("b")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    row_tot = obs.groupBy("a").agg(F.sum("o").cast("long").alias("rt"))
    col_tot = obs.groupBy("b").agg(F.sum("o").cast("long").alias("ct"))
    grand = obs.agg(F.sum("o").cast("long").alias("n"))
    grid = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .crossJoin(F.broadcast(grand))
        .join(obs, ["a", "b"], "left")
        .select(
            "n",
            "rt",
            "ct",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n").cast("double")
    terms = grid.select(
        "n",
        F.round((F.col("o") - e) * (F.col("o") - e) / e, 6)
        .cast(_DEC)
        .alias("term"),
    )
    levels = row_tot.agg(F.count(F.lit(1)).cast("long").alias("la")).crossJoin(
        col_tot.agg(F.count(F.lit(1)).cast("long").alias("lb"))
    )
    return (
        terms.groupBy("n")
        .agg(F.sum("term").cast("double").alias("chi2"))
        .crossJoin(F.broadcast(levels))
        .select(
            "n",
            F.col("la").alias("levels_a"),
            F.col("lb").alias("levels_b"),
            ((F.col("la") - 1) * (F.col("lb") - 1)).cast("long").alias("dof"),
            "chi2",
        )
    )


def weighted_median(df: DataFrame) -> DataFrame:
    """Global weighted (lower) median: the smallest ``l_extendedprice`` v
    whose inclusive cumulative ``l_quantity`` weight reaches half the total
    — the robust center of a weighted distribution (quality-weighted corpus
    length, quantity-weighted price) that a plain percentile can't express.

    Scale shape: values first collapse to (value, total-weight) rows
    (one groupBy — cardinality is DISTINCT values, not rows), the
    cumulative weight comes from the literal-boundary two-pass
    :func:`prefix_sums` (no global window, nothing persisted), and the
    selection is a filter + 1-row min. Weights cast to long so the
    half-total comparison is exact integer arithmetic on any engine.

    Returns one row: (wmedian, w_total, n_distinct).
    """
    agg = df.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("w")
    ).withColumn("_one_", F.lit(1).cast("long"))
    # proxy boundaries from the raw value column + totals from the offsets
    # fold (grand weight AND distinct count both ride the prefix pass), so
    # the distinct-value aggregation computes twice, not four times
    cum = prefix_sums(
        agg,
        ["v"],
        ["w", "_one_"],
        boundary_source=(df.select(F.col("l_extendedprice").alias("_v_")), "_v_"),
        with_totals=True,
    )
    return (
        cum.filter(2 * F.col("c_w") >= F.col("t_w"))
        .agg(
            F.min("v").alias("wmedian"),
            F.min("t_w").cast("long").alias("w_total"),
            F.min("t__one_").cast("long").alias("n_distinct"),
        )
    )


def seasonal_decompose(daily: DataFrame) -> DataFrame:
    """Classical additive seasonal decomposition of a daily series:
    value = trend + seasonal + residual (Cleveland's STL ancestor — the
    moving-average decomposition of Macaulay '31; statsmodels'
    ``seasonal_decompose`` is the same recipe), over a weekly period of 7
    days.

    ``daily`` must be one row per ``day`` (a long epoch-day or date)
    with ``val_dec`` an EXACT decimal (order-insensitive sums upstream).

    Determinism contract (hash-matchable across engines): every mean is a
    single IEEE division of an exact-decimal numerator — trend is the
    centered 7-day window sum / 7, the seasonal index is the
    per-phase sum of (7 * value - window_sum) / (7 * n_phase) —
    so no floating-point ACCUMULATION happens anywhere; both engines
    divide identical exact numbers in identical token order. Rows without
    a full centered window (the series' first/last 3 days) are
    dropped, as in statsmodels.

    Scale shape: the input is already aggregated to one row per day, so
    the unpartitioned centered window is bounded by the calendar (3.6k
    rows per decade) — a final fold, not a data-sized window; the phase
    index is a 7-row broadcast join.
    """
    w = Window.orderBy("day").rowsBetween(-3, 3)
    p = F.lit(7)
    full = (
        daily.withColumn("_n_", F.count("*").over(w))
        .withColumn("_s_", F.sum("val_dec").over(w))
        .filter(F.col("_n_") == p)
        .withColumn("_detr_", F.col("val_dec") * p - F.col("_s_"))
        .withColumn("_phase_", F.pmod(F.col("day"), p))
    )
    phase = full.groupBy("_phase_").agg(
        F.sum("_detr_").alias("_num_"), F.count("*").alias("_cnt_")
    )
    seasonal = phase.select(
        "_phase_",
        F.round(
            F.col("_num_").cast("double") / (p.cast("double") * F.col("_cnt_")), 6
        ).alias("seasonal"),
    )
    return (
        full.join(F.broadcast(seasonal), "_phase_")
        .select(
            F.col("day"),
            F.round(F.col("val_dec").cast("double"), 6).alias("val"),
            F.round(F.col("_s_").cast("double") / p, 6).alias("trend"),
            "seasonal",
            F.round(
                F.round(F.col("_detr_").cast("double") / p, 6) - F.col("seasonal"),
                6,
            ).alias("resid"),
        )
    )


def embedding_centroid_shift(a: DataFrame, b: DataFrame) -> DataFrame:
    """Per-dimension centroid shift between two embedding snapshots —
    the cheapest embedding-drift monitor (a new encoder version, a
    domain shift, or a poisoned batch moves the mean before it moves
    pairwise structure): (dim, mean_a, mean_b, delta) for every
    dimension plus one summary row (dim = -1) carrying the L2 norm of
    the shift vector.

    Determinism contract: per-dim means are exact DECIMAL sums with ONE
    division, ROUND 6; deltas re-enter DECIMAL before squaring so the
    32-64-term L2 sum is order-independent; sqrt once at the end. Scale
    shape: each side collapses to d rows via one posexplode + map-side-
    combined groupBy — the shuffle carries (dim, partial sum) rows, and
    everything after is dimension-sized.
    """
    def dim_means(df: DataFrame, name: str) -> DataFrame:
        # micro-unit quantization (the sim_covariance recipe): x*1e6
        # rounded half-away-from-zero into int64 — float32*1e6 is exact
        # in float64, the int sum is exact, and the mean is one division
        xd = F.col("x").cast("double")
        xq = (F.signum(xd) * F.floor(F.abs(xd) * F.lit(1e6) + F.lit(0.5))).cast("long")
        return (
            df.select(F.posexplode(F.col("embedding")).alias("dim", "x"))
            .groupBy("dim")
            .agg(
                F.round(
                    F.sum(xq).cast("double") / (F.lit(1e6) * F.count("*")),
                    6,
                ).alias(name)
            )
        )

    ma, mb = dim_means(a, "mean_a"), dim_means(b, "mean_b")
    per_dim = ma.join(mb, "dim").select(
        "dim",
        "mean_a",
        "mean_b",
        F.round(F.col("mean_b") - F.col("mean_a"), 6).alias("delta"),
    )
    sq = (F.col("delta").cast("decimal(18,6)") * F.col("delta").cast("decimal(18,6)"))
    summary = per_dim.agg(
        F.round(F.sqrt(F.sum(sq).cast("double")), 6).alias("l2")
    ).select(
        F.lit(-1).alias("dim"),
        F.lit(None).cast("double").alias("mean_a"),
        F.lit(None).cast("double").alias("mean_b"),
        F.col("l2").alias("delta"),
    )
    return per_dim.unionAll(summary)


def _daily_counts(events: DataFrame) -> DataFrame:
    """(g, day, c): events per ``event_type`` and calendar day of ``ts``,
    the series :func:`acf_daily` and :func:`theil_sen_daily` start from."""
    return events.groupBy(
        F.col("event_type").alias("g"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("c"))


def acf_daily(events: DataFrame) -> DataFrame:
    """(g, lag, n_days, acf6): autocorrelation of each ``event_type``'s
    daily event-count series at lags 1..7 — the seasonality detector a
    monitoring pipeline runs BEFORE choosing a seasonal window (a strong
    lag-7 spike says "weekly rhythm; deseasonalize with period 7", a flat
    tail says the series is noise and STL would overfit).

    Exactness: with n days, total T and daily count c_t, every mean-
    centered term is scaled by n — num_k = sum (n*c_t - T)(n*c_{t-k} - T)
    and den = sum (n*c_t - T)^2 are exact int64 (counts and the calendar
    keep n*c ~ 1e7 even at corpus scale, squares ~ 1e14, sums ~ 1e17);
    the single division happens once per (group, lag) on the two exact
    integers, rounded to 6. Lags index OBSERVATIONS in day order (on a
    dense calendar this is calendar lag).

    Scale shape: the corpus collapses to (group, day) counts map-side;
    everything after runs on calendar-sized frames (per-group lag window
    + one aggregation), so cost rides the scan regardless of data size.
    """
    daily = _daily_counts(events)
    tot = daily.groupBy("g").agg(
        F.count("*").alias("n_days"), F.sum("c").alias("t")
    )
    w = Window.partitionBy("g").orderBy("day")
    lagged = daily.select(
        "g",
        "day",
        "c",
        *[F.lag("c", k).over(w).alias(f"c{k}") for k in range(1, 8)],
    ).join(tot, "g")
    dev = lagged.select(
        "g",
        "n_days",
        (F.col("n_days") * F.col("c") - F.col("t")).alias("d0"),
        *[
            (F.col("n_days") * F.col(f"c{k}") - F.col("t")).alias(f"d{k}")
            for k in range(1, 8)
        ],
    )
    agg = dev.groupBy("g", "n_days").agg(
        F.sum(F.col("d0") * F.col("d0")).alias("den"),
        *[
            F.sum(F.col("d0") * F.col(f"d{k}")).alias(f"num{k}")
            for k in range(1, 8)
        ],
    )
    lags = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("lag"),
                F.col(f"num{k}").alias("num"),
            )
            for k in range(1, 8)
        ]
    )
    return (
        agg.select("g", "n_days", "den", F.explode(lags).alias("x"))
        .select(
            F.col("g"),
            F.col("x.lag").alias("lag"),
            F.col("n_days"),
            F.round(F.col("x.num") / F.col("den"), 6).alias("acf6"),
        )
    )


def theil_sen_daily(events: DataFrame) -> DataFrame:
    """(g, n_days, n_pairs, slope_med): Theil-Sen robust trend of each
    ``event_type``'s daily event-count series — the slope estimator that
    survives the outlier days (deploy spikes, backfill dumps) that wreck an
    OLS fit; the standard robust "is this metric growing?" answer.

    The estimator is the MEDIAN of all pairwise slopes (c_j - c_i) /
    (j - i) over day indexes i < j. Each slope is ONE IEEE division of
    two exact int64s — bit-identical on any engine — and the median is
    an element PICK (lower median at rank (n+1)//2 in slope order), never
    an average, so the reported value is one of the exact quotients.

    Scale shape: the corpus collapses to (group, day) counts first; the
    pair join is calendar x calendar PER GROUP — bounded by days^2 (a
    decade of days is ~6.7M pairs), independent of corpus row count. The
    rank pick is a per-group window over those bounded pairs.
    """
    daily = _daily_counts(events)
    t = daily.select(
        "g",
        "c",
        F.row_number()
        .over(Window.partitionBy("g").orderBy("day"))
        .alias("t"),
    )
    a, b = t.alias("a"), t.alias("b")
    pairs = a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.t") < F.col("b.t"))).select(
        F.col("a.g").alias("g"),
        (
            (F.col("b.c") - F.col("a.c")).cast("double")
            / (F.col("b.t") - F.col("a.t")).cast("double")
        ).alias("slope"),
    )
    counted = pairs.withColumn(
        "n_pairs", F.count("*").over(Window.partitionBy("g"))
    ).withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("g").orderBy(F.asc("slope"))),
    )
    picked = counted.filter(F.col("rk") == F.expr("(n_pairs + 1) div 2")).select(
        "g", "n_pairs", F.col("slope").alias("slope_med")
    )
    n_days = daily.groupBy("g").agg(F.count("*").alias("n_days"))
    return n_days.join(picked, "g").select("g", "n_days", "n_pairs", "slope_med")


def pca_top_component(vectors: DataFrame) -> DataFrame:
    """(i, pc1_milli, lambda6): leading principal component of a 64-wide
    embedding column by POWER ITERATION on the exact-integer covariance
    matrix — the embedding-QA decomposition (how much variance one
    direction explains; whitening and drift diagnostics start here).

    The covariance entries quantize to ×10⁶ int64 (the already-certified
    :func:`covariance_matrix` contract); the iterate v lives in ×10³
    milli-units. Each round is one exact-int64 matvec r = A₆·v (|r| ≤
    d·10⁶·10³ < 2⁵³) followed by renormalization v' = FLOOR(r·10³ / max|r|)
    — the division happens on exact doubles below 2⁵³, so both engines
    floor the SAME IEEE quotient: not a rational floor, but a bit-
    identical spec. Rayleigh quotient λ = (v·r)/(v·v)/10⁶ from the last
    round's exact integers, rounded to 6 — the explained variance along
    pc1. Covariance is PSD so the iterate cannot oscillate in sign;
    components are reported in the deterministic all-ones-seeded frame.

    Scale shape: the corpus collapses to the d²-row covariance via the
    Arrow partial-Gram pass (statistic-sized shuffle); the power
    iteration then runs ON THE DRIVER over the collected d(d+1)/2-row
    statistic (a bounded pull of the same class as the PQ codebooks and
    the Markov transition table, operators/attribution) — the previous
    iterated-join form paid 2 eager localCheckpoints per round, ~16
    scheduler round-trips of micro-jobs for microseconds of integer
    math (sim_pca_power standalone median 3.1s -> ~0.9s; what remains
    is the Gram pass itself, which stays distributed at any corpus
    size).

    The replay is bit-identical to the replaced join chain: Python ints
    ARE the exact int64 matvec; the renormalization converts through
    float exactly where Spark cast long->double (same IEEE rounding,
    same FLOOR); the Rayleigh rounding replicates Spark round(double,6)
    as shortest-repr Decimal HALF_UP. A zero covariance matrix makes
    the max-normalizer 0 and raises ZeroDivisionError — the same loud
    failure the ANSI-mode division raised in the distributed form.
    """
    import decimal
    import math

    cov_rows = covariance_matrix(vectors).collect()
    spark = vectors.sparkSession
    schema = "i LONG, pc1_milli LONG, lambda6 DOUBLE"
    if not cov_rows:
        return spark.createDataFrame([], schema)
    # CAST(CAST(cov AS DECIMAL(18,6)) * 1000000 AS BIGINT): cov is a
    # double with <= 6 decimals, so the quantization is exact; HALF_UP
    # over the shortest repr mirrors BigDecimal(Double.toString(d)).
    a6: dict[tuple[int, int], int] = {}
    for r in cov_rows:
        c6 = int(
            decimal.Decimal(repr(r.cov)).quantize(
                decimal.Decimal("0.000001"),
                rounding=decimal.ROUND_HALF_UP,
            )
            * 1_000_000
        )
        a6[(r.i, r.j)] = c6
        if r.i != r.j:
            a6[(r.j, r.i)] = c6
    idx = sorted({i for i, _ in a6})
    v = {i: 1000 for i in idx}
    prev_v = v  # v_{k-1}: the Rayleigh quotient reads it
    rvec = {i: 0 for i in idx}
    for _ in range(8):
        rvec = {i: 0 for i in idx}
        for (i, j), c in a6.items():
            rvec[i] += c * v[j]
        m = max(abs(x) for x in rvec.values())
        # v' = FLOOR(r * 1000.0 / m) on doubles: float() is the same
        # long->double conversion Spark's cast performs
        prev_v, v = v, {
            i: math.floor(float(r) * 1000.0 / float(m))
            for i, r in rvec.items()
        }
    num = sum(prev_v[i] * rvec[i] for i in idx)
    den = sum(prev_v[i] * prev_v[i] for i in idx)
    lambda6 = float(
        decimal.Decimal(repr(float(num) / float(den) / 1000000.0)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )
    return spark.createDataFrame(
        [(i, v[i], lambda6) for i in idx], schema
    )
