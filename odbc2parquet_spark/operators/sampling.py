"""Deterministic sampling — reproducible corpus downsampling.

``df.sample()`` is seed-dependent AND partitioning-dependent: the same
seed over a repartitioned input selects different rows, which breaks
reproducibility guarantees for training-data lineage. Hash-threshold
sampling fixes that: keep a row iff md5(key) < fraction * 2^60 — a pure
function of the ROW, independent of partitioning, cluster size, or
execution order, and reproducible by any engine (the DuckDB oracle
recomputes the identical sample).

``stratified_sample`` and ``ab_assign`` are narrow (zero shuffles): a
hash expression, whole-stage codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import HASH_DOMAIN, md5_long


#: stratified_sample's keep fraction per ``lang``
_FRACTIONS = {"en": 0.5, "de": 1.0, "es": 0.25}


def stratified_sample(df: DataFrame) -> DataFrame:
    """Per-``lang`` hash sampling of ``doc_id`` at the ``_FRACTIONS``
    keep rates (downsample overrepresented languages). Languages absent
    from ``_FRACTIONS`` are dropped; the threshold is a when-chain, so
    still a narrow filter with no join."""
    h = md5_long(F.col("doc_id").cast("string"))
    thr = None
    for value, frac in _FRACTIONS.items():
        cond = F.lit(int(frac * HASH_DOMAIN))
        thr = (
            F.when(F.col("lang") == value, cond)
            if thr is None
            else thr.when(F.col("lang") == value, cond)
        )
    thr = thr.otherwise(F.lit(0))
    return df.filter(h < thr)


_QUANT = 1 << 40  # rate quantization: floor(rate * 2^40) is exact in double


def _rate_sample(
    df: DataFrame,
    source_col: str,
    rated: DataFrame,
    target: DataFrame,
    weight: F.Column,
) -> DataFrame:
    """Hash-threshold sample ``df`` by ``doc_id`` at each source's keep-rate
    ``weight * _t_ / _n_``, read from the per-source ``rated`` frame
    (``_src_``, ``_n_``) joined with the one-row ``target`` (``_t_``),
    quantized to 2^-40 as :func:`mixture_sample` describes."""
    thresholds = (
        rated.join(F.broadcast(target))
        .withColumn(
            "_thr_",
            (
                F.floor(weight * F.col("_t_") / F.col("_n_") * F.lit(float(_QUANT)))
                * F.lit(HASH_DOMAIN // _QUANT)
            ).cast("long"),
        )
        .select("_src_", "_thr_")
    )
    h = md5_long(F.col("doc_id").cast("string"))
    return (
        df.join(F.broadcast(thresholds), df[source_col] == F.col("_src_"))
        .filter(h < F.col("_thr_"))
        .drop("_src_", "_thr_")
    )


#: mixture_sample's target proportion per ``source``
_MIXTURE = {"src0": 0.5, "src1": 0.25, "src2": 0.25}


def mixture_sample(df: DataFrame) -> DataFrame:
    """Reweight a multi-``source`` corpus to the ``_MIXTURE`` proportions.

    The largest achievable mixture keeps every row of the most
    underrepresented source (relative to its weight): with N_s rows per
    source, target total T = min_s(N_s / w_s) and per-source keep-rate
    r_s = w_s * T / N_s <= 1. Each source is then hash-threshold sampled
    at r_s — deterministic row selection, one tiny count aggregate + a
    broadcast of |sources| thresholds, corpus itself never shuffles.

    Thresholds are quantized to 2^-40 and compared in int64 (a raw
    ``hash < rate * 2^60`` double comparison is inexact above 2^53 and
    would make boundary rows engine-dependent).
    """
    counts = df.groupBy(F.col("source").alias("_src_")).agg(
        F.count("*").alias("_n_")
    )
    w = F.create_map(*[F.lit(x) for kv in _MIXTURE.items() for x in kv])
    rated = counts.filter(F.col("_src_").isin(*_MIXTURE)).withColumn(
        "_ratio_", F.col("_n_") / w[F.col("_src_")]
    )
    target = rated.agg(F.min("_ratio_").alias("_t_"))
    return _rate_sample(df, "source", rated, target, w[F.col("_src_")])


def pps_sample(df: DataFrame) -> DataFrame:
    """Systematic probability-proportional-to-size (PPS) sampling: draw
    exactly k = 500 units (with multiplicity) so each row's expected draw
    count is k * w / W for weight w = ``n_chars`` — the
    quality/length-weighted corpus subsampling step of a training-data
    pipeline, in PURE INTEGER arithmetic so any engine reproduces the sample
    bit-for-bit (no pow/log priorities, whose 1-ulp libm differences can
    flip ranks across engines).

    Construction: rows are ordered by a hash of their id (a deterministic
    pseudo-random permutation — systematic sampling needs random order to
    avoid periodicity bias), the integer weights are prefix-summed, and k
    equally spaced points (2j+1)W/(2k) are dropped onto [0, W); a row is
    drawn once per point inside its weight interval:
    ``hits(x) = clamp(floor((2kx + W - 1) / (2W)), 0, k)`` at the
    interval ends, n_hits = hits(cum) - hits(cum - w).

    Scale shape: the prefix sum uses the same two-pass scheme as
    pack_shards_two_pass — per-bucket sums to the driver
    (32 longs), exclusive offsets broadcast back, local
    window cumsum per bucket. Because the ordering key is already a
    UNIFORM 60-bit hash, buckets are exact equal-width slices of the
    hash domain — a pure integer expression both passes recompute
    identically, so nothing is persisted/checkpointed and the buckets
    are balanced by construction. No global-window funnel; the total W
    falls out of pass 1 for free.

    Returns (doc_id, weight, n_hits) for rows with n_hits > 0.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    width = -(-HASH_DOMAIN // 32)  # ceil: pid < 32
    keyed = df.select(
        F.col("doc_id"),
        F.col("n_chars").cast("long").alias("w"),
        md5_long(F.col("doc_id").cast("string")).alias("_h_"),
    )
    with_pid = keyed.withColumn(
        "_pid_", F.expr(f"cast(_h_ div {width} as int)")
    )
    psums = {
        r._pid_: r.s
        for r in with_pid.groupBy("_pid_").agg(F.sum("w").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(psums):
        offsets[pid] = acc
        acc += psums[pid] or 0
    total_w = acc
    if not psums or total_w == 0:
        # empty input (createDataFrame([]) would throw) or all-zero
        # weights (every n_hits would NULL via div-by-zero): nothing can
        # be drawn — return an empty frame with the contract schema.
        return with_pid.select(
            "doc_id",
            F.col("w").alias("weight"),
            F.lit(0).cast("long").alias("n_hits"),
        ).limit(0)
    offset_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], ["_pid_", "_offset_"]
        )
    )
    wl = (
        Window.partitionBy("_pid_")
        .orderBy("_h_", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum("w").over(wl) + F.col("_offset_")).alias("cum")

    # hits(x) via INT64 `div` (never double division — exact at any W)
    def hits(num_col: str) -> str:
        return (
            "least(cast(500 as bigint), greatest(cast(0 as bigint), "
            f"{num_col} div {2 * total_w}))"
        )

    out = (
        with_pid.join(offset_df, "_pid_")
        .select("doc_id", "w", cum)
        .withColumn("_hi_", 2 * F.lit(500) * F.col("cum") + F.lit(total_w - 1))
        .withColumn(
            "_lo_",
            2 * F.lit(500) * (F.col("cum") - F.col("w")) + F.lit(total_w - 1),
        )
        .select(
            "doc_id",
            F.col("w").alias("weight"),
            (F.expr(hits("_hi_")) - F.expr(hits("_lo_"))).cast("long").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )
    return out


def ab_assign(df: DataFrame) -> DataFrame:
    """Deterministic two-arm experiment assignment: variant = hash-slot of
    the unit key ``user_id`` salted with ``exp:`` (same contract as the
    train/val split — no RNG, no state; a unit keeps its arm across reruns,
    partitionings and engines, and any engine can re-derive the assignment
    for audit).

    Adds a ``variant`` column 'A' or 'B' — pure map expression, zero
    shuffles. Assigning on the USER key (not the event) keeps all of a
    unit's events in one arm, the correctness condition for any
    per-unit experiment metric.
    """
    slot = md5_long(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))) % 2
    return df.withColumn("variant", F.when(slot == 0, "A").when(slot == 1, "B"))


def reservoir_sample(df: DataFrame) -> DataFrame:
    """Per-``lang`` weighted reservoir sample (Efraimidis-Spirakis A-Res):
    each row draws u = (md5_60(doc_id)+1) / 2^60 and scores u^(1/w) with
    weight w = ``n_chars``; the 16 highest scores per group are a
    weighted-without-replacement sample — P(selected) proportional to
    weight, exactly the distributed equivalent of the classic streaming
    reservoir.

    Deterministic for the same reason as the hash-threshold samplers (u
    is a pure row function), so the SAMPLE ITSELF is reproducible across
    runs, partitionings, and engines — the lineage property training
    pipelines need. Rows with weight <= 0 are excluded (a zero-weight
    row can never be drawn; a negative weight is a data error).

    The rank key is ln(u)/w, monotone-equivalent to u^(1/w) (ln(u) < 0),
    with the ONE libm call (ln) rounded to 9 decimals BEFORE the
    division: pow with a per-row fractional exponent may differ by 1 ulp
    between the JVM and libm (the repo's sqrt-only rule), and an
    unrounded rank key would let that ulp flip the k-cut at near-ties.
    After the quantize, the division is plain IEEE arithmetic on
    identical doubles — bit-equal in any engine — so the ORDER itself is
    engine-exact, not merely the rounded output.

    At 100 TB: one keyed window whose partial top-k Spark pushes below
    the shuffle (WindowGroupLimit), so each task ships at most 16 rows
    per group — reservoir semantics without a global sort.
    """
    from pyspark.sql import Window

    h = md5_long(F.col("doc_id").cast("string"))
    u = (h + 1).cast("double") / F.lit(float(HASH_DOMAIN))
    score = F.round(F.log(u), 9) / F.col("n_chars").cast("double")
    w = Window.partitionBy("lang").orderBy(F.desc("_score_"), F.col("doc_id"))
    return (
        df.filter(F.col("n_chars") > 0)
        .withColumn("_score_", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 16)
        .withColumn("score6", F.round(F.col("_score_"), 6))
        .drop("_score_")
    )


def purged_time_split(df: DataFrame) -> DataFrame:
    """Leakage-safe temporal train/test split of the microsecond times
    ``us`` with a one-day embargo gap
    (the purged split of Lopez de Prado 2018, ch.7): train = rows at or
    before the cutoff, test = rows after cutoff + 1 day, and rows
    INSIDE the gap are purged — so features built from trailing windows
    (EWMAs, rolling stats) on test rows can never see train-period
    events. A plain temporal split leaks through exactly that channel.

    The cutoff is min + (range * 8) DIV 10 in exact
    integer microseconds (a tenths fraction keeps the boundary
    engine-exact — 0.8 * a 10^14-µs range in doubles would round), from
    a 1-row (min, max) broadcast; the labeling is a codegen'd CASE.
    Returns the bounded per-split certificate (split, n_rows, min_us,
    max_us); the row-level labeled frame is the same CASE applied
    upstream of any consumer.
    """
    ts = F.col("us")
    bounds = df.agg(F.min(ts).alias("_mn_"), F.max(ts).alias("_mx_"))
    # Exact integer division end-to-end (`div` on longs): a double
    # round-trip here is NOT engine-portable — Spark's CAST(double AS
    # BIGINT) truncates while DuckDB's rounds to nearest, and
    # (range*8)/10 has fractional part in {0,.2,.4,.6,.8}, so ~40% of
    # ranges would put the two engines' cutoffs 1µs apart.
    cutoff = F.col("_mn_") + F.expr("((_mx_ - _mn_) * 8) div 10")
    split = (
        F.when(ts <= cutoff, F.lit("train"))
        .when(ts > cutoff + F.lit(86_400_000_000), F.lit("test"))
        .otherwise(F.lit("purged"))
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .select(split.alias("split"), ts.alias("us"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("us").alias("min_us"),
            F.max("us").alias("max_us"),
        )
    )


def kfold_assign(df: DataFrame) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5_60(doc_id) % 5 — a pure row function like every sampler here,
    so folds are reproducible across runs, partitionings, and engines,
    and any fold's complement is recoverable without storing assignments.
    Balance holds in expectation (hash uniformity), NOT by per-stratum
    round-robin — an exact-balance window keyed on a handful of strata
    would funnel 100 TB through |strata| tasks for cosmetic gain.

    Returns the bounded per-(lang, fold) certificate (counts), the
    evidence the balance claim rests on; apply the same fold expression
    upstream to materialize row-level assignments.
    """
    fold = (md5_long(F.col("doc_id").cast("string")) % 5).alias("fold")
    return df.select(F.col("lang"), fold).groupBy("lang", "fold").agg(F.count("*").alias("n_rows"))


def temperature_sample(df: DataFrame) -> DataFrame:
    """Temperature resampling of ``doc_id`` at alpha = 0.5 (the
    multilingual-LM rebalance: sample ``lang`` source s proportional to
    N_s^alpha, lifting low-resource sources without drowning high-resource
    ones). With weights w_s = sqrt(N_s), the largest achievable mixture
    keeps the binding source whole: keep-rate r_s = sqrt(N_s) * min_u
    sqrt(N_u) / N_s — computed wholly in-plan from the per-source counts
    (|sources| rows), scale-free (no normalization sum, hence no
    addition-order sensitivity).

    alpha is FIXED at 0.5 because sqrt is the one power IEEE 754
    requires correctly rounded — an arbitrary pow(n, alpha) could differ
    by 1 ulp across engines and flip the quantized threshold. Rows are
    then hash-threshold selected (same 2^-40 quantization as
    mixture_sample), so the oracle reproduces the exact sample.
    """
    counts = df.groupBy(F.col("lang").alias("_src_")).agg(
        F.count("*").alias("_n_")
    )
    rated = counts.withColumn("_w_", F.sqrt(F.col("_n_")))
    target = rated.agg(F.min(F.col("_n_") / F.col("_w_")).alias("_t_"))
    return _rate_sample(df, "lang", rated, target, F.col("_w_"))
