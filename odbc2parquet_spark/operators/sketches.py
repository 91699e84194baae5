"""Deterministic sketches: KMV distinct-count estimation, heavy hitters.

``approx_count_distinct`` (HLL++) is the built-in answer, but its estimate
depends on Spark's internal hashing — unverifiable against an independent
engine. KMV (k minimum values) with an md5-derived hash is deterministic:
any engine that sorts the same k smallest hashes produces the SAME
estimate, so the sketch itself is oracle-checkable.

KMV estimator: hash every value uniformly into [0, M); keep the k smallest
distinct hashes; if the k-th smallest is h_k, distinct-count ~= (k-1) *
M / h_k. One shuffle (global top-k by min — Spark plans sort+limit as a
per-partition partial top-k then a single-reducer merge, never a full
sort of the data).

At 100 TB: the partial top-k means each task ships only k hashes; the
sketch costs one narrow pass + a k-row reduce. Heavy hitters are the exact
groupBy-count top-N — map-side combinable, one shuffle on the value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import HASH_DOMAIN, md5_long, md5_pair


def kmv_distinct_estimate(df: DataFrame) -> DataFrame:
    """One-row (k_used, kth_hash, estimate) KMV distinct-count sketch of
    ``o_custkey``.

    ``estimate`` is (k-1) * M / h_k with k = 256 when at least k distinct hashes exist,
    else the exact distinct count (small-cardinality regime).
    """
    hashes = df.select(md5_long(F.col("o_custkey").cast("string")).alias("h")).distinct()
    smallest = hashes.orderBy("h").limit(256)
    return smallest.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
        F.when(
            F.count("*") < 256, F.count("*").cast("double")
        )
        .otherwise((F.lit(255.0) * F.lit(float(HASH_DOMAIN))) / F.max("h"))
        .alias("estimate"),
    )


def heavy_hitters(df: DataFrame, col: str, top_n: int = 10) -> DataFrame:
    """Exact top-N most frequent values: one shuffle on the value with
    map-side partial counts, then a k-row ordered limit."""
    return (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("value"))
        .limit(top_n)
    )


def _cms_cells(value: F.Column) -> F.Column:
    """The 4 (row, col) counter cells of ``value``: col_j = (h1 + j*h2) mod 256."""
    h1, h2 = md5_pair(value.cast("string"))
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                ((h1 + F.lit(j) * h2) % F.lit(256)).cast("long").alias("col"),
            )
            for j in range(4)
        ]
    )


def count_min_sketch(df: DataFrame) -> DataFrame:
    """(row, col, n): a count-min sketch of the ``w`` stream — the
    fixed-size frequency summary that answers "roughly how often does X
    occur" over arbitrarily large streams with 4*256 counters.

    Hash family: h_j = (h1 + j*h2) mod 256 from one md5 per value (the
    same Kirsch-Mitzenmacher two-hash construction as the MinHash family,
    so an independent engine rebuilds identical counters). Build = one
    explode to 4 narrow rows + one groupBy on (row, col) with map-side
    partials; the sketch is 4*256 rows regardless of stream size.
    """
    return (
        df.select(F.explode(_cms_cells(F.col("w"))).alias("c"))
        .select(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("n"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame) -> DataFrame:
    """(value, est): point-frequency estimates — min over the sketch rows
    of each probe's ``value`` counter. The sketch (4*256 rows) broadcasts;
    estimates never over-count below the classic eps*N bound."""
    melted = probes.select(
        F.col("value"), F.explode(_cms_cells(F.col("value"))).alias("c")
    ).select("value", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    return (
        melted.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est"))
    )


def kmv_distinct_per_group(df: DataFrame) -> DataFrame:
    """Per-``day`` KMV distinct-count sketch of ``user_id``: (day,
    k_used, kth_hash, estimate).

    The per-window/per-segment form of :func:`kmv_distinct_estimate` —
    the scale substitute for ``COUNT(DISTINCT)`` per group when groups
    are numerous and wide (distinct users per day over a 100 TB event
    log). The dedup groupBy is map-side combinable; the per-group sort
    then touches only already-distinct (group, hash) rows, and every
    group ships at most 64 longs to the estimate. Deterministic (md5-
    derived hashes), so two engines agree on the ESTIMATE itself.
    """
    hashes = df.select("day", md5_long(F.col("user_id").cast("string")).alias("h")).distinct()
    w = Window.partitionBy("day").orderBy("h")
    smallest = hashes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 64)
    return smallest.groupBy("day").agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
        F.when(F.count("*") < 64, F.count("*").cast("double"))
        .otherwise((F.lit(63.0) * F.lit(float(HASH_DOMAIN))) / F.max("h"))
        .alias("estimate"),
    )


def binned_quantiles(df: DataFrame) -> DataFrame:
    """Mergeable per-``event_type`` quantile estimates of ``value`` from
    fixed-width bins
    — the deterministic scale substitute for exact per-group percentile
    sorts (and for t-digest, whose merge order is nondeterministic).

    One map-side-combinable groupBy (group, bin) -> counts; the
    cumulative walk runs per group over its OWN bin list (bounded by the
    value range / 0.01, not by row count). The estimate for each quantile
    q of 0.5, 0.95 and 0.99 is the upper edge of the first bin whose
    running count reaches ceil(q * n) — a value guaranteed within one bin width of the true
    quantile. Rows per group shipped: |bins|, regardless of corpus size.
    """
    bin_col = F.floor(F.col("value") / F.lit(0.01)).cast("long")
    counts = (
        df.select("event_type", bin_col.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = counts.withColumn("cum", F.sum("c").over(w)).withColumn(
        "total", F.sum("c").over(Window.partitionBy("event_type"))
    )
    aggs = []
    for q in (0.5, 0.95, 0.99):
        name = f"p{int(q * 100)}"
        target = F.ceil(F.lit(q) * F.col("total"))
        qualifying = F.when(F.col("cum") >= target, F.col("bin"))
        aggs.append(
            F.round((F.min(qualifying) + 1) * F.lit(0.01), 6).alias(name)
        )
    return cum.groupBy("event_type").agg(
        F.max("total").cast("long").alias("n"), *aggs
    )


def hll_distinct_per_group(df: DataFrame) -> DataFrame:
    """Per-``day`` HyperLogLog distinct-count sketch of ``user_id``: (day,
    m, zero_regs, estimate).

    The register-array sibling of :func:`kmv_distinct_per_group`
    (Flajolet et al. 2007): split the 60-bit md5 hash into an 8-bit
    register index and a 52-bit suffix; each register keeps the max
    rho = leading-zero-count(suffix) + 1; estimate = alpha_m * m^2 /
    sum_j 2^(-M_j), with the standard small-range correction
    m * ln(m / V) when V registers are untouched. Reference parity:
    the reference has no sketches (full-fidelity transfer tool,
    src/query/mod.rs); this is pipeline-extension surface.

    Cross-engine determinism: rho comes from LENGTH(BIN(suffix)) —
    integer-exact in both engines; the harmonic sum is carried as the
    exact DECIMAL integer sum of 2^(61 - M_j) over touched registers
    plus V * 2^61 for empty ones (common denominator 2^61), so the
    estimate is ONE final IEEE division (recipe: exact numerators, one
    division, ROUND). The ln() in the small-range branch is the single
    libm call both engines must agree on — rounded to 2 decimals, where
    a 1-ulp divergence cannot surface.

    At 100 TB: the (group, register) groupBy is map-side combinable —
    each task ships at most m=256 rows per group regardless of row
    count, and the register array never materializes wider than m rows.
    Registers merge by MAX, so per-partition partials combine exactly
    (the property KMV's top-k also has, but HLL keeps fixed m-row state
    per group instead of k sorted hashes).
    """
    regs = hll_registers(df, ["day"])
    return hll_estimate_from_registers(regs, ["day"])


def hll_registers(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., reg, mrho): the raw per-group HLL register rows of
    ``user_id`` — the MERGEABLE form. Registers combine by MAX, so coarser
    groups (weekly from daily, global from per-shard) re-aggregate these <=
    256 rows per group WITHOUT rescanning data;
    :func:`hll_estimate_from_registers` turns any (re-)aggregated register
    set back into an estimate that still hash-matches an engine computing
    the coarse sketch directly (MAX associativity)."""
    m = 256
    suffix_bits = 52
    h = md5_long(F.col("user_id").cast("string"))
    idx = h.bitwiseAND(F.lit(m - 1))
    rest = F.shiftright(h, 8)
    rho = (
        F.when(rest == 0, F.lit(suffix_bits + 1))
        .otherwise(F.lit(suffix_bits + 1) - F.length(F.bin(rest)))
        .cast("int")
    )
    return (
        df.select(*group_cols, idx.alias("reg"), rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("mrho"))
    )


def hll_estimate_from_registers(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., m, zero_regs, estimate) from register rows (see
    :func:`hll_registers`): exact DECIMAL harmonic numerator, one IEEE
    division, small-range ln correction, ROUND 2 — the estimator half of
    hll_distinct_per_group, reusable after any register re-aggregation."""
    m = 256
    two61 = 1 << 61
    alpha = 0.7213 / (1.0 + 1.079 / m)  # large-m bias constant
    per_group = regs.groupBy(*group_cols).agg(
        F.count("*").alias("touched"),
        # pow(2, 61-rho) is an exact double for rho >= 1 (integer <= 2^60),
        # so the decimal cast is lossless — shiftleft would be equivalent
        # but only accepts a literal bit count
        F.sum(
            F.pow(F.lit(2.0), F.lit(61) - F.col("mrho")).cast("decimal(38,0)")
        ).alias("z_touched"),
    )
    v = F.lit(m) - F.col("touched")
    z_num = F.col("z_touched") + v.cast("decimal(38,0)") * F.lit(two61).cast(
        "decimal(38,0)"
    )
    raw = F.lit(alpha * m * m * float(two61)) / z_num.cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        F.lit(m).alias("m"),
        v.cast("long").alias("zero_regs"),
        F.round(est, 2).alias("estimate"),
    )


def kmv_overlap_estimate(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """One-row estimate of |A ∩ B| distinct keys (A the ``c_custkey`` of
    ``df_a``, B the ``o_custkey`` of ``df_b``) from two KMV sketches —
    the sketch-algebra answer to "how big is this join's key overlap"
    WITHOUT scanning either side twice (Beyer et al. 2007): the k = 256
    smallest hashes of A ∪ B are exactly the k smallest of (K_a ∪ K_b),
    so the union sketch derives from the two k-row sketches alone;
    Jaccard ≈ |K_union ∩ K_a ∩ K_b| / k; |A ∩ B| ≈ J * |A ∪ B|.

    Columns: (k_used, n_shared, jaccard_est, union_est, inter_est).
    Everything after the two top-k scans operates on ≤ 2k rows; the
    estimates are exact-integer counts until single final divisions, so
    an independent engine reproduces them bit-for-bit. Exact below k
    (the union sketch holds every hash). The planner use at 100 TB:
    estimate join selectivity / distinct overlap from k-row sketches
    maintained per partition or per ingest batch, merged by set-union —
    the same mergeability HLL registers have, with member identity
    retained (which HLL cannot answer).
    """
    ha = (
        df_a.select(md5_long(F.col("c_custkey").cast("string")).alias("h"))
        .distinct().orderBy("h").limit(256)
    )
    hb = (
        df_b.select(md5_long(F.col("o_custkey").cast("string")).alias("h"))
        .distinct().orderBy("h").limit(256)
    )
    union_k = ha.unionAll(hb).distinct().orderBy("h").limit(256)
    both = ha.intersect(hb)  # hashes in K_a ∩ K_b
    shared = union_k.join(both, "h", "left_semi")
    stats = union_k.agg(
        F.count("*").alias("k_used"), F.max("h").alias("hk")
    ).crossJoin(shared.agg(F.count("*").alias("n_shared")))
    jacc = F.col("n_shared") / F.col("k_used")
    union_est = F.when(
        F.col("k_used") < 256, F.col("k_used").cast("double")
    ).otherwise((F.lit(255.0) * F.lit(float(HASH_DOMAIN))) / F.col("hk"))
    return stats.select(
        "k_used",
        "n_shared",
        F.round(jacc, 6).alias("jaccard_est"),
        F.round(union_est, 2).alias("union_est"),
        F.round(jacc * union_est, 2).alias("inter_est"),
    )
