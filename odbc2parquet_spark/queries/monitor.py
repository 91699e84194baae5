"""Drift / rank-statistic monitoring queries — operators/drift.py surface.

The statistics a continuously-ingesting training pipeline runs between
snapshots: PSI (did the distribution move?), Kolmogorov-Smirnov (same,
non-parametric), ROC-AUC (does a score separate a class?), Gini
concentration (how skewed is the contribution per unit?), chi-square
(are two categorical columns independent?).

Every query follows the repo's cross-engine determinism contract:
integer/decimal-exact accumulation, mirrored IEEE token order for the
few float steps, ROUND(...,6) before any order-sensitive reduction, and
DECIMAL sums for multi-term totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2parquet_spark.catalog import load_table
from odbc2parquet_spark.functions.hashing import md5_long, md5_long_sql
from odbc2parquet_spark.operators.drift import (
    chi_square_independence,
    correlation_matrix,
    covariance_matrix,
    cusum_changepoint,
    gini_concentration,
    ks_two_sample,
    psi_drift,
    rank_auc,
)
from odbc2parquet_spark.queries import query


@query(
    "ev_psi_drift",
    oracle="""
    WITH f AS (
        SELECT value AS v, (event_type = 'purchase') AS b FROM events
    ),
    stats AS (
        SELECT MIN(v) AS mn, MAX(v) AS mx,
               CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a_tot,
               CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b_tot
        FROM f
    ),
    binned AS (
        SELECT CAST(CASE WHEN s.mx = s.mn THEN 0
                    ELSE LEAST(FLOOR((f.v - s.mn) / ((s.mx - s.mn) / 10.0)), 9)
                    END AS BIGINT) AS bin,
               f.b
        FROM f, stats s
    ),
    counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM binned GROUP BY 1
    ),
    grid AS (
        SELECT g.bin, s.n_a_tot, s.n_b_tot
        FROM stats s, (SELECT UNNEST(generate_series(0, 9)) AS bin) g
    )
    SELECT CAST(g.bin AS BIGINT) AS bin,
           COALESCE(c.n_a, 0) AS n_a,
           COALESCE(c.n_b, 0) AS n_b,
           ROUND((CAST(COALESCE(c.n_a, 0) + 1 AS DOUBLE)
                      / CAST(g.n_a_tot + 10 AS DOUBLE)
                  - CAST(COALESCE(c.n_b, 0) + 1 AS DOUBLE)
                      / CAST(g.n_b_tot + 10 AS DOUBLE))
                 * LN((CAST(COALESCE(c.n_a, 0) + 1 AS DOUBLE)
                           / CAST(g.n_a_tot + 10 AS DOUBLE))
                      / (CAST(COALESCE(c.n_b, 0) + 1 AS DOUBLE)
                           / CAST(g.n_b_tot + 10 AS DOUBLE))),
                 6) AS psi_term
    FROM grid g LEFT JOIN counts c USING (bin)
    ORDER BY 1
    """,
)
def ev_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the `value` distribution: purchase
    events vs everything else (operators/drift.psi_drift). Binning is a
    pure map expression over a broadcast 1-row (min, max); all index
    arithmetic runs on 10 bin rows. The per-bin terms hash-match because
    ln/division run on identical IEEE tokens and round to 6 before
    comparison; summing the terms (the index itself) is an exact decimal
    fold the caller does over 10 rows."""
    ev = load_table(spark, sf_dir, "events")
    return psi_drift(ev, F.col("event_type") == "purchase").orderBy("bin")


@query(
    "ev_ks_test",
    oracle="""
    WITH f AS (
        SELECT value AS v, (event_type = 'purchase') AS b
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    pv AS (
        SELECT v,
               CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM f GROUP BY 1
    ),
    cum AS (
        SELECT SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c_na,
               SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c_nb
        FROM pv
    ),
    tot AS (
        SELECT CAST(SUM(na) AS BIGINT) AS n_a,
               CAST(SUM(nb) AS BIGINT) AS n_b
        FROM pv
    )
    SELECT t.n_a AS n_a, t.n_b AS n_b,
           MAX(ROUND(ABS(CAST(c.c_na AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                         - CAST(c.c_nb AS DOUBLE) / CAST(t.n_b AS DOUBLE)),
                     6)) AS d_stat
    FROM cum c, tot t GROUP BY 1, 2
    """,
)
def ev_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between purchase and view event
    values (operators/drift.ks_two_sample). The corpus collapses to one
    row per distinct value map-side; both empirical CDFs are distributed
    prefix sums (prefix_sums two-pass — driver sees 32
    longs, never data); the max gap reduces order-independently after
    rounding. The oracle rebuilds the CDFs with a plain SQL window."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    return ks_two_sample(ev, F.col("event_type") == "purchase")


@query(
    "ev_roc_auc",
    oracle="""
    WITH f AS (
        SELECT value AS s, (event_type = 'purchase') AS p
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    ps AS (
        SELECT s,
               CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS np,
               CAST(SUM(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS nn
        FROM f GROUP BY 1
    ),
    cum AS (
        SELECT np, nn,
               SUM(nn) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) AS c_nn
        FROM ps
    ),
    u AS (
        SELECT CAST(SUM(np * (2 * (c_nn - nn) + nn)) AS BIGINT) AS u2,
               CAST(SUM(np) AS BIGINT) AS n_pos,
               CAST(SUM(nn) AS BIGINT) AS n_neg
        FROM cum
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
               AS auc
    FROM u
    """,
)
def ev_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of `value` ranking purchase vs view events (operators/
    drift.rank_auc) — Mann-Whitney U with exact average-rank tie
    handling. The doubled U statistic is a BIGINT (no float until the
    one final division), so both engines agree bit-for-bit; cumulative
    negative counts come from the distributed prefix sum, never a
    global window."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    return rank_auc(ev, F.col("event_type") == "purchase")


@query(
    "q_gini_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6))) AS v
        FROM lineitem GROUP BY 1
    ),
    pv AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM rev GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c_c
        FROM pv
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, SUM(v * c) AS total FROM pv
    ),
    agg AS (
        SELECT t.n AS n, t.total AS total,
               SUM(u.v * u.c * (2 * (u.c_c - u.c) + u.c - t.n)) AS num
        FROM cum u, tot t GROUP BY 1, 2
    )
    SELECT n, CAST(total AS DOUBLE) AS total,
           ROUND(CAST(num AS DOUBLE) / CAST(n * total AS DOUBLE), 6) AS gini
    FROM agg
    """,
)
def q_gini_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across suppliers
    (operators/drift.gini_concentration) — "how unequal is the
    contribution per unit", the statistic behind source-mix caps
    (tx_source_cap decides; this measures). Per-supplier revenue is a
    decimal-exact aggregate; the sorted-multiset identity evaluates per
    DISTINCT revenue group with positions from the distributed prefix
    sum, so the numerator is exact integer×decimal arithmetic and the
    single division rounds at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("v")
    )
    g = gini_concentration(rev)
    return g.select(
        "n",
        F.col("total").cast("double").alias("total"),
        "gini",
    )


@query(
    "q_chi_square_priority",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY 1),
    ct AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY 1),
    g AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT g.n, rt.rt, ct.ct, COALESCE(obs.o, 0) AS o
        FROM rt CROSS JOIN ct CROSS JOIN g
        LEFT JOIN obs ON obs.a = rt.a AND obs.b = ct.b
    ),
    terms AS (
        SELECT n,
               CAST(ROUND(
                   (o - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                   * (o - CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE)),
                   6) AS DECIMAL(24,6)) AS term
        FROM grid
    ),
    lv AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS la,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS lb
    )
    SELECT t.n AS n, lv.la AS levels_a, lv.lb AS levels_b,
           CAST((lv.la - 1) * (lv.lb - 1) AS BIGINT) AS dof,
           CAST(SUM(t.term) AS DOUBLE) AS chi2
    FROM terms t, lv GROUP BY 1, 2, 3, 4
    """,
)
def q_chi_square_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of order priority × order status
    (operators/drift.chi_square_independence) — the stratification audit
    ("is the label mix independent of the source?"). One groupBy builds
    the contingency table; marginals and the full level grid are
    table-sized (bounded |levels|² cross, LEFT-joined so zero-observed
    cells still contribute their expectation); per-cell terms round to 6
    then sum as DECIMAL so the statistic is order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    return chi_square_independence(orders)


#: each embedding component as the exact integer of its 6-decimal value
_CX_CTE = """cx AS (
        SELECT vec_id, i - 1 AS dim,
               CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))
                    * 1000000 AS BIGINT) AS x6
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    )"""

#: ``cx``, its per-dimension sums ``sums`` and upper-triangle cross sums
#: ``prs``, and the sample covariance ``covq`` (i, j, n, cov)
_COV_CTE = (
    _CX_CTE
    + """,
    sums AS (
        SELECT dim, SUM(x6) AS sx FROM cx GROUP BY 1
    ),
    prs AS (
        SELECT a.dim AS i, b.dim AS j,
               SUM(a.x6 * b.x6) AS sxy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cx a JOIN cx b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    ),
    covq AS (
        SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j, p.n AS n,
               ROUND((CAST(p.sxy AS DOUBLE)
                      - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE)
                          / CAST(p.n AS DOUBLE))
                     / 1000000000000.0
                     / CAST(p.n - 1 AS DOUBLE),
                     6) + 0.0 AS cov
        FROM prs p
        JOIN sums si ON si.dim = p.i
        JOIN sums sj ON sj.dim = p.j
    )"""
)


@query(
    "sim_covariance",
    oracle=f"""
    WITH {_COV_CTE}
    SELECT i, j, n, cov FROM covq ORDER BY 1, 2
    """,
)
def sim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix (operators/drift.covariance_matrix) —
    the embedding-space drift statistic (compare snapshots to detect
    encoder or corpus shift; the input to whitening/PCA). The Spark side
    is an Arrow-batched numpy partial-Gram pass: each batch emits its
    exact int64 X\u1d40\u00b7X (d(d+1)/2 rows per BATCH, not per row), partials
    merge in one DECIMAL groupBy — statistic-sized shuffle, exact
    integer arithmetic until one final division. Elements quantize at
    10\u2076 exactly as the engines' DECIMAL(18,6) cast (float32 \u00d7 10\u2076 is
    exact in float64), so the oracle's self-join formulation lands on
    identical integers; covariance_matrix_decimal is the pure-Catalyst
    twin, equality-tested in tests/test_drift.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb).orderBy("i", "j")


@query(
    "sim_correlation",
    oracle=f"""
    WITH {_CX_CTE},
    sums AS (
        SELECT dim, CAST(SUM(x6) AS DECIMAL(38,0)) AS sx FROM cx GROUP BY 1
    ),
    pairs AS (
        SELECT a.dim AS i, b.dim AS j,
               CAST(SUM(a.x6 * b.x6) AS DECIMAL(38,0)) AS sxy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cx a JOIN cx b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    ),
    diag AS (
        SELECT p.i AS d, p.n,
               CAST(p.sxy AS DOUBLE)
                 - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)
                     / CAST(p.n AS DOUBLE) AS var
        FROM pairs p JOIN sums s ON s.dim = p.i
        WHERE p.i = p.j
    )
    SELECT CAST(p.i AS BIGINT) AS i, CAST(p.j AS BIGINT) AS j, p.n AS n,
           CASE WHEN vi.var <= 0 OR vj.var <= 0 THEN NULL
                ELSE ROUND((CAST(p.sxy AS DOUBLE)
                            - CAST(si.sx AS DOUBLE) * CAST(sj.sx AS DOUBLE)
                                / CAST(p.n AS DOUBLE))
                           / SQRT(vi.var * vj.var), 6) + 0.0
           END AS corr
    FROM pairs p
    JOIN sums si ON si.dim = p.i
    JOIN sums sj ON sj.dim = p.j
    JOIN diag vi ON vi.d = p.i
    JOIN diag vj ON vj.d = p.j
    ORDER BY 1, 2
    """,
)
def sim_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding Pearson correlation matrix
    (operators/drift.correlation_matrix) — the scale-free twin of
    sim_covariance: dimension-redundancy audit (correlated dims signal a
    collapsed encoder), robust to re-normalization between snapshots.
    Shares the single Arrow-batched integer-Gram pass with the
    covariance; the projection joins the d-row diagonal broadcast-side
    and mirrors one IEEE token sequence with the oracle, so the only
    float steps land on identical doubles before ROUND. Zero-variance
    dims emit NULL via the same CASE on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    return correlation_matrix(emb).orderBy("i", "j")


@query(
    "ev_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                    * 1000000 AS BIGINT) AS x6
        FROM events GROUP BY 1, 2
    ),
    totals AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(x6) AS BIGINT) AS tot
        FROM daily GROUP BY 1
    ),
    scored AS (
        SELECT d.g, d.day, t.n_days,
               ABS(t.n_days * SUM(d.x6) OVER (PARTITION BY d.g ORDER BY d.day
                                              ROWS UNBOUNDED PRECEDING)
                   - (ROW_NUMBER() OVER (PARTITION BY d.g ORDER BY d.day))
                       * t.tot) AS absd
        FROM daily d JOIN totals t ON t.g = d.g
    ),
    ranked AS (
        SELECT g, day, n_days, absd,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY absd DESC, day ASC)
                   AS rk
        FROM scored
    )
    SELECT g AS event_type, n_days, day AS change_day,
           ROUND(CAST(absd AS DOUBLE)
                 / (CAST(n_days AS DOUBLE) * 1000000.0), 6) AS d_stat
    FROM ranked WHERE rk = 1
    ORDER BY event_type
    """,
)
def ev_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type (operators/drift.cusum_changepoint):
    the day maximizing |cumulative deviation from the mean| of daily value
    totals — "when did this metric's level shift?". The corpus collapses
    to calendar-sized (type, day) totals map-side; the deviation statistic
    D_t = n·cum(x6) - t·tot stays exact int64 (daily totals are 6-decimal
    DECIMAL sums scaled to ×10⁶ ints) so argmax and tiebreak (earliest
    day) are order-independent; only the reported d_stat divides, once,
    at the end. Per-group windows span days-per-type — bounded by the
    calendar, never data-sized."""
    ev = load_table(spark, sf_dir, "events")
    return cusum_changepoint(ev).orderBy("event_type")


@query(
    "ev_mase_eval",
    bench=False,
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, d, c,
               LAG(c, 7) OVER (PARTITION BY event_type ORDER BY d) AS c7,
               LAG(c, 1) OVER (PARTITION BY event_type ORDER BY d) AS c1
        FROM daily
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN c7 IS NOT NULL
                             THEN ABS(c - c7) END) AS BIGINT) AS sae7,
               CAST(SUM(CASE WHEN c7 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n7,
               CAST(SUM(CASE WHEN c1 IS NOT NULL
                             THEN ABS(c - c1) END) AS BIGINT) AS sae1,
               CAST(SUM(CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1
        FROM lagged GROUP BY 1
    )
    SELECT event_type, n_days, sae7, sae1,
           CASE WHEN n7 > 0 AND n1 > 0 AND sae1 > 0
                THEN ROUND((CAST(sae7 AS DOUBLE) / n7)
                           / (CAST(sae1 AS DOUBLE) / n1), 6)
           END AS mase
    FROM s ORDER BY event_type
    """,
)
def ev_mase_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast quality per event type: MASE = MAE of the
    weekly-seasonal naive forecast (count 7 days ago) scaled by the MAE
    of the one-step naive — the standard scale-free check that a daily
    volume series HAS weekly structure worth modeling (MASE < 1) before
    anyone ships a forecaster. All error sums are exact integers over
    per-day counts (counts partial-aggregate map-side; the lag windows
    run over per-(type, day) rows — calendar-bounded, never data), and
    the single division is mirrored IEEE on exact integer sums."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").alias("c"))
    wl = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "c",
        F.lag("c", 7).over(wl).alias("c7"),
        F.lag("c", 1).over(wl).alias("c1"),
    )
    s = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("c7").isNotNull(), F.abs(F.col("c") - F.col("c7"))))
        .cast("long")
        .alias("sae7"),
        F.sum(F.when(F.col("c7").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n7"),
        F.sum(F.when(F.col("c1").isNotNull(), F.abs(F.col("c") - F.col("c1"))))
        .cast("long")
        .alias("sae1"),
        F.sum(F.when(F.col("c1").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    mase = F.when(
        (F.col("n7") > 0) & (F.col("n1") > 0) & (F.col("sae1") > 0),
        F.round(
            (F.col("sae7").cast("double") / F.col("n7"))
            / (F.col("sae1").cast("double") / F.col("n1")),
            6,
        ),
    )
    return s.select(
        "event_type", "n_days", "sae7", "sae1", mase.alias("mase")
    ).orderBy("event_type")


@query(
    "ev_benford_deviation",
    bench=False,
    oracle="""
    WITH iv AS (
        SELECT CAST(FLOOR(value * 1000000) AS BIGINT) AS i
        FROM events WHERE value > 0
    ),
    digits AS (
        SELECT CAST(SUBSTRING(CAST(i AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM iv WHERE i > 0
    ),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT g.digit, t.n, COALESCE(o.n_obs, 0) AS n_obs
        FROM (SELECT UNNEST(generate_series(1, 9)) AS digit) g
        CROSS JOIN tot t
        LEFT JOIN obs o USING (digit)
    )
    SELECT CAST(digit AS INTEGER) AS digit, n_obs,
           ROUND(n * LOG10(1.0 + 1.0 / digit), 6) AS expected,
           ROUND(ABS(n_obs - n * LOG10(1.0 + 1.0 / digit))
                 / CAST(n AS DOUBLE), 6) AS abs_dev
    FROM grid ORDER BY digit
    """,
)
def ev_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of the value column: observed vs expected
    first-significant-digit counts — the classic fabricated-data /
    broken-instrumentation detector for ingested numeric feeds. The
    first digit comes from exact integer string arithmetic
    (floor(value*1e6) -> leading decimal digit: same IEEE product, same
    floor, same digits on any engine — no cross-engine log10-boundary
    risk); counts partial-aggregate map-side and everything downstream
    runs on 9 digit rows against the broadcast total."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.filter(F.col("value") > 0).select(
        F.floor(F.col("value") * 1000000).cast("long").alias("i")
    )
    digits = iv.filter(F.col("i") > 0).select(
        F.substring(F.col("i").cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    grid = (
        tot.select(
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"), "n"
        )
        .join(obs, "digit", "left")
        .select(
            F.col("digit").cast("int").alias("digit"),
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            "n",
        )
    )
    exp = F.col("n") * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return grid.select(
        "digit",
        "n_obs",
        F.round(exp, 6).alias("expected"),
        F.round(F.abs(F.col("n_obs") - exp) / F.col("n").cast("double"), 6).alias(
            "abs_dev"
        ),
    ).orderBy("digit")


# the decomposition oracle; ev_seasonal_anomalies embeds it as a CTE
_STL_ORACLE = """
    WITH daily AS (
        SELECT CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS val_dec
        FROM events GROUP BY 1
    ),
    win AS (
        SELECT day, val_dec,
               COUNT(*) OVER w AS n7,
               SUM(val_dec) OVER w AS s7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    full_w AS (
        SELECT day, val_dec, s7, 7 * val_dec - s7 AS detr, day % 7 AS phase
        FROM win WHERE n7 = 7
    ),
    seas AS (
        SELECT phase,
               ROUND(CAST(SUM(detr) AS DOUBLE) / (7.0 * COUNT(*)), 6)
                   AS seasonal
        FROM full_w GROUP BY 1
    )
    SELECT f.day, ROUND(CAST(f.val_dec AS DOUBLE), 6) AS val,
           ROUND(CAST(f.s7 AS DOUBLE) / 7, 6) AS trend,
           s.seasonal,
           ROUND(ROUND(CAST(f.detr AS DOUBLE) / 7, 6) - s.seasonal, 6) AS resid
    FROM full_w f JOIN seas s USING (phase)
    ORDER BY f.day
    """


@query(
    "ev_stl_decompose",
    oracle=_STL_ORACLE,
)
def ev_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue
    (operators/drift.seasonal_decompose): trend = centered 7-day moving
    average, seasonal = per-weekday mean of the detrended series,
    residual = the rest — the series monitor that splits "it's Sunday"
    from "something drifted" before alerting (pairs with ev_cusum, which
    assumes a de-seasonalized level). Every mean is one IEEE division of
    an exact-decimal numerator (the detrended series is carried as
    period*value - window_sum, still exact), so both engines round
    identical quotients — the hash match certifies the whole
    decomposition. Edge days without a full centered window are dropped,
    as in statsmodels' seasonal_decompose."""
    from odbc2parquet_spark.operators.drift import seasonal_decompose

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_seconds(F.col("ts").cast("timestamp")) / 86400)
        .cast("long")
        .alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("val_dec"))
    return seasonal_decompose(daily).orderBy("day")


@query(
    "ev_seasonal_anomalies",
    oracle="""
    WITH stl AS ("""
    + _STL_ORACLE
    + """
    ),
    m AS (SELECT ROUND(quantile_cont(resid, 0.5), 6) AS med FROM stl),
    md AS (
        SELECT med, ROUND(quantile_cont(ABS(resid - med), 0.5), 6) AS mad
        FROM stl CROSS JOIN m GROUP BY med
    )
    SELECT day, resid, med, mad,
           ABS(resid - med) > 4.4478 * mad AS is_anomaly
    FROM stl CROSS JOIN md
    """,
)
def ev_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection — the composition every
    monitoring pipeline actually runs: classical decomposition first
    (ev_stl_decompose, exact-decimal trend/seasonal), then the robust
    MAD band on the RESIDUAL, so weekday rhythm and slow drift can never
    masquerade as anomalies (a raw-value detector flags every Saturday).
    Both engines compose their already-certified halves: the oracle
    embeds the full decomposition SQL as a CTE and replays the MAD
    flagging — one hash certifies the composed pipeline. Residuals are
    calendar-sized, so the global median passes are folds over ~days
    rows, not data."""
    stl = ev_stl_decompose(spark, sf_dir)
    med = stl.agg(F.round(F.expr("percentile(resid, 0.5)"), 6).alias("med"))
    j = stl.crossJoin(F.broadcast(med))
    mad = j.groupBy("med").agg(
        F.round(F.expr("percentile(abs(resid - med), 0.5)"), 6).alias("mad")
    )
    return (
        stl.crossJoin(F.broadcast(mad))
        .select(
            "day", "resid", "med", "mad",
            (F.abs(F.col("resid") - F.col("med")) > F.lit(4.4478) * F.col("mad")).alias("is_anomaly"),
        )
    )


_ACF_ARMS = "\n        UNION ALL ".join(
    f"SELECT g, {k} AS lag, n_days, num{k} AS num, den FROM agg"
    for k in range(1, 8)
)


@query(
    "ev_acf",
    oracle=f"""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS t
        FROM daily GROUP BY g
    ),
    lagged AS (
        SELECT d.g, tt.n_days, tt.t, d.c,
               {", ".join(f"LAG(d.c, {k}) OVER (PARTITION BY d.g ORDER BY d.day) AS c{k}" for k in range(1, 8))}
        FROM daily d JOIN tot tt ON tt.g = d.g
    ),
    dev AS (
        SELECT g, n_days, n_days * c - t AS d0,
               {", ".join(f"n_days * c{k} - t AS d{k}" for k in range(1, 8))}
        FROM lagged
    ),
    agg AS (
        SELECT g, n_days, SUM(d0 * d0) AS den,
               {", ".join(f"SUM(d0 * d{k}) AS num{k}" for k in range(1, 8))}
        FROM dev GROUP BY g, n_days
    )
    SELECT g AS event_type, CAST(lag AS INTEGER) AS lag, n_days,
           ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf6
    FROM ({_ACF_ARMS})
    """,
)
def ev_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags 1..7
    (operators/drift.acf_daily) — the seasonality detector run BEFORE
    picking a seasonal window: a lag-7 spike certifies weekly rhythm, a
    flat tail says STL would overfit noise. All mean-centering is scaled
    by n so num/den stay exact int64 (counts x calendar keep the sums
    ~1e15 even at corpus scale); one division per (type, lag), rounded
    to 6. The corpus collapses to (type, day) counts map-side; the lag
    window and aggregate run on calendar-sized frames."""
    from odbc2parquet_spark.operators.drift import acf_daily

    ev = load_table(spark, sf_dir, "events")
    return acf_daily(ev).withColumnRenamed("g", "event_type")


@query(
    "ev_theilsen",
    oracle="""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT g, c,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY day) AS t
        FROM daily
    ),
    pairs AS (
        SELECT a.g,
               CAST(b.c - a.c AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
        FROM t a JOIN t b ON a.g = b.g AND a.t < b.t
    ),
    counted AS (
        SELECT g, slope,
               COUNT(*) OVER (PARTITION BY g) AS n_pairs,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY slope ASC) AS rk
        FROM pairs
    ),
    picked AS (
        SELECT g, CAST(n_pairs AS BIGINT) AS n_pairs, slope AS slope_med
        FROM counted WHERE rk = (n_pairs + 1) // 2
    ),
    nd AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY g)
    SELECT nd.g AS event_type, nd.n_days, p.n_pairs, p.slope_med
    FROM nd JOIN picked p ON p.g = nd.g
    """,
)
def ev_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type (operators/drift.
    theil_sen_daily): the median of all pairwise slopes of the daily
    count series — the "is this metric actually growing?" answer that
    one deploy-day spike cannot wreck (OLS breaks down at a single
    outlier; Theil-Sen tolerates 29%). Every slope is ONE IEEE division
    of two exact int64s, the median is an element pick (lower median,
    never an average) — so the estimate is bit-identical across engines.
    The pair join is calendar x calendar per type, bounded by days^2,
    independent of corpus size."""
    from odbc2parquet_spark.operators.drift import theil_sen_daily

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_daily(ev).withColumnRenamed("g", "event_type")


def _pca_iter_sql(k: int) -> str:
    # every CTE is MATERIALIZED and references its predecessor ONCE (the
    # max-normalizer is a window, not a second CTE reference): DuckDB
    # inlines CTEs per reference, and a doubly-referenced round would
    # re-expand the whole upstream chain 2^k times
    prev = f"v{k - 1}"
    return f"""
    r{k} AS MATERIALIZED (
        SELECT a.i, SUM(a.c6 * v.v) AS r
        FROM af a JOIN {prev} v ON v.i = a.j GROUP BY a.i
    ),
    v{k} AS MATERIALIZED (
        SELECT i, CAST(FLOOR(r * 1000.0 / MAX(ABS(r)) OVER ()) AS BIGINT) AS v
        FROM r{k}
    )"""


@query(
    "sim_pca_power",
    oracle=f"""
    WITH {_COV_CTE},
    a6 AS (
        SELECT i, j,
               CAST(CAST(cov AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS c6
        FROM covq
    ),
    af AS MATERIALIZED (
        SELECT i, j, c6 FROM a6
        UNION ALL
        SELECT j, i, c6 FROM a6 WHERE i != j
    ),
    v0 AS (SELECT DISTINCT i, CAST(1000 AS BIGINT) AS v FROM af),
    {",".join(_pca_iter_sql(k) for k in range(1, 9)).lstrip(",")},
    ray AS (
        SELECT ROUND(CAST(SUM(v.v * r.r) AS DOUBLE)
                     / CAST(SUM(v.v * v.v) AS DOUBLE) / 1000000.0,
                     6) AS lambda6
        FROM v7 v JOIN r8 r ON r.i = v.i
    )
    SELECT v8.i, v8.v AS pc1_milli, ray.lambda6
    FROM v8 CROSS JOIN ray
    """,
)
def sim_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus by POWER
    ITERATION on the exact-integer covariance (operators/drift.
    pca_top_component) — the embedding-QA decomposition: pc1's direction
    and its Rayleigh eigenvalue say how anisotropic the space is
    (whitening decisions, encoder-drift diagnostics, and the "is low ANN
    recall a routing or a geometry problem?" triage all start here).
    Covariance entries are the already-certified ×10⁶ int64 quantities
    (sim_covariance); the iterate renormalizes through FLOOR on exact
    sub-2⁵³ doubles, so all 8 unrolled oracle rounds land on Spark's
    integers bit-for-bit. Corpus → d²-row statistic via the Arrow Gram
    pass; rounds are d-row frames with 1-row max broadcasts."""
    from odbc2parquet_spark.operators.drift import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_component(emb)


@query(
    "ev_sprt",
    oracle=f"""
    WITH assigned AS (
        SELECT CASE WHEN {md5_long_sql("'exp:' || CAST(user_id AS VARCHAR)")} % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant,
               CAST(ts AS DATE) AS day, event_type
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    daily AS (
        SELECT variant, day,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned GROUP BY 1, 2
    ),
    walk AS (
        SELECT variant, day, k, n,
               SUM(k * 405465 + (n - k) * (-133531))
                   OVER (PARTITION BY variant ORDER BY day) AS llr
        FROM daily
    ),
    crossings AS (
        SELECT variant, day, llr,
               ROW_NUMBER() OVER (PARTITION BY variant ORDER BY day) AS rk
        FROM walk WHERE llr >= 2944439 OR llr <= -2944439
    ),
    finals AS (
        SELECT variant, MAX(day) AS last_day,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM walk GROUP BY variant
    ),
    lastllr AS (
        SELECT w.variant, w.llr AS final_llr
        FROM walk w JOIN finals f ON f.variant = w.variant AND w.day = f.last_day
    )
    SELECT f.variant, f.n_days,
           c.day AS decision_day,
           CASE WHEN c.llr >= 2944439 THEN 'accept_h1'
                WHEN c.llr <= -2944439 THEN 'accept_h0'
                ELSE 'continue' END AS decision,
           CAST(COALESCE(c.llr, l.final_llr) AS BIGINT) AS llr_micro
    FROM finals f
    JOIN lastllr l ON l.variant = f.variant
    LEFT JOIN crossings c ON c.variant = f.variant AND c.rk = 1
    """,
)
def ev_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the daily purchase-per-
    view rate, per hash-assigned experiment variant — the always-valid
    sequential complement to the fixed-horizon ev_ab_test: the
    log-likelihood random walk llr += k·ln(p1/p0) + (n-k)·ln(q1/q0)
    (H0: p=0.2 vs H1: p=0.3, alpha=beta=0.05) crosses ±ln(19) at the
    earliest day a decision is statistically safe, and an experimenter
    peeking daily inflates NO error rate. The ln constants are x10^6
    integer LITERALS shared verbatim by both engines (the Q15 twiddle
    convention for DSP, applied to sequential statistics) — the whole
    walk, thresholds and first-crossing argmin are exact int64. The
    corpus collapses to (variant, day) counts map-side; the walk is a
    calendar-sized per-variant window."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        F.when(
            md5_long(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))) % 2 == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("variant"),
        F.to_date("ts").alias("day"),
        "event_type",
    )
    daily = assigned.groupBy("variant", "day").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    from pyspark.sql import Window as W

    walk = daily.withColumn(
        "llr",
        F.sum(
            F.col("k") * 405465 + (F.col("n") - F.col("k")) * (-133531)
        ).over(W.partitionBy("variant").orderBy("day")),
    )
    crossings = (
        walk.filter((F.col("llr") >= 2944439) | (F.col("llr") <= -2944439))
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("variant").orderBy("day")),
        )
        .filter(F.col("rk") == 1)
        .select(
            "variant",
            F.col("day").alias("decision_day"),
            F.col("llr").alias("cllr"),
        )
    )
    finals = walk.groupBy("variant").agg(
        F.max("day").alias("last_day"), F.count(F.lit(1)).alias("n_days")
    )
    wk = walk.alias("wk")
    fn = finals.select("variant", "last_day").alias("fn")
    lastllr = wk.join(
        fn,
        (F.col("wk.variant") == F.col("fn.variant"))
        & (F.col("wk.day") == F.col("fn.last_day")),
    ).select(
        F.col("wk.variant").alias("variant"), F.col("wk.llr").alias("final_llr")
    )
    return (
        finals.join(lastllr, "variant")
        .join(crossings, "variant", "left")
        .select(
            "variant",
            "n_days",
            "decision_day",
            F.when(F.col("cllr") >= 2944439, F.lit("accept_h1"))
            .when(F.col("cllr") <= -2944439, F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("decision"),
            F.coalesce("cllr", "final_llr").alias("llr_micro"),
        )
    )
