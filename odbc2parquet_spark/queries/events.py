"""Event-stream queries over ``events`` — oracle-checked batch semantics.

These are the BATCH duals of streaming/transfer.py: a Structured Streaming
windowed aggregate, run over a bounded input with availableNow, produces
exactly the groupBy-window result below — so the oracle certifies the
streaming operators' aggregation semantics while staying SQL-expressible.

Window timestamps are emitted as epoch seconds (BIGINT) on both sides so
engine-specific timestamp/timezone types can't affect the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.catalog import load_table
from odbc2parquet_spark.functions.hashing import HASH_DOMAIN, md5_long, md5_long_sql
from odbc2parquet_spark.operators.asof import asof_join
from odbc2parquet_spark.operators.sketches import hll_estimate_from_registers, hll_registers
from odbc2parquet_spark.queries import query
from odbc2parquet_spark.streaming.transfer import (
    sessionized_counts,
    windowed_event_counts,
)


@query(
    "ev_windowed_counts",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS window_start,
           CAST(FLOOR(epoch(ts) / 300) * 300 + 300 AS BIGINT) AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def ev_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling-window counts per event type — the batch dual of
    the watermarked streaming aggregate (identical plan modulo the
    watermark, which only bounds state)."""
    ev = load_table(spark, sf_dir, "events")
    return windowed_event_counts(ev).select(
        F.unix_seconds(F.col("window_start").cast("timestamp")).alias("window_start"),
        F.unix_seconds(F.col("window_end").cast("timestamp")).alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


# shared oracle CTEs: each event's session number per user (a gap over
# 10 minutes starts a new session)
_SESSIONS_CTE = """
    ordered AS (
        SELECT user_id, ts,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN gap_us IS NULL OR gap_us > 600000000 THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )"""


@query(
    "ev_sessionized",
    oracle="WITH "
    + _SESSIONS_CTE
    + """
    SELECT user_id,
           epoch_us(MIN(ts)) // 1000000 AS session_start,
           (epoch_us(MAX(ts)) + 600000000) // 1000000 AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def ev_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (10 min) per user via the built-in
    session_window; the oracle recomputes them with gaps-and-islands SQL
    (lag -> new-session flag -> running sum -> group), proving the merge
    semantics. Session end = last event + gap, per Spark's definition."""
    ev = load_table(spark, sf_dir, "events")
    return sessionized_counts(ev).select(
        "user_id",
        F.unix_seconds(F.col("session_start").cast("timestamp")).alias("session_start"),
        F.unix_seconds(F.col("session_end").cast("timestamp")).alias("session_end"),
        "n_events",
    )


def _asof_purchase_sql(cond: str) -> str:
    """Each click matched as-of to a purchase of the same user, ``cond``
    ordering the two timestamps."""
    return f"""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, MAX(value) AS purchase_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    )
    SELECT c.event_id,
           c.user_id,
           epoch_us(c.ts) AS ts_us,
           epoch_us(p.ts) AS r_ts_us,
           p.purchase_value AS r_purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND {cond}
    """


def _asof_purchase(spark: SparkSession, sf_dir: str, direction: str) -> DataFrame:
    """The Spark side of :func:`_asof_purchase_sql`, as-of ``direction``."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(clicks, purchases, direction=direction)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("r_ts").cast("timestamp")).alias("r_ts_us"),
        "r_purchase_value",
    )


@query(
    "ev_asof_last_purchase",
    oracle=_asof_purchase_sql("c.ts >= p.ts"),
)
def ev_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click + the user's most recent purchase at or
    before it. Spark lacks the operator; operators/asof.py builds it as a
    union + one shuffle/sort + running last_value — sort-merge cost, no
    time-overlap fan-out. The oracle is DuckDB's NATIVE ASOF JOIN, so the
    two independent formulations must agree row-for-row."""
    return _asof_purchase(spark, sf_dir, "backward")


def _bands() -> list[tuple[int, float, float]]:
    """20 deterministic, overlapping value bands over [0, 500)."""
    return [
        (i, float((i * 37) % 450), float((i * 37) % 450 + 30 + (i % 7) * 10))
        for i in range(20)
    ]


_BANDS_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _bands())


@query(
    "ev_range_join_bands",
    oracle=f"""
    WITH bands(band_id, lo, hi) AS (VALUES {_BANDS_SQL})
    SELECT e.event_id, b.band_id, e.value
    FROM events e JOIN bands b
      ON e.value >= b.lo AND e.value < b.hi
    """,
)
def ev_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join of events to overlapping value bands. The
    oracle is the naive theta join (fine at sf0.01); the Spark side runs
    operators/ranges.range_join's binned equi-join — a hash match proves
    the binned plan loses/duplicates nothing."""
    from odbc2parquet_spark.operators.ranges import range_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(_bands(), ["band_id", "lo", "hi"])
    out = range_join(ev, bands)
    return out.select("event_id", "band_id", "value")


@query(
    "ev_rollup_daily",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
           event_type AS key,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the daily rollup is computed
    from the hourly, which is computed from the 5-minute, which alone reads
    raw events (operators/rollup.rollup_cascade). The oracle aggregates the
    raw events directly — a hash match proves the cascade re-aggregates
    EXACTLY (decimal partials, no float drift)."""
    from odbc2parquet_spark.operators.rollup import rollup_cascade

    ev = load_table(spark, sf_dir, "events")
    daily = rollup_cascade(ev)["1 day"]
    return daily.select(
        "bucket_start", "key", "n", F.col("sum_value").cast("double").alias("total")
    )


@query(
    "ev_value_anomalies",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    ),
    ms AS (
        SELECT event_type, s1 / n AS mean,
               SQRT(GREATEST(s2 - s1 * s1 / n, 0) / (n - 1)) AS sd
        FROM stats WHERE n > 1
    )
    SELECT event_id, e.event_type, value,
           ROUND((value - mean) / sd, 6) AS z
    FROM events e JOIN ms ON e.event_type = ms.event_type
    WHERE sd > 0 AND ABS((value - mean) / sd) > 3.0
    """,
)
def ev_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type. The per-type stats come
    from EXACT decimal sums of value and value^2 (variance as
    (s2 - s1^2/n)/(n-1) in a fixed-order expression — stddev_samp's
    streaming accumulation would not be bit-stable across engines). The
    5-row stats table broadcasts; the corpus never shuffles."""
    ev = load_table(spark, sf_dir, "events")
    d = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    stats = ev.groupBy(F.col("event_type").alias("s_type")).agg(
        F.sum(d(F.col("value"))).cast("double").alias("s1"),
        F.sum(d(F.col("value") * F.col("value"))).cast("double").alias("s2"),
        F.count("*").alias("n"),
    ).filter(F.col("n") > 1)
    # GREATEST(., 0): a constant-valued group can cancel s2 - s1^2/n to a
    # tiny NEGATIVE double — DuckDB's SQRT then ERRORS while Spark yields
    # NaN (and Spark orders NaN above every double, so `sd > 0` would
    # pass it). Clamping on both engines pins the degenerate case to
    # sd = 0 -> filtered.
    ms = stats.select(
        "s_type",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            F.greatest(
                F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), F.lit(0.0)
            )
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        ev.join(F.broadcast(ms), ev.event_type == F.col("s_type"))
        .filter((F.col("sd") > 0) & (F.abs(z) > 3.0))
        .select("event_id", "event_type", "value", F.round(z, 6).alias("z"))
    )


@query(
    "ev_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased_after_click
    FROM firsts
    """,
)
def ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase by first-event
    time): one conditional-min groupBy per user then a single fold — the
    standard product-analytics query, shuffling only (user_id, 3 longs)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    fmin = lambda t: F.min(F.when(F.col("event_type") == t, us))  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        fmin("view").alias("t_view"),
        fmin("click").alias("t_click"),
        fmin("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return firsts.agg(
        F.count("*").alias("n_users"),
        flag(viewed).alias("n_viewed"),
        flag(clicked).alias("n_clicked_after_view"),
        flag(purchased).alias("n_purchased_after_click"),
    )


@query(
    "ev_weekly_retention",
    oracle="""
    WITH weekly AS (
        SELECT DISTINCT user_id,
               CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
        FROM events
    )
    SELECT a.week, COUNT(*) AS active,
           CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained_next
    FROM weekly a
    LEFT JOIN weekly b ON a.user_id = b.user_id AND b.week = a.week + 1
    GROUP BY a.week
    ORDER BY a.week
    """,
)
def ev_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users active in week w who return in w+1. The
    distinct (user, week) set is tiny next to raw events; the self-join is
    on that reduced set — never on the event log."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_seconds(F.col("ts").cast("timestamp")) / 604800).cast("long")
    weekly = ev.select("user_id", week.alias("week")).distinct()
    nxt = weekly.select(F.col("user_id").alias("b_user"), (F.col("week") - 1).alias("b_week"))
    return (
        weekly.join(
            nxt, (weekly.user_id == F.col("b_user")) & (weekly.week == F.col("b_week")), "left_outer"
        )
        .groupBy("week")
        .agg(
            F.count("*").alias("active"),
            F.sum(F.when(F.col("b_user").isNotNull(), 1).otherwise(0)).alias("retained_next"),
        )
        .orderBy("week")
    )


@query(
    "ev_interval_join",
    oracle="""
    SELECT l.user_id AS user_id,
           l.event_id AS l_event, r.event_id AS r_event,
           epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
    WHERE l.event_type = 'view' AND r.event_type = 'purchase'
    """,
)
def ev_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch dual of streaming/transfer.stream_stream_interval_join:
    purchases within 10 minutes AFTER a view by the same user. The oracle
    certifies the join predicate (equi-key + bounded time interval) that,
    with watermarks on both sides, keeps stream-stream join state finite.
    Plan shape: equi-join on user_id with a range residual — never a
    cross join."""
    from odbc2parquet_spark.streaming.transfer import stream_stream_interval_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = stream_stream_interval_join(views, buys)
    return j.select(
        F.col("l_key").alias("user_id"),
        F.col("l_event_id").alias("l_event"),
        F.col("r_event_id").alias("r_event"),
        F.unix_micros("l_ts").alias("l_ts_us"),
        F.unix_micros("r_ts").alias("r_ts_us"),
    )


@query(
    "ev_rolling_trend",
    oracle="""
    WITH numbered AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS x
        FROM events
    ),
    wind AS (
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_window,
               CAST(SUM(CAST(x AS DECIMAL(18,0))) OVER w AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sy,
               CAST(SUM(CAST(CAST(x AS DECIMAL(18,0))
                             * CAST(value AS DECIMAL(18,6))
                             AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(18,0))) OVER w AS DOUBLE) AS sxx
        FROM numbered
        WINDOW w AS (PARTITION BY user_id ORDER BY x
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, CAST(n_window AS BIGINT) AS n_window,
           ROUND((n_window * sxy - sx * sy)
                 / (n_window * sxx - sx * sx), 6) AS slope
    FROM wind WHERE n_window >= 2 AND event_id % 97 = 0
    """,
)
def ev_rolling_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS slope over each user's last 8 events (operators/
    rollup.rolling_trend) — the linear-trend detector complementing the
    EWMA level tracker: every regression sum is an exact decimal over
    the frame, the closed-form slope is mirrored-token IEEE arithmetic,
    so the slopes hash-match across engines. One keyed window, no
    joins; output thinned to event_id % 97 for a bounded certificate."""
    from odbc2parquet_spark.operators.rollup import rolling_trend

    ev = load_table(spark, sf_dir, "events")
    return (
        rolling_trend(ev)
        .filter(F.col("event_id") % 97 == 0)
        .select("user_id", "event_id", "n_window", "slope")
    )


@query(
    "ev_mad_outliers",
    oracle="""
    WITH m AS (
        SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY 1
    ),
    d AS (
        SELECT e.event_type, e.value, m.med
        FROM events e JOIN m USING (event_type)
    ),
    md AS (
        SELECT event_type, med,
               ROUND(quantile_cont(ABS(value - med), 0.5), 6) AS mad
        FROM d GROUP BY 1, 2
    )
    SELECT d.event_type AS event_type, md.med, md.mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN ABS(d.value - md.med) > 4.4478 * md.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def ev_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier report per event type (operators/quality.
    mad_outliers): median, median-absolute-deviation and the count
    beyond the 3-sigma-equivalent band — the detector that still works
    when the outliers themselves contaminate the spread (the z-score
    report ev_value_anomalies is the non-robust twin). Medians round to
    6 decimals so both engines compare identical thresholds."""
    from odbc2parquet_spark.operators.quality import mad_outliers

    ev = load_table(spark, sf_dir, "events")
    flagged = mad_outliers(ev)
    return (
        flagged.groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value_outlier").cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "ev_peak_concurrency",
    oracle="WITH "
    + _SESSIONS_CTE
    + """,
    sess AS (
        SELECT epoch_us(MIN(ts)) // 1000000 AS session_start,
               (epoch_us(MAX(ts)) + 600000000) // 1000000 AS session_end
        FROM numbered GROUP BY user_id, session_no
    ),
    pts AS (
        SELECT session_start AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT session_end AS t, -1 AS delta FROM sess
    ),
    run AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts
    )
    SELECT CAST(FLOOR(t / 86400) * 86400 AS BIGINT) AS day_start,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_session_starts
    FROM run GROUP BY 1 ORDER BY 1
    """,
)
def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak concurrent sessions (operators/ranges.
    sweep_line_concurrency over the session_window intervals): the
    capacity-planning number — how many users were on AT ONCE — via the
    sweep-line running sum, computed as a two-pass distributed prefix
    sum (no global window; the driver sees 32 longs). The
    oracle rebuilds sessions with gaps-and-islands SQL and sweeps with
    a plain window — two independent formulations, one hash."""
    from odbc2parquet_spark.operators.ranges import sweep_line_concurrency

    ev = load_table(spark, sf_dir, "events")
    sess = sessionized_counts(ev).select(
        F.unix_seconds(F.col("session_start").cast("timestamp")).alias("s"),
        F.unix_seconds(F.col("session_end").cast("timestamp")).alias("e"),
    )
    # boundary proxy: raw event seconds share the sweep keys' distribution
    # (sessions derive from them), so the quantile pass scans the events
    # column instead of recomputing the sessionization a third time —
    # measured ~25% off the whole query at sf0.1, growing with SF since
    # sessionization is the dominant stage.
    proxy = ev.select(
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("t_proxy")
    )
    run = sweep_line_concurrency(sess, boundary_source=(proxy, "t_proxy"))
    return (
        run.groupBy(
            (F.floor(F.col("t") / 86400) * 86400).cast("long").alias("day_start")
        )
        .agg(
            F.max("concurrency").cast("long").alias("peak_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_session_starts"),
        )
        .orderBy("day_start")
    )


@query(
    "ev_ab_test",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(18,6))
                             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                   AS spend
        FROM events GROUP BY 1
    ),
    a AS (
        SELECT spend,
               CASE WHEN {md5_long_sql("'exp:' || CAST(user_id AS VARCHAR)")} % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant
        FROM u
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN variant = 'A'
                             THEN CAST(spend AS DECIMAL(25,10))
                             ELSE CAST(0 AS DECIMAL(25,10)) END) AS DOUBLE) AS s1_a,
               CAST(SUM(CASE WHEN variant = 'B'
                             THEN CAST(spend AS DECIMAL(25,10))
                             ELSE CAST(0 AS DECIMAL(25,10)) END) AS DOUBLE) AS s1_b,
               CAST(SUM(CASE WHEN variant = 'A'
                             THEN CAST(spend * spend AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE) AS s2_a,
               CAST(SUM(CASE WHEN variant = 'B'
                             THEN CAST(spend * spend AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE) AS s2_b
        FROM a
    )
    SELECT n_a, n_b,
           ROUND(s1_a / n_a, 6) AS mean_a,
           ROUND(s1_b / n_b, 6) AS mean_b,
           ROUND((s1_a / n_a - s1_b / n_b)
                 / SQRT((GREATEST(s2_a - s1_a * s1_a / n_a, 0) / (n_a - 1)) / n_a
                        + (GREATEST(s2_b - s1_b * s1_b / n_b, 0) / (n_b - 1)) / n_b), 6)
               AS z_stat
    FROM agg
    """,
)
def ev_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis (operators/sampling.ab_assign): users hash-
    assigned to arms A/B by salted slot (deterministic, auditable — the
    same no-RNG contract as the train/val split, so any engine re-derives
    who was in which arm), per-arm mean user spend, and the Welch
    z-statistic on the spend difference. Per-user spend and the arm-level
    s1/s2 moments are decimal-exact sums (order-independent); the
    mean/variance/z arithmetic is IEEE double in an order the oracle
    mirrors token-for-token (sqrt is correctly-rounded per IEEE-754, so
    even z hash-matches). Scale: one per-user agg + one 6-counter fold —
    nothing wider than a user row ever shuffles."""
    from odbc2parquet_spark.operators.sampling import ab_assign

    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            ).otherwise(F.lit(0).cast("decimal(18,6)"))
        )
        .cast("double")
        .alias("spend")
    )
    a = ab_assign(users)
    spend = F.col("spend")
    agg = a.agg(
        F.sum((F.col("variant") == "A").cast("long")).alias("n_a"),
        F.sum((F.col("variant") == "B").cast("long")).alias("n_b"),
        F.sum(
            F.when(F.col("variant") == "A", spend.cast("decimal(25,10)")).otherwise(
                F.lit(0).cast("decimal(25,10)")
            )
        )
        .cast("double")
        .alias("s1_a"),
        F.sum(
            F.when(F.col("variant") == "B", spend.cast("decimal(25,10)")).otherwise(
                F.lit(0).cast("decimal(25,10)")
            )
        )
        .cast("double")
        .alias("s1_b"),
        F.sum(
            F.when(
                F.col("variant") == "A", (spend * spend).cast("decimal(30,10)")
            ).otherwise(F.lit(0).cast("decimal(30,10)"))
        )
        .cast("double")
        .alias("s2_a"),
        F.sum(
            F.when(
                F.col("variant") == "B", (spend * spend).cast("decimal(30,10)")
            ).otherwise(F.lit(0).cast("decimal(30,10)"))
        )
        .cast("double")
        .alias("s2_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s1_a, s1_b = F.col("s1_a"), F.col("s1_b")
    s2_a, s2_b = F.col("s2_a"), F.col("s2_b")
    return agg.select(
        "n_a",
        "n_b",
        F.round(s1_a / n_a, 6).alias("mean_a"),
        F.round(s1_b / n_b, 6).alias("mean_b"),
        # GREATEST(., 0) on each Welch variance term: a constant-spend arm
        # cancels its s2 - s1^2/n to a tiny negative double — DuckDB's
        # SQRT errors while Spark yields NaN (same clamp as
        # ev_value_anomalies; identical on every non-degenerate arm).
        F.round(
            (s1_a / n_a - s1_b / n_b)
            / F.sqrt(
                (F.greatest(s2_a - s1_a * s1_a / n_a, F.lit(0.0)) / (n_a - F.lit(1))) / n_a
                + (F.greatest(s2_b - s1_b * s1_b / n_b, F.lit(0.0)) / (n_b - F.lit(1))) / n_b
            ),
            6,
        ).alias("z_stat"),
    )


# shared oracle CTEs: the signup -> first purchase life table (subjects
# censored at the last event), with the subjects at risk per day
_SURVIVAL_CTE = """
    su AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    fp AS (
        SELECT su.user_id, su.signup_ts, MIN(e.ts) AS conv_ts
        FROM su LEFT JOIN events e
          ON e.user_id = su.user_id AND e.event_type = 'purchase'
         AND e.ts >= su.signup_ts
        GROUP BY 1, 2
    ),
    mx AS (SELECT MAX(ts) AS max_ts FROM events),
    subj AS (
        SELECT date_diff('day', CAST(signup_ts AS DATE),
                         CAST(COALESCE(conv_ts, max_ts) AS DATE)) AS t_obs,
               conv_ts IS NOT NULL AS converted
        FROM fp, mx
    ),
    per_t AS (
        SELECT t_obs AS t, COUNT(*) AS n_all,
               SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS n_events
        FROM subj GROUP BY 1
    ),
    cum AS (
        SELECT t, n_all, n_events,
               COALESCE(SUM(n_all) OVER (ORDER BY t ROWS BETWEEN
                        UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_prior,
               SUM(n_all) OVER () AS n_total
        FROM per_t
    )"""


def _signup_life_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signup-to-first-purchase life table (operators/survival.
    km_hazard_table) over one subject per signed-up user: days to the
    first purchase at or after signup, right-censored at the dataset's
    last timestamp — the Spark side of ``_SURVIVAL_CTE``."""
    from odbc2parquet_spark.operators.survival import km_hazard_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    su = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    pu = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    fp = (
        su.join(
            pu,
            (su["user_id"] == pu["p_user"]) & (pu["p_ts"] >= su["signup_ts"]),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("conv_ts"))
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    subj = fp.crossJoin(F.broadcast(mx)).select(
        F.datediff(
            F.to_date(F.coalesce(F.col("conv_ts"), F.col("max_ts"))),
            F.to_date(F.col("signup_ts")),
        ).alias("t_obs"),
        F.col("conv_ts").isNotNull().alias("converted"),
    )
    return km_hazard_table(subj)


@query(
    "ev_time_to_convert",
    oracle="WITH "
    + _SURVIVAL_CTE
    + """
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_total - n_prior AS BIGINT) AS n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(n_events * 1.0 / (n_total - n_prior), 6) AS hazard
    FROM cum WHERE n_events > 0 ORDER BY t_days
    """,
)
def ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase survival life table (operators/survival.
    km_hazard_table): per day-since-signup, subjects still at risk, the
    conversions that day, and the discrete hazard d/n — users who never
    purchase are right-censored at the dataset's last timestamp. Exact
    integer counts + one final division, so the table (and any KM
    product folded from it) is engine-identical. The subjects build is
    two keyed aggs + a 1-row max-ts broadcast; the life table groups by
    duration (calendar-sized) and windows over THOSE rows only."""
    return (
        _signup_life_table(spark, sf_dir)
        .select(
            F.col("t").cast("long").alias("t_days"),
            "n_risk",
            "n_events",
            "hazard",
        )
        .orderBy("t_days")
    )


@query(
    "ev_winsorize",
    oracle="""
    WITH s AS (
        SELECT event_type,
               ROUND(quantile_cont(value, 0.05), 6) AS p_lo,
               ROUND(quantile_cont(value, 0.95), 6) AS p_hi
        FROM events GROUP BY 1
    )
    SELECT e.event_type AS event_type, p_lo, p_hi,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN value < p_lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN value > p_hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_raw,
           ROUND(CAST(SUM(CAST(LEAST(GREATEST(value, p_lo), p_hi)
                               AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_winsorized
    FROM events e JOIN s USING (event_type)
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
)
def ev_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization report (operators/quality.winsorize):
    exact [p05, p95] clamp bands, clip counts, and the mean before/after
    — the heavy-tail taming step run before averaging a metric. Bands
    round to 6 decimals so both engines clamp identically; means are
    decimal-exact sums divided once. Two linear passes + a group-sized
    broadcast — at 100 TB swap the exact percentile for
    approx_percentile (same shape, no per-group sort)."""
    from odbc2parquet_spark.operators.quality import winsorize

    ev = load_table(spark, sf_dir, "events")
    w = winsorize(ev)
    return (
        w.groupBy("event_type", "p_lo", "p_hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("p_lo")).cast("long")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("value") > F.col("p_hi")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_raw"),
            F.round(
                F.sum(F.col("value_w").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_winsorized"),
        )
        .select(
            "event_type", "p_lo", "p_hi", "n", "n_clipped_low",
            "n_clipped_high", "mean_raw", "mean_winsorized",
        )
        .orderBy("event_type")
    )


@query(
    "ev_attribution",
    oracle="""
    WITH conv AS (
        SELECT user_id, event_id AS conv_id, ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
        SELECT user_id, ts, event_type AS channel
        FROM events WHERE event_type IN ('click', 'view', 'signup')
    ),
    per AS (
        SELECT c.conv_id, c.value, t.channel, COUNT(*) AS n_channel
        FROM conv c JOIN tch t
          ON c.user_id = t.user_id
         AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
        GROUP BY 1, 2, 3
    ),
    tot AS (SELECT conv_id, SUM(n_channel) AS n_total FROM per GROUP BY 1)
    SELECT per.channel AS channel,
           ROUND(CAST(SUM(CAST(per.value * per.n_channel / tot.n_total
                               AS DECIMAL(25,12))) AS DOUBLE), 6)
               AS credited_value,
           CAST(SUM(per.n_channel) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT per.conv_id) AS BIGINT) AS n_conversions
    FROM per JOIN tot USING (conv_id)
    GROUP BY 1 ORDER BY 1
    """,
)
def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution (operators/attribution.py): each
    purchase's value splits equally across the same user's click/view/
    signup touches in the 7 days before it. Equi-join on user_id with a
    range residual (bounded like a watermarked interval join — never a
    cross join); the pair set collapses to (conversion, channel) counts
    with map-side partials before any arithmetic; credits are
    DECIMAL(25,12) so the final per-channel sums are order-independent."""
    from odbc2parquet_spark.operators.attribution import linear_attribution

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), "ts", "value"
    )
    tch = ev.filter(F.col("event_type").isin("click", "view", "signup")).select(
        "user_id", "ts", F.col("event_type").alias("channel")
    )
    per = linear_attribution(conv, tch)
    return (
        per.groupBy("channel")
        .agg(
            F.round(F.sum("credit").cast("double"), 6).alias("credited_value"),
            F.sum("n_channel").cast("long").alias("n_touches"),
            F.countDistinct("conv_id").cast("long").alias("n_conversions"),
        )
        .orderBy("channel")
    )


@query(
    "ev_props_json",
    bench=False,
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY k_bucket
    """,
)
def ev_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    props column with the built-in JSON path evaluator (JVM-side, no UDF)
    and aggregate on it. At scale the JSON parse is a per-row expression
    inside whole-stage codegen; only the (k, partial-agg) pairs shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return (
        ev.select(
            F.get_json_object(F.col("props"), "$.k").cast("long").alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@query(
    "ev_transitions",
    bench=False,
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def ev_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over each user's event sequence (lead
    window keyed by user, event_id tiebreak for a total order, then one
    pair-count aggregate). The per-user window partitions on user_id —
    bounded state per user; the transition matrix is |types|^2 rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))


def _last_per_bucket_cte(last: str) -> str:
    """``ev`` (events keyed by user and day), ``grid`` (every day from each
    user's first to last) and ``per_bucket`` (each observed user-day's
    last value, as ``last``)."""
    return f"""
    ev AS (
        SELECT user_id AS key, epoch_us(ts) AS ts_us, event_id AS id, value AS v,
               CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket
        FROM events
    ),
    bounds AS (SELECT key, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM ev GROUP BY key),
    grid AS (
        SELECT key, CAST(t.b AS BIGINT) AS bucket
        FROM bounds, UNNEST(generate_series(b0, b1)) AS t(b)
    ),
    per_bucket AS (
        SELECT key, bucket, v AS {last} FROM (
            SELECT key, bucket, v,
                   ROW_NUMBER() OVER (PARTITION BY key, bucket
                                      ORDER BY ts_us DESC, id DESC) AS rn
            FROM ev
        ) WHERE rn = 1
    )"""


@query(
    "ev_resample_daily",
    bench=False,
    oracle="WITH "
    + _last_per_bucket_cte("bucket_last")
    + """
    SELECT g.key AS user_id, g.bucket,
           LAST_VALUE(p.bucket_last IGNORE NULLS) OVER (
               PARTITION BY g.key ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
           p.bucket_last IS NOT NULL AS observed
    FROM grid g LEFT JOIN per_bucket p ON p.key = g.key AND p.bucket = g.bucket
    """,
)
def ev_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-grid resampling with forward fill per user
    (operators/rollup.resample_forward_fill): gap buckets carry the last
    observed value; `observed` marks real vs filled rows."""
    from odbc2parquet_spark.operators.rollup import resample_forward_fill

    ev = load_table(spark, sf_dir, "events")
    return resample_forward_fill(ev)


_TYPE_WEIGHTS = [
    ("view", 1.0), ("click", 2.0), ("purchase", 10.0), ("signup", 5.0), ("error", 0.0),
]
_TYPE_WEIGHTS_SQL = ", ".join(f"('{t}', {w})" for t, w in _TYPE_WEIGHTS)


@query(
    "ev_salted_join",
    bench=False,
    oracle=f"""
    WITH dim(event_type, weight) AS (VALUES {_TYPE_WEIGHTS_SQL})
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value * d.weight AS DECIMAL(18,6))) AS DOUBLE)
               AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def ev_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join scored against the plain-join oracle: event_type
    has only 5 values, so every key is a hot key — the canonical case
    where one reducer would take a whole key's rows. salted_join spreads
    each key across 16 salt buckets (small side replicated, big side
    salted deterministically); a hash match proves the salted plan loses
    and duplicates nothing vs the unsalted semantics."""
    from odbc2parquet_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = spark.createDataFrame(_TYPE_WEIGHTS, ["event_type", "weight"])
    j = salted_join(ev, dim)
    return j.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") * F.col("weight")).cast("decimal(18,6)"))
        .cast("double")
        .alias("weighted_value"),
    )


@query(
    "ev_asof_next_purchase",
    bench=False,
    oracle=_asof_purchase_sql("c.ts <= p.ts"),
)
def ev_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click + the user's NEXT purchase at or
    after it (conversion attribution). Same union + single-sort plan as
    the backward variant with the window direction flipped; verified
    against DuckDB's native forward ASOF JOIN."""
    return _asof_purchase(spark, sf_dir, "forward")


#: the event's epoch day (``ts`` seconds div 86400), oracle side
_DAY = "CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)"


def _epoch_day() -> F.Column:
    """The event's epoch day as a long column: the Spark side of ``_DAY``."""
    return F.floor(F.unix_seconds(F.col("ts").cast("timestamp")) / 86400).cast("long")


@query(
    "ev_kmv_daily_users",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT {_DAY} AS day,
               {md5_long_sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    r AS (
        SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM h
    )
    SELECT day, COUNT(*) AS k_used, MAX(h) AS kth_hash,
           CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 63.0 * {float(HASH_DOMAIN)} / MAX(h) END AS estimate
    FROM r WHERE rn <= 64
    GROUP BY day
    """,
)
def ev_kmv_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via per-group KMV sketches (k=64) — the
    mergeable approx-distinct that replaces per-window COUNT(DISTINCT)
    at log scale; deterministic md5 hashing makes even the estimate
    hash-match across engines."""
    from odbc2parquet_spark.operators.sketches import kmv_distinct_per_group

    ev = load_table(spark, sf_dir, "events")
    day = _epoch_day()
    return kmv_distinct_per_group(ev.select(day.alias("day"), "user_id"))


@query(
    "ev_late_audit",
    oracle=f"""
    WITH arr AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               epoch_us(ts)
               + ({md5_long_sql("CAST(event_id AS VARCHAR)", 8)} % 1200) * 1000000
                   AS arrival_us
        FROM events
    ),
    seq AS (
        SELECT event_type, us,
               MAX(us) OVER (ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS seen_max
        FROM arr
    )
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN seen_max IS NOT NULL
                          AND us < seen_max - 600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM seq GROUP BY event_type ORDER BY event_type
    """,
)
def ev_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark what-if audit: per event type, how many events a
    10-minute streaming watermark would have dropped as late. The log on
    disk is time-ordered, so each event's arrival is jittered by a
    deterministic md5-derived 0-20-minute ingestion delay — the stand-in
    for out-of-order parallel ingestion (some events beat the watermark,
    some don't). The running event-time max uses the two-pass prefix
    pattern (no global-window funnel; the oracle keeps the global-window
    form)."""
    from odbc2parquet_spark.streaming.transfer import late_event_audit

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    jitter = (md5_long(F.col("event_id").cast("string"), 8) % 1200) * F.lit(1_000_000)
    arrival = F.concat(
        F.lpad((us + jitter).cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return late_event_audit(ev.withColumn("arrival", arrival))


@query(
    "ev_binned_quantiles",
    oracle="""
    WITH b AS (
        SELECT event_type, CAST(FLOOR(value / 0.01) AS BIGINT) AS bin,
               COUNT(*) AS c
        FROM events GROUP BY event_type, bin
    ),
    cum AS (
        SELECT event_type, bin, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY event_type) AS total
        FROM b
    )
    SELECT event_type, CAST(MAX(total) AS BIGINT) AS n,
           CAST(ROUND((MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN bin END) + 1) * 0.01, 6) AS DOUBLE) AS p50,
           CAST(ROUND((MIN(CASE WHEN cum >= CEIL(0.95 * total) THEN bin END) + 1) * 0.01, 6) AS DOUBLE) AS p95,
           CAST(ROUND((MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN bin END) + 1) * 0.01, 6) AS DOUBLE) AS p99
    FROM cum GROUP BY event_type
    """,
)
def ev_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable binned-quantile sketch per event type (p50/p95/p99 from
    0.01-wide bins): counts are map-side combinable and each group ships
    |bins| rows — the deterministic replacement for exact per-group
    percentile sorts at log scale."""
    from odbc2parquet_spark.operators.sketches import binned_quantiles

    ev = load_table(spark, sf_dir, "events")
    return binned_quantiles(ev)


@query(
    "ev_scd2_intervals",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, epoch_us(ts) AS vf,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS vt,
               event_id
        FROM events
    )
    SELECT user_id, event_type, vf AS valid_from_us,
           COALESCE(vt, 253402300800000000) AS valid_to_us
    FROM seq
    """,
)
def ev_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval construction: each per-user state change gets
    [valid_from, valid_to) from one LEAD window over the user's ordered
    events (open intervals close at the 9999-01-01 sentinel) — the
    warehouse history-table build, one shuffle on the entity key."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return ev.select(
        "user_id",
        "event_type",
        us.alias("valid_from_us"),
        F.coalesce(
            F.lead(us).over(w), F.lit(253402300800000000)
        ).alias("valid_to_us"),
    )


@query(
    "ev_funnel_windowed",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT f.user_id, f.t_view,
               MIN(CASE WHEN e.event_type = 'click'
                         AND epoch_us(e.ts) > f.t_view
                         AND epoch_us(e.ts) <= f.t_view + 604800000000
                        THEN epoch_us(e.ts) END) AS t_click
        FROM firsts f JOIN events e ON e.user_id = f.user_id
        WHERE f.t_view IS NOT NULL
        GROUP BY f.user_id, f.t_view
    )
    SELECT COUNT(*) AS n_viewed,
           CAST(SUM(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted_7d,
           CAST(SUM(CASE WHEN t_click IS NOT NULL
                    THEN (t_click - t_view) // 1000000 ELSE 0 END) AS BIGINT)
               AS total_lag_s
    FROM conv
    """,
)
def ev_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED conversion funnel: first view -> click within 7 days
    (the realistic attribution-window form of ev_funnel). Per-user first
    views aggregate once, join back to the user's events, and the
    conditional min folds the window predicate — two shuffles on
    user_id, no per-user sequence scan."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"))
        .filter(F.col("t_view").isNotNull())
    )
    e = ev.select(F.col("user_id").alias("e_user"), "event_type", us.alias("e_us"))
    in_window = (
        (F.col("event_type") == "click")
        & (F.col("e_us") > F.col("t_view"))
        & (F.col("e_us") <= F.col("t_view") + F.lit(604800000000))
    )
    conv = (
        firsts.join(e, firsts.user_id == F.col("e_user"))
        .groupBy("user_id", "t_view")
        .agg(F.min(F.when(in_window, F.col("e_us"))).alias("t_click"))
    )
    clicked = F.col("t_click").isNotNull()
    return conv.agg(
        F.count("*").alias("n_viewed"),
        F.sum(F.when(clicked, 1).otherwise(0)).cast("long").alias("n_converted_7d"),
        F.sum(
            F.when(clicked, F.expr("(t_click - t_view) div 1000000")).otherwise(0)
        ).cast("long").alias("total_lag_s"),
    )


@query(
    "ev_pattern_paths",
    oracle="""
    WITH seq AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq
    WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path
    LIMIT 20
    """,
)
def ev_pattern_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining: the 20 most common 3-step event-type
    paths across per-user timelines (the funnel-DISCOVERY dual of
    ev_funnel, which checks one known path). Two LEADs inside a per-user
    window — state is two rows per user partition, shuffle is one
    hash-exchange on user_id, and the count groupBy partial-aggregates
    map-side; nothing is quadratic in events. Total order (n DESC, path)
    with unique path keys makes the LIMIT deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


@query(
    "ev_skew_profile",
    oracle="""
    WITH counts AS (
        SELECT user_id AS key, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt) AS BIGINT) AS total_rows FROM counts),
    top AS (
        SELECT key, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS hot_rank
        FROM counts ORDER BY cnt DESC, key LIMIT 5
    )
    SELECT CAST(hot_rank AS INTEGER) AS hot_rank,
           CAST(key AS VARCHAR) AS key,
           CAST(cnt AS BIGINT) AS cnt,
           total_rows, n_keys,
           CAST(cnt * n_keys / total_rows AS DOUBLE) AS skew_ratio,
           CAST(CEIL(cnt * 32 / total_rows) AS BIGINT) AS suggested_salt
    FROM top CROSS JOIN s
    """,
)
def ev_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic (operators/joins.skew_profile): the 5
    hottest user_ids, each key's share vs a uniform key, and the salting
    fan-out that re-balances it across 32 reducers — the planning step
    before ev_salted_join's mitigation."""
    from odbc2parquet_spark.operators.joins import skew_profile

    ev = load_table(spark, sf_dir, "events")
    return skew_profile(ev)


@query(
    "ev_agg_merge",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh (operators/rollup.
    partial_agg_state + merge_agg_states): history and the newest 7 days
    are aggregated SEPARATELY, then state-merged. The oracle recomputes
    from scratch — a hash match proves the merge algebra (count/decimal-
    sum/min/max) is exactly refresh-equivalent, the property that lets a
    100 TB continuous aggregate touch only the new partition."""
    from odbc2parquet_spark.operators.rollup import (
        merge_agg_states,
        partial_agg_state,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
    )
    cutoff = ev.agg(F.date_sub(F.max(F.to_date("day")), 7).alias("c"))
    ev2 = ev.crossJoin(F.broadcast(cutoff))
    hist = ev2.filter(F.to_date("day") < F.col("c")).drop("c")
    fresh = ev2.filter(F.to_date("day") >= F.col("c")).drop("c")
    keys = ["day", "event_type"]
    merged = merge_agg_states(
        partial_agg_state(hist, keys),
        partial_agg_state(fresh, keys),
        keys,
    )
    return merged.select(
        "day",
        "event_type",
        "n",
        F.col("s").cast("double").alias("total_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
    )


@query(
    "ev_resample_interp",
    oracle="WITH "
    + _last_per_bucket_cte("obs_v")
    + """,
    g AS (
        SELECT grid.key, grid.bucket, p.obs_v,
               p.obs_v IS NOT NULL AS observed
        FROM grid LEFT JOIN per_bucket p
          ON p.key = grid.key AND p.bucket = grid.bucket
    ),
    st AS (
        SELECT key, bucket, obs_v, observed,
               LAST_VALUE(obs_v IGNORE NULLS) OVER wb AS vp,
               LAST_VALUE(CASE WHEN observed THEN bucket END IGNORE NULLS)
                   OVER wb AS bp,
               FIRST_VALUE(obs_v IGNORE NULLS) OVER wf AS vn,
               FIRST_VALUE(CASE WHEN observed THEN bucket END IGNORE NULLS)
                   OVER wf AS bn
        FROM g
        WINDOW wb AS (PARTITION BY key ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY key ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT key AS user_id, bucket,
           ROUND(CASE WHEN observed THEN obs_v
                      WHEN bp IS NULL THEN vn
                      WHEN bn IS NULL THEN vp
                      ELSE vp + (vn - vp) * ((bucket - bp) / (bn - bp))
                 END, 6) AS value,
           CASE WHEN observed THEN 'observed'
                WHEN bp IS NULL THEN 'bfill'
                WHEN bn IS NULL THEN 'ffill'
                ELSE 'interp' END AS kind
    FROM st
    """,
)
def ev_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-grid resampling with LINEAR interpolation per user
    (operators/rollup.resample_interpolate): gap buckets take the
    straight line between neighboring observations (exact integer bucket
    ratio, so both engines agree bit-for-bit); leading/trailing gaps
    back/forward fill."""
    from odbc2parquet_spark.operators.rollup import resample_interpolate

    ev = load_table(spark, sf_dir, "events")
    return resample_interpolate(ev)


@query(
    "ev_sliding_window",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def ev_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour sliding aggregate per user via a RANGE-frame window
    (the time-based frame ROWS frames can't express: the frame is
    [t - 1h, t] in event time, however many rows that is). Order key is
    exact integer microseconds so both engines bound the frame
    identically; equal-timestamp peers are all in-frame by RANGE
    semantics, making the result tie-proof. One hash exchange on
    user_id; per-key state is the frame, bounded by event rate x 1h."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("long").alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


@query(
    "ev_ewma_decay",
    oracle="""
    WITH lagged AS (
        SELECT user_id, event_id, value,
               LAG(value, 1) OVER w AS l1, LAG(value, 2) OVER w AS l2,
               LAG(value, 3) OVER w AS l3, LAG(value, 4) OVER w AS l4,
               LAG(value, 5) OVER w AS l5, LAG(value, 6) OVER w AS l6,
               LAG(value, 7) OVER w AS l7
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           (0.0 + COALESCE(value, 0.0) * 128.0 + COALESCE(l1, 0.0) * 64.0
                + COALESCE(l2, 0.0) * 32.0 + COALESCE(l3, 0.0) * 16.0
                + COALESCE(l4, 0.0) * 8.0 + COALESCE(l5, 0.0) * 4.0
                + COALESCE(l6, 0.0) * 2.0 + COALESCE(l7, 0.0) * 1.0)
           / (CASE WHEN value IS NULL THEN 0 ELSE 128 END
              + CASE WHEN l1 IS NULL THEN 0 ELSE 64 END
              + CASE WHEN l2 IS NULL THEN 0 ELSE 32 END
              + CASE WHEN l3 IS NULL THEN 0 ELSE 16 END
              + CASE WHEN l4 IS NULL THEN 0 ELSE 8 END
              + CASE WHEN l5 IS NULL THEN 0 ELSE 4 END
              + CASE WHEN l6 IS NULL THEN 0 ELSE 2 END
              + CASE WHEN l7 IS NULL THEN 0 ELSE 1 END) AS ewma
    FROM lagged WHERE event_id % 97 = 0
    """,
)
def ev_ewma_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-decayed per-user engagement (operators/rollup.
    ewma_last_n): EWMA with decay 1/2 over each user's last 8 events.
    Power-of-two weights make every product an exact double scaling and
    the fixed left-to-right expression tree evaluates bit-identically on
    any IEEE engine — the oracle hash-matches RAW doubles, no rounding
    fudge. One keyed window, 7 LAGs, no self-join; output thinned to
    event_id % 97 for a bounded certificate."""
    from odbc2parquet_spark.operators.rollup import ewma_last_n

    ev = load_table(spark, sf_dir, "events")
    return (
        ewma_last_n(ev)
        .filter(F.col("event_id") % 97 == 0)
        .select("user_id", "event_id", "ewma")
    )


def _hll_regs_cte(unit: str, bucket: str) -> str:
    """``h`` (each event's user hash, in ``unit`` number ``bucket``) and
    ``regs`` (the 256 HyperLogLog registers per ``unit``)."""
    return f"""
    h AS (
        SELECT {bucket} AS {unit},
               {md5_long_sql("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    regs AS (
        SELECT {unit}, h & 255 AS reg,
               MAX(CASE WHEN (h >> 8) = 0 THEN 53
                        ELSE 53 - length(bin(h >> 8)) END) AS mrho
        FROM h GROUP BY {unit}, h & 255
    )"""


def _hll_estimate_sql(unit: str, regs: str) -> str:
    """The HyperLogLog estimate per ``unit`` from the registers in ``regs``."""
    return f"""
    g AS (
        SELECT {unit}, COUNT(*) AS touched,
               SUM(CAST(CAST(1 AS BIGINT) << (61 - mrho) AS DECIMAL(38,0)))
                   AS z_touched
        FROM {regs} GROUP BY {unit}
    ),
    e AS (
        SELECT {unit}, 256 - touched AS v,
               1.0854228543761655e+23
               / CAST(z_touched + CAST(256 - touched AS DECIMAL(38,0))
                      * CAST(2305843009213693952 AS DECIMAL(38,0)) AS DOUBLE)
                   AS raw
        FROM g
    )
    SELECT {unit}, 256 AS m, CAST(v AS BIGINT) AS zero_regs,
           ROUND(CASE WHEN raw <= 640.0 AND v > 0
                      THEN 256.0 * ln(256.0 / v) ELSE raw END, 2) AS estimate
    FROM e
    """



@query(
    "ev_hll_daily_users",
    oracle="WITH " + _hll_regs_cte("day", _DAY) + "," + _hll_estimate_sql("day", "regs"),
)
def ev_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via per-group HyperLogLog registers
    (operators/sketches.hll_distinct_per_group, p=8) — the fixed-size
    mergeable register-array sibling of ev_kmv_daily_users: per-group
    state is 256 max-rho registers regardless of row count, and the
    ESTIMATE itself (not just the registers) hash-matches DuckDB because
    rho is integer-exact (LENGTH(BIN(...))) and the harmonic sum is an
    exact DECIMAL numerator with one final IEEE division."""
    from odbc2parquet_spark.operators.sketches import hll_distinct_per_group

    ev = load_table(spark, sf_dir, "events")
    day = _epoch_day()
    return hll_distinct_per_group(ev.select(day.alias("day"), "user_id"))


@query(
    "ev_purged_split",
    oracle="""
    WITH t AS (SELECT epoch_us(ts) AS us FROM events),
    b AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM t),
    lab AS (
        SELECT us,
               CASE WHEN us <= mn + ((mx - mn) * 8) // 10
                    THEN 'train'
                    WHEN us > mn + ((mx - mn) * 8) // 10
                              + 86400000000
                    THEN 'test'
                    ELSE 'purged' END AS split
        FROM t CROSS JOIN b
    )
    SELECT split, COUNT(*) AS n_rows,
           MIN(us) AS min_us, MAX(us) AS max_us
    FROM lab GROUP BY split
    """,
)
def ev_purged_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split with a 1-day embargo gap (operators/
    sampling.purged_time_split, Lopez de Prado's purged split): test
    rows start one embargo past the 80% time cutoff, so trailing-window
    features on test data can never see train-period events. The cutoff
    derives from a 1-row (min, max) broadcast in exact microsecond
    arithmetic; output is the bounded per-split certificate."""
    from odbc2parquet_spark.operators.sampling import purged_time_split

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return purged_time_split(ev.select(us.alias("us")))


@query(
    "ev_hll_weekly_users",
    oracle="WITH "
    + _hll_regs_cte("week", "CAST(FLOOR(FLOOR(epoch(ts) / 86400) / 7) AS BIGINT)")
    + ","
    + _hll_estimate_sql("week", "regs"),
)
def ev_hll_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users by MERGING the daily HLL register rows
    (operators/sketches.hll_registers + hll_estimate_from_registers):
    the Spark side builds (week, day, reg, mrho) registers, re-aggregates
    them to weeks by MAX — never rescanning the events — and estimates;
    the oracle computes the weekly sketch directly from raw data. The
    hash match IS the mergeability proof (MAX associativity): rollup
    hierarchies re-aggregate <= 2^p register rows per group instead of
    data, the property that makes sketch cubes cheap at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    day = _epoch_day()
    week = F.floor(day / F.lit(7)).cast("long")
    daily = hll_registers(
        ev.select(week.alias("week"), day.alias("day"), "user_id"), ["week", "day"]
    )
    weekly = daily.groupBy("week", "reg").agg(F.max("mrho").alias("mrho"))
    return hll_estimate_from_registers(weekly, ["week"])


@query(
    "ev_hll_cumulative",
    oracle="WITH "
    + _hll_regs_cte("day", _DAY)
    + """,
    grid AS (
        SELECT d.day, r.range AS reg
        FROM (SELECT DISTINCT day FROM regs) d CROSS JOIN range(256) r
    ),
    run0 AS (
        SELECT grid.day, grid.reg,
               MAX(regs.mrho) OVER (PARTITION BY grid.reg ORDER BY grid.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mrho
        FROM grid LEFT JOIN regs
          ON regs.day = grid.day AND regs.reg = grid.reg
    ),
    run AS (SELECT day, reg, mrho FROM run0 WHERE mrho IS NOT NULL),"""
    + _hll_estimate_sql("day", "run"),
)
def ev_hll_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users TO DATE per day — the running-COUNT(DISTINCT) that
    is ordinarily painful at scale — as a cumulative register window:
    per-(day, reg) HLL registers, then MAX over each register's day
    history (a window over <= 2^p tiny partitions), then the standard
    estimator per day. Register accumulation replaces re-sketching every
    prefix of the stream; the same register MAX-merge the weekly rollup
    proves (ev_hll_weekly_users), applied cumulatively."""
    ev = load_table(spark, sf_dir, "events")
    day = _epoch_day()
    regs = hll_registers(ev.select(day.alias("day"), "user_id"), ["day"])
    # DENSIFY first: a register touched on day d but not day d+1 has no
    # (d+1, reg) row, and a row-less register cannot be carried forward
    # by any window — the calendar x 2^p grid (days * 256 rows, bounded
    # at any scale) gives every register a row per day to accumulate into
    days = regs.select("day").distinct()
    all_regs = spark.range(256).select(F.col("id").cast("long").alias("reg"))
    grid = days.crossJoin(F.broadcast(all_regs))
    w = Window.partitionBy("reg").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = (
        grid.join(regs, ["day", "reg"], "left")
        .select("day", "reg", F.max("mrho").over(w).alias("mrho"))
        .filter(F.col("mrho").isNotNull())
    )
    return hll_estimate_from_registers(run, ["day"])


@query(
    "ev_new_vs_returning",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, MIN({_DAY}) AS first_day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT DISTINCT {_DAY} AS day, user_id
        FROM events
    )
    SELECT day,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returning
    FROM daily JOIN firsts USING (user_id)
    GROUP BY day
    """,
)
def ev_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact new-vs-returning users per day (growth-accounting's first
    split): per-user first-seen day from one map-side-combined MIN agg,
    joined back onto the distinct (day, user) activity — both shuffles
    keyed on user_id, so they share one exchange under AQE; no window
    over the event log."""
    ev = load_table(spark, sf_dir, "events")
    day = _epoch_day()
    daily = ev.select(day.alias("day"), "user_id").distinct()
    firsts = daily.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        daily.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.sum((F.col("day") == F.col("first_day")).cast("long")).alias("n_new"),
            F.sum((F.col("day") > F.col("first_day")).cast("long")).alias("n_returning"),
        )
    )


# shared oracle CTEs: each event type's daily mean value, numbered by day
_DAILY_SERIES_CTE = f"""
    ev AS (
        SELECT event_type, {_DAY} AS day,
               CAST(value AS DECIMAL(18,6)) AS vd
        FROM events
    ),
    daily AS (
        SELECT event_type, day,
               ROUND(CAST(SUM(vd) AS DOUBLE) / COUNT(*), 6) AS x
        FROM ev GROUP BY 1, 2
    ),
    seqd AS (
        SELECT event_type, day, x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        FROM daily
    )"""



def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(key, day, x): each event type's decimal-exact daily mean value —
    the Spark side of ``_DAILY_SERIES_CTE``."""
    ev = load_table(spark, sf_dir, "events")
    day = _epoch_day()
    dec = F.col("value").cast("decimal(18,6)")
    return (
        ev.select(F.col("event_type").alias("key"), day.alias("day"), dec.alias("vd"))
        .groupBy("key", "day")
        .agg(F.round(F.sum("vd").cast("double") / F.count("*"), 6).alias("x"))
    )


@query(
    "ev_holt_forecast",
    oracle="WITH RECURSIVE "
    + _DAILY_SERIES_CTE
    + """,
    rec(event_type, i, l, b) AS (
        SELECT event_type, i, CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)
        FROM seqd WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.i,
               (s.x + (r.l + r.b)) / 2.0,
               (((s.x + (r.l + r.b)) / 2.0 - r.l) + r.b) / 2.0
        FROM rec r JOIN seqd s ON s.event_type = r.event_type AND s.i = r.i + 1
    ),
    fin AS (SELECT event_type, MAX(i) AS n FROM rec GROUP BY 1)
    SELECT r.event_type, CAST(fin.n AS BIGINT) AS n_days,
           ROUND(r.l, 6) AS level, ROUND(r.b, 6) AS trend,
           ROUND(r.l + 1.0 * r.b, 6) AS f1,
           ROUND(r.l + 7.0 * r.b, 6) AS f7
    FROM rec r JOIN fin ON fin.event_type = r.event_type AND r.i = fin.n
    """,
)
def ev_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast per event type (operators/rollup.
    holt_forecast, alpha = beta = 1/2): daily decimal-exact means feed a
    two-state smoothing recursion whose dyadic coefficients make every
    halving IEEE-exact — Spark folds each type's calendar-sized series
    in ONE Catalyst aggregate expression while the oracle replays the
    identical add/halve sequence in a recursive CTE, and the engines
    hash-match level, trend and the 1/7-day forecasts. Completes the
    classical forecasting trio with ev_stl_decompose and ev_mase_eval."""
    from odbc2parquet_spark.operators.rollup import holt_forecast

    out = holt_forecast(_daily_series(spark, sf_dir))
    return out.select(F.col("key").alias("event_type"), "n_days", "level", "trend", "f1", "f7")


@query(
    "ev_decay_topk",
    oracle=f"""
    WITH d AS (
        SELECT event_type, user_id,
               {_DAY} AS day
        FROM events
    ),
    anchor AS (SELECT MAX(day) AS a FROM d),
    w AS (
        SELECT event_type, user_id,
               CAST(1 AS BIGINT) << CAST(40 - ((SELECT a FROM anchor) - day)
                                         AS INTEGER) AS wm
        FROM d
        WHERE (SELECT a FROM anchor) - day <= 40
    ),
    agg AS (
        SELECT event_type, user_id, CAST(SUM(wm) AS BIGINT) AS decayed_micro
        FROM w GROUP BY event_type, user_id
    ),
    rnk AS (
        SELECT event_type, user_id, decayed_micro,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY decayed_micro DESC, user_id) AS rank
        FROM agg
    )
    SELECT event_type, user_id, CAST(rank AS INTEGER) AS rank, decayed_micro,
           CAST(decayed_micro AS DOUBLE) / 1099511627776.0 AS decayed
    FROM rnk WHERE rank <= 3
    """,
)
def ev_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed heavy hitters: top-3 users per event type under an
    exponential half-life of one day — the freshness-weighted popularity
    signal (trending detection, decayed engagement leaderboards) where a
    plain COUNT would let stale history dominate. EXACT arithmetic: the
    decay 2^-age_days is carried as the int64 micro-weight 2^(40-age)
    (ages beyond 40 days contribute 0 — documented cutoff, far past
    ~12 half-lives), so the per-user sum is an exact integer on any
    engine and the final /2^40 is one exact dyadic division. Day index
    from epoch seconds div 86400 — no timezone or calendar functions. Scale shape: map-side partial SUM into a
    (type, user)-keyed agg, then a per-type top-k window over the
    aggregated (not raw) rows; the anchor is a broadcast scalar."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        "user_id",
        F.expr(
            "unix_seconds(cast(ts as timestamp)) div 86400"
        ).alias("day"),
    )
    anchor = d.agg(F.max("day").alias("a"))
    w = (
        d.crossJoin(F.broadcast(anchor))
        .filter(F.col("a") - F.col("day") <= 40)
        .select(
            "event_type",
            "user_id",
            F.expr("shiftleft(cast(1 as bigint), cast(40 - (a - day) as int))").alias("wm"),
        )
    )
    agg = w.groupBy("event_type", "user_id").agg(
        F.sum("wm").alias("decayed_micro")
    )
    rnk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc("decayed_micro"), F.asc("user_id")
        )
    )
    return (
        agg.withColumn("rank", rnk)
        .filter(F.col("rank") <= 3)
        .select(
            "event_type",
            "user_id",
            "rank",
            "decayed_micro",
            (F.col("decayed_micro").cast("double") / F.lit(float(1 << 40))).alias(
                "decayed"
            ),
        )
    )


@query(
    "ev_kmv_quantile",
    oracle=f"""
    WITH h AS (
        SELECT event_type, event_id, value,
               {md5_long_sql("CAST(event_id AS VARCHAR)")} AS hk
        FROM events
    ),
    samp AS (
        SELECT event_type, value, hk FROM (
            SELECT event_type, value, hk,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY hk) AS rn
            FROM h
        ) WHERE rn <= 63
    ),
    est2 AS (
        SELECT s.event_type, s.value AS est_median, s.m AS n_sample
        FROM (SELECT event_type, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY value, hk) AS vr,
                     COUNT(*) OVER (PARTITION BY event_type) AS m
              FROM samp) s
        WHERE s.vr = (s.m + 1) // 2
    ),
    ex AS (
        SELECT e.event_type, e.value AS exact_median, e.n
        FROM (SELECT event_type, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY value, event_id) AS vr,
                     COUNT(*) OVER (PARTITION BY event_type) AS n
              FROM events) e
        WHERE e.vr = (e.n + 1) // 2
    )
    SELECT ex.event_type, CAST(ex.n AS BIGINT) AS n,
           CAST(est2.n_sample AS BIGINT) AS n_sample,
           est2.est_median, ex.exact_median,
           ROUND(ABS(est2.est_median - ex.exact_median), 6) AS abs_err
    FROM ex
    JOIN est2 ON est2.event_type = ex.event_type
    """,
)
def ev_kmv_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sample median per event type, WITH its own error certificate:
    the 63 rows with the smallest md5(event_id) hashes are a uniform
    without-replacement sample (the KMV/bottom-k sketch — mergeable,
    bounded state), and the lower median of the sample is the
    streaming-feasible quantile estimate; the exact lower median is
    computed alongside so every row carries its measured |error|.
    Deterministic: hash selection is a pure row function, both medians
    are ELEMENT picks under total orders (value, tiebreak) — no
    averaging, no float accumulation. Scale shape: the sample is a
    per-key bottom-63 (TakeOrdered-sized); the exact median's full sort
    is the verification tier — at 100 TB production keeps the sketch
    and drops the exact pass (q_exact_median documents the histogram
    cutover)."""
    ev = load_table(spark, sf_dir, "events")

    h = ev.select(
        "event_type", "event_id", "value", md5_long(F.col("event_id").cast("string")).alias("hk")
    )
    samp = (
        h.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("hk")
            ),
        )
        .filter(F.col("rn") <= 63)
        .select("event_type", "value", "hk")
    )
    sw = Window.partitionBy("event_type")
    est = (
        samp.withColumn(
            "vr",
            F.row_number().over(sw.orderBy("value", "hk")),
        )
        .withColumn("m", F.count("*").over(sw))
        .filter(F.col("vr") == F.expr("(m + 1) div 2"))
        .select(
            "event_type",
            F.col("value").alias("est_median"),
            F.col("m").alias("n_sample"),
        )
    )
    ex = (
        ev.withColumn(
            "vr",
            F.row_number().over(sw.orderBy("value", "event_id")),
        )
        .withColumn("n", F.count("*").over(sw))
        .filter(F.col("vr") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("exact_median"), "n")
    )
    return (
        ex.join(est, "event_type")
        .select(
            "event_type",
            "n",
            "n_sample",
            "est_median",
            "exact_median",
            F.round(F.abs(F.col("est_median") - F.col("exact_median")), 6).alias(
                "abs_err"
            ),
        )
    )


@query(
    "ev_stickiness",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT user_id,
               {_DAY} AS day
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM d),
    win AS (
        SELECT dy.day AS end_day, d.user_id
        FROM days dy
        JOIN d ON d.day BETWEEN dy.day - 27 AND dy.day
    ),
    mau AS (
        SELECT end_day, COUNT(DISTINCT user_id) AS mau FROM win
        GROUP BY end_day
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM d GROUP BY day)
    SELECT dau.day, dau.dau, mau.mau,
           ROUND(dau.dau * 1.0 / mau.mau, 6) AS stickiness
    FROM dau JOIN mau ON mau.end_day = dau.day
    """,
)
def ev_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the canonical engagement ratio, with
    the trailing-28-day distinct computed EXACTLY: each (user, day)
    activity row EXPLODES to the <= 28 window-end days it falls in
    (``sequence(day, day+27)`` — a map-side fan-out, no range join),
    an equi-semi-join against the observed day grid drops window ends
    with no anchor day, then one COUNT DISTINCT per end day. All
    integers + one division. Scale shape: the fan-out is 28x the
    DISTINCT (user, day) activity table (already collapsed from raw
    events map-side), grouped by day — every join is equi, nothing
    quadratic. At 100 TB the HLL-register variant (ev_hll_cumulative's
    shape) replaces the exact distinct, a documented sketch swap with
    the same window algebra."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.expr("unix_seconds(cast(ts as timestamp)) div 86400").alias("day"),
    ).distinct()
    days = d.select("day").distinct()
    win = d.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(27))
        ).alias("end_day"),
    ).join(days.withColumnRenamed("day", "end_day"), "end_day", "left_semi")
    mau = win.groupBy("end_day").agg(
        F.countDistinct("user_id").alias("mau")
    )
    dau = d.groupBy("day").agg(F.count("*").alias("dau"))
    return dau.join(mau, dau.day == mau.end_day).select(
        "day",
        "dau",
        "mau",
        F.round(F.col("dau") * 1.0 / F.col("mau"), 6).alias("stickiness"),
    )


@query(
    "ev_km_survival",
    oracle="WITH "
    + _SURVIVAL_CTE
    + """,
    lt AS (
        SELECT t, n_total - n_prior AS n_risk, n_events
        FROM cum WHERE n_events > 0
    ),
    arr AS (
        SELECT list(struct_pack(t := t, n_risk := n_risk,
                                n_events := n_events) ORDER BY t) AS a
        FROM lt
    ),
    idx AS (SELECT unnest(generate_series(1, len(a))) AS i, a FROM arr)
    SELECT CAST(a[i].t AS BIGINT) AS t_days,
           CAST(a[i].n_risk AS BIGINT) AS n_risk,
           CAST(a[i].n_events AS BIGINT) AS n_events,
           ROUND(list_reduce(
               list_transform(a[1:i], s ->
                   (s.n_risk - s.n_events) / CAST(s.n_risk AS DOUBLE)),
               (p, q) -> p * q), 6) AS survival
    FROM idx
    """,
)
def ev_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Kaplan-Meier survival curve for signup-to-first-purchase
    (operators/survival.km_survival_curve over the ev_time_to_convert
    life table): S(t) = prod_{t_i <= t} (n_i - d_i) / n_i with
    right-censoring at the dataset horizon. The cumulative product is a
    LEFT fold of IEEE double multiplications over exact int/int factors
    in ascending-t order — no exp/log — so the DuckDB oracle's
    list_reduce over the same sorted factor list is bit-identical (the
    ROUND(6) is presentation, not a tolerance). Scale shape: subjects
    collapse map-side to a calendar-sized life table; the O(T^2) prefix
    unroll runs on that tiny table only."""
    from odbc2parquet_spark.operators.survival import km_survival_curve

    lt = _signup_life_table(spark, sf_dir).select("t", "n_risk", "n_events")
    return km_survival_curve(lt).select(
        F.col("t").cast("long").alias("t_days"),
        F.col("n_risk").cast("long"),
        F.col("n_events").cast("long"),
        F.round("survival", 6).alias("survival"),
    )


@query(
    "ev_rfm_segments",
    oracle="""
    WITH mx AS (SELECT CAST(MAX(ts) AS DATE) AS max_d FROM events),
    per_user AS (
        SELECT user_id,
               date_diff('day', CAST(MAX(ts) AS DATE),
                         (SELECT max_d FROM mx)) AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(value AS DECIMAL(18,2))) AS monetary
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, monetary,
               NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
               NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
               NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
        FROM per_user
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           COUNT(*) AS n_users,
           CAST(SUM(monetary) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic CRM cell grid. Purchases roll up per user map-side (decimal-
    exact monetary), each axis gets NTILE(5) with a full deterministic
    order (metric, then user_id — no rank ties, so both engines place
    every user in the same cell), then users collapse to the <=125
    (r,f,m) cells. Scale shape: the three windows run over the PER-USER
    rollup, not events; at 100 TB the exact NTILE swaps for broadcast
    percentile cutpoints (operators/bucketing's range strategy) — the
    documented rank->cutpoint substitution, same cells up to boundary
    ties."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    mx = ev.agg(F.to_date(F.max("ts")).alias("max_d"))
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.to_date(F.max("ts")).alias("last_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("max_d", "last_d").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    scored = per_user.select(
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_days").desc(), "user_id"))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "user_id"))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary", "user_id"))
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("monetary").cast("double").alias("total_monetary"),
    )


@query(
    "ev_shapley_attribution",
    oracle="""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
        SELECT user_id, ts,
               CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
                    WHEN 'signup' THEN 2 ELSE 3 END AS idx
        FROM events
        WHERE event_type IN ('click', 'error', 'signup', 'view')
    ),
    cmask AS (
        SELECT c.conv_id, COALESCE(BIT_OR(1 << t.idx), 0) AS mask
        FROM conv c LEFT JOIN tch t
          ON t.user_id = c.user_id
         AND t.ts <= c.ts AND t.ts >= c.ts - INTERVAL 7 DAY
        GROUP BY 1
    ),
    cnt AS (SELECT mask, COUNT(*) AS n FROM cmask GROUP BY 1),
    zeta AS (
        SELECT cnt.mask | x.range AS t_mask, SUM(n) AS v
        FROM cnt, range(16) x
        WHERE (x.range & cnt.mask) = 0
        GROUP BY 1
    ),
    vt AS (
        SELECT g.range AS t_mask, COALESCE(v, 0) AS v
        FROM range(16) g LEFT JOIN zeta ON zeta.t_mask = g.range
    ),
    ch(channel, idx) AS (
        VALUES ('click', 0), ('error', 1), ('signup', 2), ('view', 3)
    ),
    marg AS (
        SELECT ch.channel,
               (CASE bit_count(a.t_mask) WHEN 0 THEN 6 WHEN 1 THEN 2
                     WHEN 2 THEN 2 ELSE 6 END) * (b.v - a.v) AS num
        FROM ch
        JOIN vt a ON (a.t_mask & (1 << ch.idx)) = 0
        JOIN vt b ON b.t_mask = (a.t_mask | (1 << ch.idx))
    )
    SELECT channel, CAST(SUM(num) AS BIGINT) AS shapley_num,
           ROUND(SUM(num) / 24.0, 6) AS shapley_conversions
    FROM marg GROUP BY 1
    """,
)
def ev_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution (operators/attribution.
    shapley_attribution) over the 4-channel coalition lattice: v(T) =
    conversions whose 7-day touched-channel set fits inside T, Shapley_i
    = weighted marginal reachability gains — the credit split linear
    attribution (ev_attribution) cannot express (a channel that only
    co-occurs with a stronger one earns only its true marginal). All
    integer: bitmask sets, zeta-transform subset sums, factorial weights
    scaled by 4! = 24; the only division is the final display divide.
    Scale shape: the pair join is the bounded equi+range join shared
    with ev_attribution, collapsing map-side to <= 16 mask counts; the
    lattice algebra runs on 16-row frames via literal-range explodes —
    never a theta join."""
    from odbc2parquet_spark.operators.attribution import shapley_attribution

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("conv_id"), "ts"
    )
    tch = ev.filter(
        F.col("event_type").isin("click", "error", "signup", "view")
    ).select("user_id", "ts", F.col("event_type").alias("channel"))
    return shapley_attribution(conv, tch)


# shared oracle CTEs: conversion journeys (each purchase closes one) and
# the first-order transition counts between their states
_JOURNEY_TRANS_CTE = """
    ev AS (
        SELECT user_id AS u, ts, event_id AS eid, event_type AS et
        FROM events
        WHERE event_type IN ('click', 'view', 'signup', 'purchase')
    ),
    j AS (
        SELECT u, ts, eid, et,
               COALESCE(SUM(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END)
                        OVER (PARTITION BY u ORDER BY ts, eid
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS jid
        FROM ev
    ),
    jp AS (
        SELECT u, jid,
               MAX(CASE WHEN et = 'purchase' THEN 1 ELSE 0 END) AS has_conv
        FROM j GROUP BY 1, 2
    ),
    seq AS (
        SELECT u, jid, et,
               ROW_NUMBER() OVER (PARTITION BY u, jid ORDER BY ts, eid) AS rn,
               LEAD(et, 1) OVER (PARTITION BY u, jid ORDER BY ts, eid) AS nxt
        FROM j WHERE et != 'purchase'
    ),
    alltr AS (
        SELECT et AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
        UNION ALL
        SELECT 'start', et FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.et, CASE WHEN jp.has_conv = 1 THEN 'conv' ELSE 'null' END
        FROM seq s JOIN jp ON jp.u = s.u AND jp.jid = s.jid
        WHERE s.nxt IS NULL
        UNION ALL
        SELECT 'start', 'conv' FROM jp
        WHERE has_conv = 1 AND NOT EXISTS (
            SELECT 1 FROM seq WHERE seq.u = jp.u AND seq.jid = jp.jid
        )
    ),
    trans AS (SELECT src, dst, COUNT(*) AS cnt FROM alltr GROUP BY 1, 2),
    o AS (SELECT src, SUM(cnt) AS out_n FROM trans GROUP BY 1)"""


def _markov_iter_sql(i: int) -> str:
    prev = f"p{i - 1}"
    return f"""
    p{i} AS (
        SELECT sw.removed, sw.src AS state,
               CAST(SUM(sw.w * (CASE WHEN sw.dst = 'conv' THEN 1000000000000
                                     WHEN sw.dst = 'null' THEN 0
                                     ELSE COALESCE(q.p, 0) END)
                        // 1000000) AS BIGINT) AS p
        FROM sw LEFT JOIN {prev} q
            ON q.removed = sw.removed AND q.state = sw.dst
        GROUP BY 1, 2
    )"""


@query(
    "ev_removal_effect",
    oracle="WITH "
    + _JOURNEY_TRANS_CTE
    + f""",
    w AS (
        SELECT t.src, t.dst, t.cnt * 1000000 // o.out_n AS w
        FROM trans t JOIN o ON o.src = t.src
    ),
    scen(removed) AS (VALUES ('none'), ('click'), ('view'), ('signup')),
    sw AS (
        SELECT s.removed, w.src,
               CASE WHEN w.dst = s.removed THEN 'null' ELSE w.dst END AS dst,
               w.w
        FROM w CROSS JOIN scen s WHERE w.src != s.removed
    ),
    p0 AS (
        SELECT DISTINCT removed, src AS state, CAST(0 AS BIGINT) AS p FROM sw
    ),
    {",".join(_markov_iter_sql(i) for i in range(1, 9)).lstrip(",")},
    st AS (
        SELECT removed, p AS p_start_micro FROM p8 WHERE state = 'start'
    ),
    fp AS (SELECT p_start_micro AS p_full FROM st WHERE removed = 'none')
    SELECT s.removed, s.p_start_micro,
           CASE WHEN f.p_full = 0 THEN NULL
                ELSE ROUND(CAST(f.p_full - s.p_start_micro AS DOUBLE)
                           / CAST(f.p_full AS DOUBLE), 6)
           END AS removal_effect6
    FROM st s CROSS JOIN fp f
    """,
)
def ev_removal_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (operators/attribution.
    markov_removal_effect) — the counterfactual model beside linear
    (ev_attribution) and Shapley (ev_shapley_attribution): journeys form
    an absorbing chain, and a channel's worth is how far the start->conv
    probability FALLS when its inbound edges are re-routed to the null
    absorber. All chain arithmetic is integer micro-units (edge weights
    cnt*1e6 div out-degree, absorption in 1e12 units, an 8-step exact
    truncation), so Spark's fixed-round loop and the oracle's unrolled
    rounds agree bit-for-bit. The event stream collapses to a <=25-row
    transition table before any chain algebra; scenarios and rounds run
    on scenario x state frames."""
    from odbc2parquet_spark.operators.attribution import markov_removal_effect

    ev = load_table(spark, sf_dir, "events")
    return markov_removal_effect(ev)


@query(
    "ev_cohort_ltv",
    oracle="""
    WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ),
    c AS (
        SELECT user_id, CAST(DATE_TRUNC('week', d0) AS DATE) AS cw FROM f
    ),
    r AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                    * 1000000 AS BIGINT) AS x6
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    a AS (
        SELECT c.cw, CAST(DATEDIFF('day', c.cw, r.d) // 7 AS BIGINT) AS age,
               CAST(SUM(r.x6) AS BIGINT) AS rev6
        FROM r JOIN c USING (user_id) GROUP BY 1, 2
    ),
    n AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_users FROM c GROUP BY 1),
    cum AS (
        SELECT a.cw, a.age, n.n_users,
               CAST(SUM(a.rev6) OVER (PARTITION BY a.cw ORDER BY a.age)
                    AS BIGINT) AS cum_rev6
        FROM a JOIN n ON n.cw = a.cw
    )
    SELECT cw AS cohort_week, age AS age_week, n_users, cum_rev6,
           ROUND(CAST(cum_rev6 AS DOUBLE) / 1000000.0 / n_users, 6) AS ltv6
    FROM cum
    """,
)
def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle — the growth-analytics staple: users cohorted
    by the week of their FIRST event, purchase revenue accumulated per
    cohort x age-week, reported as cumulative lifetime value per user.
    Revenue totals are 6-decimal DECIMAL sums scaled to x10^6 int64 (the
    ev_cusum convention) so the cumulative window and the per-user
    division stay order-independent; the corpus collapses to (cohort,
    age) rows map-side — the triangle is calendar^2-bounded regardless
    of event volume. Two user-keyed aggregations (first-event, daily
    revenue) + one calendar-sized window."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    cohort = first.select(
        "user_id", F.date_trunc("week", F.col("d0")).cast("date").alias("cw")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
                * 1000000
            )
            .cast("long")
            .alias("x6")
        )
    )
    aged = (
        rev.join(cohort, "user_id")
        .groupBy(
            "cw",
            F.expr("datediff(d, cw) div 7").cast("long").alias("age"),
        )
        .agg(F.sum("x6").cast("long").alias("rev6"))
    )
    n = cohort.groupBy("cw").agg(F.count(F.lit(1)).alias("n_users"))
    w = Window.partitionBy("cw").orderBy("age")
    return (
        aged.join(n, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("age").alias("age_week"),
            "n_users",
            F.sum("rev6").over(w).cast("long").alias("cum_rev6"),
        )
        .withColumn(
            "ltv6",
            F.round(
                F.col("cum_rev6") / F.lit(1000000.0) / F.col("n_users"), 6
            ),
        )
    )


@query(
    "ev_bot_regularity",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(epoch_us(ts) // 1000000 AS BIGINT) AS t,
               event_id
        FROM events
    ),
    gaps AS (
        SELECT user_id,
               t - LAG(t) OVER (PARTITION BY user_id
                                ORDER BY t, event_id) AS g
        FROM e
    ),
    s AS (
        SELECT user_id,
               CAST(COUNT(g) AS BIGINT) AS n_gaps,
               CAST(SUM(g) AS BIGINT) AS sg,
               CAST(SUM(g * g) AS BIGINT) AS sg2
        FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           n_gaps * sg2 - sg * sg AS var_num,
           ROUND(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap6,
           CAST(CASE WHEN n_gaps >= 5
                     AND n_gaps * sg2 - sg * sg
                         < n_gaps * n_gaps * 3600
                     THEN 1 ELSE 0 END AS INTEGER) AS is_regular
    FROM s WHERE n_gaps >= 1
    """,
)
def ev_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/scraper detection by inter-event TIMING regularity — the
    traffic-quality gate a training pipeline runs before user events
    feed anything downstream: organic humans have bursty inter-arrival
    gaps, schedulers and scrapers tick. Per user, the gap variance is
    computed EXACTLY as the integer n*sum(g^2) - (sum g)^2 (epoch-second
    gaps; no float accumulation anywhere — the variance ships as the
    exact integer numerator, never a rounded wide double), and a user with >= 5 gaps
    whose variance falls below (60s)^2 is flagged regular — both the
    statistic and the verdict are pure int64 comparisons, so the flag
    itself is engine-exact, not a rounded score. One user-keyed window
    (the sessionize shape) + one aggregation; output is user-sized with
    map-side partials."""
    ev = load_table(spark, sf_dir, "events")
    uw = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        "event_id",
    ).select(
        "user_id", (F.col("t") - F.lag("t").over(uw)).alias("g")
    )
    s = (
        gaps.filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").alias("n_gaps"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sg2"),
        )
    )
    var_num = F.col("n_gaps") * F.col("sg2") - F.col("sg") * F.col("sg")
    return s.select(
        "user_id",
        "n_gaps",
        var_num.alias("var_num"),
        F.round(F.col("sg").cast("double") / F.col("n_gaps"), 6).alias(
            "mean_gap6"
        ),
        F.when(
            (F.col("n_gaps") >= 5)
            & (var_num < F.col("n_gaps") * F.col("n_gaps") * 3600),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_regular"),
    )


_HW_SEASON = " ".join(f"WHEN {j} THEN r.s{j}" for j in range(7))
_HW_S_BASE = ", ".join(f"CAST(0.0 AS DOUBLE)" for _ in range(7))
_HW_S_STEP = ",\n               ".join(
    f"CASE WHEN (s.i - 1) % 7 = {k} THEN ((s.x - "
    "((s.x - (CASE (s.i - 1) % 7 "
    + _HW_SEASON
    + " END) + (r.l + r.b)) / 2.0)"
    f") + r.s{k}) / 2.0 ELSE r.s{k} END AS s{k}"
    for k in range(7)
)

# shared oracle CTE: the additive Holt-Winters recursion over ``seqd``
_HW_REC_CTE = f"""
    rec(event_type, i, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
        SELECT event_type, i, CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE),
               {_HW_S_BASE}
        FROM seqd WHERE i = 1
        UNION ALL
        SELECT s.event_type, s.i,
               ((s.x - (CASE (s.i - 1) % 7
                        {_HW_SEASON}
                        END)) + (r.l + r.b)) / 2.0,
               ((((s.x - (CASE (s.i - 1) % 7
                          {_HW_SEASON}
                          END)) + (r.l + r.b)) / 2.0 - r.l) + r.b) / 2.0,
               {_HW_S_STEP}
        FROM rec r
        JOIN seqd s ON s.event_type = r.event_type AND s.i = r.i + 1
    )"""


@query(
    "ev_holt_winters",
    oracle="WITH RECURSIVE "
    + _DAILY_SERIES_CTE
    + ","
    + _HW_REC_CTE
    + f""",
    fin AS (SELECT event_type, MAX(i) AS n FROM rec GROUP BY 1)
    SELECT r.event_type, CAST(fin.n AS BIGINT) AS n_days,
           ROUND(r.l, 6) AS level, ROUND(r.b, 6) AS trend,
           ROUND(r.l + 1.0 * r.b
                 + (CASE fin.n % 7
                    {_HW_SEASON}
                    END), 6) AS f1,
           ROUND(r.l + 7.0 * r.b
                 + (CASE (fin.n + 6) % 7
                    {_HW_SEASON}
                    END), 6) AS f7
    FROM rec r JOIN fin ON fin.event_type = r.event_type AND r.i = fin.n
    """,
)
def ev_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive SEASONAL forecast per event type (operators/
    rollup.holt_winters_forecast, alpha = beta = gamma = 1/2, period 7)
    — the top of the classical smoothing ladder over ev_ewma_decay and
    ev_holt_forecast: weekday rhythm (which ev_acf detects and
    ev_stl_decompose describes) now lives INSIDE the forecaster's state,
    so f1/f7 carry the right day-of-week correction instead of smearing
    it into the trend. Every update is adds and exact IEEE halvings in a
    pinned order — the whole 3-state-plus-7-slot recursion folds in ONE
    Catalyst aggregate per type, and the oracle replays it in a
    recursive CTE carrying the seven seasonal columns; hash equality
    certifies the entire fold."""
    from odbc2parquet_spark.operators.rollup import holt_winters_forecast

    daily = _daily_series(spark, sf_dir)
    out = holt_winters_forecast(daily)
    return out.select(
        F.col("key").alias("event_type"), "n_days", "level", "trend", "f1", "f7"
    )


def _occ_iter_sql(k: int) -> str:
    prev = f"st{k - 1}"
    return f"""
    st{k} AS MATERIALIZED (
        SELECT p.state,
               CAST(COALESCE(s.nv, 0) AS BIGINT) AS v,
               CAST(p.o + COALESCE(s.nv, 0) AS BIGINT) AS o
        FROM {prev} p LEFT JOIN (
            SELECT w2.dst AS state, SUM(q.v * w2.w // 1000000) AS nv
            FROM w2 JOIN {prev} q ON q.state = w2.src GROUP BY w2.dst
        ) s ON s.state = p.state
    )"""


@query(
    "ev_occupancy",
    oracle="WITH "
    + _JOURNEY_TRANS_CTE
    + f""",
    w2 AS MATERIALIZED (
        SELECT t.src, t.dst, t.cnt * 1000000 // o.out_n AS w
        FROM trans t JOIN o ON o.src = t.src
        WHERE t.dst NOT IN ('conv', 'null')
    ),
    st0 AS MATERIALIZED (
        SELECT state,
               CAST(CASE WHEN state = 'start' THEN 1000000000000
                         ELSE 0 END AS BIGINT) AS v,
               CAST(CASE WHEN state = 'start' THEN 1000000000000
                         ELSE 0 END AS BIGINT) AS o
        FROM (SELECT src AS state FROM w2 UNION SELECT dst FROM w2)
    ),
    {",".join(_occ_iter_sql(k) for k in range(1, 9)).lstrip(",")}
    SELECT state, o AS visits_micro FROM st8
    """,
)
def ev_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected journey VISITS per state (operators/attribution.
    journey_occupancy) — the fundamental-matrix row that completes the
    Markov attribution pair: ev_removal_effect prices what is LOST
    without a channel, occupancy says how much of a journey flows
    THROUGH it (the pair media planning reads together: a high-traffic
    channel with near-zero removal effect is a pass-through, a
    low-traffic one with high removal effect is a bottleneck). Same
    exact integer micro-unit chain (weights cnt*10^6 div out, state in
    10^12 units, 8-step truncation); the occupancy accumulator rides in
    the iterated frame so the unrolled oracle stays a linear CTE chain.
    The corpus collapses to the <=25-row transition table before any
    algebra."""
    from odbc2parquet_spark.operators.attribution import journey_occupancy

    ev = load_table(spark, sf_dir, "events")
    return journey_occupancy(ev)


@query(
    "ev_hw_backtest",
    oracle="WITH RECURSIVE "
    + _DAILY_SERIES_CTE
    + ","
    + _HW_REC_CTE
    + f""",
    fin AS (SELECT event_type, MAX(i) AS n FROM rec GROUP BY 1),
    picks AS (
        SELECT r.event_type, r.i, r.l, r.b,
               (CASE r.i % 7
                {_HW_SEASON}
                END) AS snext
        FROM rec r JOIN fin ON fin.event_type = r.event_type
        WHERE r.i >= GREATEST(fin.n - 3, 1) AND r.i <= fin.n - 1
    )
    SELECT p.event_type, CAST(t.i AS BIGINT) AS origin,
           ROUND(p.l + 1.0 * p.b + p.snext, 6) AS f1_6,
           CAST(t.x AS DOUBLE) AS actual,
           ROUND(ABS((p.l + 1.0 * p.b + p.snext) - t.x), 6) AS abs_err6,
           ROUND(ABS(y.x - t.x), 6) AS naive_err6
    FROM picks p
    JOIN seqd t ON t.event_type = p.event_type AND t.i = p.i + 1
    JOIN seqd y ON y.event_type = p.event_type AND y.i = p.i
    """,
)
def ev_hw_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin BACKTEST of the Holt-Winters forecaster (operators/
    rollup.hw_backtest): the last 3 days each get a one-step-ahead
    forecast fit on strictly-prior data, reported with the absolute
    error AND the seasonal-naive-1 baseline — the skill measurement that
    decides whether ev_holt_winters' f1 is trustworthy, closing the
    forecasting family the way dd_lsh_recall closes dedup and
    sim_*_recall close ANN (every estimator ships with its measured
    quality). Spark folds three sliced prefixes of the same collected
    series; the oracle reads identical numbers off its ONE incremental
    recursion at rows n-3..n-1 — agreement certifies that the fold
    really is incremental."""
    from odbc2parquet_spark.operators.rollup import hw_backtest

    daily = _daily_series(spark, sf_dir)
    out = hw_backtest(daily)
    return out.select(
        F.col("key").alias("event_type"),
        "origin",
        "f1_6",
        "actual",
        "abs_err6",
        "naive_err6",
    )
