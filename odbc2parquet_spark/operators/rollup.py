"""Hierarchical time rollups (hypertable-style continuous aggregates).

The scale pattern for time-series retention: maintain the finest bucket
(e.g. 5 min) incrementally, and compute every coarser granularity FROM the
next finer one — sum-of-sums and sum-of-counts re-aggregate exactly, so
the hourly rollup reads 12 rows per key instead of raw events, and the
daily reads 24. At 100 TB of events the raw scan happens once; every
dashboard granularity above it is a cascade over already-tiny aggregates.

Exactness: partial sums are DECIMAL, so re-aggregation is bit-identical
to aggregating the raw events directly (floats would drift by summation
order) — the property the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: bucket widths :func:`coarsen` re-aggregates to, seconds
GRANULARITIES = {"5 minutes": 300, "1 hour": 3600, "1 day": 86400}


def bucket_aggregate(events: DataFrame) -> DataFrame:
    """Finest-level aggregate from raw events, 5-minute buckets:
    (bucket_start, key, n, sum)."""
    bucket = (F.unix_seconds(F.col("ts").cast("timestamp")) / 300).cast("long") * 300
    return events.groupBy(
        bucket.alias("bucket_start"), F.col("event_type").alias("key")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
    )


def coarsen(agg: DataFrame, to_width: str) -> DataFrame:
    """Re-aggregate a finer rollup into a coarser one — reads the rollup,
    never the raw events. Exact because n/sum_value re-aggregate."""
    secs = GRANULARITIES[to_width]
    bucket = (F.col("bucket_start") / secs).cast("long") * secs
    return agg.groupBy(bucket.alias("bucket_start"), "key").agg(
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
    )


def rollup_cascade(events: DataFrame) -> dict[str, DataFrame]:
    """The 5-minute, 1-hour and 1-day aggregates, each computed from the
    previous level."""
    out: dict[str, DataFrame] = {}
    cur = bucket_aggregate(events)
    out["5 minutes"] = cur
    for w in ("1 hour", "1 day"):
        cur = coarsen(cur, w)
        out[w] = cur
    return out


def resample_forward_fill(events: DataFrame) -> DataFrame:
    """Regular-grid resampling with forward fill: for every key, one row
    per day bucket from its first to its last event, carrying
    the most recent observed value at or before the bucket's end (the
    gap-filling step dashboards and feature pipelines need before joining
    irregular event streams to anything gridded).

    Scale shape: the grid is built per key from a 2-row-per-key bounds
    aggregate (sequence + explode — grid rows = keys x buckets, never a
    cross join); the per-bucket last observation is a window over
    (key, bucket) with a (ts, id) total order; the forward fill is one
    running last(ignorenulls) window per key, ordered by bucket — state
    bounded per key, no shuffle beyond the two keyed windows.
    """
    ev = events.select(
        F.col("user_id").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id").alias("id"),
        F.col("value").alias("v"),
    ).withColumn("bucket", F.floor(F.col("ts_us") / F.lit(86_400_000_000)).cast("long"))
    bounds = ev.groupBy("key").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    grid = bounds.select(
        "key", F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket")
    )
    from pyspark.sql import Window

    # last-write-wins per (key, bucket): max(struct(ts_us, id, v)) — the
    # (ts_us, id) prefix is unique per event so v never decides the max;
    # the aggregate partial-combines map-side where the old row_number
    # window shipped every event in the bucket through the exchange.
    per_bucket = (
        ev.groupBy("key", "bucket")
        .agg(F.max(F.struct(F.col("ts_us"), F.col("id"), F.col("v"))).alias("last"))
        .select("key", "bucket", F.col("last.v").alias("bucket_last"))
    )
    w_ff = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(per_bucket, ["key", "bucket"], "left")
        .withColumn("filled_value", F.last("bucket_last", ignorenulls=True).over(w_ff))
        .select(
            F.col("key").alias("user_id"),
            "bucket",
            "filled_value",
            F.col("bucket_last").isNotNull().alias("observed"),
        )
    )


def partial_agg_state(df: DataFrame, keys: list[str]) -> DataFrame:
    """Mergeable aggregate state of ``value`` per key: (n, s, mn, mx) with
    the sum on exact decimals so merge order can never change the value.

    This is the materialized-view / continuous-aggregate building block:
    persist the state, and refreshing under new data is a state MERGE
    (:func:`merge_agg_states`), not a recompute over history — the
    difference between touching one day and touching 100 TB.
    """
    v = F.col("value")
    return df.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(v.cast("decimal(28,6)")).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )


def merge_agg_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two partial-aggregate states: counts and decimal sums add,
    min/max fold — the same algebra Spark's own partial aggregation uses
    map-side, lifted to table level. Associative and commutative, so any
    number of increments in any order equals the full recompute (the
    property ev_agg_merge's oracle verifies by recomputing from scratch)."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


def resample_interpolate(events: DataFrame) -> DataFrame:
    """Regular-grid resampling with LINEAR interpolation: gap buckets get
    ``vp + (vn - vp) * (b - bp) / (bn - bp)`` between the neighboring
    observations; leading/trailing gaps fall back to back/forward fill.
    The time-series twin of :func:`resample_forward_fill` for signals
    where a step function distorts (sensor feeds, rates).

    Same scale shape: per-key bounds -> exploded grid, one map-side
    last-write-wins per bucket, then two bounded per-key windows (running
    last backward, running first forward). The interpolation itself is
    arithmetic on already-joined rows — no extra shuffle.
    """
    base = resample_forward_fill(events).select(
        F.col("user_id").alias("key"),
        "bucket",
        F.when(F.col("observed"), F.col("filled_value")).alias("obs_v"),
        "observed",
    )
    from pyspark.sql import Window

    w_back = (
        Window.partitionBy("key").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("key").orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("observed"), F.col("bucket"))
    stepped = (
        base.withColumn("vp", F.last("obs_v", ignorenulls=True).over(w_back))
        .withColumn("bp", F.last(obs_bucket, ignorenulls=True).over(w_back))
        .withColumn("vn", F.first("obs_v", ignorenulls=True).over(w_fwd))
        .withColumn("bn", F.first(obs_bucket, ignorenulls=True).over(w_fwd))
    )
    interp = F.col("vp") + (F.col("vn") - F.col("vp")) * (
        (F.col("bucket") - F.col("bp")) / (F.col("bn") - F.col("bp"))
    )
    value = (
        F.when(F.col("observed"), F.col("obs_v"))
        .when(F.col("bp").isNull(), F.col("vn"))
        .when(F.col("bn").isNull(), F.col("vp"))
        .otherwise(interp)
    )
    kind = (
        F.when(F.col("observed"), F.lit("observed"))
        .when(F.col("bp").isNull(), F.lit("bfill"))
        .when(F.col("bn").isNull(), F.lit("ffill"))
        .otherwise(F.lit("interp"))
    )
    return stepped.select(
        F.col("key").alias("user_id"),
        "bucket",
        F.round(value, 6).alias("value"),
        kind.alias("kind"),
    )


def ewma_last_n(df: DataFrame) -> DataFrame:
    """Exponentially weighted moving average of ``value`` over the last 8
    observations per ``user_id`` in (ts, event_id) order, decay 1/2 — the
    freshness-decayed engagement / rate metric every event pipeline keeps
    per user.

    ENGINE-EXACT by construction: with alpha = 1/2 the weights are powers
    of two, so every product ``value * 2^j`` is an EXACT double scaling
    (exponent shift, no rounding), and the numerator/denominator are
    built as one fixed left-to-right expression tree over LAG columns —
    two IEEE engines evaluate it to the identical bit pattern, which is
    what lets the DuckDB oracle hash-match raw doubles with no rounding
    fudge. Adjusted (pandas ewm adjust=True) semantics at series heads:
    missing lags drop out of BOTH numerator and denominator.

    One window (hash shuffle on the key) and 7 LAGs — no self-joins, no
    per-key collect; scales as a single keyed exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.col("value")] + [F.lag("value", i).over(w) for i in range(1, 8)]
    num = F.lit(0.0)
    den = F.lit(0)
    for i, lg in enumerate(lags):
        wt = 1 << (7 - i)  # 2^7, 2^6, ..., 1
        num = num + F.coalesce(lg, F.lit(0.0)) * F.lit(float(wt))
        den = den + F.when(lg.isNull(), F.lit(0)).otherwise(F.lit(wt))
    return df.withColumn("ewma", num / den)


def rolling_trend(df: DataFrame) -> DataFrame:
    """Per-``user_id`` rolling OLS slope of ``value`` over the trailing 8
    observations in (ts, event_id) order —
    the linear-trend detector (is this user's metric rising or falling,
    and how fast) complementing ewma_last_n's level tracker.

    x is the observation index within the key (regular spacing — the
    slope is per-observation change), y the value. slope =
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) with every S an EXACT decimal sum
    over the frame (order-independent) cast to double once; the closed
    form is IEEE arithmetic both engines evaluate identically. Rows with
    fewer than 2 observations in the frame are dropped (the denominator
    is provably nonzero for n_window >= 2 since x is strictly
    increasing).

    One keyed window, two passes of column arithmetic, no joins.
    """
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = wk.rowsBetween(-7, 0)
    x = F.row_number().over(wk)
    base = df.withColumn("_x_", x).withColumn(
        "_y_", F.col("value").cast("decimal(18,6)")
    )
    sx = F.sum(F.col("_x_").cast("decimal(18,0)")).over(frame)
    sy = F.sum("_y_").over(frame)
    sxy = F.sum((F.col("_x_").cast("decimal(18,0)") * F.col("_y_")).cast("decimal(30,6)")).over(frame)
    # cast to long before squaring: row_number is int32 and x^2 overflows
    # it past x ~ 46k (a heavy key at scale)
    sxx = F.sum(
        (F.col("_x_").cast("long") * F.col("_x_")).cast("decimal(18,0)")
    ).over(frame)
    cnt = F.count(F.lit(1)).over(frame)
    out = (
        base.withColumn("n_window", cnt.cast("long"))
        .withColumn("_sx_", sx.cast("double"))
        .withColumn("_sy_", sy.cast("double"))
        .withColumn("_sxy_", sxy.cast("double"))
        .withColumn("_sxx_", sxx.cast("double"))
        .filter(F.col("n_window") >= 2)
    )
    nn = F.col("n_window")
    slope = (nn * F.col("_sxy_") - F.col("_sx_") * F.col("_sy_")) / (
        nn * F.col("_sxx_") - F.col("_sx_") * F.col("_sx_")
    )
    return out.withColumn("slope", F.round(slope, 6)).drop(
        "_x_", "_y_", "_sx_", "_sy_", "_sxy_", "_sxx_"
    )


def _daily_series(daily: DataFrame) -> DataFrame:
    """(key, series): each key's (d, x) structs in day order — the
    input every Holt fold below reads."""
    return daily.groupBy("key").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("day").alias("d"), F.col("x")))
        ).alias("series")
    )


def _fit(arr: DataFrame, zero: F.Column, step) -> tuple[DataFrame, list[F.Column]]:
    """Fold each key's series with ``step`` from ``zero``: the frame
    (key, n_days, st) and its first output columns (key, n_days, and
    level and trend rounded to 6)."""
    fitted = arr.select(
        "key",
        F.size("series").alias("n_days"),
        F.aggregate(F.col("series"), zero, step).alias("st"),
    )
    return fitted, [
        F.col("key"),
        F.col("n_days").cast("long").alias("n_days"),
        F.round(F.col("st.l"), 6).alias("level"),
        F.round(F.col("st.b"), 6).alias("trend"),
    ]


def holt_forecast(daily: DataFrame) -> DataFrame:
    """Holt's linear-trend exponential smoothing with alpha = beta = 1/2
    — the dyadic choice is deliberate: halving a double is ALWAYS exact
    in IEEE 754, so the recursion

        level_t = (x_t + (level_{t-1} + trend_{t-1})) / 2
        trend_t = ((level_t - level_{t-1}) + trend_{t-1}) / 2

    is a fixed left-to-right sequence of adds and exact halvings any
    engine replays bit-identically (the ewma_last_n contract, extended
    to a 2-state recursion). Initialization: level = x_1, trend = 0.
    Forecast f_h = level_n + h * trend_n for h = 1 and 7.

    The recursion is inherently sequential per group, so each group's
    daily series (calendar-sized — ~365 rows/year however big the raw
    data) is collected into ONE ordered array and folded with a single
    Catalyst ``aggregate`` expression: no per-step shuffles, no driver
    loop; groups parallelize across tasks. Emits (group, n_days, level,
    trend, f_<h>...) rounded to 6.
    """
    arr = _daily_series(daily)
    zero = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(0.0).alias("b"),
    )

    def step(acc: F.Column, s: F.Column) -> F.Column:
        x = s.getField("x").cast("double")
        first = acc.getField("l").isNull()
        l_prev, b_prev = acc.getField("l"), acc.getField("b")
        l_new = F.when(first, x).otherwise((x + (l_prev + b_prev)) / F.lit(2.0))
        b_new = F.when(first, F.lit(0.0)).otherwise(
            ((l_new - l_prev) + b_prev) / F.lit(2.0)
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    fitted, cols = _fit(arr, zero, step)
    for h in (1, 7):
        cols.append(
            F.round(F.col("st.l") + F.lit(float(h)) * F.col("st.b"), 6).alias(f"f{h}")
        )
    return fitted.select(*cols)


def _hw_fold():
    """(zero, step) of the additive Holt-Winters fold with alpha = beta =
    gamma = 1/2 (the recursion :func:`holt_winters_forecast` documents):
    accumulator (l, b, s, t) = level, trend, 7 seasonal slots and
    the count of folded days."""
    zero = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), 7).alias("s"),
        F.lit(0).alias("t"),
    )

    def step(acc: F.Column, e: F.Column) -> F.Column:
        x = e.getField("x").cast("double")
        t = acc.getField("t")
        idx = t % 7
        sp = F.element_at(acc.getField("s"), idx + 1)
        first = acc.getField("l").isNull()
        l_prev, b_prev = acc.getField("l"), acc.getField("b")
        l_new = F.when(first, x).otherwise(
            ((x - sp) + (l_prev + b_prev)) / F.lit(2.0)
        )
        b_new = F.when(first, F.lit(0.0)).otherwise(
            ((l_new - l_prev) + b_prev) / F.lit(2.0)
        )
        s_new = F.transform(
            acc.getField("s"),
            lambda v, i: F.when(
                i == idx, ((x - l_new) + v) / F.lit(2.0)
            ).otherwise(v),
        )
        return F.struct(
            l_new.alias("l"), b_new.alias("b"), s_new.alias("s"),
            (t + 1).alias("t"),
        )

    return zero, step


def holt_winters_forecast(daily: DataFrame) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing with alpha = beta =
    gamma = 1/2 — :func:`holt_forecast`'s two-state dyadic recursion
    extended with a 7-slot (weekly) seasonal state, completing the
    classical smoothing ladder (EWMA -> Holt -> Holt-Winters):

        idx_t   = (t - 1) mod 7
        level_t = ((x_t - s_idx) + (level + trend)) / 2
        trend_t = ((level_t - level_{t-1}) + trend_{t-1}) / 2
        s_idx'  = ((x_t - level_t) + s_idx) / 2

    Every operation is an add/subtract or an EXACT IEEE halving in a
    fixed left-to-right order, so any engine replays the fold
    bit-identically; seeds are level = x_1, trend = 0, seasonal all 0
    (the first pass through each slot then learns half the residual).
    Forecasts f_h = level + h*trend + s[(n-1+h) mod 7] for h = 1 and 7.

    Same scale shape as holt_forecast: each group's calendar-sized daily
    series folds inside ONE Catalyst ``aggregate`` expression (the
    seasonal array rides in the accumulator struct) — no per-step
    shuffle, no driver loop; groups parallelize across tasks.
    """
    arr = _daily_series(daily)
    zero, step = _hw_fold()
    fitted, cols = _fit(arr, zero, step)
    for h in (1, 7):
        slot = (F.col("n_days") - 1 + h) % 7
        cols.append(
            F.round(
                F.col("st.l")
                + F.lit(float(h)) * F.col("st.b")
                + F.element_at(F.col("st.s"), slot + 1),
                6,
            ).alias(f"f{h}")
        )
    return fitted.select(*cols)


def hw_backtest(daily: DataFrame) -> DataFrame:
    """(group, origin, f1_6, actual, abs_err6, naive_err6): ROLLING-ORIGIN
    backtest of the Holt-Winters fold — the measurement that turns "we
    fit a forecaster" into "we know its skill": for each of the last
    3 days, fit on everything STRICTLY BEFORE it (the same
    dyadic fold as :func:`holt_winters_forecast`, on the sliced prefix),
    forecast one step, and report the absolute error next to the
    seasonal-naive-1 baseline (yesterday's value) — the skill ratio a
    deployment reads before trusting f1/f7.

    Because the fold is incremental, each origin is one Catalyst
    ``aggregate`` over a ``slice`` of the SAME collected series (three
    tiny folds per group, no re-shuffle); the oracle reads the SAME
    numbers off its single recursive CTE at rows n-3..n-1. Exactness:
    the forecast is the dyadic state plus one add; errors subtract exact
    inputs — no new float risk beyond the certified fold.
    """
    arr = _daily_series(daily)
    zero, step = _hw_fold()

    n = F.size("series")
    origins = F.sequence(
        F.greatest(n - 2, F.lit(2)), n
    )  # 1-based target indexes, needing >= 1 prior day
    # Guard n == 1: sequence(2, 1) is DESCENDING in Spark ([2, 1]), which
    # would emit a spurious origin=2 row with NULL actual (element_at past
    # the array end) while the DuckDB oracle emits nothing. Requiring
    # tgt <= size(series) alongside tgt >= 2 makes both engines agree.
    ex = arr.select(
        "key", "series", F.explode(origins).alias("tgt")
    ).filter((F.col("tgt") >= 2) & (F.col("tgt") <= F.size("series")))
    st = F.aggregate(
        F.slice(F.col("series"), 1, F.col("tgt") - 1), zero, step
    )
    f1 = (
        st.getField("l")
        + F.lit(1.0) * st.getField("b")
        + F.element_at(st.getField("s"), (st.getField("t") % 7) + 1)
    )
    actual = F.element_at(F.col("series"), F.col("tgt")).getField("x")
    naive = F.element_at(F.col("series"), F.col("tgt") - 1).getField("x")
    return ex.select(
        "key",
        F.col("tgt").cast("long").alias("origin"),
        F.round(f1, 6).alias("f1_6"),
        actual.cast("double").alias("actual"),
        F.round(F.abs(f1 - actual), 6).alias("abs_err6"),
        F.round(F.abs(naive - actual), 6).alias("naive_err6"),
    )
