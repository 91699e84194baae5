"""Watermarked event-stream operators.

All but ``late_event_audit`` work on a streaming or a batch DataFrame
alike: their fixed watermark and window bound the state a stream
keeps, and a batch frame ignores the watermark. The registry runs them
in batch over ``events`` and ``documents`` (queries/events.py,
queries/dedup.py), checked against a DuckDB oracle. ``late_event_audit``
replays a recorded log to show which events a 10-minute watermark
delay would drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Watermarked 5-minute tumbling-window aggregate over the event stream.

    Late rows beyond the 10-minute watermark are dropped and state is bounded —
    the property that keeps a 100 TB/day stream's state finite.
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_counts(events: DataFrame) -> DataFrame:
    """Session windows per user: built-in session_window with a 10-minute
    gap, the stateful-operator shape for per-entity streaks."""
    return (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Watermarked stream-stream join: right events within 10 minutes AFTER
    the left event, same ``user_id``, both sides timed by ``ts``.

    Both sides carry 30-minute watermarks so the state store can discard
    rows older than (watermark + 10 minutes) — the condition that keeps a stream-stream
    join's state bounded on an unbounded stream. Columns come back
    prefixed l_/r_.
    """
    l = left.withWatermark("ts", "30 minutes").select(
        F.col("user_id").alias("l_key"),
        F.col("ts").alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in ("user_id", "ts")],
    )
    r = right.withWatermark("ts", "30 minutes").select(
        F.col("user_id").alias("r_key"),
        F.col("ts").alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in ("user_id", "ts")],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 minutes"))
    )
    return l.join(r, cond).drop("r_key")


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: first-seen copy of each content hash wins.

    ``dropDuplicates`` on the md5 content hash with a 1-hour watermark bound on
    the state store — the streaming twin of operators/dedup.exact dedup
    (same hash, same keep-first semantics per micro-batch arrival order).
    Without the watermark the hash->seen state grows forever; with it,
    duplicates arriving later than the watermark horizon are admitted —
    the documented recall/state tradeoff of streaming dedup at scale. For
    exactness across unbounded time, pair with the batch incremental
    anti-join (operators/dedup.incremental_dedup) over the persisted
    hash index.
    """
    hashed = docs.withColumn("content_hash", F.md5(F.col("text")))
    if "ts" in docs.columns:
        hashed = hashed.withWatermark("ts", "1 hour")
    return hashed.dropDuplicates(["content_hash"])


def late_event_audit(events: DataFrame) -> DataFrame:
    """What-if audit of a streaming watermark policy over a recorded log:
    which events WOULD the engine have dropped as too late?

    Arrival order is the ingestion sequence (``arrival``); the watermark
    before each event is (max event-time seen so far) - 10 minutes. An event is
    late iff its event time is below that. Emits per-event-type totals
    (n_events, n_late) — the tuning signal for a watermark delay before
    deploying the streaming job.

    The running max uses the same two-pass shape as
    operators/sharding.pack_shards_two_pass: per-bucket maxima (one row
    each) prefix-combined on the driver and broadcast back, then a local
    running max per bucket — no global-window funnel. Buckets come from
    the literal-boundary scheme of operators/bucketing.py: boundaries
    are plan literals, so both passes recompute identical buckets from
    the source scan and nothing is persisted, checkpointed, or pinned.
    """
    from odbc2parquet_spark.operators.bucketing import order_bucket_col

    spark = events.sparkSession
    sec = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.select(
        F.col("arrival").alias("_oid_"), sec.alias("_us_"), "event_type"
    )
    with_pid = base.withColumn("_pid_", order_bucket_col(base, "_oid_"))
    pmax = {
        r._pid_: r.m
        for r in with_pid.groupBy("_pid_").agg(F.max("_us_").alias("m")).collect()
    }
    prior: dict[int, int | None] = {}
    acc: int | None = None
    for pid in sorted(pmax):
        prior[pid] = acc
        acc = pmax[pid] if acc is None else max(acc, pmax[pid])
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("_pid_", LongType()), StructField("_prior_", LongType(), True)]
    )
    prior_df = F.broadcast(
        spark.createDataFrame([(pid, p) for pid, p in prior.items()], schema)
    )
    wl = (
        Window.partitionBy("_pid_")
        .orderBy("_oid_")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_max = F.max("_us_").over(wl)
    # greatest() skips NULLs: first event of the first partition has no
    # prior watermark and stays NULL -> never late.
    seen_max = F.greatest(local_max, F.col("_prior_"))
    late = (F.col("_us_") < seen_max - F.lit(600 * 1_000_000)).cast("int")
    return (
        with_pid.join(prior_df, "_pid_")
        .select("event_type", F.coalesce(late, F.lit(0)).alias("_late_"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_late_").cast("long").alias("n_late"),
        )
        .orderBy("event_type")
    )
