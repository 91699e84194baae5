"""Streaming analogues of the transfer pipeline.

The reference is strictly batch, but its execution model — fetch a batch,
write a row group, repeat, bounded memory (reference
src/query/conversion_strategy.rs:123-137, README.md:8 "only holds one batch
at a time") — is exactly a Structured Streaming micro-batch pipeline. These
operators are the scale-out generalization: new files land in a source
directory, get transformed and appended to the sink incrementally with
exactly-once file-sink semantics (Spark's commit-log equivalent of the
reference's tempfile-until-finalized CurrentFile, current_file.rs:14-80).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_transfer(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    out_path: str,
    checkpoint: str,
    transform=None,
    trigger_available_now: bool = True,
):
    """Incremental parquet -> parquet transfer (micro-batched).

    ``availableNow`` processes the current backlog then stops — the batch
    CLI semantics — while the same query with a processing-time trigger is
    the continuous-ingest deployment. Returns the StreamingQuery.
    """
    src = spark.readStream.schema(schema).parquet(source_dir)
    if transform is not None:
        src = transform(src)
    writer = (
        src.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregate over the event stream.

    Late rows beyond the watermark are dropped and state is bounded —
    the property that keeps a 100 TB/day stream's state finite.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
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


def sessionized_counts(events: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Session windows per user: built-in session_window (gap-based),
    the stateful-operator shape for per-entity streaks."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream join: right events within ``within`` AFTER
    the left event, same ``key``.

    Both sides carry watermarks so the state store can discard rows older
    than (watermark + within) — the condition that keeps a stream-stream
    join's state bounded on an unbounded stream. Columns come back
    prefixed l_/r_.
    """
    l = left.withWatermark(left_ts, watermark).select(
        F.col(key).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[F.col(c).alias(f"l_{c}") for c in left.columns if c not in (key, left_ts)],
    )
    r = right.withWatermark(right_ts, watermark).select(
        F.col(key).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c not in (key, right_ts)],
    )
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond).drop("r_key")


def streaming_exact_dedup(
    docs: DataFrame, watermark: str = "1 hour", text_col: str = "text"
) -> DataFrame:
    """Streaming exact dedup: first-seen copy of each content hash wins.

    ``dropDuplicates`` on the md5 content hash with a watermark bound on
    the state store — the streaming twin of operators/dedup.exact dedup
    (same hash, same keep-first semantics per micro-batch arrival order).
    Without the watermark the hash->seen state grows forever; with it,
    duplicates arriving later than the watermark horizon are admitted —
    the documented recall/state tradeoff of streaming dedup at scale. For
    exactness across unbounded time, pair with the batch incremental
    anti-join (operators/dedup.incremental_dedup) over the persisted
    hash index.
    """
    hashed = docs.withColumn("content_hash", F.md5(F.col(text_col)))
    if "ts" in docs.columns:
        hashed = hashed.withWatermark("ts", watermark)
        return hashed.dropDuplicates(["content_hash"])
    return hashed.dropDuplicates(["content_hash"])


def late_event_audit(
    events: DataFrame,
    delay_seconds: int = 600,
    order_col: str = "event_id",
    ts_col: str = "ts",
    num_partitions: int = 32,
) -> DataFrame:
    """What-if audit of a streaming watermark policy over a recorded log:
    which events WOULD the engine have dropped as too late?

    Arrival order is the ingestion sequence (``order_col``); the watermark
    before each event is (max event-time seen so far) - delay. An event is
    late iff its event time is below that. Emits per-event-type totals
    (n_events, n_late) — the tuning signal for choosing a watermark delay
    before deploying the streaming job.

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
    sec = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = events.select(
        F.col(order_col).alias("_oid_"), sec.alias("_us_"), "event_type"
    )
    with_pid = base.withColumn(
        "_pid_", order_bucket_col(base, "_oid_", num_partitions)
    )
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
    late = (F.col("_us_") < seen_max - F.lit(delay_seconds * 1_000_000)).cast("int")
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


def streaming_upsert(
    spark: SparkSession,
    source_dir: str,
    schema,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    seq_col: str,
):
    """CDC sink: stream change records and maintain a latest-wins snapshot
    table via foreachBatch — the streaming twin of the batch
    ``q_upsert_latest`` compaction.

    Each micro-batch unions the incoming changes with the current
    snapshot and keeps the max-``seq_col`` row per key (rewriting the
    snapshot — at 100 TB swap the rewrite for a MERGE into a table
    format; the per-batch dedup logic is identical). availableNow drains
    the backlog and stops, matching the batch-CLI semantics; the
    checkpoint makes redelivery idempotent — replaying a batch cannot
    regress the snapshot because latest-wins is associative/idempotent,
    and the snapshot swap keeps the previous version aside until the new
    one is in place (a crash mid-swap is recovered on the next batch).
    """
    import os as _os
    import shutil as _sh

    backup = state_dir.rstrip("/") + "_backup"

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        # crash recovery: a previous run renamed the snapshot aside but
        # died before swapping staging in — restore it rather than
        # silently treating the replayed batch as the whole history
        if not _os.path.exists(state_dir) and _os.path.exists(backup):
            _os.rename(backup, state_dir)
        if _os.path.exists(state_dir):
            current = sess.read.parquet(state_dir)
            unioned = batch.select(*[f.name for f in schema]).unionByName(current)
        else:
            unioned = batch.select(*[f.name for f in schema])
        w = Window.partitionBy(key_col).orderBy(F.desc(seq_col))
        latest = (
            unioned.withColumn("_rn_", F.row_number().over(w))
            .filter(F.col("_rn_") == 1)
            .drop("_rn_")
        )
        staging = state_dir.rstrip("/") + f"_staging_{batch_id}"
        _sh.rmtree(staging, ignore_errors=True)
        latest.write.mode("overwrite").parquet(staging)
        # swap: old snapshot moves ASIDE (recoverable), staging moves in,
        # then the backup is dropped — no window where the data is gone
        _sh.rmtree(backup, ignore_errors=True)
        if _os.path.exists(state_dir):
            _os.rename(state_dir, backup)
        _os.rename(staging, state_dir)
        _sh.rmtree(backup, ignore_errors=True)

    return (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_fingerprint_votes(
    probe_landmarks: DataFrame, index: DataFrame
) -> DataFrame:
    """STREAM-STATIC constellation matching: a stream of probe landmarks
    (doc_id, fi, l — e.g. live audio/video snippets fingerprinted at the
    edge) joins the STATIC landmark index (the catalog built by
    operators/multimodal.audio_landmarks and capped like
    audio_fingerprint_match) and accumulates identification votes per
    (probe, candidate, time offset).

    The join is Structured Streaming's stream-static shape: the static
    side broadcasts (it is index-sized, not corpus-sized) and each
    micro-batch of probe landmarks maps through it without any stateful
    shuffle; only the vote aggregation keeps state, keyed on the
    (probe, candidate, offset) triple — exactly the running-count state
    a streaming groupBy maintains. Update/complete output surfaces the
    current vote totals; the batch dual (one groupBy over the same
    join) is pytest-pinned equal after an availableNow drain.
    """
    probes = probe_landmarks.select(
        F.col("doc_id").alias("probe_doc"),
        F.col("fi").alias("pfi"),
        "l",
    )
    idx = index.select(
        F.col("doc_id").alias("matched_doc"),
        F.col("fi").alias("cfi"),
        "l",
    )
    return (
        probes.join(F.broadcast(idx), "l")
        .groupBy(
            "probe_doc",
            "matched_doc",
            (F.col("cfi") - F.col("pfi")).alias("offset"),
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
