"""Watermarked event-stream operators."""

import pytest

from odbc2parquet_spark.catalog import load_table
from odbc2parquet_spark.streaming.transfer import (
    sessionized_counts,
    windowed_event_counts,
)


pytestmark = pytest.mark.slow  # excluded from the default profile (pytest.ini)


def test_windowed_event_counts_batch_semantics(spark, sf_dir):
    # run the streaming aggregation shape on the batch frame: identical
    # plan semantics, verifiable counts
    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev)
    total = sum(r.n for r in out.collect())
    assert total == ev.count()


def test_sessionized_counts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = sessionized_counts(ev)
    rows = out.collect()
    assert sum(r.n_events for r in rows) == ev.count()
    assert all(r.session_end > r.session_start for r in rows)


def test_stream_stream_interval_join(spark, tmp_path):
    import datetime

    from pyspark.sql import types as T

    from odbc2parquet_spark.streaming.transfer import stream_stream_interval_join

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tag", T.StringType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows, sub):
        p = tmp_path / sub
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(p))
        return spark.readStream.schema(schema).parquet(str(p))

    clicks = mk(
        [(1, t0, "c1"), (1, t0 + datetime.timedelta(minutes=30), "c2"), (2, t0, "c3")],
        "clicks",
    )
    buys = mk(
        [(1, t0 + datetime.timedelta(minutes=5), "b1"),
         (2, t0 + datetime.timedelta(minutes=20), "b2")],
        "buys",
    )
    joined = stream_stream_interval_join(clicks, buys)
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {(r.l_tag, r.r_tag) for r in spark.read.parquet(out).collect()}
    # c1 (12:00) matches b1 (12:05); c2 (12:30) too late; c3's b2 at +20min > 10min window
    assert rows == {("c1", "b1")}


def test_streaming_exact_dedup(spark, tmp_path):
    import time

    from odbc2parquet_spark.streaming.transfer import streaming_exact_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique one")], ["doc_id", "text"]
    )
    batch1.write.parquet(src)
    stream = spark.readStream.schema(batch1.schema).parquet(src)
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # one survivor per distinct content
    assert got.count() == 2
    assert got.select("content_hash").distinct().count() == 2
    # a second batch with an already-seen text adds nothing; state carries
    # across restarts via the checkpoint
    spark.createDataFrame([(4, "same text"), (5, "fresh")], ["doc_id", "text"]).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(batch1.schema).parquet(src)
    q2 = (
        streaming_exact_dedup(stream2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    time.sleep(1)
    got2 = spark.read.parquet(out)
    assert got2.count() == 3  # only 'fresh' was new
    assert got2.filter("text = 'same text'").count() == 1


def test_late_event_audit_flags_out_of_order(spark):
    import datetime as dt

    from odbc2parquet_spark.streaming.transfer import late_event_audit

    t0 = dt.datetime(2026, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    # arrival order = the arrival column; delay 600s
    rows = [
        (1, s(0), "a"),       # watermark undefined -> on time
        (2, s(10000), "a"),   # advances max to 10000
        (3, s(9900), "a"),    # 9900 >= 10000-600 -> on time
        (4, s(1000), "a"),    # 1000 < 9400 -> LATE
        (5, s(20000), "b"),   # advances
        (6, s(19300), "b"),   # 19300 < 19400 -> LATE
        (7, s(19410), "b"),   # on time
    ]
    df = spark.createDataFrame(rows, ["arrival", "ts", "event_type"])
    got = {r["event_type"]: r for r in late_event_audit(df).collect()}
    # the watermark replayed in arrival order
    want, seen = {}, None
    for _, ts, et in rows:
        n, late = want.get(et, (0, 0))
        want[et] = (n + 1, late + (seen is not None and ts < seen - dt.timedelta(seconds=600)))
        seen = ts if seen is None else max(seen, ts)
    assert {et: (r["n_events"], r["n_late"]) for et, r in got.items()} == want
    assert want == {"a": (4, 1), "b": (3, 1)}
