"""Scale join strategies: salting, as-of, range and fuzzy joins."""

from pyspark.sql import functions as F

from odbc2parquet_spark.operators.joins import salted_join


def test_salted_join_equals_plain_join(spark):
    # skewed big side: 90% of rows share key 1
    big = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 100).alias("event_type"),
        F.col("id").alias("event_id"),
    )
    small = spark.range(0, 100).select(
        F.col("id").alias("event_type"), (F.col("id") * 2).alias("dim")
    )
    plain = big.join(small, "event_type").groupBy().agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sp"), F.sum("dim").alias("sd")
    ).first()
    salted = salted_join(big, small).groupBy().agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sp"), F.sum("dim").alias("sd")
    ).first()
    assert (plain.n, plain.sp, plain.sd) == (salted.n, salted.sp, salted.sd)


def test_asof_join_semantics(spark):
    from odbc2parquet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 15, "d")],
        ["user_id", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 18, 200.0), (2, 99, 300.0)], ["user_id", "ts", "v"]
    )
    out = {
        r.tag: (r.r_ts, r.r_v)
        for r in asof_join(left, right).collect()
    }
    assert out["a"] == (10, 100.0)  # equal ts matches (<= semantics)
    assert out["b"] == (18, 200.0)  # latest at-or-before wins
    assert out["c"] == (None, None)  # nothing at-or-before -> nulls
    assert out["d"] == (None, None)  # right exists but only later


def test_range_join_edges(spark):
    from odbc2parquet_spark.operators.ranges import range_join

    pts = spark.createDataFrame(
        [(1, 0.0), (2, 9.999), (3, 10.0), (4, 25.0), (5, 50.0), (6, 119.9), (7, 120.0)],
        ["pid", "value"],
    )
    iv = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 5.0, 30.0), (300, 45.0, 120.0)], ["iid", "lo", "hi"]
    )
    out = {(r.pid, r.iid) for r in range_join(pts, iv).collect()}
    # half-open: 10.0 not in [0,10), but in [5,30); [45,120) spans three
    # 50-wide bins and ends exactly on 120.0
    assert out == {(1, 100), (2, 100), (2, 200), (3, 200), (4, 200), (5, 300), (6, 300)}


def test_deletion_blocked_fuzzy_match_single_typo(spark):
    from odbc2parquet_spark.operators.joins import deletion_blocked_fuzzy_match

    # master tokens are 9-digit ids; probe 10 typos ONE digit of master 1's
    # token (...1234 -> ...1239): deletion-neighborhood keys still collide
    # on the key that removes the typo'd position, so the match is found
    # without any population-sized block
    cols = ["c_custkey", "c_nationkey", "tok", "c_name"]
    master = spark.createDataFrame(
        [(i, 0, t, f"acct-{t}") for i, t in ((1, "000001234"), (2, "000005678"), (3, "000001299"))],
        cols,
    )
    probes = spark.createDataFrame(
        [(i, 0, t, f"acct-{t}") for i, t in ((10, "000001239"), (11, "000005678"))], cols
    )
    got = {
        r.probe_id: (r.matched_id, r.distance)
        for r in deletion_blocked_fuzzy_match(probes, master).collect()
    }
    assert got[10] == (1, 1)  # ...1239 vs ...1234: one edit; ...1299 is dist 2
    assert got[11] == (2, 0)  # exact token -> exact name


def test_deletion_blocked_fuzzy_match_bounded_blocks(spark):
    from odbc2parquet_spark.operators.joins import deletion_blocked_fuzzy_match

    # every master shares the same 3-char suffix; a coarse block would put
    # all of them in one block, but deletion keys keep each block to the
    # <=|alphabet| records agreeing on ALL other positions — assert the
    # backstop cap never drops the true match even with max_block=10
    cols = ["c_custkey", "c_nationkey", "tok", "c_name"]
    master = spark.createDataFrame(
        [(i, 0, f"{i:08d}X", f"m-{i:08d}X") for i in range(100)], cols
    )
    probes = spark.createDataFrame([(1000, 0, "00000042Y", "m-00000042Y")], cols)
    got = deletion_blocked_fuzzy_match(probes, master, max_block=10).collect()
    assert len(got) == 1 and got[0].matched_id == 42 and got[0].distance == 1
