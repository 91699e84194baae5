"""Scale join strategies: salting, as-of, range and fuzzy joins."""

from pyspark.sql import functions as F

from odbc2parquet_spark.operators.joins import salted_join


def test_salted_join_equals_plain_join(spark):
    # skewed big side: 90% of rows share key 1
    big = spark.range(0, 10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("dim"))
    plain = big.join(small, "k").groupBy().agg(
        F.count("*").alias("n"), F.sum("payload").alias("sp"), F.sum("dim").alias("sd")
    ).first()
    salted = salted_join(big, small, "k").groupBy().agg(
        F.count("*").alias("n"), F.sum("payload").alias("sp"), F.sum("dim").alias("sd")
    ).first()
    assert (plain.n, plain.sp, plain.sd) == (salted.n, salted.sp, salted.sd)


def test_asof_join_semantics(spark):
    from odbc2parquet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 15, "d")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 18, 200.0), (2, 99, 300.0)], ["k", "ts", "v"]
    )
    out = {
        r.tag: (r.r_ts, r.r_v)
        for r in asof_join(left, right, "k", "ts", "ts").collect()
    }
    assert out["a"] == (10, 100.0)  # equal ts matches (<= semantics)
    assert out["b"] == (18, 200.0)  # latest at-or-before wins
    assert out["c"] == (None, None)  # nothing at-or-before -> nulls
    assert out["d"] == (None, None)  # right exists but only later


def test_range_join_edges(spark):
    from odbc2parquet_spark.operators.ranges import range_join

    pts = spark.createDataFrame([(1, 0.0), (2, 9.999), (3, 10.0), (4, 25.0)], ["pid", "v"])
    iv = spark.createDataFrame([(100, 0.0, 10.0), (200, 5.0, 30.0)], ["iid", "lo", "hi"])
    out = {(r.pid, r.iid) for r in range_join(pts, iv, "v", "lo", "hi", 10.0).collect()}
    # half-open: v=10.0 not in [0,10), but in [5,30)
    assert out == {(1, 100), (2, 100), (2, 200), (3, 200), (4, 200)}


def test_deletion_blocked_fuzzy_match_single_typo(spark):
    from odbc2parquet_spark.operators.joins import deletion_blocked_fuzzy_match

    # master tokens are 4-digit ids; probe 10 typos ONE digit of master 1's
    # token (1234 -> 1239): deletion-neighborhood keys still collide on the
    # key that removes the typo'd position, so the match is found without
    # any population-sized block
    master = spark.createDataFrame(
        [(1, "1234", "acct-1234"), (2, "5678", "acct-5678"), (3, "1299", "acct-1299")],
        ["id", "tok", "name"],
    )
    probes = spark.createDataFrame(
        [(10, "1239", "acct-1239"), (11, "5678", "acct-5678")], ["id", "tok", "name"]
    )
    got = {
        r.probe_id: (r.matched_id, r.distance)
        for r in deletion_blocked_fuzzy_match(
            probes, master, "tok", "name", "id", "id", token_len=4
        ).collect()
    }
    assert got[10] == (1, 1)  # 1239 vs 1234: one edit; 1299 is dist 2
    assert got[11] == (2, 0)  # exact token -> exact name


def test_deletion_blocked_fuzzy_match_bounded_blocks(spark):
    from odbc2parquet_spark.operators.joins import deletion_blocked_fuzzy_match

    # every master shares the same 3-char suffix; a coarse block would put
    # all of them in one block, but deletion keys keep each block to the
    # <=|alphabet| records agreeing on ALL other positions — assert the
    # backstop cap never drops the true match even with max_block=10
    master = spark.createDataFrame(
        [(i, f"{i:03d}X", f"m-{i:03d}X") for i in range(100)],
        ["id", "tok", "name"],
    )
    probes = spark.createDataFrame([(1000, "042Y", "m-042Y")], ["id", "tok", "name"])
    got = deletion_blocked_fuzzy_match(
        probes, master, "tok", "name", "id", "id", token_len=4, max_block=10
    ).collect()
    assert len(got) == 1 and got[0].matched_id == 42 and got[0].distance == 1
