"""Round-6 additions: skyline (Pareto frontier), classical seasonal
decomposition, and BPE encode — each checked against an independent
brute-force or closed-form reference."""

import pytest
from pyspark.sql import functions as F

from odbc2parquet_spark.operators.skyline import skyline_2d
from odbc2parquet_spark.operators.drift import seasonal_decompose
from odbc2parquet_spark.operators.text import (
    bpe_apply_merge,
    bpe_learn_batched,
    bpe_vocab_token_counts,
    words,
)


def _sky(df):
    """skyline_2d over (x, y) as its (p_retailprice, p_size)."""
    parts = df.withColumnsRenamed({"x": "p_retailprice", "y": "p_size"})
    return skyline_2d(parts).withColumnsRenamed({"p_retailprice": "x", "p_size": "y"})


def _brute_skyline(pts):
    """Quadratic NOT EXISTS dominance: minimize x, maximize y."""
    out = []
    for x, y in pts:
        if not any(
            qx <= x and qy >= y and (qx < x or qy > y) for qx, qy in pts
        ):
            out.append((x, y))
    return sorted(out)


class TestSkyline:
    def test_matches_bruteforce_random(self, spark):
        import random

        rng = random.Random(7)
        pts = [(rng.randrange(100), rng.randrange(40)) for _ in range(400)]
        df = spark.createDataFrame(pts, "x int, y int")
        got = sorted((r.x, r.y) for r in _sky(df).collect())
        assert got == _brute_skyline(pts)

    def test_duplicates_all_kept(self, spark):
        # two identical frontier points: neither dominates the other
        df = spark.createDataFrame(
            [(1, 10, "a"), (1, 10, "b"), (2, 5, "c")], "x int, y int, tag string"
        )
        got = sorted(r.tag for r in _sky(df).collect())
        assert got == ["a", "b"]

    def test_same_x_keeps_only_best_y(self, spark):
        df = spark.createDataFrame([(1, 10), (1, 9), (2, 11)], "x int, y int")
        got = sorted((r.x, r.y) for r in _sky(df).collect())
        assert got == [(1, 10), (2, 11)]

    def test_nulls_excluded_and_empty_ok(self, spark):
        df = spark.createDataFrame(
            [(None, 5), (3, None), (4, 2)], "x int, y int"
        )
        got = [(r.x, r.y) for r in _sky(df).collect()]
        assert got == [(4, 2)]
        empty = df.limit(0)
        assert _sky(empty).count() == 0

    def test_monotone_chain_all_on_frontier(self, spark):
        pts = [(i, i) for i in range(50)]  # increasing y with x: all frontier
        df = spark.createDataFrame(pts, "x int, y int")
        assert _sky(df).count() == 50

    def test_dominated_chain_single_survivor(self, spark):
        pts = [(i, 100 - i) for i in range(50)]  # x grows, y falls: only x=0
        df = spark.createDataFrame(pts, "x int, y int")
        got = [(r.x, r.y) for r in _sky(df).collect()]
        assert got == [(0, 100)]


class TestSeasonalDecompose:
    def _daily(self, spark, values):
        rows = [(d, v) for d, v in enumerate(values)]
        return spark.createDataFrame(rows, "day long, v double").select(
            "day", F.col("v").cast("decimal(18,6)").alias("val_dec")
        )

    def test_pure_weekly_signal_recovered(self, spark):
        # value = 100 + phase pattern; trend flat, residual ~ 0
        pattern = [5.0, -3.0, 0.0, 2.0, -4.0, 1.0, -1.0]
        values = [100.0 + pattern[d % 7] for d in range(28)]
        out = seasonal_decompose(self._daily(spark, values))
        rows = {r.day: r for r in out.collect()}
        assert len(rows) == 22  # 28 days minus 3 each edge
        for r in rows.values():
            assert r.trend == pytest.approx(100.0, abs=1e-6)
            assert r.resid == pytest.approx(0.0, abs=1e-6)
            assert r.val == pytest.approx(
                r.trend + r.seasonal + r.resid, abs=2e-6
            )

    def test_linear_trend_recovered(self, spark):
        values = [10.0 + 2.0 * d for d in range(21)]
        out = seasonal_decompose(self._daily(spark, values))
        for r in out.collect():
            # centered MA of a linear series IS the series
            assert r.trend == pytest.approx(10.0 + 2.0 * r.day, abs=1e-6)
            assert r.seasonal == pytest.approx(0.0, abs=1e-6)

    def test_short_series_empty(self, spark):
        out = seasonal_decompose(self._daily(spark, [1.0] * 6))
        assert out.count() == 0  # no day has a full centered window


class TestBpeEncode:
    def test_vocab_counts_match_sequential_apply(self, spark, sf_dir):
        from odbc2parquet_spark.catalog import load_table

        docs = load_table(spark, sf_dir, "documents").limit(60)
        merges = bpe_learn_batched(docs, n_merges=8, batch=4)
        vocab = {r.word: r.n_tok for r in bpe_vocab_token_counts(docs, merges).collect()}
        # reference: apply the same merges via the Catalyst fold, word by word
        wdf = docs.select(F.explode(words(F.col("text"))).alias("word")).distinct()
        sym = F.filter(F.split(F.col("word"), ""), lambda x: x != "")
        col = sym
        for a, b in merges:
            col = bpe_apply_merge(col, a, b)
        expect = {r.word: r.n for r in wdf.select("word", F.size(col).alias("n")).collect()}
        assert vocab == expect

    def test_fewer_tokens_than_chars(self, spark):
        docs = spark.createDataFrame(
            [(1, "the cat the cat the cat mat")], "doc_id long, text string"
        )
        merges = bpe_learn_batched(docs, n_merges=3, batch=3)
        vocab = {r.word: r.n_tok for r in bpe_vocab_token_counts(docs, merges).collect()}
        assert vocab["the"] < 3  # 'th'+'e' or 'the' after merges
        assert all(n >= 1 for n in vocab.values())
