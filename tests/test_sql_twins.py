"""Each Spark helper and its DuckDB twin give equal values on edge inputs.

The oracles build the md5 hash, the whitespace words, the dedup normal
form and the dot product and squared norm only from the ``_sql`` twins of
the Spark helpers, so the two spellings of each idiom must agree beyond
the corpus the oracle sweep runs on: empty and all-space text, runs of
spaces, leading and trailing spaces, non-ASCII text, and integer, float
and double vectors.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from odbc2parquet_spark.functions.hashing import hex_long, hex_long_sql, md5_long, md5_long_sql
from odbc2parquet_spark.operators.similarity import dot, dot_sql, norm_sq, norm_sq_sql
from odbc2parquet_spark.operators.text import (
    DEDUP_NORMAL_FORM_SQL,
    dedup_normal_form,
    words,
    words_sql,
)

TEXTS = [
    "",
    " ",
    "    ",
    "one",
    "  leading",
    "trailing   ",
    "  runs   of  spaces  ",
    "Hello, World! 42 times",
    "Straße café naïve ÀÉÎ",
    "日本語 の テキスト",
    "emoji 🙂 and\ttab",
]
TEXT_ROWS = list(enumerate(TEXTS))

#: (int, int[], int[], float[], float[], double[], double[]) rows
VECTORS = [
    (0, [1, 2, 3], [4, 5, 6], [0.5, -1.25, 2.0], [3.0, 0.1, -7.5], [0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
    (1, [100000, -100000], [100000, 100000], [1e-3, 3.4e38], [1e3, 1.0], [1e-300, 1e300], [1e300, -1e-300]),
    (2, [0, 0, 0], [7, -7, 7], [-0.0, 0.0, 1.5], [2.5, -2.5, 0.0], [1 / 3, 2 / 3, 1.0], [3.0, 1.5, 1 / 7]),
    (3, [-3], [5], [0.3], [0.7], [-0.1], [0.1]),
]
VECTOR_SCHEMA = "i int, ia array<int>, ib array<int>, fa array<float>, fb array<float>, da array<double>, db array<double>"
VECTOR_DUCK = "i INTEGER, ia INTEGER[], ib INTEGER[], fa FLOAT[], fb FLOAT[], da DOUBLE[], db DOUBLE[]"


def _duckdb(columns: str, rows: list[tuple], exprs: list[str]) -> list[tuple]:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({columns})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})", rows)
    return con.execute(f"SELECT i, {', '.join(exprs)} FROM t ORDER BY i").fetchall()


def _spark(spark, schema: str, rows: list[tuple], cols: list) -> list[tuple]:
    df = spark.createDataFrame(rows, schema)
    return [tuple(r) for r in df.select("i", *cols).orderBy("i").collect()]


def _agree_on_texts(spark, cols: list, exprs: list[str]) -> None:
    assert _spark(spark, "i int, text string", TEXT_ROWS, cols) == _duckdb(
        "i INTEGER, text VARCHAR", TEXT_ROWS, exprs
    )


def test_words_twin(spark):
    _agree_on_texts(spark, [words(F.col("text"))], [words_sql("text")])


def test_dedup_normal_form_twin(spark):
    _agree_on_texts(spark, [dedup_normal_form()], [DEDUP_NORMAL_FORM_SQL])


@pytest.mark.parametrize("start,digits", [(1, 15), (16, 15), (1, 8), (1, 4)])
def test_md5_twins(spark, start, digits):
    spark_cols = [hex_long(F.md5(F.col("text")), start, digits)]
    duck_exprs = [hex_long_sql("md5(text)", start, digits)]
    if start == 1:
        spark_cols.append(md5_long(F.col("text"), digits))
        duck_exprs.append(md5_long_sql("text", digits))
    _agree_on_texts(spark, spark_cols, duck_exprs)


def test_dot_and_norm_sq_twins(spark):
    pairs = [("ia", "ib"), ("fa", "fb"), ("da", "db")]
    spark_cols = [dot(F.col(a), F.col(b)) for a, b in pairs] + [
        norm_sq(F.col(a)) for pair in pairs for a in pair
    ]
    duck_exprs = [dot_sql(a, b) for a, b in pairs] + [norm_sq_sql(a) for pair in pairs for a in pair]
    assert _spark(spark, VECTOR_SCHEMA, VECTORS, spark_cols) == _duckdb(
        VECTOR_DUCK, VECTORS, duck_exprs
    )
