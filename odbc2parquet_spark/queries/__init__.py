"""Query inventory: the correctness surface checked against DuckDB.

Each submodule registers named queries via :func:`query` — a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the
equivalent ANSI SQL oracle. Names and aliases are shared between both sides
so the driver's order-insensitive value-hash comparison holds.

Submodules:
- ``relational`` — SURVEY §2.1 inventory: filter/params, joins, aggregation,
  rollup/cube/grouping sets, windows, sort/limit, set ops, scalar functions.
- ``typemap``    — SURVEY §1 type-mapping semantics as queries.
- ``dedup``      — exact + near-duplicate detection on ``documents``.
- ``similarity`` — embedding similarity search on ``embeddings``.
- ``textops``    — language-ID, quality scoring, token counts, fingerprints.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
#: the bench suite (bench.py), in registration order
BENCH: list[str] = []


def query(name: str, oracle: str | None = None, bench: bool = True):
    """Register a named query (and optionally its DuckDB oracle SQL).

    The bench times the scale-path operators. ``bench=False`` leaves a
    verification operator out of :data:`BENCH`: the all-pairs quadratics,
    most recall checks and the type-mapping checks. The oracle gate still
    runs every registered query.
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if bench:
            BENCH.append(name)
        return fn

    return deco


# import for side effects: each module registers its queries
from odbc2parquet_spark.queries import relational  # noqa: E402,F401
from odbc2parquet_spark.queries import tpch  # noqa: E402,F401
from odbc2parquet_spark.queries import typemap  # noqa: E402,F401
from odbc2parquet_spark.queries import dedup  # noqa: E402,F401
from odbc2parquet_spark.queries import similarity  # noqa: E402,F401
from odbc2parquet_spark.queries import textops  # noqa: E402,F401
from odbc2parquet_spark.queries import events  # noqa: E402,F401
from odbc2parquet_spark.queries import monitor  # noqa: E402,F401
