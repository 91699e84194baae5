"""Write-back path: Parquet -> relational store (the reference's ``insert``
and ``exec`` subcommands).

Reference semantics reproduced:

- ``insert``: read a parquet file, generate ``INSERT INTO t (cols) VALUES
  (?, ...)`` from its column names, bulk-execute in columnar batches
  (reference src/insert.rs:14-66, src/input.rs:43-88). Identifiers are
  quoted here — the reference interpolates unquoted names and documents the
  injection risk (src/main.rs:258-261); SURVEY §2.3 says do better.
- ``exec``: arbitrary statement with named ``?col?`` placeholders, each
  bound to a parquet column; one column may feed several placeholders
  (reference src/execute.rs:12-52, tests/integration.rs:3882).
- Unsupported-type errors for non-primitive columns, mirroring
  "only able to insert primitive types" (src/input.rs:187-193).
- Value conversion per the reference's C-matrix (src/input.rs:181-502):
  decimals travel as decimal TEXT (C5), timestamps as timestamp structs
  (C8 — ISO text for DBAPI), times as hh:mm:ss.ffffff text (C3/C7).

Spark-first execution: two backends.

- JDBC backend: ``df.write.format("jdbc").mode("append")`` — Spark's own
  batched writer, one connection per partition. The idiomatic cluster
  path; needs a JDBC driver jar (absent in this container, so gated).
- DBAPI backend: ``foreachPartition`` + any PEP-249 connection factory +
  ``executemany`` batches. Same execution shape as the reference's
  columnar bulk inserter (one statement prepared once, param arrays per
  batch), runs against sqlite in tests, and scales the same way the JDBC
  path does: N partitions -> N parallel writers, no driver involvement.
"""

from __future__ import annotations

import datetime
import decimal
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from odbc2parquet_spark.catalog import footer_row_count
from odbc2parquet_spark.params import PlaceholderError, quote_identifier, to_positional

#: rows per executemany call — the reference's default bulk batch
#: (src/query/batch_size_limit.rs:6-15).
DEFAULT_WRITE_BATCH_ROWS = 65_535


class UnsupportedInsertType(TypeError):
    """Mirror of the reference's unsupported-type errors (input.rs:187-495)."""


_INTERVAL_TYPES = (T.DayTimeIntervalType, T.YearMonthIntervalType)


def validate_insertable_schema(schema: T.StructType) -> None:
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            raise UnsupportedInsertType(
                f"column {f.name!r}: only able to insert primitive types, "
                f"got {f.dataType.simpleString()}"
            )
        if isinstance(f.dataType, _INTERVAL_TYPES):
            # input.rs:491-495: interval columns are rejected on insert
            raise UnsupportedInsertType(
                f"column {f.name!r}: inserting interval types is not "
                f"supported ({f.dataType.simpleString()})"
            )


def generate_insert_statement(table: str, columns: Sequence[str]) -> str:
    """``INSERT INTO t (a, b) VALUES (?, ?)`` — quoted identifiers
    (reference insert.rs:55-66 generates the same shape unquoted)."""
    cols = ", ".join(quote_identifier(c) for c in columns)
    marks = ", ".join("?" for _ in columns)
    return f"INSERT INTO {quote_identifier(table)} ({cols}) VALUES ({marks})"


def _to_dbapi_value(v, dt: T.DataType):
    """Python value -> DBAPI parameter, per the reference's C-matrix."""
    if v is None:
        return None
    if isinstance(dt, T.DecimalType):
        # C5: decimals are bound as decimal text (input.rs:795-823)
        return format(v, "f") if isinstance(v, decimal.Decimal) else str(v)
    if isinstance(dt, T.TimestampType):
        # C8: instant columns. PySpark hands the executor a NAIVE datetime
        # in the OS-local timezone (spark.sql.session.timeZone does not
        # govern this Python-side conversion), so normalize through UTC or
        # write-back would shift values on non-UTC executors.
        # astimezone on a naive datetime assumes local time — exactly the
        # tz PySpark rendered it in — and converts to UTC; aware values
        # convert directly.
        v = v.astimezone(datetime.timezone.utc)
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(dt, T.TimestampNTZType):
        # wall-clock semantics: format as-is
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(dt, T.DateType):
        return v.isoformat()
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(v, datetime.time):
        # C3/C7: TIME as hh:mm:ss.ffffff text (input.rs:767-793)
        return v.isoformat(timespec="microseconds")
    return v


def _executemany_partition(
    rows_iter,
    statement: str,
    dtypes: list[T.DataType],
    col_positions: list[int],
    connection_factory: Callable,
    row_counter,
) -> None:
    """Runs on executors: one connection per partition, batched executemany.

    ``col_positions[i]`` is the row index feeding parameter i (identity for
    insert; the named-placeholder mapping for exec — one column may feed
    several parameter positions, reference input.rs:126-167).
    ``row_counter`` is a Spark accumulator so the caller's row count rides
    the write pass instead of costing a second scan.
    """
    conn = connection_factory()
    n = 0
    try:
        cur = conn.cursor()
        batch: list[tuple] = []
        for row in rows_iter:
            batch.append(
                tuple(_to_dbapi_value(row[p], dtypes[p]) for p in col_positions)
            )
            n += 1
            if len(batch) >= DEFAULT_WRITE_BATCH_ROWS:
                cur.executemany(statement, batch)
                batch.clear()
        if batch:
            cur.executemany(statement, batch)
        conn.commit()
        row_counter.add(n)
    finally:
        conn.close()


def _bulk_execute(
    df: DataFrame, statement: str, col_positions: list[int], connection_factory: Callable
) -> int:
    """Execute ``statement`` once per row of ``df`` through every
    partition's own connection; returns the rows written, counted in the
    same pass."""
    dtypes = [f.dataType for f in df.schema.fields]
    counter = df.sparkSession.sparkContext.accumulator(0)
    df.foreachPartition(
        lambda rows: _executemany_partition(
            rows, statement, dtypes, col_positions, connection_factory, counter
        )
    )
    return counter.value


def insert_parquet(
    spark: SparkSession,
    parquet_path: str,
    table: str,
    *,
    connection_factory: Callable | None = None,
    jdbc_url: str | None = None,
    jdbc_options: dict | None = None,
) -> int:
    """The ``insert`` subcommand: parquet file -> bulk INSERT.

    Returns the number of rows written. Exactly one backend must be given:
    ``jdbc_url`` (Spark JDBC writer) or ``connection_factory`` (PEP-249).
    """
    df = spark.read.parquet(parquet_path)
    validate_insertable_schema(df.schema)
    if jdbc_url is not None:
        # Spark's JDBC writer reports no row count; sum the footers of the
        # files the write will read instead of running a count() job
        n = footer_row_count(df)
        (
            df.write.format("jdbc")
            .mode("append")
            .option("url", jdbc_url)
            .option("dbtable", table)
            .option("batchsize", DEFAULT_WRITE_BATCH_ROWS)
            .options(**(jdbc_options or {}))
            .save()
        )
        return n
    if connection_factory is None:
        raise ValueError("need jdbc_url or connection_factory")
    statement = generate_insert_statement(table, df.columns)
    return _bulk_execute(df, statement, list(range(len(df.columns))), connection_factory)


def execute_parquet(
    spark: SparkSession,
    parquet_path: str,
    statement: str,
    *,
    connection_factory: Callable,
) -> int:
    """The ``exec`` subcommand: named ``?col?`` placeholders bound to
    parquet columns, statement executed once per row in bulk batches."""
    positional, names = to_positional(statement)
    df = spark.read.parquet(parquet_path)
    validate_insertable_schema(df.schema)
    col_index = {c: i for i, c in enumerate(df.columns)}
    missing = [n for n in names if n not in col_index]
    if missing:
        raise PlaceholderError(
            f"placeholder column(s) not in parquet file: {', '.join(missing)}"
        )
    positions = [col_index[n] for n in names]
    return _bulk_execute(df, positional, positions, connection_factory)
