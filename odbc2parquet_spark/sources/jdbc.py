"""JDBC source/sink wrappers — the direct analogue of the reference's ODBC
connection layer (reference src/connection.rs:36-88, src/query.rs:90-91).

The reference connects by DSN / connection string / interactive prompt and
ships the SQL text to the remote DBMS. Spark's JDBC source is the same
contract: the ``query`` option pushes the text verbatim to the remote
engine, schema inference comes from ResultSetMetaData via the dialect
(the reference's ConversionStrategy::new, conversion_strategy.rs:30-88).

No JDBC driver jar ships in this container, so these helpers build the
reader/writer configuration (testable) and fail with a clear message only
at `.load()` time if the driver class is absent.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class ConnectOpts:
    """Connection resolution (reference connection.rs:36-88): explicit
    connection string wins; else DSN-style url; user/password appended
    separately (never interpolated into the url)."""

    url: str  # jdbc:postgresql://... — the "connection string"
    user: str | None = None
    password: str | None = None
    driver: str | None = None  # driver class, e.g. org.postgresql.Driver

    def to_options(self) -> dict:
        return {k: v for k, v in vars(self).items() if v is not None}


#: rows per JDBC fetch: the reference's bulk batch (batch_size_limit.rs:6-15)
FETCH_SIZE = 65_535


def read_query(spark: SparkSession, connect: ConnectOpts, query: str) -> DataFrame:
    """Read ``query`` through one JDBC cursor; the text reaches the remote
    engine verbatim."""
    return (
        spark.read.format("jdbc")
        .options(**connect.to_options())
        .option("fetchsize", FETCH_SIZE)
        .option("query", query)
        .load()
    )
