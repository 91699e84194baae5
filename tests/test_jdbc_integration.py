"""End-to-end JDBC roundtrip through a real JDBC URL (embedded Derby).

Closes the one previously-untested backend branch: the reference's whole
purpose is DBMS <-> parquet transfer over a live connection (reference
src/query.rs:90-91 ships the SQL verbatim; src/insert.rs:14-66 bulk-inserts
parquet into a table). The DBAPI tests in test_writeback.py cover the
executemany path; these cover the Spark-native JDBC reader/writer
(sources/jdbc.py, writeback.insert_parquet jdbc_url branch) against Apache
Derby, which ships on Spark's own classpath (used for the Hive metastore),
so no driver jar needs to be vendored.

Derby embedded is single-JVM — exactly the local[32] test topology, where
driver and executor threads share the JVM. On a real cluster the same code
points at a networked DBMS; nothing here is Derby-specific beyond the URL.
"""

import datetime
import decimal

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import types as T

from odbc2parquet_spark.sinks.writeback import insert_parquet
from odbc2parquet_spark.sources.jdbc import ConnectOpts, read_query

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


pytestmark = pytest.mark.slow  # excluded from the default profile (pytest.ini)


@pytest.fixture(scope="module")
def derby_url(tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "smoke_db"
    return f"jdbc:derby:{db};create=true"


def _connect(url):
    return ConnectOpts(url=url, driver=DERBY_DRIVER)


@pytest.fixture()
def typed_parquet(spark, tmp_path):
    """FIXTURES.md F11 shape minus BINARY (Derby's dialect maps BinaryType
    to BLOB but Spark's writer binds it as BYTES — covered by the sqlite
    DBAPI roundtrip instead)."""
    schema = T.StructType(
        [
            T.StructField("b", T.BooleanType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("f", T.DoubleType()),
            T.StructField("d", T.DecimalType(10, 2)),
            T.StructField("s", T.StringType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    rows = [
        (
            True,
            42,
            10**12,
            1.5,
            decimal.Decimal("9.99"),
            "Hello, World!",
            datetime.date(2020, 9, 9),
            datetime.datetime(2020, 9, 16, 3, 54, 12),
        ),
        (False, -1, -(10**12), -2.5, decimal.Decimal("-1.50"), None, None, None),
    ]
    path = str(tmp_path / "typed.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return path


@pytest.mark.slow
class TestDerbyRoundtrip:
    def test_insert_then_query(self, spark, derby_url, typed_parquet):
        """``insert`` subcommand through the Spark JDBC writer, then the
        ``query`` subcommand (SQL text shipped verbatim) reading it back."""
        n = insert_parquet(
            spark,
            typed_parquet,
            "typed_roundtrip",
            jdbc_url=derby_url,
            jdbc_options={"driver": DERBY_DRIVER},
        )
        assert n == 2

        back = read_query(
            spark,
            _connect(derby_url),
            'SELECT * FROM typed_roundtrip ORDER BY "i" DESC',
        )
        rows = back.collect()
        assert len(rows) == 2
        first = rows[0]
        assert first["i"] == 42
        assert first["l"] == 10**12
        assert first["d"] == decimal.Decimal("9.99")
        assert first["s"] == "Hello, World!"
        assert first["dt"] == datetime.date(2020, 9, 9)
        # Derby TIMESTAMP is wall-clock; Spark reads it as TimestampType
        assert rows[1]["s"] is None and rows[1]["dt"] is None

    def test_query_pushdown_and_projection(self, spark, derby_url, typed_parquet):
        """A filtered projection reaches the remote engine as SQL text —
        the defining property of the reference's query subcommand."""
        insert_parquet(
            spark,
            typed_parquet,
            "typed_proj",
            jdbc_url=derby_url,
            jdbc_options={"driver": DERBY_DRIVER},
        )
        df = read_query(
            spark,
            _connect(derby_url),
            'SELECT "i", "f" FROM typed_proj WHERE "b"',
        )
        assert df.columns == ["i", "f"]
        got = df.collect()
        assert [(r["i"], r["f"]) for r in got] == [(42, 1.5)]

    def test_append_accumulates(self, spark, derby_url, typed_parquet):
        """mode=append twice -> both generations present (reference insert
        appends, never truncates)."""
        for _ in range(2):
            insert_parquet(
                spark,
                typed_parquet,
                "typed_append",
                jdbc_url=derby_url,
                jdbc_options={"driver": DERBY_DRIVER},
            )
        back = read_query(
            spark,
            _connect(derby_url),
            'SELECT COUNT(*) AS "n" FROM typed_append',
        )
        assert back.collect()[0]["n"] == 4

    def test_bad_query_surfaces_engine_error(self, spark, derby_url):
        """Engine-side SQL errors propagate (reference: the ODBC diagnostic
        is surfaced verbatim)."""
        with pytest.raises(Py4JJavaError, match="(?i)syntax|not exist|42"):
            read_query(
                spark, _connect(derby_url), "SELECT * FROM no_such_table_xyz"
            ).collect()


@pytest.mark.slow
class TestCliDerbyRoundtrip:
    """The reference user's entry points (`odbc2parquet insert` /
    `odbc2parquet query` against a connection string), end-to-end over a
    real JDBC URL. No explicit driver class: DriverManager resolves
    jdbc:derby: through the service registry, like any vendor URL."""

    def test_insert_then_query_via_cli(
        self, spark, derby_url, typed_parquet, tmp_path, capsys
    ):
        import json

        from odbc2parquet_spark.__main__ import main

        rc = main(["insert", "--jdbc-url", derby_url, typed_parquet, "cli_rt"])
        assert rc == 0
        assert json.loads(capsys.readouterr().out)["rows"] == 2

        out = str(tmp_path / "back.par")
        rc = main(
            [
                "query",
                "--jdbc-url",
                derby_url,
                out,
                'SELECT "i", "s" FROM cli_rt ORDER BY "i"',
            ]
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out)["written"] == [out]

        import pyarrow.parquet as pq

        t = pq.read_table(out)
        assert t.column_names == ["i", "s"]
        assert t.column("i").to_pylist() == [-1, 42]
        assert t.column("s").to_pylist() == [None, "Hello, World!"]


class TestDsnDerbyRoundtrip:
    """`query --dsn NAME` resolving through the alias registry to a live
    JDBC URL — the full reference workflow a `--dsn`-based invocation
    ports to (connection.rs:36-47: connect by DSN, then run the query)."""

    def test_query_via_dsn_alias(
        self, spark, derby_url, typed_parquet, tmp_path, monkeypatch, capsys
    ):
        import json

        from odbc2parquet_spark.__main__ import main

        rc = main(["insert", "--jdbc-url", derby_url, typed_parquet, "dsn_rt"])
        assert rc == 0
        capsys.readouterr()

        alias = tmp_path / "dsn.json"
        alias.write_text(json.dumps({"warehouse": {"url": derby_url}}))
        monkeypatch.setenv("ODBC2PARQUET_SPARK_DSN_FILE", str(alias))

        out = str(tmp_path / "via_dsn.par")
        rc = main(
            ["query", "--dsn", "warehouse", out,
             'SELECT "i", "s" FROM dsn_rt ORDER BY "i"']
        )
        assert rc == 0
        assert json.loads(capsys.readouterr().out)["written"] == [out]

        import pyarrow.parquet as pq

        t = pq.read_table(out)
        assert t.column("i").to_pylist() == [-1, 42]
