"""CLI parity surface: python -m odbc2parquet_spark <subcommand>."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from odbc2parquet_spark.__main__ import main


def test_cli_query_single_file(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "out.par")
    rc = main(
        [
            "query",
            "--tables-dir", sf_dir,
            out,
            "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
        ]
    )
    assert rc == 0
    written = json.loads(capsys.readouterr().out)["written"]
    assert written == [out] and os.path.isfile(out)
    t = pq.read_table(out)
    assert t.num_rows == 5 and t.column_names == ["r_regionkey", "r_name"]


def test_cli_query_params_and_stdin_flagparity(spark, sf_dir, tmp_path, capsys, monkeypatch):
    # "-" reads the statement from stdin (src/query.rs:118-126); the ?
    # parameters still bind against it
    import io

    monkeypatch.setattr(
        "sys.stdin", io.StringIO("SELECT n_nationkey FROM nation WHERE n_regionkey = ?")
    )
    out = str(tmp_path / "o")
    rc = main(
        [
            "query",
            "--tables-dir", sf_dir,
            "--column-compression-default", "snappy",
            "--sequential-fetching",  # parity no-ops
            "--prefer-varbinary",
            "--driver-does-not-support-64bit-integers",
            out,
            "-",
            "2",
        ]
    )
    assert rc == 0
    produced = json.loads(capsys.readouterr().out)["written"]
    assert produced == [out]
    assert spark.read.parquet(out).count() == 5


def test_cli_tables_dir_registers_every_parquet_file(spark, tmp_path, capsys):
    """--tables-dir registers every <name>.parquet as a view, not only the
    test corpus's table names."""
    tables = tmp_path / "tables"
    spark.range(7).selectExpr("id", "id * 2 AS amount").coalesce(1).write.parquet(
        str(tables / "sales.parquet")
    )
    spark.range(3).coalesce(1).write.parquet(str(tables / "sales-2024.parquet"))
    (tables / "notes.txt").write_text("not a table")
    out = str(tmp_path / "sales.par")
    rc = main(
        ["query", "--tables-dir", str(tables), out,
         "SELECT SUM(amount) AS total, (SELECT COUNT(*) FROM `sales-2024`) AS n FROM sales"]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["written"] == [out]
    assert pq.read_table(out).to_pylist() == [{"total": 42, "n": 3}]


def test_every_query_option_is_set_by_the_cli_and_read():
    """No dead option: each field of SinkOptions and MappingOptions is a
    keyword where __main__.py builds that object, and some module of the
    package other than __main__.py reads it as an attribute."""
    import ast
    import dataclasses
    import glob

    import odbc2parquet_spark
    from odbc2parquet_spark.mappings import MappingOptions
    from odbc2parquet_spark.sinks.parquet_sink import SinkOptions

    passed: dict[str, set[str]] = {"SinkOptions": set(), "MappingOptions": set()}
    read: set[str] = set()
    pkg = os.path.dirname(odbc2parquet_spark.__file__)
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if os.path.basename(path) == "__main__.py":
                if isinstance(node, ast.Call) and getattr(node.func, "id", None) in passed:
                    passed[node.func.id] |= {kw.arg for kw in node.keywords}
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    dead = []
    for cls in (SinkOptions, MappingOptions):
        for f in dataclasses.fields(cls):
            if f.name not in passed[cls.__name__]:
                dead.append(f"{cls.__name__}.{f.name}: no CLI flag sets it")
            if f.name not in read:
                dead.append(f"{cls.__name__}.{f.name}: nothing reads it")
    assert not dead, dead


def test_cli_exec_via_sqlite(spark, sf_dir, tmp_path, capsys):
    import sqlite3

    src = str(tmp_path / "in")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).coalesce(1).write.parquet(src)
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE target (k INTEGER, v TEXT)")
    rc = main(
        ["exec", "--dbapi", "sqlite3", "--dbapi-connect", db,
         src, "INSERT INTO target (k, v) VALUES (?k?, ?v?)"]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 2
    with sqlite3.connect(db) as c:
        assert sorted(c.execute("SELECT k, v FROM target").fetchall()) == [(1, "a"), (2, "b")]


def test_cli_list_drivers(spark, capsys):
    assert main(["list-drivers"]) == 0
    assert isinstance(json.loads(capsys.readouterr().out), list)


def test_cli_avoid_decimal_remaps_output_types(spark, sf_dir, tmp_path, capsys):
    # mirror of the reference's decimal CLI cluster (tests/integration.rs
    # decimal cases): --avoid-decimal turns scale-0 decimals of p <= 18
    # into integers, keeps wider ones decimal and turns scaled decimals
    # into exact decimal text
    out = str(tmp_path / "dec.par")
    rc = main(
        [
            "query",
            "--tables-dir", sf_dir,
            "--avoid-decimal",
            out,
            "SELECT CAST(o_orderkey AS DECIMAL(9,0)) AS key_dec9, "
            "       CAST(o_orderkey AS DECIMAL(15,0)) AS key_dec, "
            "       CAST(o_orderkey AS DECIMAL(25,0)) AS key_dec25, "
            "       CAST(o_totalprice AS DECIMAL(12,2)) AS price_dec "
            "FROM orders WHERE o_orderkey <= 10",
        ]
    )
    assert rc == 0
    t = pq.read_table(json.loads(capsys.readouterr().out)["written"][0])
    assert t.schema.field("key_dec9").type == "int32"
    assert t.schema.field("key_dec").type == "int64"
    assert t.schema.field("key_dec25").type == pa.decimal128(25, 0)
    assert t.schema.field("price_dec").type == "string"
    # exact decimal rendering, not float repr
    assert "." in t.column("price_dec")[0].as_py()


def test_cli_column_length_limit_errors(spark, sf_dir, tmp_path):
    import pytest

    out = str(tmp_path / "lim.par")
    with pytest.raises(Exception, match="maximum element length"):
        main(
            [
                "query",
                "--tables-dir", sf_dir,
                "--column-length-limit", "3",
                out,
                "SELECT r_name FROM region",
            ]
        )


def test_cli_column_length_limit_truncate_opt_in(spark, sf_dir, tmp_path, capsys):
    out = str(tmp_path / "trunc.par")
    rc = main(
        [
            "query",
            "--tables-dir", sf_dir,
            "--column-length-limit", "3",
            "--length-limit-action", "truncate",
            out,
            "SELECT r_name FROM region ORDER BY r_regionkey",
        ]
    )
    assert rc == 0
    t = pq.read_table(json.loads(capsys.readouterr().out)["written"][0])
    assert all(len(v.as_py()) <= 3 for v in t.column("r_name"))


def test_cli_completions_scripts(capsys):
    rc = main(["completions", "bash"])
    assert rc == 0
    bash = capsys.readouterr().out
    assert "complete -F _odbc2parquet_spark" in bash
    assert "--avoid-decimal" in bash and "query" in bash
    rc = main(["completions", "zsh"])
    assert rc == 0
    zsh = capsys.readouterr().out
    assert zsh.startswith("#compdef") and "--column-length-limit" in zsh


def test_cli_completions_all_clap_shells(capsys):
    """Reference emits clap completions for every shell
    (src/main.rs:363-367); fish/powershell/elvish join bash/zsh."""
    rc = main(["completions", "fish"])
    assert rc == 0
    fish = capsys.readouterr().out
    assert "__fish_use_subcommand' -a query" in fish
    assert "__fish_seen_subcommand_from query' -l avoid-decimal" in fish

    rc = main(["completions", "powershell"])
    assert rc == 0
    ps = capsys.readouterr().out
    assert ps.startswith("Register-ArgumentCompleter")
    assert "'--column-compression-level-default'" in ps

    rc = main(["completions", "elvish"])
    assert rc == 0
    elv = capsys.readouterr().out
    assert elv.startswith("set edit:completion:arg-completer")
    assert "--single-file" in elv


def test_cli_verbosity_maps_to_log_levels():
    """-q / -v / -vv / -vvv parity (reference src/main.rs:29-44): counts
    map onto log4j levels, quiet wins, excess -v caps at DEBUG."""
    from odbc2parquet_spark.__main__ import log_level_for

    assert log_level_for(0, False) == "ERROR"
    assert log_level_for(1, False) == "WARN"
    assert log_level_for(2, False) == "INFO"
    assert log_level_for(3, False) == "DEBUG"
    assert log_level_for(9, False) == "DEBUG"
    assert log_level_for(2, True) == "OFF"


def test_cli_global_flags_accepted(spark, sf_dir, tmp_path, capsys):
    """-v/-q/--no-color parse before the subcommand and the query still
    runs (flag placement parity with the reference's global clap args)."""
    out = str(tmp_path / "v.par")
    rc = main(
        ["-v", "--no-color", "query", "--tables-dir", sf_dir, "--single-file",
         out, "SELECT r_regionkey FROM region"]
    )
    assert rc == 0
    assert pq.read_table(out).num_rows == 5
    spark.sparkContext.setLogLevel("ERROR")  # restore for other tests


def test_cli_query_stdout_stream(spark, sf_dir, tmp_path):
    # A8: out='-' streams one parquet file to stdout (pipeable)
    import io
    import sys

    import pyarrow as pa

    buf = io.BytesIO()

    class _Cap:
        buffer = buf

        def write(self, s):
            pass

        def flush(self):
            pass

    old = sys.stdout
    sys.stdout = _Cap()
    try:
        rc = main(
            [
                "query",
                "--tables-dir", sf_dir,
                "-",
                "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
            ]
        )
    finally:
        sys.stdout = old
    assert rc == 0
    t = pq.read_table(pa.BufferReader(buf.getvalue()))
    assert t.num_rows == 5 and t.column_names == ["r_regionkey", "r_name"]


def test_cli_dsn_conflicts_with_jdbc_url(tmp_path):
    """The reference's conflict rule (src/connection.rs:11-22): dsn and
    connection string are mutually exclusive — before any connection or
    Spark work happens."""
    import pytest

    with pytest.raises(SystemExit, match="may not be specified both"):
        main(
            ["query", "--dsn", "x", "--jdbc-url", "jdbc:derby:memory:y",
             "out.par", "SELECT 1"]
        )


def test_cli_jdbc_url_rejects_params():
    """Spark's JDBC source cannot bind ?: params given with --jdbc-url fail
    before any read instead of reaching the database unbound."""
    import pytest

    with pytest.raises(SystemExit, match="not supported with --jdbc-url"):
        main(
            ["query", "--jdbc-url", "jdbc:derby:memory:never", "out.par",
             'SELECT * FROM t WHERE "a" > ?', "5"]
        )


@pytest.mark.parametrize(
    "argv,message",
    [
        pytest.param(["query", "out.par", "SELECT 1"],
                     "Either --dsn, --jdbc-url or --tables-dir", id="query"),
        pytest.param(["insert", "in.par", "t"],
                     "insert needs --dsn, --jdbc-url or --dbapi", id="insert"),
        pytest.param(["exec", "in.par", "DELETE FROM t"], "exec needs --dbapi", id="exec"),
        pytest.param(["query", "--tables-dir", ".", "--parquet-column-encoding", "plain",
                      "out.par", "SELECT 1"], "expects COLUMN:ENCODING", id="encoding"),
        # connection flags a subcommand would silently ignore
        pytest.param(["query", "--tables-dir", ".", "--jdbc-url", "jdbc:derby:memory:x",
                      "out.par", "SELECT 1"], "--tables-dir may not be combined",
                     id="tables-dir-and-jdbc-url"),
        pytest.param(["query", "--tables-dir", ".", "--dsn", "x", "out.par", "SELECT 1"],
                     "--tables-dir may not be combined", id="tables-dir-and-dsn"),
        pytest.param(["insert", "--dbapi", "sqlite3", "--jdbc-url", "jdbc:derby:memory:x",
                      "in.par", "t"], "--dbapi may not be combined", id="dbapi-and-jdbc-url"),
        pytest.param(["insert", "--dbapi", "sqlite3", "--dsn", "x", "in.par", "t"],
                     "--dbapi may not be combined", id="dbapi-and-dsn"),
        *[
            pytest.param([*source, flag, "x", *rest],
                         "--user and --password need --jdbc-url or --dsn",
                         id=f"{source[0]}-{source[1][2:]}{flag}")
            for source, rest in (
                (["query", "--tables-dir", "."], ["out.par", "SELECT 1"]),
                (["insert", "--dbapi", "sqlite3"], ["in.par", "t"]),
            )
            for flag in ("--user", "--password")
        ],
        pytest.param(["insert", "--tables-dir", ".", "--dbapi", "sqlite3", "in.par", "t"],
                     "unrecognized arguments: --tables-dir", id="insert-tables-dir"),
        pytest.param(["exec", "--tables-dir", ".", "--dbapi", "sqlite3", "in.par", "X"],
                     "unrecognized arguments: --tables-dir", id="exec-tables-dir"),
        *[
            pytest.param(["exec", flag, "v", "--dbapi", "sqlite3", "in.par", "X"],
                         f"unrecognized arguments: {flag}", id=f"exec{flag}")
            for flag in ("--jdbc-url", "--dsn", "--user", "--password")
        ],
        # sink rules that depend only on the flags and the output path
        pytest.param(["query", "--tables-dir", ".", "--single-file", "--partition-by", "a",
                      "out", "SELECT 1"], "partition_by not supported in file mode",
                     id="single-file-and-partition-by"),
        pytest.param(["query", "--tables-dir", ".", "--parquet-column-encoding", "a:plain",
                      "--partition-by", "b", "out", "SELECT 1"],
                     "partition_by not supported in column_encodings mode",
                     id="column-encodings-and-partition-by"),
        pytest.param(["query", "--tables-dir", ".", "--parquet-column-encoding", "a:zigzag",
                      "out", "SELECT 1"], "unknown column encodings", id="unknown-encoding"),
        pytest.param(["query", "--tables-dir", ".", "--column-compression-default", "snappy",
                      "--column-compression-level-default", "3", "out", "SELECT 1"],
                     "compression_level is not supported for codec 'snappy'",
                     id="level-without-codec-support"),
        pytest.param(["query", "--tables-dir", ".", "out.par", "SELECT 1"],
                     "is an existing directory", id="file-mode-path-is-directory"),
    ],
)
def test_cli_usage_errors_exit_before_spark(monkeypatch, capsys, tmp_path, argv, message):
    """A usage error exits before the session starts, so the user does
    not wait seconds of JVM start-up to read it. The message is the
    SystemExit's, or argparse's on stderr for a flag the subcommand
    does not take."""
    import re

    from odbc2parquet_spark import session

    def no_session(*a, **k):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    monkeypatch.chdir(tmp_path)
    (tmp_path / "out.par").mkdir()
    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert re.search(message, f"{exc.value} {capsys.readouterr().err}"), exc.value


def test_cli_dsn_unknown_is_actionable(tmp_path, monkeypatch):
    """An unresolvable DSN errors with the file consulted, the aliases
    it defines, and how to register the missing one."""
    import pytest

    alias = tmp_path / "dsn.json"
    alias.write_text('{"warehouse": {"url": "jdbc:derby:memory:wh"}}')
    monkeypatch.setenv("ODBC2PARQUET_SPARK_DSN_FILE", str(alias))
    with pytest.raises(SystemExit) as exc:
        main(["query", "--dsn", "nope", "out.par", "SELECT 1"])
    msg = str(exc.value)
    assert "nope" in msg and str(alias) in msg and "warehouse" in msg


def test_cli_dsn_resolution_and_credentials(tmp_path, monkeypatch):
    """Alias resolution fills jdbc_url + stored credentials; explicit
    --user overrides the alias default (reference: user/password ride
    alongside dsn)."""
    import argparse

    from odbc2parquet_spark.__main__ import _resolve_connection

    alias = tmp_path / "dsn.json"
    alias.write_text(
        '{"wh": {"url": "jdbc:derby:memory:wh", "user": "etl", "password": "s3"},'
        ' "short": "jdbc:derby:memory:short"}'
    )
    monkeypatch.setenv("ODBC2PARQUET_SPARK_DSN_FILE", str(alias))
    ns = argparse.Namespace(dsn="wh", jdbc_url=None, user=None, password=None)
    _resolve_connection(ns)
    assert (ns.jdbc_url, ns.user, ns.password) == ("jdbc:derby:memory:wh", "etl", "s3")
    ns = argparse.Namespace(dsn="wh", jdbc_url=None, user="override", password=None)
    _resolve_connection(ns)
    assert (ns.user, ns.password) == ("override", "s3")
    ns = argparse.Namespace(dsn="short", jdbc_url=None, user=None, password=None)
    _resolve_connection(ns)
    assert ns.jdbc_url == "jdbc:derby:memory:short" and ns.user is None


def test_cli_list_data_sources_includes_dsn_aliases(spark, tmp_path, monkeypatch, capsys):
    alias = tmp_path / "dsn.json"
    alias.write_text('{"wh": {"url": "jdbc:derby:memory:wh"}}')
    monkeypatch.setenv("ODBC2PARQUET_SPARK_DSN_FILE", str(alias))
    assert main(["list-data-sources"]) == 0
    rows = json.loads(capsys.readouterr().out)
    assert {"name": "wh", "type": "DSN", "url": "jdbc:derby:memory:wh"} in rows


def test_cli_prompt_parity_errors(tmp_path):
    """--prompt mirrors the reference's conflict rule (conflicts_with dsn,
    connection.rs:11-14) and errors actionably on this platform, exactly
    as the reference does off-Windows."""
    import pytest

    with pytest.raises(SystemExit, match="may not be combined with --dsn"):
        main(["query", "--prompt", "--dsn", "x", "out.par", "SELECT 1"])
    with pytest.raises(SystemExit, match="--dsn NAME .* or --jdbc-url"):
        main(["query", "--prompt", "out.par", "SELECT 1"])


def test_cli_batch_size_memory_si_units(spark, sf_dir, tmp_path, capsys):
    """--batch-size-memory takes the reference's SI-unit strings
    (main.rs:97-105) and, when given alone, drops the 65,535-row default
    (main.rs:86-91): with a tiny memory cap each batch holds few rows, so
    splitting by row groups produces multiple files."""
    out = str(tmp_path / "o.par")
    rc = main(
        [
            "query",
            "--tables-dir", sf_dir,
            "--batch-size-memory", "16KiB",
            "--row-groups-per-file", "1",
            out,
            "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
        ]
    )
    assert rc == 0
    written = json.loads(capsys.readouterr().out)["written"]
    # 5 rows at ~4 KiB estimated bytes/row -> ~3 rows per batch -> >1 file;
    # the memory-only path must NOT clamp to the 65,535-row default
    assert len(written) > 1
    total = sum(pq.read_table(p).num_rows for p in written)
    assert total == 5


def test_cli_column_length_limit_relieves_batch_memory(spark, sf_dir, tmp_path, capsys):
    """The advice rows_per_batch prints — apply '--column-length-limit' —
    works: a --batch-size-memory below one 4096-byte string row raises,
    and the same memory with --column-length-limit 64 succeeds."""
    import pytest

    flags = ["query", "--tables-dir", sf_dir, "--batch-size-memory", "1KiB"]
    out = str(tmp_path / "o.par")
    sql = "SELECT o_orderkey, o_orderstatus FROM orders"
    with pytest.raises(ValueError, match="--column-length-limit"):
        main([*flags, out, sql])
    assert main([*flags, "--column-length-limit", "64", out, sql]) == 0
    written = json.loads(capsys.readouterr().out)["written"]
    assert pq.read_table(written[0]).num_rows == spark.sql(sql).count()


SPLIT_SQL = (
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,"
    " l_returnflag, l_shipdate, o_orderpriority, o_totalprice, o_orderdate"
    " FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    " WHERE l_shipdate BETWEEN ? AND ?"
)


def test_cli_size_split_export_single_pass(spark, sf_dir, tmp_path, capsys, monkeypatch):
    """A --file-size-threshold export whose length-capped estimate fits
    one file is one Spark job: the staging pass writes one part, so no
    resplit rewrite runs and no resplit staging directory appears."""
    import glob

    import odbc2parquet_spark.engine as engine
    import odbc2parquet_spark.sinks.parquet_sink as sink

    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return store.executionsList().size()

    out = str(tmp_path / "out.par")
    fired, staged = [], []
    write_parquet, finalize = engine.write_parquet, sink._finalize_parts

    def counted_write(*args, **kwargs):
        before = executions()
        produced = write_parquet(*args, **kwargs)
        fired.append(executions() - before)
        return produced

    def finalize_seen(parts, path, opts, staging):
        staged.append((staging, sorted(glob.glob(out + ".__staging*"))))
        return finalize(parts, path, opts, staging)

    monkeypatch.setattr(engine, "write_parquet", counted_write)
    monkeypatch.setattr(sink, "_finalize_parts", finalize_seen)
    params = ["1995-01-01", "1995-12-31"]
    rc = main(
        [
            "query",
            "--tables-dir", sf_dir,
            "--file-size-threshold", "4MiB",
            "--avoid-decimal",
            "--column-length-limit", "64",
            out,
            SPLIT_SQL,
            *params,
        ]
    )
    assert rc == 0
    written = json.loads(capsys.readouterr().out)["written"]
    assert written == [str(tmp_path / "out_01.par")]
    assert os.listdir(tmp_path) == ["out_01.par"]
    assert fired == [1]
    assert staged == [(out + ".__staging__", [out + ".__staging__"])]
    rows = pq.ParquetFile(written[0]).metadata.num_rows
    assert rows == spark.sql(SPLIT_SQL, args=params).count() > 0
