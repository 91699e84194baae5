"""CLI parity with the reference's subcommands (reference src/main.rs:49-78).

    python -m odbc2parquet_spark query  [opts] OUT.par SQL [params...]
    python -m odbc2parquet_spark insert [opts] IN.par TABLE
    python -m odbc2parquet_spark exec   [opts] IN.par STATEMENT
    python -m odbc2parquet_spark list-drivers
    python -m odbc2parquet_spark list-data-sources
    python -m odbc2parquet_spark completions

Where the reference connects via ODBC (DSN / connection string,
src/connection.rs:36-88), this engine's sources are either a JDBC URL
(``--jdbc-url``; Spark reads through the driver with pushdown) or a
directory of parquet tables registered as views (``--tables-dir`` — Spark
IS the DBMS). SQL text is taken verbatim, ``?`` params bind positionally
against ``--tables-dir`` (src/query.rs:63-66 -> spark.sql args; a JDBC
read cannot bind them, so params with ``--jdbc-url`` are an error), ``-``
reads the statement from stdin (src/query.rs:118-126).
"""

from __future__ import annotations

import argparse
import json
import sys


def _add_connection_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--jdbc-url", help="JDBC URL of a remote source")
    p.add_argument(
        "--dsn",
        default=None,
        help="data source name resolved through the DSN alias file "
        "(reference src/connection.rs:18-22; may not be combined with "
        "--jdbc-url, exactly like dsn vs connection string there)",
    )
    p.add_argument("--user", default=None)
    p.add_argument("--password", default=None)
    p.add_argument(
        "--prompt",
        action="store_true",
        help="reference parity flag (connection.rs:11-14): interactively "
        "complete the connection string. The reference supports it only "
        "on Windows (driver-manager dialog) and errors elsewhere; this "
        "engine has no driver-manager dialog, so it always errors with "
        "the supported alternatives.",
    )


def _resolve_connection(args: argparse.Namespace) -> None:
    """Apply the reference's dsn/connection-string rules in place
    (src/connection.rs:11-31: ``conflicts_with``, dsn-side credentials):
    ``--dsn`` is mutually exclusive with ``--jdbc-url``; on resolve it
    fills ``jdbc_url`` from the alias file, with explicit ``--user`` /
    ``--password`` flags overriding the alias's stored defaults."""
    if getattr(args, "prompt", False):
        if args.dsn is not None:
            # the reference declares prompt conflicts_with dsn
            raise SystemExit("--prompt may not be combined with --dsn.")
        raise SystemExit(
            "--prompt (interactive connection completion) is a Windows "
            "driver-manager dialog in the reference and has no analogue "
            "here; pass --dsn NAME (alias file) or --jdbc-url instead."
        )
    if args.dsn is None:
        return
    if args.jdbc_url:
        raise SystemExit(
            "Data source name (--dsn) and connection string (--jdbc-url) "
            "may not be specified both."
        )
    from odbc2parquet_spark.sources.dsn import resolve_dsn

    try:
        entry = resolve_dsn(args.dsn)
    except ValueError as exc:
        raise SystemExit(str(exc))
    args.jdbc_url = entry["url"]
    if args.user is None:
        args.user = entry.get("user")
    if args.password is None:
        args.password = entry.get("password")


def _add_sink_args(p: argparse.ArgumentParser) -> None:
    from odbc2parquet_spark.sinks.parquet_sink import parse_bytesize

    # flag names follow the reference CLI (src/main.rs); defaults match.
    # Byte-valued flags take the reference's SI-unit strings ('2GiB',
    # '600Mb' — main.rs:97-105, 134-139) as well as plain byte counts.
    p.add_argument("--batch-size-row", type=int, default=None)
    p.add_argument("--batch-size-memory", type=parse_bytesize, default=None)
    p.add_argument("--row-groups-per-file", type=int, default=0)
    p.add_argument("--file-size-threshold", type=parse_bytesize, default=0)
    p.add_argument("--suffix-length", type=int, default=2)
    p.add_argument("--no-empty-file", action="store_true")
    p.add_argument("--single-file", action="store_true")
    p.add_argument("--column-compression-default", default="zstd")
    p.add_argument(
        "--column-compression-level-default",
        type=int,
        default=None,
        help="compression level for the chosen codec (reference "
        "src/main.rs:160-168; zstd levels 1-22, default left to the codec)",
    )
    p.add_argument(
        "--parquet-column-encoding",
        action="append",
        default=[],
        metavar="COLUMN:ENCODING",
        help="per-column encoding (plain, delta-binary-packed, ...)",
    )
    p.add_argument("--avoid-decimal", action="store_true")
    p.add_argument(
        "--prefer-varbinary",
        action="store_true",
        help="accepted for CLI parity; changes nothing here: Spark writes "
        "every binary column as variable-length BYTE_ARRAY already",
    )
    p.add_argument("--column-length-limit", type=int, default=None)
    p.add_argument(
        "--length-limit-action",
        choices=["error", "truncate"],
        default="error",
        help="exceeding --column-length-limit fails loudly by default "
        "(matching the reference's truncation error); 'truncate' opts into "
        "silent shortening",
    )
    p.add_argument(
        "--driver-does-not-support-64bit-integers",
        action="store_true",
        help="accepted for CLI parity; changes nothing here: the reference "
        "changes only its decimal fetch path, and the target types are the "
        "same",
    )
    p.add_argument("--partition-by", action="append", default=[], metavar="COLUMN",
                   help="hive-style output partitioning (directory mode)")
    p.add_argument("--cluster-by", action="append", default=[], metavar="COLUMN",
                   help="range-cluster output files on COLUMN (directory mode)")
    p.add_argument(
        "--sequential-fetching",
        action="store_true",
        help="accepted for CLI parity; Spark pipelines fetch+write regardless",
    )
    p.add_argument(
        "--encoding",
        default="auto",
        help="accepted for CLI parity; JVM strings are encoding-managed",
    )


def _add_dbapi_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "--dbapi",
        help="PEP-249 module name for the write-back target (e.g. sqlite3)",
    )
    p.add_argument(
        "--dbapi-connect",
        help="argument passed to MODULE.connect(...) on each executor",
    )


def _connection_factory(module_name: str, connect_arg: str | None):
    def factory():
        import importlib

        mod = importlib.import_module(module_name)
        return mod.connect(connect_arg) if connect_arg else mod.connect()

    return factory


def _parse_encodings(pairs: list[str]) -> dict[str, str] | None:
    if not pairs:
        return None
    out = {}
    for pair in pairs:
        col, _, enc = pair.partition(":")
        if not enc:
            raise SystemExit(f"--parquet-column-encoding expects COLUMN:ENCODING, got {pair!r}")
        out[col] = enc
    return out


#: verbosity count -> Spark log level (reference src/main.rs:29-44 maps
#: -q and -v counts onto env_logger filters; log4j is the JVM analogue)
VERBOSITY_LEVELS = {0: "ERROR", 1: "WARN", 2: "INFO", 3: "DEBUG"}


def log_level_for(verbose: int, quiet: bool) -> str:
    """-q silences everything; each -v opens one tier, capped at DEBUG."""
    if quiet:
        return "OFF"
    return VERBOSITY_LEVELS[min(verbose, max(VERBOSITY_LEVELS))]


def _build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="odbc2parquet_spark")
    ap.add_argument(
        "-v",
        "--verbose",
        action="count",
        default=0,
        help="increase log verbosity (-v WARN, -vv INFO, -vvv DEBUG); "
        "default shows errors only",
    )
    ap.add_argument(
        "-q",
        "--quiet",
        action="store_true",
        help="suppress all logging (wins over -v, like the reference)",
    )
    ap.add_argument(
        "--no-color",
        action="store_true",
        help="accepted for CLI parity; Spark's log4j output is uncolored",
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="SQL -> parquet")
    q.add_argument("--tables-dir", help="directory of <table>.parquet files to register")
    _add_connection_args(q)
    _add_sink_args(q)
    q.add_argument("out", help="output path (.par file or directory)")
    q.add_argument("sql", help="SQL text, or - for stdin")
    q.add_argument("params", nargs="*", help="positional ? parameters")

    ins = sub.add_parser("insert", help="parquet -> table append")
    _add_connection_args(ins)
    _add_dbapi_args(ins)
    ins.add_argument("input", help="input parquet path")
    ins.add_argument("table", help="target table name")

    ex = sub.add_parser("exec", help="parquet columns bound to ?col? placeholders")
    _add_dbapi_args(ex)
    ex.add_argument("input", help="input parquet path")
    ex.add_argument("statement", help="SQL with ?col? named placeholders")

    sub.add_parser("list-drivers")
    sub.add_parser("list-data-sources")
    comp = sub.add_parser("completions", help="emit a shell completion script")
    comp.add_argument(
        "shell",
        nargs="?",
        default="bash",
        choices=["bash", "zsh", "fish", "powershell", "elvish"],
    )
    return ap


def _completion_data(ap: argparse.ArgumentParser) -> dict[str, list[str]]:
    """Subcommand -> option strings, walked from the argparse tree."""
    out: dict[str, list[str]] = {}
    for action in ap._actions:
        if isinstance(action, argparse._SubParsersAction):
            for name, sp in action.choices.items():
                opts = sorted(
                    {o for a in sp._actions for o in a.option_strings if o.startswith("--")}
                )
                out[name] = opts
    return out


def _emit_completions(ap: argparse.ArgumentParser, shell: str) -> str:
    """Generate a completion script (reference src/main.rs:363-367 emits
    clap-generated scripts; this walks the argparse tree the same way)."""
    data = _completion_data(ap)
    subs = " ".join(data)
    if shell == "zsh":
        lines = ["#compdef odbc2parquet_spark", "_odbc2parquet_spark() {"]
        lines.append('  local -a subs; subs=(%s)' % " ".join(data))
        lines.append("  if (( CURRENT == 2 )); then")
        lines.append('    _describe "subcommand" subs; return')
        lines.append("  fi")
        lines.append("  case $words[2] in")
        for name, opts in data.items():
            lines.append(f"    {name}) _arguments {' '.join(repr(o) for o in opts)} ;;")
        lines.append("  esac")
        lines.append("}")
        lines.append("_odbc2parquet_spark")
        return "\n".join(lines)
    if shell == "fish":
        lines = []
        for name in data:
            lines.append(
                "complete -c odbc2parquet_spark -n '__fish_use_subcommand' "
                f"-a {name}"
            )
        for name, opts in data.items():
            for o in opts:
                lines.append(
                    f"complete -c odbc2parquet_spark -n "
                    f"'__fish_seen_subcommand_from {name}' -l {o[2:]}"
                )
        return "\n".join(lines)
    if shell == "powershell":
        lines = [
            "Register-ArgumentCompleter -Native -CommandName odbc2parquet_spark "
            "-ScriptBlock {",
            "    param($wordToComplete, $commandAst, $cursorPosition)",
            "    $subs = @{",
        ]
        for name, opts in data.items():
            joined = ", ".join(f"'{o}'" for o in opts)
            lines.append(f"        '{name}' = @({joined})")
        lines.append("    }")
        lines.append("    $words = $commandAst.CommandElements | "
                     "ForEach-Object { $_.ToString() }")
        lines.append("    if ($words.Count -le 2) { "
                     "$subs.Keys | Where-Object { $_ -like \"$wordToComplete*\" } }")
        lines.append("    elseif ($subs.ContainsKey($words[1])) { "
                     "$subs[$words[1]] | Where-Object { $_ -like \"$wordToComplete*\" } }")
        lines.append("}")
        return "\n".join(lines)
    if shell == "elvish":
        lines = ["set edit:completion:arg-completer[odbc2parquet_spark] = {|@words|"]
        lines.append("  if (== (count $words) 2) {")
        lines.append("    put " + " ".join(data))
        lines.append("  } else {")
        lines.append("    var sub = $words[1]")
        first = True
        for name, opts in data.items():
            kw = "if" if first else "} elif"
            first = False
            lines.append(f"    {kw} (eq $sub {name}) {{")
            lines.append("      put " + (" ".join(opts) if opts else "''"))
        lines.append("    }")
        lines.append("  }")
        lines.append("}")
        return "\n".join(lines)
    # bash
    lines = ["_odbc2parquet_spark() {", '  local cur prev subs="%s"' % subs]
    lines.append('  cur="${COMP_WORDS[COMP_CWORD]}"')
    lines.append("  if [[ $COMP_CWORD -eq 1 ]]; then")
    lines.append('    COMPREPLY=( $(compgen -W "$subs" -- "$cur") ); return')
    lines.append("  fi")
    lines.append('  case "${COMP_WORDS[1]}" in')
    for name, opts in data.items():
        lines.append(f'    {name}) COMPREPLY=( $(compgen -W "{" ".join(opts)}" -- "$cur") ) ;;')
    lines.append("  esac")
    lines.append("}")
    lines.append("complete -F _odbc2parquet_spark odbc2parquet_spark")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)

    if args.cmd == "completions":
        print(_emit_completions(parser, args.shell))
        return 0

    # usage errors exit here, before the seconds-long session start
    # a --tables-dir query and a --dbapi insert read no connection flag
    local = {"query": "--tables-dir", "insert": "--dbapi"}.get(args.cmd)
    if local and getattr(args, local[2:].replace("-", "_")):
        if args.jdbc_url or args.dsn:
            raise SystemExit(f"{local} may not be combined with --jdbc-url or --dsn.")
        if args.user is not None or args.password is not None:
            raise SystemExit(
                f"--user and --password need --jdbc-url or --dsn; {local} takes no credentials."
            )
    if getattr(args, "dsn", None) is not None or getattr(args, "prompt", False):
        _resolve_connection(args)
    if args.cmd == "query" and args.params and args.jdbc_url:
        raise SystemExit(
            "Query parameters are not supported with --jdbc-url or --dsn: "
            "Spark's JDBC source sends the SQL text as is and cannot bind ?. "
            "Write the values into the SQL instead."
        )
    if args.cmd == "query":
        if not (args.tables_dir or args.jdbc_url):
            raise SystemExit(
                "Either --dsn, --jdbc-url or --tables-dir must be specified."
            )
        from odbc2parquet_spark.mappings import MappingOptions
        from odbc2parquet_spark.sinks.parquet_sink import SinkOptions, check_options

        mapping = MappingOptions(
            avoid_decimal=args.avoid_decimal,
            column_length_limit=args.column_length_limit,
            length_limit_action=args.length_limit_action,
        )
        sink = SinkOptions(
            compression=args.column_compression_default,
            compression_level=args.column_compression_level_default,
            batch_size_rows=args.batch_size_row,
            batch_memory_bytes=args.batch_size_memory,
            row_groups_per_file=args.row_groups_per_file,
            file_size_threshold=args.file_size_threshold,
            suffix_length=args.suffix_length,
            no_empty_file=args.no_empty_file,
            single_file=args.single_file or args.out.endswith(".par"),
            column_encodings=_parse_encodings(args.parquet_column_encoding),
            partition_by=tuple(args.partition_by),
            cluster_by=tuple(args.cluster_by),
        )
        try:
            check_options(sink, args.out)
        except ValueError as exc:
            raise SystemExit(str(exc))
    if args.cmd == "insert" and not (args.jdbc_url or args.dbapi):
        raise SystemExit("insert needs --dsn, --jdbc-url or --dbapi")
    if args.cmd == "exec" and not args.dbapi:
        raise SystemExit("exec needs --dbapi (a PEP-249 write-back target)")

    from odbc2parquet_spark import session

    spark = session.get_spark("cli")
    spark.sparkContext.setLogLevel(log_level_for(args.verbose, args.quiet))
    if args.verbose and not args.quiet:
        print(f"odbc2parquet_spark: class-data sharing: {session.CDS}", file=sys.stderr)

    if args.cmd == "list-drivers":
        from odbc2parquet_spark.sources.listing import list_drivers

        print(json.dumps(list_drivers(spark)))
        return 0
    if args.cmd == "list-data-sources":
        from odbc2parquet_spark.sources.listing import list_data_sources

        print(json.dumps(list_data_sources(spark)))
        return 0

    if args.cmd == "query":
        from odbc2parquet_spark.engine import Engine

        sql = sys.stdin.read() if args.sql == "-" else args.sql
        if args.tables_dir:
            engine = Engine.for_sf_dir(spark, args.tables_dir)
        else:
            from odbc2parquet_spark.sources.jdbc import ConnectOpts, read_query

            df = read_query(
                spark,
                ConnectOpts(url=args.jdbc_url, user=args.user, password=args.password),
                sql,
            )
            df.createOrReplaceTempView("__jdbc_result__")
            engine = Engine(spark)
            sql = "SELECT * FROM __jdbc_result__"
        if args.out == "-":
            # A8: parquet bytes to stdout (reference parquet_writer.rs:192-230)
            from odbc2parquet_spark.mappings import apply_mapping_options
            from odbc2parquet_spark.sinks.parquet_sink import write_parquet_stdout

            df = apply_mapping_options(engine.query(sql, args.params), mapping)
            write_parquet_stdout(df, sink, column_length_limit=mapping.column_length_limit)
            return 0
        produced = engine.query_to_parquet(
            sql, args.out, params=args.params, sink=sink, mapping=mapping
        )
        print(json.dumps({"written": produced}))
        return 0

    if args.cmd in ("insert", "exec"):
        from odbc2parquet_spark.sinks.writeback import execute_parquet, insert_parquet

        factory = (
            _connection_factory(args.dbapi, args.dbapi_connect) if args.dbapi else None
        )
        if args.cmd == "insert":
            jdbc_options = {}
            if args.user:
                jdbc_options["user"] = args.user
            if args.password:
                jdbc_options["password"] = args.password
            n = insert_parquet(
                spark,
                args.input,
                args.table,
                jdbc_url=args.jdbc_url,
                jdbc_options=jdbc_options or None,
                connection_factory=factory,
            )
        else:
            n = execute_parquet(
                spark, args.input, args.statement, connection_factory=factory
            )
        print(json.dumps({"rows": n}))
        return 0

    raise SystemExit(f"unknown command {args.cmd}")  # pragma: no cover


if __name__ == "__main__":
    sys.exit(main())
