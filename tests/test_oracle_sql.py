"""The DuckDB oracles, checked without Spark.

Every oracle must plan in DuckDB over the sf0.001 tables, so a broken
composition of shared CTEs (a lost comma, a misspelled CTE name) fails
here and not in the next full oracle sweep. And each oracle computation
is written once: no run of string-literal lines in ``queries/`` may be
pasted at a second place.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import duckdb

from odbc2parquet_spark.catalog import TABLES, table_path
from odbc2parquet_spark.queries import ORACLES

QUERIES_DIR = Path(__file__).resolve().parent.parent / "odbc2parquet_spark" / "queries"
WINDOW = 10


def test_every_oracle_plans_in_duckdb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    errors = []
    for name, sql in ORACLES.items():
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as e:
            errors.append(f"{name}: {e}")
    assert not errors, "\n".join(errors)


def _string_lines(path: Path) -> tuple[list[str], set[int]]:
    """(stripped source lines, 1-based numbers of lines inside a string literal)."""
    src = path.read_text()
    inside: set[int] = set()
    for node in ast.walk(ast.parse(src, str(path))):
        if isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
        ):
            inside.update(range(node.lineno, node.end_lineno + 1))
    return [line.strip() for line in src.splitlines()], inside


def repeated_windows() -> list[tuple[str, str]]:
    """(later ``file:line``, earlier ``file:line``) for the first window of
    every run of string-literal lines that appears at two places."""
    first: dict[tuple[str, ...], str] = {}
    repeats = []
    for path in sorted(QUERIES_DIR.glob("*.py")):
        lines, inside = _string_lines(path)
        prev_repeated = False
        for i in range(1, len(lines) - WINDOW + 2):
            window = tuple(lines[i - 1 : i - 1 + WINDOW])
            repeated = False
            if all(k in inside for k in range(i, i + WINDOW)) and sum(map(bool, window)) >= WINDOW - 1:
                here = f"{path.name}:{i}"
                if window in first:
                    repeated = True
                    if not prev_repeated:
                        repeats.append((here, first[window]))
                else:
                    first[window] = here
            prev_repeated = repeated
    return repeats


def test_no_oracle_sql_is_pasted_twice():
    repeats = repeated_windows()
    assert not repeats, (
        f"{WINDOW} string-literal lines repeat; compose the shared CTE instead: "
        + ", ".join(f"{a} repeats {b}" for a, b in repeats)
    )
