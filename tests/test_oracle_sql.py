"""The DuckDB oracles, checked without Spark, and the copy guards.

Every oracle must plan in DuckDB over the sf0.001 tables, so a broken
composition of shared CTEs (a lost comma, a misspelled CTE name) fails
here and not in the next full oracle sweep. And each computation is
written once: no run of 6 string-literal lines in ``queries/``, and no
run of 6 code lines anywhere in the package, may be pasted at a second
place; and the md5 hash family is spelled in one module,
``functions/hashing.py``, the only place that calls ``conv``.

The idioms the Spark side shares with the oracles (the md5 hash, the
whitespace words, the dedup normal form, the dot product and the squared
norm) are spelled once per engine: each oracle builds them from the
``_sql`` twin beside the Spark helper, so no string literal in
``queries/`` spells one inline, and no code outside ``text.words`` splits
on spaces and filters the empty pieces. ``test_sql_twins.py`` checks that
each pair agrees.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import duckdb

from odbc2parquet_spark.catalog import TABLES, table_path
from odbc2parquet_spark.queries import ORACLES

PACKAGE_DIR = Path(__file__).resolve().parent.parent / "odbc2parquet_spark"
QUERIES_DIR = PACKAGE_DIR / "queries"
WINDOW = 6


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


# Runs of 6 code lines that repeat, keyed by the top-level definitions
# holding the later and the earlier copy. Only a parameter list shared by
# two different algorithms belongs here: a repeated computation is folded
# into a helper.
COPIES_ALLOWED: dict[tuple[str, str], str] = {}


def _code_lines(path: Path) -> list[tuple[int, str, str]]:
    """(line number, stripped text, enclosing top-level definition) of
    every code line: not blank, not a comment, not inside a docstring."""
    src = path.read_text()
    tree = ast.parse(src, str(path))
    docstring: set[int] = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            docstring.update(range(body[0].lineno, body[0].end_lineno + 1))
    owner: dict[int, str] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            owner.update(dict.fromkeys(range(node.lineno, node.end_lineno + 1), node.name))
    name = path.relative_to(PACKAGE_DIR).as_posix()
    return [
        (i, line.strip(), f"{name}:{owner.get(i, '<module>')}")
        for i, line in enumerate(src.splitlines(), 1)
        if line.strip() and not line.strip().startswith("#") and i not in docstring
    ]


def repeated_code() -> list[tuple[str, str, tuple[str, str]]]:
    """(later ``file:line``, earlier ``file:line``, (later definition,
    earlier definition)) for the first window of every run of code lines
    in the package that appears at two places."""
    first: dict[tuple[str, ...], tuple[str, str]] = {}
    repeats = []
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        lines = _code_lines(path)
        name = path.relative_to(PACKAGE_DIR).as_posix()
        prev_repeated = False
        for k in range(len(lines) - WINDOW + 1):
            window = tuple(text for _, text, _ in lines[k : k + WINDOW])
            here = (f"{name}:{lines[k][0]}", lines[k][2])
            repeated = window in first
            if repeated and not prev_repeated:
                there = first[window]
                repeats.append((here[0], there[0], (here[1], there[1])))
            elif not repeated:
                first[window] = here
            prev_repeated = repeated
    return repeats


def test_no_package_code_is_pasted_twice():
    new = [(a, b) for a, b, key in repeated_code() if key not in COPIES_ALLOWED]
    assert not new, (
        f"{WINDOW} code lines repeat in the package; share a helper instead: "
        + ", ".join(f"{a} repeats {b}" for a, b in new)
    )


def test_copy_allowlist_has_no_stale_entry():
    stale = set(COPIES_ALLOWED) - {key for _, _, key in repeated_code()}
    assert not stale, f"no longer repeated, drop from COPIES_ALLOWED: {sorted(stale)}"


def test_only_the_hash_module_calls_conv():
    """Every md5-derived hash is built by ``functions/hashing.py``; a
    ``conv`` call anywhere else is a second spelling of the hash family."""
    hashing = PACKAGE_DIR / "functions" / "hashing.py"
    calls = [
        f"{path.relative_to(PACKAGE_DIR).as_posix()}:{node.lineno}"
        for path in sorted(PACKAGE_DIR.rglob("*.py"))
        if path != hashing
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None)) == "conv"
    ]
    assert not calls, "hash through functions/hashing.py instead: " + ", ".join(calls)


# The idioms the Spark side and the oracles share, as DuckDB spells them;
# an oracle builds each from the twin named here instead.
IDIOMS = {
    "md5 hash (functions/hashing.md5_long_sql, hex_long_sql)": r"CAST\(\s*'0x'\s*\|\|",
    "whitespace words (operators/text.words_sql)": (
        r"string_split\([^()]*,\s*' '\)\s*,\s*(\w+)\s*->\s*\1\s*(?:!=|<>)\s*''"
    ),
    "dedup normal form (operators/text.DEDUP_NORMAL_FORM_SQL)": r"regexp_replace\(\s*lower\(",
    "dot product (operators/similarity.dot_sql)": (
        r"(\w+)\[1\]\s+AS\s+DOUBLE\s*\)\s*\*\s*(?:CAST\(\s*)?\1\[2\]"
    ),
    "squared norm (operators/similarity.norm_sq_sql)": (
        r"(\w+)\s*->\s*CAST\(\s*\1\s+AS\s+DOUBLE\s*\)\s*\*\s*CAST\(\s*\1\s+AS\s+DOUBLE"
    ),
}


def inline_idioms() -> list[str]:
    """``file:line: idiom`` for every spelling of a shared idiom in a
    string literal of ``queries/`` (the line of the literal's start), and
    for every filtered whitespace split ``F.filter(F.split(..., " "), ...)``
    in the package outside ``text.words``."""
    found = []
    for path in sorted(QUERIES_DIR.glob("*.py")):
        found += [
            f"queries/{path.name}:{node.lineno}: {idiom}"
            for node in ast.walk(ast.parse(path.read_text(), str(path)))
            if isinstance(node, ast.Constant) and isinstance(node.value, str)
            for idiom, pattern in IDIOMS.items()
            for _ in re.finditer(pattern, node.value)
        ]
    for path in sorted(PACKAGE_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        name = path.relative_to(PACKAGE_DIR).as_posix()
        home = {
            line
            for node in tree.body
            if name == "operators/text.py" and getattr(node, "name", None) == "words"
            for line in range(node.lineno, node.end_lineno + 1)
        }
        found += [
            f"{name}:{node.lineno}: filtered whitespace split (operators/text.words)"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and getattr(node.func, "attr", None) == "filter"
            and node.args
            and isinstance(node.args[0], ast.Call)
            and getattr(node.args[0].func, "attr", None) == "split"
            and len(node.args[0].args) == 2
            and isinstance(node.args[0].args[1], ast.Constant)
            and node.args[0].args[1].value == " "
            and node.lineno not in home
        ]
    return found


def test_shared_idioms_are_spelled_once():
    """Each idiom the Spark side and the oracles share has one spelling per
    engine, in the module of its Spark helper; an inline copy in an oracle
    string or a second Spark-side word split is a second spelling."""
    found = inline_idioms()
    assert not found, f"{len(found)} inline spellings; use the named helper: " + "; ".join(found)
