"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` are the correctness gate at sf0.01
(Spark vs DuckDB, row-count + schema + order-insensitive value hash).

Determinism notes (both sides follow these rules):
- floating-point aggregates are computed on exact decimals then cast to
  double, so Spark's and DuckDB's summation order cannot change the result;
- every LIMIT query carries a total order (unique-key tiebreak);
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from odbc2parquet_spark.catalog import register_tables
from odbc2parquet_spark.queries import QUERIES, ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    register_tables(spark, sf_dir)
    return QUERIES["q1_pricing_summary"](spark, sf_dir)


def _family(name: str) -> str:
    """Family prefix: leading letters (q5_... and q_... are both 'q')."""
    head = name.split("_", 1)[0]
    return "".join(ch for ch in head if ch.isalpha())


def _score_history() -> tuple[dict[str, int], set[str]]:
    """Read past CORRECTNESS_r*.json files next to this module.

    Returns (last_round_scored, red): for every query name the driver has
    ever scored, the most recent round number it appeared in, plus the set
    of names whose MOST RECENT scored row was not a full pass (err, or any
    of rows/schema/hash false).
    """
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    red: set[str] = set()
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
            rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
        except Exception:  # noqa: BLE001 - a malformed file must not break scoring
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            last[name] = max(last.get(name, 0), rnd)
            verdicts = (row.get(k) for k in ("rows_match", "schema_match", "hash_match"))
            ok = row.get("err") is None and False not in verdicts
            if ok:
                red.discard(name)
            else:
                red.add(name)
    return last, red


def _interleaved() -> list[str]:
    """Order the registry so the driver's bounded scoring prefix is spent
    where it buys the most evidence.

    Base order round-robins families, each in registration order (so a
    family registered late can't be starved). On top of that, three
    tiers keyed on past CORRECTNESS_r*.json:
    1. queries whose latest driver row was red (fixes need re-scoring),
    2. queries the driver has never scored (new + starved ones),
    3. previously-green queries, least-recently-scored first.
    The sort is stable, so the family interleave survives within each tier
    — over successive rounds the whole registry cycles through the prefix.
    """
    fam_order = list(dict.fromkeys(_family(n) for n in QUERIES))
    last, red = _score_history()

    def tier(name: str) -> tuple[int, int]:
        if name in red:
            return (0, 0)
        if name not in last:
            return (1, 0)
        return (2, last[name])

    # Round-robin families WITHIN each tier (not globally): a family whose
    # never-scored members sit late in registration order would otherwise
    # lose every prefix slot to families with many fresh entries — seen in
    # round 3, where only 5 of 21 unscored TPC-H shapes made the prefix.
    grouped: dict[tuple[int, int], dict[str, list[str]]] = {}
    for name in QUERIES:
        grouped.setdefault(tier(name), {}).setdefault(_family(name), []).append(name)
    result: list[str] = []
    for t in sorted(grouped):
        fams = grouped[t]
        idx = 0
        remaining = sum(len(v) for v in fams.values())
        while remaining:
            for fam in fam_order:
                lst = fams.get(fam, [])
                if idx < len(lst):
                    result.append(lst[idx])
                    remaining -= 1
            idx += 1
    return result


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name] for name in _interleaved()}


def oracle_sql() -> dict[str, str]:
    return {name: ORACLES[name] for name in _interleaved() if name in ORACLES}
