"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry from ``__spark_entry__`` at the given SF dir,
runs the matching ``oracle_sql()`` in DuckDB over the same parquet tables,
and compares row count, column names, and an order-insensitive value hash
(columns sorted by name, cells canonicalized to strings, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(cols: list[str], rows) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = ["\x1f".join(canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted_cols, out


def value_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from odbc2parquet_spark.session import get_spark
    from odbc2parquet_spark.catalog import TABLES, table_path

    qs = entrymod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        raise SystemExit(f"not registered: {', '.join(unknown)}")

    spark = get_spark("correctness-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()

    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"okNR  {name}: rows={len(srows)} (no oracle, rows-only) {spark_t:.1f}s")
            continue
        try:
            rel = con.sql(oracles[name])
            dcols, dtypes = rel.columns, rel.types
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        sc, sl = canon_rows(scols, srows)
        dc, dl = canon_rows(dcols, drows)
        problems = []
        # Driver-parity guard: the scored gate canonicalizes through pandas,
        # which (a) cannot hash list/array cells and (b) renders DuckDB
        # HUGEINT (int128 from SUM over ints) differently from Spark BIGINT.
        # Flag both locally even though the string-canon above tolerates them.
        for label, rows in (("spark", srows[:1]), ("duck", drows[:1])):
            for r in rows:
                for v in r:
                    if isinstance(v, (list, tuple, dict)):
                        problems.append(f"{label} emits unhashable {type(v).__name__} cell")
                    elif isinstance(v, int) and not isinstance(v, bool) and abs(v) >= 2**63:
                        problems.append(f"{label} emits out-of-int64 integer")
        hug = [c for c, t in zip(dcols, dtypes) if "HUGEINT" in str(t).upper()]
        if hug:
            problems.append(f"oracle HUGEINT columns {hug} (cast to BIGINT)")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sc != dc:
            problems.append(f"columns {sc} vs {dc}")
        if value_hash(sl) != value_hash(dl):
            problems.append("value-hash mismatch")
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)}")
            sset, dset = set(sl), set(dl)
            for label, diff in (("spark-only", sset - dset), ("duck-only", dset - sset)):
                for line in sorted(diff)[:3]:
                    print(f"      {label}: {line.replace(chr(31), ' | ')}")
        else:
            print(f"ok    {name}: rows={len(srows)} hash={value_hash(sl)} {spark_t:.1f}s")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
