"""Interleaved A/B for catalog.spread_scan at a query's scan site.

    python tools/ab_spread.py <table> <query> [query ...]

For each query, alternates REPS pairs of (A: natural layout, B: load_table
wrapped in spread_scan for <table>) inside ONE session, cold caches per
rep (``bench.reset`` then ``bench.run_query``, the standalone protocol),
and prints both medians and mins.
Both arms run with every spread_scan the code calls (``catalog.spread_scan``
and each package module's imported name) replaced by the identity, so A
is the natural layout even where the query already spreads, and B
spreads <table> once, at its load. B monkeypatches the query module's
`load_table` reference — measurement only; a win is landed as an
explicit call-site edit.

This box shows ±15-20% session-to-session drift on identical plans, so
same-session interleaving is the only defensible comparison (see
OPTIMIZATION_r12.md measurement note). $SPARK_GRAFT_SF_DIR, reps via
$SPARK_GRAFT_BENCH_REPS (default 3 pairs).
"""

from __future__ import annotations

import contextlib
import importlib
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    table = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    from bench import reset, run_query
    from odbc2parquet_spark import catalog
    from odbc2parquet_spark.queries import QUERIES
    from odbc2parquet_spark.session import get_spark

    spark = get_spark("ab_spread")
    spark.sparkContext.setLogLevel("ERROR")

    orig_load = catalog.load_table
    spread_scan = catalog.spread_scan

    def spread_load(sp, sfd, name):
        df = orig_load(sp, sfd, name)
        return spread_scan(df) if name == table else df

    def run(qname: str) -> float:
        reset(spark)
        return run_query(spark, qname, sf_dir)

    @contextlib.contextmanager
    def natural_layout():
        holders = [
            m for name, m in list(sys.modules.items())
            if name.startswith("odbc2parquet_spark") and getattr(m, "spread_scan", None) is spread_scan
        ]
        for m in holders:
            m.spread_scan = lambda df: df
        try:
            yield
        finally:
            for m in holders:
                m.spread_scan = spread_scan

    for qname in names:
        mod = importlib.import_module(QUERIES[qname].__module__)
        a_times, b_times = [], []
        run(qname)  # codegen/JIT warmup, untimed
        for _ in range(reps):
            with natural_layout():
                a_times.append(run(qname))
            with natural_layout():
                mod.load_table = spread_load  # type: ignore[attr-defined]
                try:
                    b_times.append(run(qname))
                finally:
                    mod.load_table = orig_load  # type: ignore[attr-defined]
        print(
            f"{qname} table={table}: "
            f"A(natural) med={statistics.median(a_times):.3f} min={min(a_times):.3f} "
            f"B(spread)  med={statistics.median(b_times):.3f} min={min(b_times):.3f} "
            f"A={[round(v, 3) for v in a_times]} B={[round(v, 3) for v in b_times]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
