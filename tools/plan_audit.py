"""Generate PLANS.md: physical-plan statistics for every registered query.

For each query: shuffle-exchange count, join strategies, whole-stage
codegen span count, whether filters reach the parquet scan, and whether a
quadratic shape (CartesianProduct / BroadcastNestedLoopJoin) appears —
the one-page evidence that the scale contract (SCALE.md) matches what
Catalyst actually plans. Regenerate after plan-affecting changes:

    python tools/plan_audit.py [sf_dir]

Lineage-control transparency: a localCheckpoint truncates a plan to a
LogicalRDD scan and a lazy persist makes the explain re-print the cached
subtree at EVERY reference, so a fixpoint query would audit as either zero
shuffles (checkpointed result) or hundreds (unrolled per-round lineage) —
both wrong. The audit therefore records the pre-boundary frame of every
localCheckpoint AND persist taken while a query is constructed, explains
each recorded segment plus the final frame, truncates every explained tree
at InMemoryTableScan (each cached subtree is counted exactly once, in its
own segment — matching what the runtime computes), and sums the statistics.
Each query is audited standalone: ``bench.reset`` runs before it.
"""

from __future__ import annotations

import contextlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: tree-art characters that precede a node name in the formatted explain
_ART = " :+-*="


def _node_depth(line: str) -> int:
    """Column where the node text starts (tree-art prefix length)."""
    return len(line) - len(line.lstrip(_ART))


def formatted_explain(df) -> str:
    """The text ``df.explain("formatted")`` prints."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def truncate_at_cache(tree: str) -> str:
    """Drop every line nested under an InMemoryTableScan node: cached
    subtrees audit once as their own segment; re-printing them at each
    reference would multiply-count work the runtime computes once."""
    out: list[str] = []
    cut_depth: int | None = None
    for line in tree.splitlines():
        if not line.strip():
            out.append(line)
            continue
        depth = _node_depth(line)
        if cut_depth is not None:
            if depth > cut_depth:
                continue
            cut_depth = None
        out.append(line)
        if "InMemoryTableScan" in line:
            cut_depth = depth
    return "\n".join(out)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from bench import reset
    from odbc2parquet_spark.queries import QUERIES
    from odbc2parquet_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    def explain_stats(df):
        plan = formatted_explain(df)
        tree = truncate_at_cache(plan.split("\n\n", 1)[0])
        count = lambda needle: sum(  # noqa: E731
            1 for l in tree.splitlines() if re.search(needle + r"\b.*\(\d+\)$", l.strip())
        )
        exch = count("(?<!Broadcast)Exchange")
        single = len(re.findall(r"Arguments: SinglePartition", plan))
        bhj = count("BroadcastHashJoin")
        smj = count("SortMergeJoin")
        quad = ("CartesianProduct" in tree) or ("BroadcastNestedLoopJoin" in tree)
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
        return exch, single, bhj, smj, pushed, quad

    rows = []
    for name in sorted(QUERIES):
        # standalone: the cross-query edge-list memo would otherwise hide
        # the LSH build segment from every graph query after the first
        reset(spark)
        with recorded_segments(lambda df: df) as segments:
            df = QUERIES[name](spark, sf_dir)
        exch = single = bhj = smj = 0
        pushed = quad = False
        for seg in [*(frame for _kind, frame in segments), df]:
            e, s, b, m, p, q = explain_stats(seg)
            exch += e
            single += s
            bhj += b
            smj += m
            pushed = pushed or p
            quad = quad or q
        rows.append((name, max(exch - single, 0), single, bhj, smj, pushed, quad))

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            "# PLANS — physical-plan audit of every registered query\n\n"
            f"Generated by `python tools/plan_audit.py` at {sf_dir} "
            f"({len(rows)} queries). Columns: keyed shuffle exchanges, "
            "single-partition exchanges (final top-k/global folds), "
            "broadcast hash joins, sort-merge joins, "
            "filters pushed to a parquet scan, quadratic join shape "
            "present (allowed only for documented verification operators — "
            "see tests/test_plans.py ALL_PAIRS_OK). Queries with lineage "
            "control (checkpoint/persist between fixpoint rounds) are "
            "audited as the SUM over their plan segments, each cached "
            "subtree counted once — see the module docstring.\n\n"
            "| query | shuf | single | BHJ | SMJ | pushed | quadratic |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, exch, single, bhj, smj, pushed, quad in rows:
            fh.write(
                f"| {name} | {exch} | {single} | {bhj} | {smj} "
                f"| {'y' if pushed else ''} | {'Y' if quad else ''} |\n"
            )
    print(f"wrote PLANS.md ({len(rows)} queries)")


@contextlib.contextmanager
def recorded_segments(capture):
    """While active, every ``localCheckpoint``/``persist`` call appends
    ``(kind, capture(frame))`` to the yielded list, ``capture`` running
    on the frame BEFORE the boundary is taken (once persist() registers
    a plan in the CacheManager, explaining it collapses to an
    InMemoryTableScan and the segment's real subtree is lost)."""
    # PySpark 4 routes sessions through pyspark.sql.classic.dataframe
    # (the facade base class's methods are overridden there) — patch the
    # concrete class actually dispatching the calls
    try:
        from pyspark.sql.classic.dataframe import DataFrame as ConcreteDF
    except ImportError:  # older PySpark: the facade IS the concrete class
        from pyspark.sql import DataFrame as ConcreteDF

    segments: list = []
    orig_checkpoint = ConcreteDF.localCheckpoint
    orig_persist = ConcreteDF.persist

    def recording_checkpoint(self, eager=True):
        segments.append(("localCheckpoint", capture(self)))
        return orig_checkpoint(self, eager=eager)

    def recording_persist(self, *args, **kwargs):
        segments.append(("persist", capture(self)))
        return orig_persist(self, *args, **kwargs)

    ConcreteDF.localCheckpoint = recording_checkpoint
    ConcreteDF.persist = recording_persist
    try:
        yield segments
    finally:
        ConcreteDF.localCheckpoint = orig_checkpoint
        ConcreteDF.persist = orig_persist


if __name__ == "__main__":
    main()
