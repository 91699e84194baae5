"""Dump `.explain("formatted")` for named queries into plans/<round>/.

    python tools/dump_plans.py <suffix> <query> [query ...]

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (default r12) (suffix = before|after) for each
query, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1). Uses the
same lineage-control transparency as tools/plan_audit.py
(``recorded_segments``): persist/localCheckpoint boundaries taken during
construction are recorded and each segment's plan is appended, so a
composed query's cached subtrees appear exactly once instead of
vanishing into InMemoryTableScan or LogicalRDD leaves. Each query is
dumped standalone: ``bench.reset`` runs before it.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.plan_audit import formatted_explain, recorded_segments, truncate_at_cache  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12")
    )
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import DataFrame

    from bench import reset
    from odbc2parquet_spark.queries import QUERIES
    from odbc2parquet_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")

    def fmt(df: DataFrame) -> str:
        plan = formatted_explain(df)
        # cached subtrees are dumped once in their own pre-persist
        # segment; inside any later tree they execute as an
        # InMemoryTableScan, so re-printing the full subtree at every
        # reference would misrepresent what runs (plan_audit.py rationale)
        head, *rest = plan.split("\n\n", 1)
        return "\n\n".join([truncate_at_cache(head), *rest])

    for name in names:
        reset(spark)
        # explain text is captured EAGERLY at the boundary call site
        with recorded_segments(fmt) as segments:
            df = QUERIES[name](spark, sf_dir)
        parts = [f"# {name} @ {sf_dir} — explain('formatted'), {suffix}\n"]
        texts = []
        for i, (kind, t) in enumerate(segments):
            texts.append(t)
            parts.append(f"\n## segment {i}: pre-{kind} subtree\n\n" + t)
        t = fmt(df)
        texts.append(t)
        parts.append("\n## final frame\n\n" + t)
        # executed-work summary over the cache-truncated trees (each
        # cached subtree counted once, in its own segment)
        trees = [x.split("\n\n", 1)[0] for x in texts]
        n_scan = sum(t.count("Scan parquet") for t in trees)
        n_exch = sum(t.count("Exchange") - t.count("BroadcastExchange") for t in trees)
        parts.insert(
            1,
            f"\nexecuted-plan summary: parquet scans={n_scan}, "
            f"shuffle exchanges={n_exch}, segments={len(texts) - 1}\n",
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write("".join(parts))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
