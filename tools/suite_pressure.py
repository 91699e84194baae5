"""Measure suite-state inflation: run the bench suite once in a fixed
order, re-running a CANARY query (and sampling JVM health counters) every
K queries. Each run is ``bench.run_query``, with no ``bench.reset``
between runs, as inside a bench rep. If the canary's time grows with
suite position while its plan is constant, the growth IS the suite-pressure carrier; the counters say
which JVM resource carries it (JIT code cache, metaspace/class count,
old-gen occupancy, cumulative JIT time).

Usage:
    python tools/suite_pressure.py [n_queries] [stride]
Env:
    SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)

The counters report JIT code-cache use but the session has no knob to
resize the cache: an A/B of that hypothesis adds
-XX:ReservedCodeCacheSize to ``session._jvm_options`` in a scratch copy.

Prints one JSON line per canary point:
    {"pos": i, "canary_sec": t, "code_cache_mb": ..., "metaspace_mb": ...,
     "classes": ..., "old_gen_mb": ..., "jit_ms": ...}
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CANARY = "dd_group_split"


def jvm_stats(spark) -> dict:
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {}
    code = meta = 0.0
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        used = pool.getUsage().getUsed() / 1e6
        if "CodeHeap" in name or "Code Cache" in name:
            code += used
        elif name == "Metaspace":
            meta = used
        elif "Old Gen" in name:
            out["old_gen_mb"] = round(used)
    out["code_cache_mb"] = round(code)
    out["metaspace_mb"] = round(meta)
    out["classes"] = mf.getClassLoadingMXBean().getLoadedClassCount()
    out["jit_ms"] = mf.getCompilationMXBean().getTotalCompilationTime()
    return out


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 10**9
    stride = int(sys.argv[2]) if len(sys.argv) > 2 else 15

    from bench import run_query
    from odbc2parquet_spark.queries import BENCH
    from odbc2parquet_spark.session import get_spark

    spark = get_spark("suite_pressure")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # warm the canary once so its first measured point is steady-state
    run_query(spark, CANARY, sf_dir)
    run_query(spark, CANARY, sf_dir)

    suite = [q for q in BENCH if q != CANARY][:n_queries]
    points = []

    def canary_point(pos: int) -> None:
        t = round(run_query(spark, CANARY, sf_dir), 3)
        row = {"pos": pos, "canary_sec": t, **jvm_stats(spark)}
        points.append(row)
        print(json.dumps(row), flush=True)

    canary_point(0)
    for i, name in enumerate(suite, 1):
        try:
            run_query(spark, name, sf_dir)
        except Exception as exc:  # noqa: BLE001 - keep measuring
            print(f"# {name} failed: {exc}", file=sys.stderr)
        if i % stride == 0:
            canary_point(i)
    canary_point(len(suite))
    first, last = points[0]["canary_sec"], points[-1]["canary_sec"]
    print(json.dumps({"summary": {"first": first, "last": last,
                                  "inflation": round(last / first, 2)}}))


if __name__ == "__main__":
    main()
