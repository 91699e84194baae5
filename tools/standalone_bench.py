"""Judge-standalone measurement for named queries.

    python tools/standalone_bench.py <query> [query ...]

Protocol: one warm session; per query ONE untimed warmup run of the exact
plan (codegen/JIT), then N timed reps, each ``bench.reset`` followed by
``bench.run_query`` (noop-sink write); report median and min.
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), reps via
$SPARK_GRAFT_BENCH_REPS (default 3).
"""

from __future__ import annotations

import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    from bench import reset, run_query
    from odbc2parquet_spark.session import get_spark

    spark = get_spark("standalone_bench")
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        reset(spark)
        run_query(spark, name, sf_dir)  # warmup, untimed
        vals = []
        for _ in range(reps):
            # the memoized LSH edge list must not carry a frame built
            # during warmup into a timed rep
            reset(spark)
            vals.append(run_query(spark, name, sf_dir))
        print(
            f"{name}: median={statistics.median(vals):.3f} "
            f"min={min(vals):.3f} reps={[round(v, 3) for v in vals]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
