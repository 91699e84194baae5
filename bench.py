"""Benchmark: the bench queries + transfer workload at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line of headline fields:
  {"metric": "headline_suite_total", "value": N, "sum_of_mins": N,
   "unit": "sec", "sf": ..., "reps": ..., "n_queries": ...,
   "transfer_rows_per_sec": ..., "queries_detail": ".../BENCH_DETAIL.json"}
and writes them with the per-query medians (``queries``) and minima
(``queries_min``) to BENCH_DETAIL.json.

Query set: ``queries.BENCH``, the registry's ``bench=True`` queries (the
``query`` decorator's docstring gives the rule for leaving one out).
Each query is fully materialized through the noop sink (no driver collect),
so the measured time is plan execution, not result transfer.

$SPARK_GRAFT_BENCH_REPS sets the rep count (default 3). To time a subset
or A/B one query, use tools/standalone_bench.py or tools/ab_spread.py.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def reset(spark) -> None:
    """The one between-measurements reset: drop cached relations, release
    the session's tracked persists and memoized edge lists (table plans
    stay memoized, see cachereg), and nudge the JVM GC."""
    from odbc2parquet_spark import cachereg

    spark.catalog.clearCache()
    cachereg.release(spark)
    spark._jvm.System.gc()


def run_query(spark, name: str, sf_dir: str) -> float:
    """Build query ``name`` and write it to the noop sink under job
    description ``name``; returns the wall seconds of both. A failure
    raises RuntimeError naming the query and the phase it failed in:
    construct (building the DataFrame, eager actions included) or
    execute (the write)."""
    from odbc2parquet_spark.queries import QUERIES

    build = QUERIES[name]
    spark.sparkContext.setJobDescription(name)
    phase = "construct"
    try:
        t0 = time.time()
        df = build(spark, sf_dir)
        phase = "execute"
        df.write.mode("overwrite").format("noop").save()
        return time.time() - t0
    except Exception as e:
        raise RuntimeError(f"query {name} failed in {phase}: {e}") from e
    finally:
        spark.sparkContext.setJobDescription(None)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from odbc2parquet_spark.queries import BENCH
    from odbc2parquet_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warmup: first parquet/zstd write in a JVM pays one-off codec +
    # codegen initialization (~3s) that amortizes to nothing on real
    # workloads; measured numbers are steady-state throughput.
    with tempfile.TemporaryDirectory() as tmp:
        spark.range(10_000).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(os.path.join(tmp, "warmup"))

    # transfer workload (BASELINE.md): typed read -> §1 casts -> zstd parquet
    from pyspark.sql import functions as F

    from odbc2parquet_spark.catalog import load_table

    # Measurement protocol: >=3 reps per query with the suite order
    # reshuffled each rep (fixed seeds — deterministic across runs), report
    # the per-query MEDIAN. A single sequential pass confounds a query's
    # cost with its suite position (accumulated JVM codegen-cache/GC
    # pressure inflated late-suite queries ~1.4x in earlier rounds);
    # medians over shuffled orders cancel position effects.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    samples: dict[str, list[float]] = {name: [] for name in BENCH}
    samples["transfer_lineitem"] = []
    samples["bpe_learn_500"] = []
    transfer_rows = 0

    def run_transfer() -> None:
        nonlocal transfer_rows
        with tempfile.TemporaryDirectory() as tmp:
            t0 = time.time()
            li = load_table(spark, sf_dir, "lineitem")
            typed = li.select(
                "l_orderkey",
                "l_partkey",
                "l_suppkey",
                "l_linenumber",
                F.col("l_quantity").cast("decimal(9,0)").alias("l_quantity"),
                F.col("l_extendedprice").cast("decimal(13,2)").alias("l_extendedprice"),
                F.col("l_discount").cast("decimal(4,2)").alias("l_discount"),
                F.col("l_tax").cast("decimal(4,2)").alias("l_tax"),
                "l_returnflag",
                "l_linestatus",
                F.col("l_shipdate").cast("date").alias("l_shipdate"),
            )
            typed.write.mode("overwrite").option("compression", "zstd").parquet(
                os.path.join(tmp, "transfer")
            )
            samples["transfer_lineitem"].append(time.time() - t0)
            transfer_rows = li.count()

    def run_bpe500() -> None:
        # BPE at production merge count (bpe_learn_batched, 500 merges,
        # batch=50): the documents table supplies a deterministic
        # high-entropy corpus (md5-hex of each text — the real corpus
        # vocabulary saturates at ~107 possible merges). Runs ONCE per
        # bench invocation, not per rep. Its <= 5,000 md5 words at sf0.1
        # are under local_vocab_cutover: one count, one collect and the
        # driver-local _bpe_local_loop, not a sequence of Spark rounds.
        from odbc2parquet_spark.operators.text import bpe_learn_batched

        t0 = time.time()
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.select(F.md5(F.col("text")).alias("text"))
        merges = bpe_learn_batched(corpus, n_merges=500, batch=50)
        assert len(merges) == 500, f"expected 500 merges, got {len(merges)}"
        samples["bpe_learn_500"].append(time.time() - t0)

    for rep in range(reps):
        order: list[str] = ["transfer_lineitem", *BENCH]
        if rep == 0:
            order.append("bpe_learn_500")
        random.Random(rep).shuffle(order)
        for name in order:
            if name == "transfer_lineitem":
                run_transfer()
                continue
            if name == "bpe_learn_500":
                run_bpe500()
                continue
            samples[name].append(run_query(spark, name, sf_dir))
        # stabilize across reps: drop cached relations (the tracked
        # persists' blocks too) and nudge the JVM GC; unlike reset(), the
        # memoized edge list and table plans carry over
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    timings = {name: round(statistics.median(v), 3) for name, v in samples.items()}
    total = round(sum(timings.values()), 3)
    # Per-query MIN across the shuffled-position reps: the round-11
    # canary study (SCALE.md round 11) showed suite "inflation" is not
    # a monotone accumulation (canary first/last ratio 0.88 over a full
    # 255-query pass; JIT code cache 176 of 240MB, old-gen flat) but
    # VARIANCE — concurrent JIT/GC activity randomly colliding with a
    # measurement (isolated 1.5-1.9x spikes). The min is the
    # least-interfered rep and tracks idle-standalone medians; its sum is
    # the suite's noise-floor total, published beside the median total so
    # a reader separates real cost from measurement-time interference.
    mins = {name: round(min(v), 3) for name, v in samples.items()}
    total_min = round(sum(mins.values()), 3)

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    summary = {
        "metric": "headline_suite_total",
        "value": total,
        # noise-floor total: sum of per-query minima across the shuffled
        # reps — the suite cost with measurement-time JIT/GC collisions
        # excluded (see SCALE.md round 11)
        "sum_of_mins": total_min,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        "n_queries": len(timings),
        "transfer_rows_per_sec": round(transfer_rows / timings["transfer_lineitem"]),
        "queries_detail": detail_path,
    }
    with open(detail_path, "w") as fh:
        # bump schema_version when the detail layout changes, so archived
        # BENCH_DETAIL_r{N}.json files stay machine-comparable
        # (v3: + sum_of_mins headline and per-query "queries_min" dict)
        json.dump(
            {"schema_version": 3, **summary, "queries": timings, "queries_min": mins},
            fh,
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
