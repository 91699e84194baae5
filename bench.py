"""Benchmark: the bench queries + transfer workload at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query set: ``queries.BENCH``, the registry's ``bench=True`` queries (the
``query`` decorator's docstring gives the rule for leaving one out).
Each query is fully materialized through the noop sink (no driver collect),
so the measured time is plan execution, not result transfer.

Round-close protocol: copy BENCH_DETAIL.json to BENCH_DETAIL_r{N}.json when
a round ends. The mover self-defense diffs suite medians against the
HIGHEST-numbered frozen artifact — never the live file, which mid-round
runs overwrite (a query that drifted early in a round would otherwise
compare against its own drifted value and escape confirmation).
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

#: hard cap for the stdout summary line — the driver keeps only the last
#: 2000 chars of bench output, so the line must survive tail truncation
#: (round-4 artifact lost its head when the full queries dict outgrew it)
SUMMARY_LINE_BUDGET = 1800


def compact_summary(
    summary_base: dict,
    timings: dict[str, float],
    pin: set[str] | None = None,
) -> str:
    """ONE JSON line <= SUMMARY_LINE_BUDGET chars: the headline fields
    plus as many of the SLOWEST per-query timings as fit (always
    including transfer_lineitem); the full dict lives in queries_detail.

    ``pin``: names inlined in the FROZEN prior round's summary, included
    ahead of the slowest-first fill (budget permitting). Without this, a
    query that improves enough to fall off the slow list vanishes from
    the inline dict and round-over-round diffing reads it as "dropped
    from bench" (the r11 PERF artifact flagged 3 such phantom drops) —
    the round's best wins must stay visible in the summary line.
    """
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    inline: dict[str, float] = {}
    if "transfer_lineitem" in timings:
        inline["transfer_lineitem"] = timings["transfer_lineitem"]
    # pinned names first (slowest-first among them, for stable ordering)
    ordered = [kv for kv in slowest if pin and kv[0] in pin] + [
        kv for kv in slowest if not (pin and kv[0] in pin)
    ]
    for name, sec in ordered:
        trial = {**inline, name: sec}
        if len(json.dumps({**summary_base, "queries": trial})) > SUMMARY_LINE_BUDGET:
            break
        inline = trial
    return json.dumps({**summary_base, "queries": inline})


def select_movers(
    timings: dict[str, float],
    prior: dict[str, float],
    candidates: set[str] | None = None,
    ratio: float = 1.5,
    cap: int = 10,
    mins: dict[str, float] | None = None,
    noise_ratio: float = 1.2,
) -> list[str]:
    """Queries whose suite median moved >ratio x in either direction vs the
    FROZEN previous-round medians — the candidates for a standalone
    confirmation run. Largest absolute movers first, capped AFTER
    restricting to ``candidates`` (the re-runnable QUERIES entries), so a
    pseudo-entry like transfer_lineitem can never consume a confirm slot.
    Sub-50ms prior medians are noise-floor and never flagged.

    ``mins`` (per-query minimum across the shuffled-position reps) is the
    measurement-noise filter the round-11 suite_pressure study justified:
    an UPWARD median mover whose min stayed within ``noise_ratio`` of the
    frozen prior median had at least one uninterfered rep at the old cost
    — the plan did not regress, a rep collided with JIT/GC — so it is
    cleared without spending a standalone-confirm slot. A real regression
    raises the min too. Downward movers (speedups) always confirm."""
    movers = [
        name
        for name, sec in timings.items()
        if name in prior
        and (candidates is None or name in candidates)
        and prior[name] > 0.05
        and (sec / prior[name] > ratio or prior[name] / max(sec, 1e-9) > ratio)
        and not (
            mins is not None
            and name in mins
            and sec > prior[name]  # upward movers only
            and mins[name] <= noise_ratio * prior[name]
        )
    ]
    movers.sort(key=lambda n: -abs(timings[n] - prior[n]))
    return movers[:cap]


def _highest_round(repo_dir: str, stem: str) -> str | None:
    """Path of the highest-numbered ``{stem}_r{N}.json`` in ``repo_dir``."""
    best: tuple[int, str] | None = None
    for fn in os.listdir(repo_dir):
        m = re.fullmatch(re.escape(stem) + r"_r(\d+)\.json", fn)
        if m:
            n = int(m.group(1))
            if best is None or n > best[0]:
                best = (n, os.path.join(repo_dir, fn))
    return best[1] if best else None


def frozen_prior_path(repo_dir: str) -> str | None:
    """The mover baseline: the highest-numbered ``BENCH_DETAIL_r{N}.json``
    frozen at a round close. NEVER the live BENCH_DETAIL.json — mid-round
    runs overwrite it, so a query that drifted earlier in the same round
    would compare against its own drifted value and escape standalone
    confirmation (exactly how the round-9 sim_lpa_communities/sim_hits
    regressions sailed past the gate)."""
    return _highest_round(repo_dir, "BENCH_DETAIL")


def summary_pin(frozen_bench: dict) -> set[str]:
    """The names a frozen ``BENCH_r{N}.json`` shows inline in its summary
    line (``parsed.queries``), read from the artifact itself rather than
    re-derived, so a name that round pinned stays pinned."""
    return set(((frozen_bench.get("parsed") or {}).get("queries")) or {})


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

    from odbc2parquet_spark.queries import BENCH, QUERIES
    from odbc2parquet_spark.session import get_spark

    # SPARK_GRAFT_BENCH_ONLY="q1,q2" restricts the suite (scaling studies
    # re-measure just the worst scalers at a new decade without paying for
    # the full sweep twice); a name outside the suite stops the run before
    # Spark starts, so a typo cannot bench nothing
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    picked = {s.strip() for s in only.split(",")} - {""} if only else set()
    unknown = sorted(picked - {*BENCH, "transfer_lineitem", "bpe_learn_500"})
    if unknown:
        sys.exit(
            "SPARK_GRAFT_BENCH_ONLY names entries outside the bench suite: "
            + ", ".join(unknown)
        )
    suite = [q for q in BENCH if q in picked] if only else BENCH

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

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

    # per-query cache isolation (scaling mode sets it; see the rep loop)
    isolate = bool(os.environ.get("SPARK_GRAFT_BENCH_ISOLATE"))

    samples: dict[str, list[float]] = {name: [] for name in suite}
    samples["transfer_lineitem"] = []
    if not only or "bpe_learn_500" in picked:
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
        # bench invocation, not per rep: it is itself ~47 sequential
        # Spark rounds (measured flat at ~0.6s each), so suite-position
        # effects average out internally.
        from odbc2parquet_spark.operators.text import bpe_learn_batched

        t0 = time.time()
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.select(F.md5(F.col("text")).alias("text"))
        merges = bpe_learn_batched(corpus, n_merges=500, batch=50)
        assert len(merges) == 500, f"expected 500 merges, got {len(merges)}"
        samples["bpe_learn_500"].append(time.time() - t0)

    for rep in range(reps):
        order: list[str] = ["transfer_lineitem", *suite]
        if rep == 0 and "bpe_learn_500" in samples:
            order.append("bpe_learn_500")
        random.Random(rep).shuffle(order)
        for name in order:
            if isolate:
                # scaling mode only: Spark's CacheManager matches cached
                # plans by SUBTREE, so a query that persists an
                # intermediate (e.g. tx_prepare_corpus's minhash
                # signatures) silently feeds every later same-rep query
                # that rebuilds the identical lineage — dd_minhash_lsh
                # measured 3.6s in the 8-core subset vs 6.5s standalone,
                # inverting the core-count ratio. The main suite keeps
                # the shared-session protocol (round-over-round
                # comparability); a parallelism measurement needs each
                # query to pay its own plan.
                reset(spark)
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
    # tools/suite_pressure.py canary study showed suite "inflation" is not
    # a monotone accumulation (canary first/last ratio 0.88 over a full
    # 255-query pass; JIT code cache 176 of 240MB, old-gen flat) but
    # VARIANCE — concurrent JIT/GC activity randomly colliding with a
    # measurement (isolated 1.5-1.9x spikes). The min is the
    # least-interfered rep and tracks idle-standalone medians; its sum is
    # the suite's noise-floor total, published beside the median total so
    # a reader separates real cost from measurement-time interference.
    mins = {name: round(min(v), 3) for name, v in samples.items()}
    total_min = round(sum(mins.values()), 3)

    # Self-defense against suite pressure: a query's suite median can move
    # 1.5x+ round-over-round from JVM codegen-cache/GC pressure alone (three
    # of round 8's four "regressions" dissolved under idle re-measurement).
    # Any query whose median moved >1.5x vs the previous round's full-suite
    # medians is re-run ONCE standalone (cold caches, quiet JVM) and both
    # numbers are emitted, so a reader can tell plan regressions from suite
    # artifacts without re-measuring by hand. Skipped on subset runs (no
    # stable prior to compare against).
    standalone_confirm: dict[str, dict[str, float]] = {}
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prior_path = frozen_prior_path(repo_dir)
    if not only and prior_path:
        try:
            with open(prior_path) as fh:
                prior = json.load(fh).get("queries", {})
        except Exception:  # noqa: BLE001 - a corrupt prior must not kill the bench
            prior = {}
        # candidates restricted to QUERIES BEFORE the cap: transfer/bpe
        # pseudo-entries can only re-run through the suite, and must not
        # consume a confirm slot a real query needs
        movers = select_movers(timings, prior, candidates=set(QUERIES), mins=mins)
        for name in movers:
            # a flaky confirm run must not discard the whole suite's
            # measurements — record the failure and keep going
            try:
                reset(spark)
                standalone = round(run_query(spark, name, sf_dir), 3)
            except Exception as exc:  # noqa: BLE001
                # None, not a numeric sentinel: a -1.0 would read as a huge
                # speedup in any downstream ratio over this artifact
                standalone = None
                print(f"standalone confirm failed for {name}: {exc}", file=sys.stderr)
            standalone_confirm[name] = {
                "suite": timings[name],
                "prev": prior[name],
                "standalone": standalone,
            }

    # Full per-query medians go to a side file; stdout gets ONE compact JSON
    # line guaranteed to fit in the driver's 2000-char output tail (round-4
    # BENCH artifact lost its head to tail truncation when the queries dict
    # grew past ~125 entries). The inline "queries" dict carries the slowest
    # entries — the ones a reader actually wants — capped so the whole line
    # stays under ~1800 chars; "queries_detail" points at the complete dict.
    # Subset runs (SPARK_GRAFT_BENCH_ONLY) must not clobber the full-suite
    # detail the driver/judge reads — they get a side file instead.
    detail_name = "BENCH_DETAIL_SUBSET.json" if only else "BENCH_DETAIL.json"
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    summary_base = {
        # bump when the detail-file layout changes, so archived per-round
        # BENCH_DETAIL_r{N}.json files stay machine-comparable
        # (v3: + sum_of_mins headline and per-query "queries_min" dict)
        "schema_version": 3,
        "metric": "headline_suite_total",
        "value": total,
        # noise-floor total: sum of per-query minima across the shuffled
        # reps — the suite cost with measurement-time JIT/GC collisions
        # excluded (see tools/suite_pressure.py / SCALE.md round 11)
        "sum_of_mins": total_min,
        "unit": "sec",
        "sf": sf,
        "reps": reps,
        "n_queries": len(timings),
        "transfer_rows_per_sec": round(transfer_rows / timings["transfer_lineitem"]),
        "queries_detail": detail_path,
    }
    if standalone_confirm:
        summary_base["standalone_confirm"] = standalone_confirm
    with open(detail_path, "w") as fh:
        json.dump({**summary_base, "queries": timings, "queries_min": mins}, fh)

    # pin the frozen prior round's inline names into this round's summary
    # line so a query that got FASTER (and fell off the slow list) still
    # appears — without this, summary-diffing reads improvements as drops
    pin: set[str] = set()
    pin_path = _highest_round(repo_dir, "BENCH")
    if not only and pin_path:
        try:
            with open(pin_path) as fh:
                pin = summary_pin(json.load(fh))
        except Exception:  # noqa: BLE001 - a corrupt prior must not kill the bench
            pin = set()

    print(compact_summary(summary_base, timings, pin=pin))


#: the scaling-mode subset (round-12, VERDICT r11 item 2). At the
#: bench's default sf0.1 every per-query cost is dominated by fixed
#: overhead (planning, codegen, scheduler round-trips), so the driver's
#: 8-vs-32-core ratios all read ~1 and parallelism is unmeasurable;
#: transfer_lineitem rides along as the pure-scan anchor.
#: Only DATA-BOUND entries belong here. The composed pipelines
#: (tx_curation_*, dd_method_agreement, tx_prepare_corpus) were measured
#: at amplified sf1 with per-query isolation and read ratio ~1.0-1.2 at
#: 4x cores even at 20-30s runtimes: their cost is a long chain of
#: SEQUENTIAL small stages (each shuffle is a barrier; AQE coalesces
#: MB-sized shuffles to 1-2 partitions, correctly, since 64MB partitions
#: is the 100 TB-regime setting) — Amdahl, not a defect; their scale
#: story is that each COMPONENT stage is data-parallel, which the
#: entries below demonstrate directly. Measured at sf10 (factor 100),
#: where per-query work dwarfs fixed overhead: dd_minhash_lsh 30.8s@8c
#: -> 15.7s@32c (1.96x), q1 28.7 -> 13.6 min (2.11x).
SCALING_SET = [
    "q1_pricing_summary",
    "dd_minhash_lsh",
    "sim_cell_medoids",
]


def scaling_mode() -> None:
    """SPARK_GRAFT_BENCH_SCALING=1: measure PARALLELISM, not suite cost.

    Runs the SCALING_SET at an amplified scale directory (default
    ``.sfdata/sf10`` = $SPARK_GRAFT_SCALING_FACTOR (default 100) x
    $SPARK_GRAFT_SF_DIR, generated via tools/make_sfbig.py if absent)
    at TWO core counts — the session's $SPARK_GRAFT_CPUS (default: the
    host's CPUs) and $SPARK_GRAFT_SCALING_LOW_CPUS (default 8) — each in a fresh
    subprocess (the master string is fixed at session creation, so two
    core counts need two JVMs), each with SPARK_GRAFT_BENCH_ISOLATE=1
    (per-query cold caches: Spark's CacheManager matches cached plans
    by subtree, so without isolation a later query silently reuses a
    persist an earlier same-rep query left behind — dd_minhash_lsh
    measured 3.6s in the 8-core subset vs 6.5s standalone before the
    fix, INVERTING the ratio). Writes BENCH_SCALING.json with both
    runs' medians and the low/high ratio per query, and prints it as
    the one JSON line. A data-bound query at 4x cores should show
    ratio >> 1; ~1 means fixed-overhead- or sequential-stage-bound at
    this decade."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    amp_dir = os.environ.get(
        "SPARK_GRAFT_SCALING_DIR", os.path.join(repo, ".sfdata", "sf10")
    )
    factor = os.environ.get("SPARK_GRAFT_SCALING_FACTOR", "100")
    if not os.path.isdir(amp_dir):
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "make_sfbig.py"),
             base_dir, amp_dir, factor],
            check=True,
        )
    from odbc2parquet_spark.session import local_cpus

    cpus_hi = int(local_cpus())
    cpus_lo = int(os.environ.get("SPARK_GRAFT_SCALING_LOW_CPUS", "8"))
    runs: dict[int, dict[str, float]] = {}
    for cpus in (cpus_hi, cpus_lo):
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_SF_DIR=amp_dir,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_BENCH_ONLY=",".join(SCALING_SET),
            SPARK_GRAFT_BENCH_ISOLATE="1",
        )
        env.pop("SPARK_GRAFT_BENCH_SCALING", None)
        subprocess.run(
            [sys.executable, os.path.join(repo, "bench.py")],
            check=True, env=env,
        )
        with open(os.path.join(repo, "BENCH_DETAIL_SUBSET.json")) as fh:
            runs[cpus] = json.load(fh)["queries"]
    ratios = {
        name: round(runs[cpus_lo][name] / max(runs[cpus_hi][name], 1e-9), 2)
        for name in runs[cpus_hi]
        if name in runs[cpus_lo]
    }
    out = {
        "metric": "scaling_ratio_low_over_high",
        "unit": "x",
        "sf_dir": amp_dir,
        "cpus_high": cpus_hi,
        "cpus_low": cpus_lo,
        "queries_high": runs[cpus_hi],
        "queries_low": runs[cpus_lo],
        "ratio": ratios,
    }
    with open(os.path.join(repo, "BENCH_SCALING.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    if os.environ.get("SPARK_GRAFT_BENCH_SCALING"):
        scaling_mode()
    else:
        main()
