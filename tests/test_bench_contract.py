"""The driver keeps only the last 2000 chars of bench stdout; the summary
line is the scored artifact (BENCH_r4 was lost to tail truncation when
the full queries dict outgrew the tail). These tests pin the contract
without starting Spark."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SUMMARY_LINE_BUDGET, compact_summary


def _base(n):
    return {
        "metric": "headline_suite_total",
        "value": 123.456,
        "unit": "sec",
        "sf": 0.1,
        "reps": 3,
        "n_queries": n,
        "transfer_rows_per_sec": 374766,
        "queries_detail": "/root/repo/BENCH_DETAIL.json",
    }


def test_summary_line_survives_tail_truncation():
    timings = {f"q_quite_long_query_name_{i:04d}": 0.1 + i * 0.013 for i in range(300)}
    timings["transfer_lineitem"] = 1.7
    line = compact_summary(_base(len(timings)), timings)
    assert len(line) <= SUMMARY_LINE_BUDGET < 2000
    # parse exactly as a tail-truncating driver would
    tail = ("earlier noise\n" * 200 + line)[-2000:]
    parsed = json.loads(tail.strip().split("\n")[-1])
    assert parsed["metric"] == "headline_suite_total"
    assert parsed["value"] == 123.456
    assert "transfer_lineitem" in parsed["queries"]
    # the slowest query must be present inline
    slowest = max(timings, key=timings.get)
    assert slowest in parsed["queries"]


def test_summary_includes_everything_when_small():
    timings = {"q1": 1.0, "q2": 2.0, "transfer_lineitem": 3.0}
    parsed = json.loads(compact_summary(_base(3), timings))
    assert parsed["queries"] == timings


def test_summary_pins_prior_inline_names():
    # a query that improved enough to fall off the slow list must STAY
    # inline when it was inline in the frozen prior round — otherwise
    # round-over-round summary diffing reads the improvement as a drop
    # (the r11 PERF artifact's 3 phantom "dropped_from_bench" entries)
    from bench import summary_pin

    timings = {f"q_quite_long_query_name_{i:04d}": 0.1 + i * 0.013 for i in range(300)}
    timings["transfer_lineitem"] = 1.7
    # the pin comes from the frozen summary artifact (BENCH_r{N}.json)
    frozen = {"parsed": json.loads(compact_summary(_base(len(timings)), timings))}
    pin = summary_pin(frozen)
    assert pin  # the budget fits a few dozen entries
    # one pinned entry gets 10x faster this round: it would no longer
    # make the slowest-first cut, but the pin keeps it inline
    improved = sorted(pin - {"transfer_lineitem"})[0]
    now = dict(timings)
    now[improved] = 0.01
    line = compact_summary(_base(len(now)), now, pin=pin)
    assert len(line) <= SUMMARY_LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"][improved] == 0.01
    # and without the pin it would have vanished (guards the premise)
    unpinned = json.loads(compact_summary(_base(len(now)), now))
    assert improved not in unpinned["queries"]
    # the next round reads this round's printed line, so the name stays
    # pinned instead of dropping out one round later
    assert improved in summary_pin({"parsed": parsed})


def test_summary_pin_tolerates_unparsed_round():
    from bench import summary_pin

    # BENCH_r04.json has "parsed": null (its summary line was truncated)
    assert summary_pin({"parsed": None}) == set()
    assert summary_pin({}) == set()


def test_scaling_set_is_benchable():
    from bench import SCALING_SET
    from odbc2parquet_spark.queries import BENCH

    assert len(SCALING_SET) == len(set(SCALING_SET))
    assert [q for q in SCALING_SET if q not in BENCH] == []


def test_bench_is_the_registry_in_order_and_the_rest_stay_gated():
    # BENCH is derived from the @query decorators: registry order, no
    # duplicates; a query left out of the bench still has its oracle, so
    # the correctness gate covers it
    from odbc2parquet_spark.queries import BENCH, ORACLES, QUERIES

    assert BENCH == [q for q in QUERIES if q in set(BENCH)]
    assert [q for q in QUERIES if q not in BENCH and q not in ORACLES] == []


def test_bench_only_rejects_unknown_names_before_spark(monkeypatch):
    # a typo in SPARK_GRAFT_BENCH_ONLY used to bench nothing but the
    # transfer and still write BENCH_DETAIL_SUBSET.json
    import bench
    from odbc2parquet_spark import session

    def no_spark(*args, **kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_ONLY",
        "q1_pricing_summary, q1_pricng_summary,tm_binary_bytes,bpe_learn_500",
    )
    with pytest.raises(SystemExit) as exc:
        bench.main()
    msg = str(exc.value.code)
    # the typo and the registered-but-not-benched query are both named
    assert "q1_pricng_summary" in msg and "tm_binary_bytes" in msg
    assert "q1_pricing_summary" not in msg and "bpe_learn_500" not in msg


def test_score_history_marks_any_false_verdict_red(tmp_path, monkeypatch):
    # a row is red when err is set or any of rows/schema/hash is False,
    # also when the hash verdict is missing
    import __spark_entry__ as entry

    green = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": green, "b": green, "c": green, "d": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "a": {**green, "schema_match": False, "hash_match": None},
        "b": {**green, "rows_match": False, "hash_match": None},
        "c": {**green, "err": "boom", "hash_match": None},
        "d": green,
    }))
    monkeypatch.setattr(entry, "__file__", str(tmp_path / "__spark_entry__.py"))
    last, red = entry._score_history()
    assert red == {"a", "b", "c"}
    assert last == {"a": 2, "b": 2, "c": 2, "d": 2}


def test_select_movers_flags_only_real_ratio_movers():
    from bench import select_movers

    prior = {"a": 1.0, "b": 1.0, "c": 0.01, "d": 2.0, "new": None}
    timings = {
        "a": 1.6,   # 1.6x slower -> flagged
        "b": 1.4,   # within 1.5x -> not flagged
        "c": 5.0,   # prior below noise floor -> not flagged
        "d": 1.0,   # 2x faster -> flagged (both directions confirm)
        "e": 9.0,   # no prior -> not flagged
    }
    movers = select_movers(timings, {k: v for k, v in prior.items() if v is not None})
    assert set(movers) == {"a", "d"}
    # largest absolute delta first
    assert movers == ["d", "a"]


def test_select_movers_caps_rerun_budget():
    from bench import select_movers

    prior = {f"q{i}": 1.0 for i in range(40)}
    timings = {f"q{i}": 2.0 + i * 0.01 for i in range(40)}
    movers = select_movers(timings, prior)
    assert len(movers) == 10
    assert movers[0] == "q39"  # biggest absolute mover first


def test_select_movers_filters_candidates_before_cap():
    # a pseudo-entry (transfer_lineitem) that moved the most must not eat a
    # confirm slot: with 11 movers and a 10-slot cap, all 10 slots go to
    # re-runnable queries once the pseudo-entry is excluded up front
    from bench import select_movers

    prior = {f"q{i}": 1.0 for i in range(10)}
    prior["transfer_lineitem"] = 1.0
    timings = {f"q{i}": 2.0 + i * 0.01 for i in range(10)}
    timings["transfer_lineitem"] = 99.0  # biggest absolute mover
    movers = select_movers(timings, prior, candidates={f"q{i}" for i in range(10)})
    assert len(movers) == 10
    assert "transfer_lineitem" not in movers


def test_frozen_prior_path_picks_highest_round(tmp_path):
    # the mover baseline is the frozen round-close artifact, never the live
    # BENCH_DETAIL.json a mid-round run can overwrite
    from bench import frozen_prior_path

    assert frozen_prior_path(str(tmp_path)) is None
    (tmp_path / "BENCH_DETAIL.json").write_text("{}")
    assert frozen_prior_path(str(tmp_path)) is None  # live file is not a baseline
    (tmp_path / "BENCH_DETAIL_r09.json").write_text("{}")
    (tmp_path / "BENCH_DETAIL_r10.json").write_text("{}")
    assert frozen_prior_path(str(tmp_path)).endswith("BENCH_DETAIL_r10.json")


def test_plan_audit_truncates_cached_subtrees():
    # the audit counts each cached subtree once: lines nested under an
    # InMemoryTableScan node are cut until the tree returns to its depth
    import os
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.plan_audit import truncate_at_cache

    tree = "\n".join([
        "AdaptiveSparkPlan (9)",
        "+- Project (8)",
        "   +- InMemoryTableScan (1)",
        "         +- InMemoryRelation (2)",
        "               +- Exchange hashpartitioning (7)",
        "                  +- Scan parquet (6)",
        "   +- Exchange hashpartitioning (5)",
        "      +- Scan parquet (4)",
    ])
    out = truncate_at_cache(tree)
    assert "InMemoryTableScan (1)" in out       # the boundary node stays
    assert "Exchange hashpartitioning (7)" not in out  # cached subtree cut
    assert "Exchange hashpartitioning (5)" in out      # sibling survives
    assert "Scan parquet (4)" in out


def test_select_movers_min_filter_clears_noise_collisions():
    from bench import select_movers

    prior = {"a": 2.0, "b": 2.0, "c": 2.0}
    timings = {
        "a": 3.4,  # 1.7x up, but min back at prior -> JIT/GC collision, cleared
        "b": 3.4,  # 1.7x up AND min also up -> real regression, flagged
        "c": 1.0,  # 2x faster -> speedups always confirm, min ignored
    }
    mins = {"a": 2.1, "b": 3.1, "c": 0.9}
    movers = select_movers(timings, prior, mins=mins)
    assert set(movers) == {"b", "c"}
    # without mins, all three would have been flagged (the old behavior)
    assert set(select_movers(timings, prior)) == {"a", "b", "c"}


def test_cachereg_tracks_and_releases(spark, sf_dir):
    """The cache-ownership contract (round-11 judge item 3): a query
    that persists an intermediate must register it in cachereg, and
    release(spark) must actually drop the cached blocks so a long-lived
    session does not accumulate MEMORY_AND_DISK entries."""
    from odbc2parquet_spark import cachereg
    from odbc2parquet_spark.queries import QUERIES

    cachereg.release(spark)  # clean slate
    df = QUERIES["tx_curation_pipeline"](spark, sf_dir)
    assert cachereg.tracked(spark), "curation persist was not tracked"
    tracked = cachereg.tracked(spark)
    df.write.mode("overwrite").format("noop").save()
    assert any(t.storageLevel.useMemory or t.storageLevel.useDisk for t in tracked)
    n = cachereg.release(spark)
    assert n == len(tracked)
    assert not cachereg.tracked(spark)
    for t in tracked:
        assert not (t.storageLevel.useMemory or t.storageLevel.useDisk)


def test_cache_lifetimes_clearcache_vs_release(spark, sf_dir):
    """What survives which reset: ``clearCache()`` (the between-pass and
    between-rep step) keeps the memoized edge list and table plans;
    ``cachereg.release`` (inside ``bench.reset``) unpersists the tracked
    frames and drops the edge list but keeps the table plans."""
    from odbc2parquet_spark import cachereg
    from odbc2parquet_spark.catalog import table_path
    from odbc2parquet_spark.queries import QUERIES

    cachereg.release(spark)
    for name in ("sim_pagerank", "tx_curation_pipeline"):
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    memo = cachereg.memoized(spark)
    edges = memo[("lsh_graph_pairs", sf_dir)]
    table_keys = {k for k in memo if k[0] == "table"}
    assert ("table", table_path(sf_dir, "embeddings")) in table_keys
    tracked = cachereg.tracked(spark)
    persisted = [t for t in tracked if t.storageLevel.useMemory or t.storageLevel.useDisk]
    assert persisted

    spark.catalog.clearCache()
    memo = cachereg.memoized(spark)
    assert memo[("lsh_graph_pairs", sf_dir)] is edges
    assert table_keys <= set(memo)

    assert cachereg.release(spark) == len(tracked)
    memo = cachereg.memoized(spark)
    assert ("lsh_graph_pairs", sf_dir) not in memo
    assert table_keys <= set(memo)
    assert not cachereg.tracked(spark)
    for t in persisted:
        assert not (t.storageLevel.useMemory or t.storageLevel.useDisk)


def test_cachereg_track_release_race(spark):
    """track() from more threads than cores racing release(): every
    tracked frame is released exactly once and counted once."""
    import threading

    from odbc2parquet_spark import cachereg

    class Frame:
        sparkSession = spark

        def __init__(self):
            self.unpersisted = 0

        def unpersist(self):
            self.unpersisted += 1

    cachereg.release(spark)
    frames = [[Frame() for _ in range(200)] for _ in range(2 * (os.cpu_count() or 4))]
    released: list[int] = []
    done = threading.Event()

    def releaser():
        while not done.is_set():
            released.append(cachereg.release(spark))

    trackers = [
        threading.Thread(target=lambda fs=fs: [cachereg.track(f) for f in fs])
        for fs in frames
    ]
    rel = threading.Thread(target=releaser)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        rel.start()
        for t in trackers:
            t.start()
        for t in trackers:
            t.join(timeout=120)
        done.set()
        rel.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not rel.is_alive() and not any(t.is_alive() for t in trackers)
    released.append(cachereg.release(spark))
    assert sum(released) == sum(len(fs) for fs in frames)
    assert all(f.unpersisted == 1 for fs in frames for f in fs)


@pytest.mark.parametrize("phase", ["construct", "execute"])
def test_run_query_failure_names_query_and_phase(spark, sf_dir, monkeypatch, phase):
    """A query that fails while being built and one that fails in its
    write both surface as an error naming the query and the phase, and
    the job description is cleared either way."""
    from pyspark.sql import functions as F

    import bench
    from odbc2parquet_spark.queries import QUERIES

    def fails_at_construct(spark, sf_dir):
        raise ValueError("no such table")

    def fails_at_execute(spark, sf_dir):
        return spark.range(3).select(F.raise_error(F.lit("bad row")).alias("x"))

    name = f"broken_at_{phase}"
    build = fails_at_construct if phase == "construct" else fails_at_execute
    monkeypatch.setitem(QUERIES, name, build)
    with pytest.raises(RuntimeError, match=f"query {name} failed in {phase}") as err:
        bench.run_query(spark, name, sf_dir)
    assert ("no such table" if phase == "construct" else "bad row") in str(err.value)
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
