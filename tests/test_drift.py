"""Known-value checks for operators/drift.py — statistics with closed
forms on hand-built inputs, so a regression is a wrong NUMBER, not just
a changed hash."""

import pytest
from pyspark.sql import functions as F

from odbc2parquet_spark.operators import graph
from odbc2parquet_spark.operators.drift import (
    chi_square_independence,
    covariance_matrix,
    gini_concentration,
    ks_two_sample,
    prefix_sums,
    psi_drift,
    rank_auc,
)


def test_prefix_sums_matches_global_window(spark):
    rows = [(i, (i * 7) % 5 + 1, (i * 3) % 4) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    out = {
        r.k: (r.c_x, r.c_y)
        for r in prefix_sums(df, ["k"], ["x", "y"]).collect()
    }
    cx = cy = 0
    for k, x, y in rows:
        cx += x
        cy += y
        assert out[k] == (cx, cy)


def test_prefix_sums_empty_input(spark):
    df = spark.createDataFrame([], "k long, x long")
    assert prefix_sums(df, ["k"], ["x"]).count() == 0


def test_ks_identical_samples_is_zero(spark):
    # same distribution in both populations -> every CDF gap is 0
    rows = [(float(v), b) for v in range(50) for b in (True, False)]
    df = spark.createDataFrame(rows, ["value", "b"])
    r = ks_two_sample(df, F.col("b")).collect()[0]
    assert (r.n_a, r.n_b, r.d_stat) == (50, 50, 0.0)


def test_ks_disjoint_samples_is_one(spark):
    rows = [(float(v), False) for v in range(30)] + [
        (float(v + 100), True) for v in range(30)
    ]
    df = spark.createDataFrame(rows, ["value", "b"])
    assert ks_two_sample(df, F.col("b")).collect()[0].d_stat == 1.0


def test_auc_perfect_separation(spark):
    rows = [(float(s), True) for s in range(10, 20)] + [
        (float(s), False) for s in range(10)
    ]
    df = spark.createDataFrame(rows, ["value", "p"])
    r = rank_auc(df, F.col("p")).collect()[0]
    assert (r.n_pos, r.n_neg, r.auc) == (10, 10, 1.0)


def test_auc_ties_average_to_half(spark):
    # all scores equal -> AUC must be exactly 0.5 via average-rank ties
    rows = [(1.0, i % 2 == 0) for i in range(40)]
    df = spark.createDataFrame(rows, ["value", "p"])
    assert rank_auc(df, F.col("p")).collect()[0].auc == 0.5


def test_gini_equal_values_is_zero(spark):
    from decimal import Decimal

    df = spark.createDataFrame(
        [(Decimal("5.000000"),)] * 20, "v decimal(18,6)"
    )
    r = gini_concentration(df).collect()[0]
    assert r.n == 20 and r.gini == 0.0


def test_gini_single_owner(spark):
    # one unit owns everything: G = (n-1)/n
    from decimal import Decimal

    vals = [(Decimal("0.000000"),)] * 9 + [(Decimal("10.000000"),)]
    df = spark.createDataFrame(vals, "v decimal(18,6)")
    assert gini_concentration(df).collect()[0].gini == pytest.approx(
        0.9, abs=1e-9
    )


def test_chi_square_independent_is_zero(spark):
    # perfectly proportional table -> expected == observed -> chi2 = 0
    rows = []
    for a in ("x", "y"):
        for b, c in (("u", 10), ("w", 30)):
            rows += [(a, b)] * c
    df = spark.createDataFrame(rows, ["o_orderpriority", "o_orderstatus"])
    r = chi_square_independence(df).collect()[0]
    assert (r.n, r.dof, r.chi2) == (80, 1, 0.0)


def test_chi_square_missing_cell_counts_expectation(spark):
    # a zero-observed cell must still contribute (0-e)^2/e = e
    rows = [("x", "u")] * 10 + [("x", "w")] * 10 + [("y", "u")] * 10
    df = spark.createDataFrame(rows, ["o_orderpriority", "o_orderstatus"])
    r = chi_square_independence(df).collect()[0]
    # classic 2x2 chi2 = n(ad-bc)^2 / (row1 row2 col1 col2)
    expected = 30 * (10 * 0 - 10 * 10) ** 2 / (20 * 10 * 20 * 10)
    assert r.chi2 == pytest.approx(expected, abs=1e-6)
    assert r.dof == 1


def test_psi_identical_populations_near_zero(spark):
    rows = [(float(v % 37), v % 2 == 0) for v in range(1000)]
    df = spark.createDataFrame(rows, ["value", "b"])
    out = psi_drift(df, F.col("b")).collect()
    assert len(out) == 10
    assert sum(abs(r.psi_term) for r in out) < 0.01


def test_psi_shifted_population_detects_drift(spark):
    rows = [(float(v % 50), False) for v in range(1000)] + [
        (float(v % 50) + 40.0, True) for v in range(1000)
    ]
    df = spark.createDataFrame(rows, ["value", "b"])
    out = psi_drift(df, F.col("b")).collect()
    assert sum(r.psi_term for r in out) > 0.5  # "significant drift" band
    # every bin emits a row even if one side is empty there
    assert {r.bin for r in out} == set(range(10))


def test_covariance_matrix_known_values(spark):
    # three 64-d vectors with hand-computable covariance in dims 0 and 1:
    # x = [1,2,3], y = [2,4,6] -> var(x)=1, cov(x,y)=2, var(y)=4 (n-1
    # denom); the 62 constant dims covary 0 with everything
    rows = [([1.0, 2.0] + [0.5] * 62,), ([2.0, 4.0] + [0.5] * 62,), ([3.0, 6.0] + [0.5] * 62,)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = {(r.i, r.j): r.cov for r in covariance_matrix(df).collect()}
    want = {(i, j): 0.0 for i in range(64) for j in range(i, 64)}
    want.update({(0, 0): 1.0, (0, 1): 2.0, (1, 1): 4.0})
    assert out == want


def test_covariance_matrix_zero_is_positive(spark):
    # a constant dimension must emit +0.0 (never IEEE -0.0 — the
    # cross-engine hash canonicalizes by repr)
    import math

    rows = [([5.0, float(i)] + [-2.0] * 62,) for i in range(4)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = {(r.i, r.j): r.cov for r in covariance_matrix(df).collect()}
    assert out[(0, 0)] == 0.0 and math.copysign(1.0, out[(0, 0)]) > 0
    assert out[(0, 1)] == 0.0 and math.copysign(1.0, out[(0, 1)]) > 0


def test_covariance_twins_identical(spark, sf_dir):
    # the Arrow matmul scale path and the pure-Catalyst decimal twin must
    # produce bit-identical rows (shared integer-scaled projection)
    from odbc2parquet_spark.catalog import load_table
    from odbc2parquet_spark.operators.drift import covariance_matrix_decimal

    emb = load_table(spark, sf_dir, "embeddings")
    fast = {(r.i, r.j): (r.n, r.cov) for r in covariance_matrix(emb).collect()}
    slow = {
        (r.i, r.j): (r.n, r.cov)
        for r in covariance_matrix_decimal(emb, dim=64).collect()
    }
    assert fast == slow and len(fast) == 64 * 65 // 2


def test_correlation_matrix_known_values(spark):
    from odbc2parquet_spark.operators.drift import correlation_matrix

    # dim0 and dim1 perfectly correlated, dim2 anti-correlated with dim0,
    # dims 3..63 constant (zero variance -> NULL)
    rows = [
        ([1.0, 2.0, -1.0] + [7.0] * 61,),
        ([2.0, 4.0, -2.0] + [7.0] * 61,),
        ([3.0, 6.0, -3.0] + [7.0] * 61,),
    ]
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = {(r.i, r.j): r.corr for r in correlation_matrix(df).collect()}
    assert out[(0, 0)] == 1.0 and out[(1, 1)] == 1.0
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == -1.0
    assert out[(0, 3)] is None and out[(3, 3)] is None


def test_cusum_changepoint_level_shift(spark):
    import datetime

    from odbc2parquet_spark.operators.drift import cusum_changepoint

    # 10 days at 1.0 then 10 days at 5.0: |cusum| peaks at the shift
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=d), "m", 1.0 if d < 10 else 5.0)
        for d in range(20)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = cusum_changepoint(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_days == 20
    assert r.change_day == datetime.date(2024, 1, 10)  # last pre-shift day
    # mean = 3.0; S_10 = 10*(1-3) = -20 -> d_stat = 20.0
    assert r.d_stat == 20.0


def test_psi_constant_column_collapses_to_bin0(spark):
    """A constant value column (mx == mn) must not NULL every bin via a
    zero-width divide: all rows land in bin 0, the other bins emit their
    smoothed-empty terms, and counts reconcile with the totals."""
    rows = [(7.0, v % 2 == 0) for v in range(100)]
    df = spark.createDataFrame(rows, ["value", "b"])
    out = {r.bin: r for r in psi_drift(df, F.col("b")).collect()}
    assert set(out) == set(range(10))
    assert out[0].n_a == 50 and out[0].n_b == 50
    assert all(out[b].n_a == 0 and out[b].n_b == 0 for b in range(1, 10))
    # no row vanished: terms are finite numbers, not NULL
    assert all(out[b].psi_term is not None for b in range(10))


@pytest.mark.slow
def test_covariance_large_magnitude_chunked_exact(spark):
    """|x| ~ 1e3 vectors: each int64 Gram product is ~1e18, so an
    unchunked per-batch sum would wrap after ~9 rows. The chunked
    accumulation must stay EXACT — bit-identical to the pure-Catalyst
    decimal twin on 200 such rows in a single Arrow batch."""
    from odbc2parquet_spark.operators.drift import covariance_matrix_decimal

    rows = [
        ([1000.0 - i * 0.5, -999.0 + i * 0.25] + [0.0] * 62,)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "embedding array<double>").coalesce(1)
    fast = {(r.i, r.j): (r.n, r.cov) for r in covariance_matrix(df).collect()}
    slow = {
        (r.i, r.j): (r.n, r.cov)
        for r in covariance_matrix_decimal(df, dim=64).collect()
    }
    assert fast == slow and len(fast) == 64 * 65 // 2
    # sanity: the values are the right order of magnitude, not wrapped
    assert fast[(0, 0)][1] > 0 and fast[(1, 1)][1] > 0


@pytest.mark.slow
def test_two_pass_ops_leave_no_persistent_rdds(spark):
    """The two-pass prefix-sum family must not pin blocks in the session
    cache manager (localCheckpoint, not persist): after running each
    operator to completion the persistent-RDD registry holds nothing it
    did not hold before (an earlier test in the session may have left
    its own registrations)."""
    from odbc2parquet_spark.operators.ranges import sweep_line_concurrency
    from odbc2parquet_spark.operators.sampling import pps_sample
    from odbc2parquet_spark.operators.sharding import pack_shards_two_pass

    before = _persistent_rdd_ids(spark)
    df = spark.createDataFrame([(i, (i * 7) % 5 + 1) for i in range(300)], ["doc_id", "x"])
    prefix_sums(df, ["doc_id"], ["x"]).count()
    iv = spark.createDataFrame([(i, i + 3) for i in range(300)], ["s", "e"])
    sweep_line_concurrency(iv).count()
    pack_shards_two_pass(df.withColumnRenamed("x", "n_tokens")).count()
    pps_sample(df.withColumnRenamed("x", "n_chars")).count()
    assert _persistent_rdd_ids(spark) - before == set()


def _persistent_rdd_ids(spark):
    """Ids of the RDDs registered as persistent (checkpoints and persists);
    comparing id sets, not sizes, ignores older registrations the
    ContextCleaner frees meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


#: graph operator -> a call on (id) nodes, (src, dst) edges and the same
#: edges as (id_a, id_b) pairs, at the operator's own round count
#: (tree_ancestry's 8 pass two intermediate truncations)
_FIXPOINT_RUNS = {
    "connected_components": lambda nodes, edges, pairs: graph.connected_components(nodes, pairs),
    "connected_components_star": lambda nodes, edges, pairs: graph.connected_components_star(
        nodes, pairs
    ),
    "k_core": lambda nodes, edges, pairs: graph.k_core(pairs),
    "pagerank_int": lambda nodes, edges, pairs: graph.pagerank_int(
        nodes, graph.out_degree_weighted(edges), n_nodes=20
    ),
    "personalized_pagerank_int": lambda nodes, edges, pairs: graph.personalized_pagerank_int(
        graph.out_degree_weighted(edges), nodes.filter(F.col("id") % 5 == 0)
    ),
    "hits_int": lambda nodes, edges, pairs: graph.hits_int(nodes, edges),
    "label_propagation_int": lambda nodes, edges, pairs: graph.label_propagation_int(
        nodes, edges
    ),
    "tree_ancestry": lambda nodes, edges, pairs: graph.tree_ancestry(
        nodes.select(F.col("id").alias("node"), F.expr("id div 2").alias("parent"))
    ),
}


@pytest.mark.parametrize("name", list(_FIXPOINT_RUNS))
def test_iterative_fixpoints_release_superseded_rounds(spark, name):
    """Iterative operators checkpoint or persist their rounds; every
    SUPERSEDED round's blocks (and the pinned edge list) must be
    explicitly released, so after a run at most the final state (plus
    nothing else) stays registered."""
    base = _persistent_rdd_ids(spark)
    nodes = spark.createDataFrame([(i,) for i in range(20)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 18, 2)] + [(i, i + 3) for i in range(0, 16, 4)],
        ["src", "dst"],
    )
    pairs = edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    _FIXPOINT_RUNS[name](nodes, edges, pairs).count()
    # only the final state's checkpoint may remain registered
    assert len(_persistent_rdd_ids(spark) - base) <= 1


@pytest.mark.parametrize("tested", [False, True])
def test_fixpoint_releases_everything_when_a_step_raises(spark, tested):
    """A step that raises part-way leaves nothing registered: the pinned
    edge list, the last truncation and the lazily persisted rounds are
    all released (a fixed-round loop with a doubly-read state fails on
    round 6, after the round-4 truncation; a convergence-tested loop on
    round 3)."""
    base = _persistent_rdd_ids(spark)
    edges = spark.range(10).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    calls = []

    def step(state, edges):
        calls.append(1)
        if len(calls) == (3 if tested else 6):
            raise ValueError("step failed")
        # references the state twice, like a doubly-read fixpoint
        return state.join(edges, state.id == edges.src, "left_semi").union(state).distinct()

    def never(new, old):
        return new.count() < 0

    with pytest.raises(ValueError, match="step failed"):
        graph._fixpoint(
            spark.range(10), step, 10, never if tested else None,
            edges=edges, reads_twice=not tested, name="test",
        )
    assert not _persistent_rdd_ids(spark) - base


def test_weighted_median_known_values(spark):
    from odbc2parquet_spark.operators.drift import weighted_median

    # values 1..4 with weights 1,1,1,7: total 10, half 5 -> value 4
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 7)], ["l_extendedprice", "l_quantity"]
    )
    r = weighted_median(df).collect()[0]
    assert r.wmedian == 4.0 and r.w_total == 10 and r.n_distinct == 4

    # symmetric weights: lower weighted median at the first value
    # reaching half the total (2*cum >= W picks 2: cum(2)=2, W=4)
    df2 = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 1)], ["l_extendedprice", "l_quantity"]
    )
    assert weighted_median(df2).collect()[0].wmedian == 2.0

    # duplicate values merge their weights before the cumulative pass
    df3 = spark.createDataFrame(
        [(5.0, 1), (5.0, 1), (1.0, 1)], ["l_extendedprice", "l_quantity"]
    )
    r3 = weighted_median(df3).collect()[0]
    assert r3.wmedian == 5.0 and r3.n_distinct == 2


@pytest.mark.slow
def test_sweep_line_boundary_proxy_exact(spark):
    """A boundary proxy (even a badly-skewed one) changes only bucket
    balance — concurrency output must be identical to the self-sampled
    form."""
    from pyspark.sql import functions as F

    from odbc2parquet_spark.operators.ranges import sweep_line_concurrency

    iv = spark.createDataFrame(
        [((i * 13) % 97, (i * 13) % 97 + 5) for i in range(500)], ["s", "e"]
    )
    base = sweep_line_concurrency(iv)
    # good proxy: the start column itself
    proxy = iv.select(F.col("s").alias("p"))
    good = sweep_line_concurrency(iv, boundary_source=(proxy, "p"))
    # pathological proxy: constant column -> a single bucket
    bad = sweep_line_concurrency(iv, boundary_source=(iv.select(F.lit(0.0).alias("p")), "p"))
    want = sorted(map(tuple, base.collect()))
    assert sorted(map(tuple, good.collect())) == want
    assert sorted(map(tuple, bad.collect())) == want


def test_bucketing_date_keys(spark):
    """DateType ordering keys must bucket (DATE has no DOUBLE cast —
    unix_date is the monotone numeric form)."""
    import datetime

    from odbc2parquet_spark.operators.bucketing import order_bucket_col

    rows = [(datetime.date(2024, 1, 1) + datetime.timedelta(days=i), i) for i in range(200)]
    df = spark.createDataFrame(rows, "d date, x long")
    b = df.withColumn("_bk_", order_bucket_col(df, "d"))
    got = b.groupBy("_bk_").count().collect()
    assert sum(r["count"] for r in got) == 200
    assert len(got) >= 2  # genuinely split, monotone boundaries
    # monotonicity: max date of bucket k < min date of bucket k+1
    import itertools

    stats = sorted(
        (r["_bk_"], r["mn"], r["mx"])
        for r in b.groupBy("_bk_").agg(
            F.min("d").alias("mn"), F.max("d").alias("mx")
        ).collect()
    )
    for (b1, _, mx1), (b2, mn2, _) in itertools.pairwise(stats):
        assert mx1 < mn2, (b1, b2)
