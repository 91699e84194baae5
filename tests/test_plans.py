"""Plan invariants for every registered query — the scale contract.

A query that silently plans a CartesianProduct/BroadcastNestedLoopJoin (or
drops filter pushdown) would still pass value checks at sf0.01 but die at
100 TB; these tests pin the physical plan shape itself.
"""

import pytest

from odbc2parquet_spark.queries import QUERIES
from tools.plan_audit import formatted_explain

#: intentional all-pairs/theta operators — quadratic by design, documented
#: as verification-only (never the scale path).
ALL_PAIRS_OK = {
    "dd_ngram_jaccard",      # bounded-slice verification
    "dd_containment",        # bounded-slice verification (directed containment)
    "dd_simhash_pairs",      # all-pairs verification (dd_simhash_banded is the scale path)
    "dd_embedding_cosine",   # all-pairs verification (sim_lsh_* / sim_ivf_* scale paths)
    "sim_candidate_recall",  # recall evaluation vs the all-pairs ground truth (bounded slice)
    "sim_pq_recall",         # same: ADC recall@10 vs the brute-force ground truth
    "sim_pq_lloyd_recall",   # same ground truth, Lloyd-refined codebook
    "sim_ivf_pq_recall",     # same ground truth for the composed IVF-PQ index
    "sim_nprobe_curve",      # the same recall evaluation at 4 nprobe points
                             # (exact ground truth + centroid-cross routing)
    "sim_ivf_pq_res_recall", # same ground truth, residual-encoded index
    "sim_recall_floor",      # the frozen operating-point gate: same
                             # brute-force ground-truth arm as
                             # sim_ivf_pq_recall, folded to one row
    "tx_curation_pipeline",  # composes sim_recall_floor's gate (above) —
                             # the quadratic is its bounded brute-force
                             # ground-truth arm; every corpus-scale stage
                             # (terciles, decontamination, sharding) is keyed
    "sim_bruteforce_topk",   # exactness baseline: broadcast probes BY DESIGN
    "q_scalar_functions",    # no join at all; harmless
    "dd_dup_clusters",       # edges come from dd_embedding_cosine (above);
                             # at scale the same components run on LSH pairs
    "dd_dup_clusters_star",  # same cosine edge source, star-contraction CC
    "dd_keep_best",          # keep-best over the cosine-edge clusters —
                             # dd_keep_best_minhash is its scale path
}

#: broadcast cross-joins against a BOUNDED side (scalar aggregate or the
#: k_cells centroid set) — linear in the big input, correct at any scale.
BOUNDED_CROSS_OK = {
    "q_having_subquery",     # 1-row scalar threshold broadcast
    "sim_ivf_assign",        # corpus x 16 centroids (the assign pass itself)
    "sim_ivf_topk",          # same centroid scoring inside the search
    "sim_ivf_pq_topk",       # same corpus x 16 centroid cross in the cell
                             # routing; the ADC/code joins are all equi
    "tx_bigram_surprisal",   # 1-row corpus-total broadcast
    "tx_tfidf_density",      # 1-row doc-count broadcast (idf denominator)
    "tx_mixture_sample",     # 1-row mixture-target + |sources|-row threshold broadcasts
    "q15_top_supplier",      # 1-row max-revenue broadcast (theta equality on double)
    "q22_dormant_customers", # 1-row avg-balance broadcast threshold
    "tx_domain_mix",         # 1-row grand-total broadcast for the share denominator
    "q11_important_parts",   # 1-row global-total broadcast threshold
    "sim_hybrid_search",     # 1-row probe-embedding broadcast (rerank side)
    "tx_cooccurrence_lift",  # 1-row corpus-total broadcast for the lift denominator
    "tx_dsir_weights",       # two 1-row token-total broadcasts (corpus + target)
    "dd_semantic_cells",     # corpus x 16 centroids assign (the SemDeDup cell
                             # pass itself is an equi-join on cell id)
    "tx_bm25_topk",          # 1-row avgdl/n_docs stats broadcast
    "q_weighted_median",     # 1-row (total-weight, distinct-count) broadcast
    "tx_keyword_topk",       # 1-row n_docs broadcast (idf denominator)
    "sim_ivf_refine",        # corpus x 16 centroids assign feeding the
                             # decimal-exact Lloyd mean
    # round 4 additions — every cross side is a 1-row aggregate or a
    # probe-bounded candidate set, never corpus x corpus:
    "ev_time_to_convert",    # 1-row max-ts broadcast (the censoring horizon)
    "q_zorder_cluster",      # 1-row min/max stats broadcast for the range cells
    "ev_skew_profile",       # 1-row (n_keys, total) broadcast onto 5 hot keys
    "ev_agg_merge",          # 1-row refresh-cutoff broadcast
    "q_dq_checks",           # 1-row row-count broadcast onto the RI orphan count
    "sim_mmr_topk",          # probe x corpus brute-force candidates (broadcast
                             # probes) + k_cand^2-per-probe pairwise sims
    "dd_lsh_recall",         # all-pairs exact-Jaccard GROUND TRUTH (the bounded
                             # verification side) + 1x1 summary cross
    "tx_text_ann",           # 4 broadcast probe vectors x corpus (the exact
                             # search baseline over the hashed space)
    # round 5 drift/rank statistics — every cross side is a 1-row
    # aggregate (min/max, totals) or the bounded |levels|x|levels| grid:
    "ev_psi_drift",          # 1-row (min,max,totals) broadcast for binning
    "ev_ks_test",            # 1-row totals broadcast onto the CDF gap
    "q_gini_supplier",       # 1-row (n,total) broadcast onto distinct values
    "q_chi_square_priority", # bounded levels_a x levels_b marginal grid
    # round 6: LOO target encoding — 1-row (global sum, count) broadcast
    # crossed onto the row stream; the category side is a broadcast HASH
    # join on the key, never a nested loop
    "q_target_encode",
    # round 6: KMV overlap — the post-sketch algebra crosses two 1-row
    # aggregates (k_used/hk x n_shared); everything upstream is two
    # partial top-k scans over <= 2k hashes
    "q_kmv_overlap",
    # round 6: purged temporal split — 1-row (min, max) bounds broadcast
    # for the cutoff CASE, same shape as ev_psi_drift's binning stats
    "ev_purged_split",
    # round 6: cumulative HLL — the calendar x 256-register densifying
    # grid is a broadcast cross of two bounded sides (days, registers)
    "ev_hll_cumulative",
    # round 6: temperature resampling — |languages|-row counts crossed
    # with the 1-row binding-ratio minimum (mixture_sample's shape; its
    # literal-weight twin folds the cross away, the in-plan rates do not)
    "tx_temperature_mix",
    # round 6: seasonal anomalies — 1-row med/mad stats crossed onto the
    # calendar-sized residual table (plus the decomposition's own
    # calendar-bounded shapes)
    "ev_seasonal_anomalies",
    # round 8: conditional bigram LM — 1-row vocabulary-size scalar
    # broadcast crossed onto the bigram stream (bigram_surprisal's shape)
    "tx_bigram_lm_score",
    # round 10: the cross-trained CCNet LM — the same 1-row vocab scalar
    # broadcast, now from the reference slice, onto the crawl stream
    "tx_ccnet_crosslm",
    # round 10: rank->cutpoint terciles — the LM vocab scalar plus the
    # 1-row (c1, c2) cutpoint broadcast onto the scored stream
    "tx_ccnet_cutpoints",
    "tx_ccnet_buckets",      # same LM pipeline under the tercile window
    "tx_curation_verdict",   # same LM pipeline inside the funnel composition
    "tx_kneser_ney_score",   # 1-row bigram-type-count scalar broadcast
    "tx_ccnet_lang_buckets", # same LM vocab scalar, per-language window
    # round 9: Naive Bayes — |classes|-row class-totals + 1-row vocab/
    # doc-total scalars broadcast onto the token stream; the class-word
    # count join is a broadcast HASH equi-join
    "tx_naive_bayes",
    # round 9: silhouette — corpus x 16 centroids scoring cross
    # (sim_ivf_assign's shape, twice-aggregated)
    "sim_silhouette",
    # round 9: decayed heavy hitters — 1-row max-day anchor broadcast
    "ev_decay_topk",
    # round 9: negative-sampling table — two 1-row scalar broadcasts
    # (total micro-weight, slot deficit) onto the vocab-bounded table
    "tx_neg_sample_table",
    # round 9: RRF — 1-row probe-vector broadcast on the cosine arm
    "sim_rrf_fusion",
    # round 9: stupid backoff — 1-row train-token-total scalar broadcast
    # (the unigram/OOV denominator) onto the scored token stream; every
    # n-gram lookup is a gram-keyed HASH join
    "tx_stupid_backoff",
    # round 9: join-cardinality estimator — three 1-row aggregates
    # (exact count, tau/k, sample sum) crossed into the single output row
    "q_join_card_est",
    # round 9: hash-collision audit — vocab x 3-row dim list + 1-row
    # vocab-count broadcast
    "tx_hash_collisions",
    # round 9: residual IVF-PQ — the same corpus x 16 centroid routing
    # cross as sim_ivf_pq_topk; codes/LUT joins are all equi
    "sim_ivf_pq_res_topk",
    # round 9: split conformal — 1-row OLS-coefficients and 1-row
    # quantile broadcasts onto the scored rows
    "tx_conformal_interval",
    # round 9: MaxSim late interaction — distinct doc tokens x the
    # broadcast 8-row query-token list (the factorized maxsim shape)
    "sim_maxsim_topk",
    # round 9: NB confusion matrix — tx_naive_bayes' class-bounded
    # broadcasts under a |classes|^2 aggregate
    "tx_nb_confusion",
    # round 9: LSH banding operating curve — dd_lsh_recall's all-pairs
    # Jaccard GROUND TRUTH (bounded verification side) under 4 bandings
    # of one signature + 1-row truth-count broadcast
    "dd_band_curve",
    # round 10: Markov removal effect — the 1-row full-chain absorption
    # probability broadcast crossed onto the 4-row scenario frame; all
    # chain algebra upstream is keyed joins over the <=25-row transition
    # table
    "ev_removal_effect",
    # round 11: incremental curation — every cross in the plan is a
    # 1-row broadcast (the frozen corpus quality-cutpoint struct, the
    # delta-stats audit row, and the composed sub-queries' own scalar
    # gates); the corpus-scale stages are all keyed joins
    "tx_curation_delta",
    # (round 11: sim_pca_power left this list — the power iteration now
    # runs on the driver over the collected d^2-row covariance statistic,
    # so its final plan has no cross joins at all; the corpus-sized Arrow
    # Gram pass stays distributed and equi-keyed)
    # round 10: HT estimator — 1-row total-weight and 1-row exact-total
    # broadcasts onto the 500-draw sample
    "tx_ht_estimate",
    # round 10: delta assign — the delta batch x 16 frozen centroids
    # (sim_ivf_assign's shape on the ingest increment)
    "sim_ivf_delta_assign",
    # round 10: keyness — 1-row grand-total broadcast onto the
    # vocab x sources count table
    "tx_keyness",
    # round 10: cluster purity — the corpus x 16 centroid assign cross
    # (sim_ivf_assign's shape) under two bounded label aggregations
    "sim_cluster_purity",
    # round 10: cell medoids — the same corpus x 16 assign cross; the
    # pairwise pass itself is an equi-join on the cell id, 128-capped
    "sim_cell_medoids",
    # round-9 close additions (landed in that round's final commit,
    # after its plan-test run): both are 1-row scalar broadcasts —
    # km_survival's censoring horizon (max ts), rfm's recency anchor
    "ev_km_survival",
    "ev_rfm_segments",
}
ALL_PAIRS_OK |= BOUNDED_CROSS_OK

#: queries whose dimension joins must broadcast (small side < threshold)
MUST_BROADCAST = ["q_broadcast_dims", "q_join_revenue_topn"]

#: queries whose scan must carry pushed filters
MUST_PUSH = ["q_filter_pushdown", "q_param_binding", "q_exists_correlated"]


pytestmark = pytest.mark.slow  # excluded from the default profile (pytest.ini)


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: formatted_explain(fn(spark, sf_dir)) for name, fn in QUERIES.items()}


def test_no_unintended_quadratic_joins(plans):
    offenders = {
        name
        for name, plan in plans.items()
        if name not in ALL_PAIRS_OK
        and ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan)
    }
    assert not offenders, f"quadratic join shapes appeared in: {sorted(offenders)}"


def test_dimension_joins_broadcast(plans):
    for name in MUST_BROADCAST:
        assert "BroadcastHashJoin" in plans[name], f"{name} lost its broadcast join"


def test_ivf_broadcasts_centroids(plans):
    # centroid scoring must broadcast the (tiny) centroid side, never
    # shuffle the corpus
    assert "BroadcastExchange" in plans["sim_ivf_assign"]


def test_pq_adc_lut_broadcast(plans):
    # ADC search joins corpus CODES to the probe lookup table — the LUT
    # (n_probes*m*k rows) must broadcast; a shuffled LUT join would drag
    # the whole code table through an exchange keyed on (subspace, code).
    # Same contract for the IVF-PQ composition (plus its probed-cell
    # filter, which must also be a broadcast join, never a shuffle).
    plan = plans["sim_pq_adc_topk"]
    assert "BroadcastHashJoin" in plan, "ADC lookup-table join lost its broadcast"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # The IVF-PQ composition keeps the bounded corpus x 16-centroid BNLJ
    # from the cell-routing pass (allowlisted in BOUNDED_CROSS_OK); its
    # ADC/code joins must still be broadcast-hash, never cartesian.
    plan = plans["sim_ivf_pq_topk"]
    assert "BroadcastHashJoin" in plan, "sim_ivf_pq_topk: ADC joins lost their broadcast"
    assert "CartesianProduct" not in plan


def test_simhash_signatures_zero_shuffle(plans):
    # the signature pass is row-local (array_distinct + hash array + bit
    # folds) — a shuffle here would mean the old explode+distinct+groupBy
    # shape crept back, paying two corpus-word-set exchanges for nothing
    plan = plans["dd_simhash"]
    n_shuffles = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and ") Exchange" in l
    )
    assert n_shuffles == 0, f"expected a narrow plan, saw {n_shuffles} shuffles"


@pytest.mark.parametrize(
    "name, n_exchanges",
    [
        ("sim_lsh_bucket_pairs", 1),
        # + the distinct after the hamming verify / multi-band dedupe
        ("dd_simhash_banded", 2),
        ("sim_banded_pairs", 2),
        ("mm_dhash_pairs", 2),
    ],
)
def test_lsh_bucket_pairs_capped_single_shuffle(plans, name, n_exchanges):
    # every candidate generator must use the capped collect_list shape:
    # ONE shuffle on the bucket (window + groupBy share the partitioning),
    # a window-count cap bounding hot buckets, and no self-join (a bucket
    # equi-join would shuffle twice and go quadratic on a hot bucket)
    plan = plans[name]
    n_shuffles = sum(
        1 for l in plan.splitlines() if l.strip().startswith("(") and ") Exchange" in l
    )
    assert n_shuffles == n_exchanges, f"{name}: expected {n_exchanges} shuffles, saw {n_shuffles}"
    assert "Window" in plan, f"{name}: bucket cap window missing"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_filters_reach_parquet_scan(plans):
    for name in MUST_PUSH:
        plan = plans[name]
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.replace(
            "PushedFilters: [],", "PushedFilters: []"
        ), f"{name} lost filter pushdown"


def test_no_collect_based_plans(plans):
    # every registered query must be a single distributed plan — a query
    # built via driver-side collect would show up as a LocalTableScan root
    for name, plan in plans.items():
        first_node = next(
            (l for l in plan.splitlines() if l.strip().startswith("(1)")), ""
        )
        assert "LocalTableScan" not in first_node, f"{name} materializes on the driver"


def _tree_node_ids(plan: str, needle: str) -> list[int]:
    """Node ids from the formatted-plan tree section for lines containing
    ``needle``. Formatted explain numbers leaves lowest and the root
    highest, so a smaller id means deeper in the tree (executed earlier)."""
    import re

    ids = []
    for line in plan.split("\n\n", 1)[0].splitlines():
        if needle in line:
            m = re.search(r"\((\d+)\)\s*$", line)
            if m:
                ids.append(int(m.group(1)))
    return ids


def test_part_semi_join_pushed_below_aggregate(plans):
    # q20/q2/q16 build part<->supplier facts from lineitem: the selective
    # broadcast semi-join against the filtered part set commutes with the
    # groupBy/distinct on (suppkey, partkey) and MUST sit below it, so the
    # aggregation shuffle sees ~1% of lineitem, not the whole fact table.
    for name in ("q20_heavy_shippers", "q2_min_balance_supplier", "q16_supplier_variety"):
        plan = plans[name]
        semis = _tree_node_ids(plan, "BroadcastHashJoin LeftSemi")
        aggs = _tree_node_ids(plan, "HashAggregate")
        assert semis and aggs, f"{name} lost its semi-join or aggregate"
        assert min(semis) < min(aggs), (
            f"{name}: part semi-join (node {min(semis)}) no longer below the "
            f"aggregate (node {min(aggs)}) — aggregating unfiltered lineitem"
        )


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing contract for 100 TB co-located joins: two tables written
    bucketBy(8, key) sort-merge-join WITHOUT a shuffle exchange on either
    side — the physical layout replaces the runtime repartition."""
    import uuid

    from pyspark.sql import functions as F

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bj_left_{suffix}", f"bj_right_{suffix}"
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    right = spark.range(0, 10_000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("vb")
    )
    try:
        for name, df in ((ta, left), (tb, right)):
            (
                df.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(8, "k")
                .sortBy("k")
                .saveAsTable(name)
            )
        a, b = spark.table(ta), spark.table(tb)
        joined = a.hint("merge").join(b, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5_000
    finally:
        for name in (ta, tb):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_parquet_aggregate_pushdown(spark, sf_dir):
    """MIN/MAX/COUNT over parquet can be answered from footer statistics
    alone — the 100 TB metadata-only fast path. Assert the pushed
    aggregates appear in the scan node when the flag is on."""
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # footer-stat pushdown is a DataSource V2 feature; the V1 path plans a
    # full scan for the same query
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            {"l_quantity": "min", "l_extendedprice": "max", "*": "count"}
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan and "MIN(l_quantity)" in plan, plan
        row = df.collect()[0]
        assert row["count(1)"] > 0
    finally:
        spark.conf.unset("spark.sql.sources.useV1SourceList")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")


def test_bm25_topk_is_take_ordered(plans):
    # the top-20 must plan as TakeOrderedAndProject (distributed partial
    # top-k); a global Sort before the limit would single-partition the
    # per-doc score table
    plan = plans["tx_bm25_topk"]
    assert "TakeOrderedAndProject" in plan, "bm25 lost its partial top-k"


def test_semantic_cells_pairs_by_cell_equijoin(plans):
    # the SemDeDup pairwise pass must be an equi-join keyed on the cell
    # id (SortMergeJoin/ShuffledHashJoin) — a nested-loop pairing would
    # be the N^2 shape the cell scoping exists to avoid. (The only BNLJ
    # allowed is the bounded corpus x 16-centroid assign.)
    plan = plans["dd_semantic_cells"]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
