"""Benchmark: headline queries + transfer workload at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Query set: the scale-path operators (no all-pairs quadratics — those are
verification operators, exercised at sf0.01 by the correctness gate).
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

#: headline set: relational core + type mapping + scale-path extensions
HEADLINE = [
    "q1_pricing_summary",
    "q_filter_pushdown",
    "q_join_revenue_topn",
    "q_semi_join",
    "q_broadcast_dims",
    "q_window_topk_per_group",
    "q_window_running_sum",
    "q_rollup",
    "q_orderby_limit",
    "q_distinct_count",
    "q5_local_supplier_volume",
    "q_percentiles",
    "q_kmv_distinct",
    "q_heavy_hitters",
    "tm_decimal_matrix",
    "tm_time_of_day",
    "dd_exact",
    "dd_minhash_signatures",
    "dd_minhash_lsh",
    "dd_simhash",
    "dd_simhash_banded",
    "sim_lsh_signatures",
    "sim_bruteforce_topk",
    "sim_ivf_assign",
    "sim_ivf_topk",
    "tx_token_stats",
    "tx_quality_scores",
    "tx_language_id",
    "tx_fingerprint",
    "ev_windowed_counts",
    "ev_sessionized",
    "ev_asof_last_purchase",
    "ev_range_join_bands",
    "ev_rollup_daily",
    "mm_decode_features",
    "mm_resize",
    "tx_prepare_corpus",
    "tx_pack_shards",
    # round 2: TPC-H Q7..Q22 suite (queries/tpch.py)
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q12_ship_lag_priority",
    "q13_order_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q21_latest_supplier",
    "q22_dormant_customers",
    # round 2: corpus-curation additions (queries/textops.py)
    "tx_repetition",
    "tx_boilerplate_ngrams",
    "tx_contamination",
    "tx_domain_mix",
    "ev_value_anomalies",
    "ev_funnel",
    "ev_weekly_retention",
    "tx_chunk_documents",
    "q2_min_balance_supplier",
    "q9_product_profit",
    "q11_important_parts",
    "q16_supplier_variety",
    "q20_heavy_shippers",
    # round 3: streaming batch duals
    "ev_interval_join",
    "dd_streaming_dedup",
    # round 3: substring dedup + embedding curation
    "dd_repeated_ngrams",
    "sim_label_centroids",
    "sim_centroid_outliers",
    "dd_incremental_minhash",
    "sim_hybrid_search",
    # round 3 (cont.): Q3, PII scrub, k-NN graph, lateness audit, per-day KMV
    # (dd_keep_best is excluded like dd_dup_clusters: its edges come from the
    # all-pairs cosine VERIFICATION operator; the scale path runs the same
    # keep-best aggregation on LSH pairs)
    "q3_shipping_priority",
    "tx_pii_redact",
    "sim_knn_graph",
    "ev_late_audit",
    "ev_kmv_daily_users",
    "dd_keep_best_minhash",
    "sim_pagerank",
    "sim_random_projection",
    "tx_tokenize_vocab",
    "tx_length_histogram",
    "tx_epoch_shuffle",
    "mm_decode_video",
    "dd_bloom_gate",
    "ev_binned_quantiles",
    "q_upsert_latest",
    "ev_scd2_intervals",
    "ev_funnel_windowed",
    "tx_train_val_split",
    "q_unpivot_metrics",
    "sim_multiprobe_pairs",
    "sim_banded_pairs",
    "sim_negative_samples",
    "tx_cooccurrence_lift",
    "tx_quality_calibrated",
    "q_table_diff",
    "tx_pipeline_funnel",
    "dd_containment_lsh",
    "tx_dsir_weights",
    # round 3 (cont. session): cell-scoped SemDeDup, BM25 retrieval,
    # blocked fuzzy entity resolution
    "dd_semantic_cells",
    "tx_bm25_topk",
    "q_fuzzy_match",
    "sim_triangle_count",
    "sim_ivf_refine",
    "mm_audio_rms",
    "mm_pixel_stats",
    "mm_resize_real",
    "mm_frame_index",
    "sim_pq_adc_topk",
    "sim_ivf_pq_topk",
    # round 4: span scrub, Z-order layout, pattern paths, source caps
    "dd_span_scrub",
    "q_zorder_cluster",
    "ev_pattern_paths",
    "tx_source_cap",
    "ev_skew_profile",
    "mm_dhash",
    "mm_dhash_pairs",
    "sim_mmr_topk",
    "tx_bpe_pairs",
    "q_dq_checks",
    "ev_agg_merge",
    "ev_resample_interp",
    "dd_group_split",
    "q_bloom_semi_join",
    "tx_hash_embed",
    "tx_text_ann",
    "ev_sliding_window",
    "tm_variant_json",
    "mm_png_stats",
    # round 5: production-shape batched BPE (50 merges, ~5 rounds),
    # systematic PPS corpus sampling, decayed per-user EWMA
    "tx_bpe_learn50",
    "tx_pps_sample",
    "ev_ewma_decay",
    "tx_dedup_normalize",
    "ev_attribution",
    "ev_winsorize",
    "ev_time_to_convert",
    "ev_ab_test",
    "q_nest_order_lines",
    "q_k_anonymity",
    "q_tree_closure",
    "ev_peak_concurrency",
    "ev_mad_outliers",
    "ev_rolling_trend",
    # round 5 (cont.): drift / rank-statistic monitoring layer
    "ev_psi_drift",
    "ev_ks_test",
    "ev_roc_auc",
    "q_gini_supplier",
    "q_chi_square_priority",
    "sim_covariance",
    # round 6: correlation matrix + CUSUM changepoint join the audit set
    "sim_correlation",
    "ev_cusum",
    # round 6 (cont.): skyline frontier, seasonal decomposition, BPE encode
    "q_skyline_parts",
    "ev_stl_decompose",
    "tx_bpe_encode",
    "mm_scene_cut",
    # round 6 (cont.): HLL registers, weighted reservoir, n-gram novelty,
    # leave-one-out target encoding
    "ev_hll_daily_users",
    "tx_reservoir_sample",
    "tx_novelty",
    "q_target_encode",
    "dd_prefix_jaccard",
    "q_kmv_overlap",
    "q_exact_median",
    "ev_purged_split",
    "ev_hll_weekly_users",
    "sim_kcore_cert",
    "tx_kfold_assign",
    "ev_hll_cumulative",
    "ev_new_vs_returning",
    "tx_temperature_mix",
    "mm_video_neardup",
    "ev_seasonal_anomalies",
    "q_entity_resolution",
    "ev_holt_forecast",
    "sim_centroid_shift",
    "mm_audio_neardup",
    # round-8 additions
    "tx_bigram_lm_score",
    "tx_ccnet_buckets",
    "tx_gopher_rules",
    "tx_curation_verdict",
    "dd_soft_dedup",
    "dd_cdc_chunks",
    "sim_jaccard_links",
    "mm_audio_vad",
    "tx_kneser_ney_score",
    "sim_nprobe_curve",
    "tx_ccnet_lang_buckets",
    "dd_minhash_estimate",
    "sim_knn_classifier",
    "mm_audio_clipping",
    "mm_image_entropy",
    # round-9 additions
    "sim_ppr",
    "tx_naive_bayes",
    "sim_silhouette",
    "tx_source_overlap",
    "mm_blur_score",
    "mm_audio_tone",
    "ev_decay_topk",
    "q_l_diversity",
    "tx_stupid_backoff",
    "sim_rrf_fusion",
    "tx_neg_sample_table",
    "ev_kmv_quantile",
    "mm_keyframes",
    "q_join_card_est",
    "tx_hash_collisions",
    "sim_ivf_pq_res_topk",
    "sim_ivf_pq_res_recall",
    "tx_conformal_interval",
    "sim_maxsim_topk",
    "tx_nb_confusion",
    "dd_band_curve",
    "ev_stickiness",
    "sim_hits",
    "sim_lpa_communities",
    "ev_acf",
    "ev_theilsen",
    "ev_removal_effect",
    "mm_audio_fingerprint",
    "dd_bleu_pairs",
    "q_dp_histogram",
    "ev_cohort_ltv",
    "mm_video_align",
    "sim_clustering_coeff",
    "ev_sprt",
    "tx_ht_estimate",
    "mm_phash_dct",
    "mm_phash_pairs",
    "sim_cell_medoids",
    "sim_ivf_delta_assign",
    "ev_bot_regularity",
    "mm_hash_agreement",
    "tx_keyness",
    "sim_cluster_purity",
    "ev_holt_winters",
    "dd_method_agreement",
    "dd_rouge_pairs",
    "ev_occupancy",
    "dd_template_groups",
    "ev_hw_backtest",
    "sim_embedding_profile",
    "tx_char_entropy",
    "dd_winnowing_pairs",
    "tx_decontaminate_13gram",
    # round-9: the frozen production ANN operating point (recall >= 0.6 gate)
    "sim_recall_floor",
    # round-9: the four r8 additions that had no bench/scaling row yet
    "ev_km_survival",
    "ev_rfm_segments",
    "ev_shapley_attribution",
    "sim_pca_power",
    # round-10: the composed end-to-end curation pipeline (ANN recall gate +
    # CCNet terciles + 13-gram decontamination + shard packing) — the
    # closest local proxy for the 100 TB composed workload; surfaces
    # cross-operator checkpoint/persist interference per-query entries hide
    "tx_curation_pipeline",
    # round-10: suffix-array duplicated spans + truncation observability
    "dd_suffix_lcp",
    "dd_truncation_audit",
    # round-10: the cross-trained CCNet LM (reference-trained, crawl-scored)
    "tx_ccnet_crosslm",
    # round-10: the implemented rank->cutpoint tercile substitution
    "tx_ccnet_cutpoints",
    # round-11: the UNCACHED LSH edge build. The graph family
    # (sim_pagerank/ppr/hits/lpa/clustering) shares one memoized
    # checkpointed edge list, so their medians exclude the
    # signature+bucket build cost on all but the first construction —
    # this entry keeps that build independently tracked in BENCH_DETAIL
    # so a regression in lsh_signatures/lsh_bucket_pairs can't hide.
    "sim_lsh_bucket_pairs",
    # round-11: the occupancy-DERIVED bucket width (buckets ~ n/64) — the
    # measured SCALE.md prefix_bits rule as code rather than documentation
    "sim_lsh_auto_occupancy",
    # round-11: the incremental curation arm — a new crawl batch curated
    # against persisted corpus state (band-key index, corpus-trained LM +
    # frozen cutpoint, eval gram index, live IVF centroids)
    "tx_curation_delta",
    # round-11: banded SimHash at the occupancy-derived band width (the
    # sf31 family sweep caught the fixed 8-bit bands going quadratic)
    "dd_simhash_banded_auto",
]


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
    the session's tracked persists and memoized edge list (table plans
    stay memoized, see cachereg), and nudge the JVM GC."""
    from odbc2parquet_spark import cachereg

    spark.catalog.clearCache()
    cachereg.release(spark)
    spark._jvm.System.gc()


def run_query(spark, name: str, sf_dir: str) -> float:
    """Build query ``name`` and write it to the noop sink under job
    description ``name``; returns the wall seconds of both."""
    from odbc2parquet_spark.queries import QUERIES

    spark.sparkContext.setJobDescription(name)
    try:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.time() - t0
    finally:
        spark.sparkContext.setJobDescription(None)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from odbc2parquet_spark.queries import QUERIES
    from odbc2parquet_spark.session import get_spark

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

    # SPARK_GRAFT_BENCH_ONLY="q1,q2" restricts the suite (scaling studies
    # re-measure just the worst scalers at a new decade without paying for
    # the full 120+-query sweep twice)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    # per-query cache isolation (scaling mode sets it; see the rep loop)
    isolate = bool(os.environ.get("SPARK_GRAFT_BENCH_ISOLATE"))
    headline = (
        [q for q in HEADLINE if q in {s.strip() for s in only.split(",")}]
        if only
        else HEADLINE
    )

    samples: dict[str, list[float]] = {name: [] for name in headline}
    samples["transfer_lineitem"] = []
    if not only or "bpe_learn_500" in {s.strip() for s in only.split(",")}:
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
        order: list[str] = ["transfer_lineitem", *headline]
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
    at TWO core counts — the session's $SPARK_GRAFT_CPUS (default 32)
    and $SPARK_GRAFT_SCALING_LOW_CPUS (default 8) — each in a fresh
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
    cpus_hi = int(os.environ.get("SPARK_GRAFT_CPUS", "32") or "32")
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
