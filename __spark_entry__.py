"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` / ``oracle_sql()`` are the correctness gate at sf0.01
(Spark vs DuckDB, row-count + schema + order-insensitive value hash).

Determinism notes (both sides follow these rules):
- floating-point aggregates are computed on exact decimals then cast to
  double, so Spark's and DuckDB's summation order cannot change the result;
- every LIMIT query carries a total order (unique-key tiebreak);
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from odbc2parquet_spark.catalog import register_tables
from odbc2parquet_spark.queries import QUERIES, ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    register_tables(spark, sf_dir)
    return QUERIES["q1_pricing_summary"](spark, sf_dir)


# Queries promoted to the front of their family so a driver that scores a
# prefix of the registry samples the headline operator of every family.
_PRIORITY = [
    "q1_pricing_summary",
    "tm_decimal_matrix",
    "dd_dup_clusters",
    "sim_ivf_topk",
    "tx_prepare_corpus",
    "ev_sessionized",
    "mm_decode_features",
    "q_join_revenue_topn",
    "tm_binary_bytes",
    "dd_embedding_cosine",
    "sim_bruteforce_topk",
    "tx_pack_shards",
    "ev_windowed_counts",
    "mm_frame_sample",
    # round-3 continuation additions: score their first driver row promptly
    "dd_semantic_cells",
    "tx_bm25_topk",
    "sim_triangle_count",
    "sim_ivf_refine",
    "q_fuzzy_match",
    "mm_audio_rms",
    "mm_pixel_stats",
    "mm_resize_real",
    "mm_frame_index",
    "sim_pq_adc_topk",
    "sim_ivf_pq_topk",
    "sim_pq_recall",
    "sim_ivf_pq_recall",
    # round-4 additions: score their first driver row promptly
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
    "dd_lsh_recall",
    "dd_group_split",
    "q_bloom_semi_join",
    "tx_hash_embed",
    "tx_text_ann",
    "ev_sliding_window",
    "tm_variant_json",
    "mm_png_stats",
    # round-10 additions: score their first driver row promptly
    "sim_hits",
    "sim_lpa_communities",
    "ev_acf",
    "ev_theilsen",
    "ev_removal_effect",
    "mm_audio_fingerprint",
    "dd_bleu_pairs",
    "q_dp_histogram",
    "sim_pca_power",
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
    # round-10 (cont.): the composed curation pipeline — score promptly
    "tx_curation_pipeline",
    "dd_suffix_lcp",
    "dd_truncation_audit",
    "tx_ccnet_crosslm",
    "tx_ccnet_cutpoints",
]


def _family(name: str) -> str:
    """Family prefix: leading letters (q5_... and q_... are both 'q')."""
    head = name.split("_", 1)[0]
    return "".join(ch for ch in head if ch.isalpha())


def _score_history() -> tuple[dict[str, int], set[str]]:
    """Read past CORRECTNESS_r*.json files next to this module.

    Returns (last_round_scored, red): for every query name the driver has
    ever scored, the most recent round number it appeared in, plus the set
    of names whose MOST RECENT scored row was not a full pass (err, or any
    of rows/schema/hash false).
    """
    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    red: set[str] = set()
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = json.load(fh)
            rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
        except Exception:  # noqa: BLE001 - a malformed file must not break scoring
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            last[name] = max(last.get(name, 0), rnd)
            ok = row.get("err") is None and row.get("hash_match") is not False
            if ok:
                red.discard(name)
            else:
                red.add(name)
    return last, red


def _interleaved() -> list[str]:
    """Order the registry so the driver's bounded scoring prefix is spent
    where it buys the most evidence.

    Base order round-robins families (so registration order can't starve a
    family). On top of that, three tiers keyed on past CORRECTNESS_r*.json:
    1. queries whose latest driver row was red (fixes need re-scoring),
    2. queries the driver has never scored (new + starved ones),
    3. previously-green queries, least-recently-scored first.
    The sort is stable, so the family interleave survives within each tier
    — over successive rounds the whole registry cycles through the prefix.
    """
    order = sorted(QUERIES, key=lambda n: (n not in _PRIORITY, _PRIORITY.index(n) if n in _PRIORITY else 0))
    fam_order = ["q", "tm", "dd", "sim", "tx", "ev", "mm"]
    fam_order += sorted({_family(n) for n in order} - set(fam_order))
    last, red = _score_history()

    def tier(name: str) -> tuple[int, int]:
        if name in red:
            return (0, 0)
        if name not in last:
            return (1, 0)
        return (2, last[name])

    # Round-robin families WITHIN each tier (not globally): a family whose
    # never-scored members sit late in registration order would otherwise
    # lose every prefix slot to families with many fresh entries — seen in
    # round 3, where only 5 of 21 unscored TPC-H shapes made the prefix.
    grouped: dict[tuple[int, int], dict[str, list[str]]] = {}
    for name in order:
        grouped.setdefault(tier(name), {}).setdefault(_family(name), []).append(name)
    result: list[str] = []
    for t in sorted(grouped):
        fams = grouped[t]
        idx = 0
        remaining = sum(len(v) for v in fams.values())
        while remaining:
            for fam in fam_order:
                lst = fams.get(fam, [])
                if idx < len(lst):
                    result.append(lst[idx])
                    remaining -= 1
            idx += 1
    return result


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name] for name in _interleaved()}


def oracle_sql() -> dict[str, str]:
    return {name: ORACLES[name] for name in _interleaved() if name in ORACLES}
