"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``lakehouse_app_spark/``; this file is the
thin wiring layer.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lakehouse_app_spark as eng

eng.load_all_queries()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Mirrors the reference's core loop (`app/vector_search.py:29-33` +
    `app/app.py:111-124`): top-3 cosine retrieval joined to the
    document corpus, projected to (doc_id, source, snippet, sim).
    """
    eng.ensure_runtime_confs(spark)
    return eng.QUERIES["q_vs_retrieve"](spark, SMOKE_SF_DIR)


# The driver's correctness gate samples the first 50 declared
# queries. Rounds 2-8 drove every registered key green at least
# once; per the round-3 verdict the window ROTATES each round onto
# (a) new keys, (b) changed plans, (c) the keys the driver has
# re-sampled least recently, so the whole surface accumulates FRESH
# driver-green coverage instead of re-checking a fixed showcase.
# Round-15 window (optimization round — no new keys): (a/b) every
# plan this round touched — q_corpus_pipeline (stage joins fused to
# one-scan expression composition), q_pq_quantize (argmin as a
# hash-aggregable long min), q_kmv_distinct (pair algebra as array
# expressions over one sketch row per source), q_ann_brp_lsh
# (MLlib's private hash tables replaced by deterministic seeded
# projections — EXACT-oracle for the first time, closing the last
# declared rows-only gap), and the 15 streaming keys whose bounded
# replays now skip the trailing no-data micro-batch, plus the
# interval-join pair kept on the trailing batch (q_stream_join_outer
# is the divergence witness that forced the opt-in design); (c) the
# LEAST-recently-driver-sampled keys (last sampled ≤ r10): the
# dedup/media/pipeline tier, then analytics/sketches, then the
# TPC-H tail.
_SHOWCASE = [
    # (a/b) this round's changed plans
    "q_corpus_pipeline", "q_pq_quantize", "q_kmv_distinct",
    "q_ann_brp_lsh",
    # the no-data-batch streaming keys + the kept-on join pair
    "q_stream_tumbling", "q_stream_sliding", "q_stream_session",
    "q_stream_dedup", "q_stream_user_state", "q_stream_topk",
    "q_stream_state_v2", "q_stream_vector_search",
    "q_stream_incremental_dedup", "q_stream_media_decode",
    "q_stream_change_apply", "q_stream_static_join",
    "q_stream_foreach_sink", "q_stream_ivf_append",
    "q_stream_pruned_join", "q_stream_join", "q_stream_join_outer",
    # (c) least-recently-sampled (≤ r10), oldest classes first
    "q_dedup_report", "q_dedup_keep_best", "q_dedup_keep_latest",
    "q_ingest_pipeline", "q_media_decode", "q_media_decode_image",
    "q_audio_features", "q_media_frames", "q_mmr_diversify",
    "q_bloom_membership", "q_drift_ks", "q_drift_psi",
    "q_mutual_info", "q_freq_pairs", "q_gopher_repetition",
    "q_ngram_jaccard", "q_recursive_hierarchy",
    "q_tpch_q17", "q_tpch_q18", "q_tpch_q21", "q_tpch_q22",
    "q_join_interval_bucket", "q_profile_table", "q_hll_distinct",
    "q_scd2_lookup", "q_approx_quantiles_audit", "q_bootstrap_ci",
    "q_sink_roundtrip", "q_subquery_scalar",
]

# Keys that would rotate in next if the driver over-samples past 50:
# the rest of the ≤ r10 least-sampled backlog, oldest classes first.
_NEXT_UP = [
    "q_knn_join", "q_neardup_embed", "q_embed_quantize",
    "q_context_pack", "q_multimodal_bytes", "q_vocab_coverage",
    "q_text_stats", "q_fuzzy_match", "q_sample_hash",
    "q_sample_weighted", "q_domain_cap", "q_dpo_pairs",
    "q_anomaly_mad", "q_anomaly_zscore", "q_ab_test",
    "q_cohens_kappa", "q_corr_matrix", "q_histogram",
    "q_target_encode", "q_ewma", "q_twa", "q_funnel",
    "q_attribution", "q_cohort_retention", "q_sequence_gaps",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Membership is filtered through the live registry: an env-gated
    key named in the showcase (q_stream_state_v2 on a host with no
    protobuf source at all) must drop out gracefully, not KeyError
    the whole contract."""
    ordered = {k: eng.QUERIES[k] for k in _SHOWCASE if k in eng.QUERIES}
    ordered.update(
        {k: eng.QUERIES[k] for k in _NEXT_UP if k in eng.QUERIES and k not in ordered}
    )
    ordered.update({k: v for k, v in eng.QUERIES.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for every query key."""
    return dict(eng.ORACLES)
