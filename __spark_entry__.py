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
# This window: (a/b) the 19 stream keys, which now all read through
# one file_stream source (the foreachBatch keys also write through one
# run_to_parquet sink), and q_pmi_collocations, whose bigram count now
# has one consumer; (c) the previous _NEXT_UP queue, then the keys
# re-sampled least recently, in registry order.
_SHOWCASE = [
    # (a/b) changed plans
    "q_stream_static_join", "q_stream_tumbling", "q_stream_sliding",
    "q_stream_session", "q_stream_join", "q_stream_dedup",
    "q_stream_foreach_sink", "q_stream_user_state", "q_stream_topk",
    "q_stream_join_outer", "q_stream_state_v2", "q_stream_vector_search",
    "q_stream_ivf_append", "q_stream_incremental_dedup",
    "q_stream_media_decode", "q_stream_state_timers",
    "q_stream_pruned_join", "q_stream_change_apply", "q_stream_late_data",
    "q_pmi_collocations",
    # (c) the previous _NEXT_UP queue
    "q_join_range", "q_join_asof", "q_join_salted", "q_join_bucketed",
    "q_join_asof_tolerance", "q_fuzzy_join", "q_join_dpp",
    "q_agg_pricing", "q_agg_distinct", "q_agg_approx", "q_agg_rollup",
    "q_agg_cube", "q_agg_gsets", "q_format_docs", "q_dedup_sources",
    "q_grouping_id", "q_window_rank", "q_topk_per_group",
    "q_window_running", "q_window_lag", "q_window_sessionize",
    "q_orderby_limit", "q_set_union", "q_set_intersect", "q_set_except",
    # (c) the least recently re-sampled keys
    "q_dq_checks", "q_date_funcs", "q_array_funcs", "q_bitwise_hash_funcs",
    "q_array_setops",
]

# Keys that would rotate in next if more than 50 keys are sampled:
# the next least recently re-sampled keys, in registry order.
_NEXT_UP = [
    "q_pivot", "q_null_semantics", "q_percentile_disc",
    "q_agg_conditional", "q_date_spine", "q_concurrency",
    "q_string_funcs", "q_math_funcs", "q_udaf_grouped_agg", "q_tpch_q10",
    "q_tpch_q14", "q_tpch_q19", "q_tpch_q13", "q_tpch_q15", "q_tpch_q12",
    "q_tpch_q16", "q_tpch_q20", "q_tpch_q11", "q_agg_stats",
    "q_compact_plan", "q_scd2", "q_rollup_hypertable", "q_embed_project",
    "q_arrow_batch_norm", "q_url_parse",
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
