"""sf1 scaling-point study (``python -m lakehouse_app_spark scale``).

SCALE.md's tri-scale table (sf0.001/0.01/0.1) shows Spark's total
nearly flat (floor-dominated) while DuckDB's scales with the data.
This study measures the sf1 point: :func:`build_corpus` materializes a
synthetic sf1 corpus by replicating the sf0.1 parquet 10x with
key-stride shifts (fact AND dim keys shifted in lockstep, so join
fanouts and key cardinalities scale exactly the way TPC-H's own SF
knob scales them — dims grow with SF, nation/region stay fixed), then
``bench.py`` times the cross-family subset :data:`KEYS` on it under
its one per-key rule, writing its record to SCALE_SF1.json.

The replicated corpus lives under spark-warehouse/ (gitignored,
derived); the source corpus is never written.
"""

from __future__ import annotations

import os

from lakehouse_app_spark.sources.tables import TABLE_NAMES

COPIES = 10

# (table, [key columns to stride-shift]); stride = max(key)+1 of the
# table OWNING the key, so every FK lands in its copy's PK range.
OWN_KEYS = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
SHIFTS = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

# Cross-family subset: data-dominated batch keys only. Excluded by
# design: the streaming family (startup-floor-bound — its floors are
# constant in data volume, which the sf0.001->0.1 rows already prove),
# q_join_interval_bucket (its DuckDB oracle is deliberately the naive
# quadratic formulation — 8.4 s at sf0.1, ~14 min at sf1 — the bench
# already makes that point), and write-roundtrip keys (they time
# commits, not scans).
KEYS = [
    "q_scan_count",        # bare scan
    "q_agg_pricing",       # TPC-H Q1 fixed-point aggregate
    "q_agg_rollup",        # hierarchical aggregate
    "q_join_inner",        # fact-dim hash join
    "q_join_multiway",     # 5-way star join
    "q_tpch_q2",           # correlated-subquery join stack
    "q_window_running",    # running-sum window over fact
    "q_topk_per_group",    # rank-filter window
    "q_orderby_limit",     # global sort + limit
    "q_window_sessionize", # gap-based sessionization (events)
    "q_drift_ks",          # per-category exact KS over distinct values
    "q_freq_pairs",        # co-occurrence mining (events)
    "q_tokenize_wordcount",# text tokenize + count (documents)
    "q_text_stats",        # per-doc quality stats
    "q_neardup_exact",     # exact dedup (documents)
    "q_dedup_minhash",     # banded MinHash near-dup (documents)
    "q_topk_cosine",       # brute-force cosine top-k (embeddings)
    "q_ann_ivf",           # partition-pruned IVF probe (layout build amortized)
]


def build_corpus(src: str, dst: str, copies: int) -> None:
    """Write ``copies`` key-stride-shifted replicas of every table in
    ``src`` to ``dst`` (nation/region once); a complete ``dst`` is
    reused as is."""
    import duckdb

    if all(os.path.exists(os.path.join(dst, f"{t}.parquet")) for t in TABLE_NAMES):
        return
    os.makedirs(dst, exist_ok=True)
    with duckdb.connect() as con:
        strides = {}
        for t, k in OWN_KEYS.items():
            strides[t] = con.execute(
                f"SELECT max({k}) + 1 FROM read_parquet('{src}/{t}.parquet')"
            ).fetchone()[0]
        strides["events_user"] = con.execute(
            f"SELECT max(user_id) + 1 FROM read_parquet('{src}/events.parquet')"
        ).fetchone()[0]
        for t in TABLE_NAMES:
            shifted = SHIFTS[t]
            if not shifted:
                # fixed-cardinality dims (nation/region): copy once
                con.execute(
                    f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet')) "
                    f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
                )
                continue
            cols = [
                r[0]
                for r in con.execute(
                    f"DESCRIBE SELECT * FROM read_parquet('{src}/{t}.parquet')"
                ).fetchall()
            ]
            sel = ", ".join(
                f"{c} + i * {strides[shifted[c]]} AS {c}" if c in shifted else c
                for c in cols
            )
            con.execute(
                f"COPY (SELECT {sel} "
                f"FROM read_parquet('{src}/{t}.parquet') "
                f"CROSS JOIN generate_series(0, {copies - 1}) t(i)) "
                f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
            )
