"""sf1 scaling-point study (``python -m lakehouse_app_spark scale``).

SCALE.md's tri-scale table (sf0.001/0.01/0.1) shows Spark's total
nearly flat (floor-dominated) while DuckDB's scales with the data,
and extrapolates that the curves cross around sf1. This study
MEASURES that point instead of extrapolating it: it materializes a
synthetic sf1 corpus by replicating the sf0.1 parquet 10x with
key-stride shifts (fact AND dim keys shifted in lockstep, so join
fanouts and key cardinalities scale exactly the way TPC-H's own SF
knob scales them — dims grow with SF, nation/region stay fixed), then
times a representative cross-family subset of the registered queries
with the bench protocol (shared warm session, noop sink, paired
min-of-3 on both engines).

The replicated corpus lives under spark-warehouse/ (gitignored,
derived); the source corpus is never written. This is a SCALE STUDY,
not the bench: the bench stays defined at sf0.1 on the full suite.
Output: one JSON line; the full record is written to SCALE_SF1.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

from lakehouse_app_spark.sources.tables import TABLE_NAMES

ITER = 3
COPIES = 10
# Input-split sizing for a >128 MB single-file corpus: with the 128 MB
# default the 140 MB lineitem scans as ~2 input tasks however many
# cores there are.
MAX_PARTITION_BYTES = str(16 * 1024 * 1024)

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


def _duck_min(con, sql: str) -> float:
    best = float("inf")
    for _ in range(ITER):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        best = min(best, time.perf_counter() - t0)
    return best


def run_study(spark, src: str, dst: str, out: str) -> dict:
    """Build the corpus, time ``KEYS`` on both engines at 16 MiB input
    splits, write the record to ``out`` and return it."""
    import lakehouse_app_spark as eng
    from lakehouse_app_spark.parity import oracle_connection
    from lakehouse_app_spark.streaming.stream_queries import scoped_confs

    build_corpus(src, dst, COPIES)
    # Code-independent window instrument: the same subset's oracles
    # timed at sf0.1 in THIS run. A degraded host shows up here
    # without any repo code in the loop.
    with oracle_connection(src) as con01:
        probe = sum(_duck_min(con01, eng.ORACLES[k]) for k in KEYS if k in eng.ORACLES)

    rec = {"sf": "sf1-synthetic(10x-sf0.1)", "copies": COPIES,
           "iterations": ITER,
           "duck_sf01_subset_probe": round(probe, 3),
           "spark": {}, "duck": {}, "reps": {}}
    mpb = {"spark.sql.files.maxPartitionBytes": MAX_PARTITION_BYTES}
    with oracle_connection(dst) as con, scoped_confs(spark, mpb):
        for name in KEYS:
            fn = eng.QUERIES[name]
            times = []
            for _ in range(ITER):
                t0 = time.perf_counter()
                fn(spark, dst).write.mode("overwrite").format("noop").save()
                times.append(time.perf_counter() - t0)
            eng.release_caches()
            rec["spark"][name] = round(min(times), 3)
            rec["reps"][name] = [round(x, 3) for x in times]
            if name in eng.ORACLES:
                rec["duck"][name] = round(_duck_min(con, eng.ORACLES[name]), 3)
            print(
                f"{name:24s} spark {rec['spark'][name]:7.3f}  "
                f"duck {rec['duck'].get(name, -1):7.3f}",
                file=sys.stderr,
            )
        # read back after the runs: the split size the queries really used
        rec["max_partition_bytes"] = spark.conf.get("spark.sql.files.maxPartitionBytes")
    rec["spark_total"] = round(sum(rec["spark"].values()), 3)
    rec["duck_total"] = round(sum(rec["duck"].values()), 3)
    rec["ratio"] = round(rec["spark_total"] / rec["duck_total"], 3)
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(json.dumps({k: rec[k] for k in ("sf", "spark_total", "duck_total", "ratio")}))
    return rec
