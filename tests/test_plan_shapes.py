"""Plan-shape regression tests: the 100 TB story, asserted.

Each test pins a physical-plan property that matters at scale; a
refactor that silently loses pushdown/broadcast/top-k rewriting fails
here long before it costs a cluster-hour.
"""

import pytest
from pyspark.sql import functions as F

from lakehouse_app_spark import QUERIES
from lakehouse_app_spark.plans.checks import (
    assert_in_plan,
    file_scans,
    formatted_plan,
    pushed_filters,
    read_schema_width,
)
from lakehouse_app_spark.sources.layout import layout_base
from lakehouse_app_spark.sources.tables import load_tables


def _assert_cid_pruned(df, name: str) -> None:
    """Assert ``df`` scans stored layout ``name`` (matched on its full
    root path, which the rendered plan may truncate) and that every
    such scan prunes on a literal cid IN list."""
    import re

    base = layout_base().rstrip("/")
    scans = [
        (roots, pf)
        for roots, pf in file_scans(df)
        if any(base in r and f"/{name}" in r for r in roots)
    ]
    assert scans, file_scans(df)
    for roots, pf in scans:
        assert re.search(r"cid#\d+ IN \(", pf), (roots, pf)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = QUERIES["q_filter_pred"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_quantity" in pf and "l_returnflag" in pf, pf


def test_column_pruning_projection(spark, sf_dir):
    df = QUERIES["q_project"](spark, sf_dir)
    (schema_line,) = read_schema_width(df)
    # only the 4 projected columns leave the parquet scan
    assert "c_custkey" in schema_line and "c_nationkey" not in schema_line
    assert schema_line.split("struct<")[1].count(":") == 4, schema_line


def test_topk_is_take_ordered(spark, sf_dir):
    assert_in_plan(QUERIES["q_orderby_limit"](spark, sf_dir), "TakeOrderedAndProject")


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    plan = formatted_plan(QUERIES["q_join_multiway"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir):
    assert_in_plan(QUERIES["q_join_range"](spark, sf_dir), "BroadcastNestedLoopJoin")


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    assert_in_plan(QUERIES["q_topk_per_group"](spark, sf_dir), "WindowGroupLimit")


def test_cosine_topk_stays_jvm_side(spark, sf_dir):
    """No Python evaluation nodes in the expression-based cosine path."""
    plan = formatted_plan(QUERIES["q_topk_cosine"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_agg_has_partial_aggregation(spark, sf_dir):
    """Q1-style agg must do map-side partial aggregation (two
    HashAggregate nodes around the exchange)."""
    plan = formatted_plan(QUERIES["q_agg_pricing"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


def test_scan_count_is_metadata_only(spark, sf_dir):
    (schema_line,) = read_schema_width(
        load_tables(spark, sf_dir).lineitem.agg(F.count(F.lit(1)))
    )
    assert "struct<>" in schema_line, schema_line


def test_whole_stage_codegen_covers_filter(spark, sf_dir):
    # formatted explain marks codegen spans as "[codegen id : N]"
    assert_in_plan(QUERIES["q_filter_pred"](spark, sf_dir), "codegen id")


def test_tpch_q5_broadcasts_all_dims(spark, sf_dir):
    """Q5's snowflake: supplier/nation/region broadcast; only the two
    fact joins (orders, lineitem) may shuffle."""
    plan = formatted_plan(QUERIES["q_tpch_q5"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q6_pushes_all_predicates_no_shuffle_join(spark, sf_dir):
    """Q6 is scan+filter+global agg: date/discount/quantity predicates
    reach the parquet reader; the plan contains no join at all."""
    df = QUERIES["q_tpch_q6"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf, pf
    assert "Join" not in formatted_plan(df)


def test_tpch_q14_is_shuffle_free_but_one_agg_exchange(spark, sf_dir):
    """Q14: broadcast part join + single-row agg — the only exchange
    is the final single-partition gather for the global aggregate."""
    plan = formatted_plan(QUERIES["q_tpch_q14"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_q22_anti_join_and_scalar_subquery(spark, sf_dir):
    plan = formatted_plan(QUERIES["q_tpch_q22"](spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_bm25_stays_jvm_until_done(spark, sf_dir):
    """BM25 is pure expressions + joins: no Python eval nodes."""
    plan = formatted_plan(QUERIES["q_bm25"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_chunking_has_no_shuffle(spark, sf_dir):
    """Document chunking is generate+project only: no Exchange."""
    plan = formatted_plan(QUERIES["q_chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Generate" in plan, plan


def test_date_spine_broadcasts_daily_aggregate(spark, sf_dir):
    plan = formatted_plan(QUERIES["q_date_spine"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL LIMIT 1 must become a set-based ranked
    plan (window/group-limit), not a per-row nested loop."""
    plan = formatted_plan(QUERIES["q_lateral_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert ("Window" in plan) or ("WindowGroupLimit" in plan), plan


def test_skyline_sweep_broadcasts_frontier_back(spark, sf_dir):
    """The Pareto sweep must stay O(n): per-size aggregate, tiny
    window, broadcast probe back into the fact scan — never an
    O(n²) dominance nested-loop over part×part."""
    plan = formatted_plan(QUERIES["q_skyline"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, (
        plan
    )


def test_dq_fk_check_is_broadcast_anti_join(spark, sf_dir):
    """Referential-integrity audit probes the orders PK set via a
    broadcast left-anti join — no shuffle of the fact table."""
    plan = formatted_plan(QUERIES["q_dq_checks"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_twa_window_and_agg_share_partitioning(spark, sf_dir):
    """The lead() window and the per-user aggregate both key on
    user_id: exactly one exchange on the user key feeds both."""
    plan = formatted_plan(QUERIES["q_twa"](spark, sf_dir))
    # one Exchange node = two mentions in formatted output (tree + detail)
    assert plan.count("Exchange") == 2, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_interval_bucket_join_avoids_nested_loop(spark, sf_dir):
    """The bucketed interval join must plan as an equi-join (hash or
    sort-merge), never a BroadcastNestedLoopJoin/CartesianProduct —
    that is its entire reason to exist next to q_join_range."""
    plan = formatted_plan(QUERIES["q_join_interval_bucket"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_minhash_sig_is_scan_local(spark, sf_dir):
    """The whole 4-hash MinHash signature is one higher-order
    projection over the scan: no Exchange, no Python eval — the map
    stage near-dup banding consumes at 100 TB."""
    plan = formatted_plan(QUERIES["q_minhash_sig"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_minhash_sig_folds_each_char_once(spark, sf_dir):
    """The Karp-Rabin per-character fold must appear exactly ONCE in
    the optimized plan (projected into an `fps` array the 4 affine
    hashes consume) — the r11 inlined form carried it 4x, which both
    quadrupled per-char work and produced a whole-stage-codegen unit
    that cost ~6 s to compile (see the plan with `python -m
    lakehouse_app_spark explain q_minhash_sig`). CollapseProject must
    NOT re-inline the fold."""
    df = QUERIES["q_minhash_sig"](spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    # the fold is the only aggregate() lambda in this query
    assert optimized.count("aggregate(") == 1, optimized
    plan = formatted_plan(df)
    assert plan.count("aggregate(") <= 2, plan  # tree + detail sections


def test_corpus_gate_is_scan_local(spark, sf_dir):
    """Keep/drop gating is pure map work — zero shuffle at any scale."""
    plan = formatted_plan(QUERIES["q_corpus_gate"](spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_pack_batches_has_no_global_window(spark, sf_dir):
    """The distributed prefix sum must window over doc buckets, never
    a single global partition (the serial bottleneck the two-pass
    design exists to avoid); the only unpartitioned window runs over
    the tiny per-bucket totals."""
    plan = formatted_plan(QUERIES["q_pack_batches"](spark, sf_dir))
    assert "hashpartitioning(bucket" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_perplexity_lm_join_broadcasts(spark, sf_dir):
    """The bigram-LM table joins back to the pair stream as the
    broadcast build side — the corpus never reshuffles on bigrams."""
    plan = formatted_plan(QUERIES["q_perplexity"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_pq_codebook_is_broadcast(spark, sf_dir):
    """PQ assignment joins every (vector, subspace) row against the
    M×K codebook — that side must broadcast, never shuffle the
    corpus."""
    plan = formatted_plan(QUERIES["q_pq_quantize"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_self_join_is_equi_on_cluster(spark, sf_dir):
    """SemDeDup's quadratic term is blocked by cluster id: the self
    join over the STORED assignment layout must key on cid
    (equi-join with residual sim condition) — never a corpus-sized
    nested loop — and both sides read the materialized index table,
    not a recomputed assignment (no window/exchange above the
    scans)."""
    plan = formatted_plan(QUERIES["q_semdedup"](spark, sf_dir))
    assert "Join LeftOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "layouts" in plan and "sem64_a" in plan, plan  # path may truncate


def test_ann_ivf_probe_prunes_partitions(spark, sf_dir):
    """The IVF probe must read ONLY the probed clusters from the
    stored cid-partitioned assignment table: the parquet scan shows a
    non-empty PartitionFilters on cid (n_probe of n_clusters
    directories), the on-disk contract that makes the probe
    ~k/n_probe cheaper at any corpus size."""
    _assert_cid_pruned(QUERIES["q_ann_ivf"](spark, sf_dir), "ivf8_assign")


def test_chunk_dedup_chunks_before_shuffle(spark, sf_dir):
    """Chunking is scan-local: the Generate (explode) sits below the
    first hash exchange, so only (doc_id, idx, chunk) rows — not
    documents — cross the wire, already chunk-partitioned."""
    plan = formatted_plan(QUERIES["q_chunk_dedup"](spark, sf_dir))
    gen = plan.find("Generate")
    first_hash_exchange = plan.find("hashpartitioning")
    assert gen != -1 and first_hash_exchange != -1, plan
    assert gen < first_hash_exchange, plan


LSH_KEYS = [
    "q_dedup_minhash", "q_dedup_simhash", "q_minhash_audit",
    "q_dedup_from_layout", "q_dedup_incremental", "q_neardup_lsh",
    "q_ann_hyperplane", "q_ann_brp_lsh", "q_stream_incremental_dedup",
]


@pytest.mark.parametrize("key", LSH_KEYS)
def test_lsh_consumers_are_equi_joins(spark, sf_dir, monkeypatch, key):
    """Every caller of dedup.lsh_candidates pairs its band buckets
    with equi-joins: an all-pairs nested loop or cartesian product
    anywhere in the plan would defeat the design. The stream twin is
    checked on its streaming plan, before the replay runs it."""
    from lakehouse_app_spark.streaming import stream_queries

    monkeypatch.setattr(stream_queries, "run_to_memory", lambda df, *a, **k: df)
    plan = formatted_plan(QUERIES[key].builder(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    if key == "q_stream_incremental_dedup":  # the static side stays broadcast
        assert "BroadcastHashJoin" in plan, plan


def test_bloom_prune_filter_is_broadcast(spark, sf_dir):
    """The bloom bits table must broadcast to the fact side — if it
    shuffles, the rewrite costs more than the join it prunes."""
    plan = formatted_plan(QUERIES["q_join_bloom_prune"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_scd2_lookup_single_shuffle_for_asof(spark, sf_dir):
    """The as-of union formulation: orders key pickup broadcasts, so
    the only fact-sized exchange is the custkey window partitioning."""
    plan = formatted_plan(QUERIES["q_scd2_lookup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _mmr_cands(spark, sf_dir):
    from lakehouse_app_spark.operators.vectors import (
        as_double_array,
        cosine_sim,
        query_vector,
    )

    t = load_tables(spark, sf_dir)
    emb = as_double_array("embedding")
    return (
        t.embeddings.join(F.broadcast(query_vector(t.embeddings, 0)))
        .select(
            "vec_id",
            emb.alias("emb"),
            F.round(cosine_sim(emb, F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(8)
    )


def _r6(x: float) -> float:
    """round(x, 6) with Spark/BigDecimal HALF_UP tie semantics
    (Python's round() is banker's, which differs on exact .5 ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _mmr_greedy_rows(rows, k: int):
    """Pure-Python reference greedy MMR over collected (vec_id, emb,
    sim) rows, the independent spec for ``mmr_plan``: sequential
    left-fold dot/norm (the JVM ``F.aggregate`` order), 6-dp HALF_UP
    rounds, (score desc, vec_id) tie-break, stop when the frontier is
    exhausted."""
    import math

    from lakehouse_app_spark.operators.vectors import MMR_LAMBDA, MMR_MU

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    cands = [(r["vec_id"], list(r["emb"]), r["sim"]) for r in rows]
    if not cands:
        return []
    first = max(cands, key=lambda c: (c[2], -c[0]))
    out = [(1, first[0], first[2], _r6(MMR_LAMBDA * first[2]))]
    picked = [first]
    for step in range(2, k + 1):
        picked_ids = {p[0] for p in picked}
        best = None
        for vid, e, sim in cands:
            if vid in picked_ids:
                continue
            pen = max(
                _r6(_dot(e, p[1]) / (_norm(e) * _norm(p[1]))) for p in picked
            )
            score = _r6(MMR_LAMBDA * sim - MMR_MU * pen)
            if best is None or (score, -vid) > (best[3], -best[0]):
                best = (vid, e, sim, score)
        if best is None:
            break
        out.append((step, best[0], best[2], best[3]))
        picked.append((best[0], best[1], best[2]))
    return out


def _mmr_picks(cands, k):
    from lakehouse_app_spark.operators.vectors import mmr_plan

    return sorted(tuple(r) for r in mmr_plan(cands, k).collect())


def _operator_lines(plan: str) -> list[str]:
    """The operator tree of a formatted plan (above its first blank line)."""
    return plan.split("\n\n", 1)[0].splitlines()


def test_mmr_plan_matches_reference_greedy(spark, sf_dir):
    """The in-plan greedy reproduces the pure-Python reference
    bit-for-bit at k=6: same picks, same 6-dp HALF_UP scores."""
    cands = _mmr_cands(spark, sf_dir)
    assert _mmr_picks(cands, 6) == _mmr_greedy_rows(cands.collect(), 6)


def test_mmr_greedy_is_prefix_stable(spark, sf_dir):
    """Greedy MMR at k=6 must agree with k=4 on the first 4 picks
    (greedy selections are prefix-stable), which pins the
    k-parameterized plan to the oracle-checked k=4 unrolling."""
    cands = _mmr_cands(spark, sf_dir)
    k6, k4 = _mmr_picks(cands, 6), _mmr_picks(cands, 4)
    assert [r[0] for r in k6] == [1, 2, 3, 4, 5, 6]
    assert k6[:4] == k4
    assert len({r[1] for r in k6}) == 6  # distinct picks


def test_mmr_plan_stops_at_exhausted_frontier(spark, sf_dir):
    """k=10 over an 8-row frontier picks every candidate once, as
    ranks 1-8, and stops growing like the reference greedy."""
    cands = _mmr_cands(spark, sf_dir)
    picks = _mmr_picks(cands, 10)
    assert [r[0] for r in picks] == list(range(1, 9))
    assert {r[1] for r in picks} == {r["vec_id"] for r in cands.collect()}
    assert picks == _mmr_greedy_rows(cands.collect(), 10)


def test_mmr_plan_empty_frontier_yields_no_rows(spark, sf_dir):
    """An empty frontier gives 0 rows with ANSI on and off: the first
    pick is a slice of the frontier, never a failing element_at."""
    from lakehouse_app_spark.streaming.stream_queries import scoped_confs

    for ansi in ("true", "false"):
        with scoped_confs(spark, {"spark.sql.ansi.enabled": ansi}):
            assert _mmr_picks(_mmr_cands(spark, sf_dir).limit(0), 4) == [], ansi


def test_mmr_plan_size_constant_in_k(spark, sf_dir):
    """k is only a literal inside the plan, so k=4 and k=8 compile to
    the same operators; the unrolled ladder the round-3 verdict
    flagged grew linearly in k."""
    from lakehouse_app_spark.operators.vectors import mmr_plan

    p4 = formatted_plan(mmr_plan(_mmr_cands(spark, sf_dir), 4))
    p8 = formatted_plan(mmr_plan(_mmr_cands(spark, sf_dir), 8))
    assert _operator_lines(p4) == _operator_lines(p8), (p4, p8)


def test_bucketed_join_has_no_join_key_exchange(spark, sf_dir):
    """Both fact sides are bucketed on the order key, so the
    sort-merge join must consume bucket layout directly: no Exchange
    on l_orderkey/o_orderkey anywhere in the plan — the only
    hashpartitioning allowed is the final group-by aggregate."""
    plan = formatted_plan(QUERIES["q_join_bucketed"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert "hashpartitioning(l_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderkey" not in plan, plan
    assert "hashpartitioning(o_orderstatus" in plan, plan


def test_results_are_aqe_invariant(spark, sf_dir):
    """AQE is a deployment-profile conf (cluster on, local bench off —
    SCALE.md): prove a join+agg+window query returns identical rows
    under both settings, so the profile switch can never change an
    oracle result."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    def rows(name):
        return sorted(
            map(tuple, QUERIES[name](spark, sf_dir).collect())
        )
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        on = {n: rows(n) for n in ("q_join_multiway", "q_topk_per_group")}
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off = {n: rows(n) for n in ("q_join_multiway", "q_topk_per_group")}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert on == off


def test_ann_ivfpq_prunes_and_broadcasts_lut(spark, sf_dir):
    """IVF-PQ end-to-end: the candidate side reads only probed
    partitions of the stored assignment (PartitionFilters on cid),
    and the ADC lookup table joins in as a broadcast — the corpus
    side never shuffles for scoring, and nothing degenerates to a
    nested loop."""
    df = QUERIES["q_ann_ivfpq"](spark, sf_dir)
    _assert_cid_pruned(df, "ivf8_assign")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quality_classifier_weights_broadcast(spark, sf_dir):
    """The model table must reach executors as a broadcast — if the
    weight join shuffles the exploded feature rows by fid, the
    'model as table' design loses its point."""
    plan = formatted_plan(QUERIES["q_quality_classifier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q2_dims_broadcast_no_cartesian(spark, sf_dir):
    """Q2 over the derived partsupp: supplier/nation/region dims and
    the decorrelated per-part min must broadcast; the only shuffles
    key on the part."""
    plan = formatted_plan(QUERIES["q_tpch_q2"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_adc_is_projection(spark, sf_dir):
    """The rewritten ADC scoring phase must be scan-local: between
    the assignment-table scan and the shortlist TakeOrdered there is
    no exchange introduced by coding/scoring (no window, no
    per-(vec, subspace) hashpartitioning)."""
    plan = formatted_plan(QUERIES["q_ann_ivfpq"](spark, sf_dir))
    assert "Window" not in plan, plan
    assert "hashpartitioning(vec_id" not in plan, plan


def test_embed_project_is_scan_local(spark, sf_dir):
    """The random-projection reduce must be a shuffle-free scan-local
    projection, column-pruned to (vec_id, embedding) — the matrix is
    an expression, never data."""
    plan = formatted_plan(QUERIES["q_embed_project"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "struct<vec_id:bigint,embedding:array<float>>" in plan, plan


def test_arrow_norm_projects_before_python_exchange(spark, sf_dir):
    """mapInArrow must sit directly on the pruned parquet scan: only
    (vec_id, embedding) cross the Arrow boundary, no shuffle, no
    extra columns shipped to Python."""
    plan = formatted_plan(QUERIES["q_arrow_batch_norm"](spark, sf_dir))
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan
    assert "struct<vec_id:bigint,embedding:array<float>>" in plan, plan


def test_containment_is_inverted_index_join(spark, sf_dir):
    """Directed containment must plan as shingle equi-joins (inverted
    index), never a cartesian/nested-loop pair enumeration."""
    plan = formatted_plan(QUERIES["q_ngram_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_dedup_corpus_side_reads_layout_only(spark, sf_dir):
    """q_dedup_incremental's standing-corpus side must come from the
    stored signature layout (16 bytes/doc), never from document
    text: exactly one scan of documents.parquet (the new batch being
    signed fresh) and at least one scan of the mh_sig layout
    catalog. This is the incremental-ingest contract — corpus text
    is never re-read to admit a batch."""
    plan = formatted_plan(QUERIES["q_dedup_incremental"](spark, sf_dir))
    assert plan.count("documents.parquet") == 1, plan
    assert "layouts" in plan and "mh_sig" in plan, plan


def test_stats_prune_reads_file_subset(spark, sf_dir):
    """q_stats_prune's scan must read a strict subset of the 16-file
    range layout — the manifest prune happens BEFORE Spark's file
    index, so the plan's scan location lists only files whose
    (min, max) range intersects the predicate."""
    import json
    import os
    import re

    from lakehouse_app_spark.sources.layout import layout_path

    df = QUERIES["q_stats_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m, plan
    n_scanned = int(m.group(1))
    path = layout_path("li_range16", sf_dir)
    with open(os.path.join(path, "_stats_nd.json")) as fh:
        n_total = len(json.load(fh)["files"])
    assert 1 <= n_scanned < n_total, (n_scanned, n_total, plan)


def test_zorder_roundtrip_prunes_files(spark, sf_dir):
    """q_zorder_roundtrip's 2-D predicate must open a strict subset
    of the 16 z-clustered files — and a SMALL one: the Morton layout
    keeps every file tight in both dimensions, so the 1/8 x 1/8 band
    conjunction prunes multiplicatively (at most half the files even
    allowing straddlers). Content exactness is the oracle's job; this
    pins the I/O claim."""
    import json
    import os
    import re

    from lakehouse_app_spark.sources.layout import layout_path

    df = QUERIES["q_zorder_roundtrip"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m, plan
    n_scanned = int(m.group(1))
    path = layout_path("li_zorder16", sf_dir)
    with open(os.path.join(path, "_stats_nd.json")) as fh:
        n_total = len(json.load(fh)["files"])
    assert 1 <= n_scanned <= n_total // 2, (n_scanned, n_total, plan)
    # the row-level predicate must survive into the plan (straddling
    # files are read whole; exactness depends on this filter)
    assert "l_partkey" in plan and "l_suppkey" in plan, plan


def test_partition_evolution_pruning(spark, sf_dir):
    """Each generation must be pruned by ITS OWN spec: generation 1's
    scan carries a ship_month-only PartitionFilter (l_returnflag was
    not a partition column when those files landed — it must stay a
    row-level filter there), generation 2's scan carries BOTH. And
    spec evolution must be a metadata act: generation 1's files are
    byte-identical across invocations (zero rewrite)."""
    import os
    import re

    from lakehouse_app_spark.sources.layout import layout_path

    def listing(p):
        out = []
        for root, _, files in os.walk(p):
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out.append((fp, st.st_size, st.st_mtime_ns))
        return out

    df = QUERIES["q_partition_evolution"](spark, sf_dir)
    g1_path = layout_path("li_evo_g1", sf_dir)
    before = listing(g1_path)
    assert before, g1_path
    plan = df._jdf.queryExecution().executedPlan().toString()
    pfs = re.findall(r"PartitionFilters: \[[^\]]*\]", plan)
    g1_pf = [p for p in pfs if "ship_month" in p and "l_returnflag" not in p]
    g2_pf = [p for p in pfs if "ship_month" in p and "l_returnflag" in p]
    assert len(g1_pf) == 1 and " IN " in g1_pf[0], pfs
    assert len(g2_pf) == 1 and " IN " in g2_pf[0], pfs
    # re-running the query (and forcing execution) must not rewrite
    # generation 1 — evolution never touches old-spec files
    QUERIES["q_partition_evolution"](spark, sf_dir).collect()
    assert listing(g1_path) == before


def test_hidden_partitioning_derives_bucket_filter(spark, sf_dir):
    """The reader must inject the partition TRANSFORM filter from the
    user's plain key predicate: the scan carries okey_bucket IN (...)
    with at most 5 of the 16 buckets (the probe is 5 keys), plus the
    row-level l_orderkey filter — hidden partitioning's whole point
    is that the user never wrote the bucket predicate."""
    import re

    df = QUERIES["q_hidden_partitioning"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*okey_bucket[^\]]* IN \(([^)]*)\)", plan)
    assert m, plan
    assert 1 <= len(m.group(1).split(",")) <= 5, plan
    assert "l_orderkey" in plan, plan


def test_change_feed_is_one_shuffle(spark, sf_dir, tmp_path):
    """change_feed's whole multi-commit feed must plan exactly ONE
    shuffle (the (key, commit) hash aggregate) and no sort-merge
    join — the per-commit full-outer-join formulation it replaced
    cost two exchanges per commit, the difference between O(commits)
    and O(1) shuffles when a CDF reader spans a day of commits."""
    import re

    from lakehouse_app_spark.sources.sinks import (
        change_feed,
        delete_where,
        write_snapshot,
    )
    from lakehouse_app_spark.sources.tables import load_tables

    docs = load_tables(spark, sf_dir).documents.select(
        "doc_id", "source", "n_chars"
    )
    path = str(tmp_path / "cf_plan")
    v0 = write_snapshot(docs.where(F.col("doc_id") % 10 == 3), path, "base")
    delete_where(spark, path, F.col("n_chars") < 100)
    v2 = delete_where(spark, path, F.col("n_chars") >= 900)
    feed = change_feed(spark, path, v0, v2, "doc_id", ["source", "n_chars"])
    plan = feed._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_unigram_encode_corpus_pass_is_broadcast_join(spark, sf_dir):
    """q_unigram_encode's corpus pass must be a broadcast hash join
    of documents' words against the (vocab-sized) encoded word table
    — never a shuffle join of the corpus, and never a sort-merge
    join anywhere: segmenting happens on the word table, the corpus
    only joins the result (the q_bpe_encode scale shape)."""
    df = QUERIES["q_unigram_encode"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_spread_gates_on_actual_scan_width(spark, tmp_path):
    """spread() must be a no-op when the scan ALREADY plans >= the
    session width's partitions (the cluster-scale case) and keep
    repartitioning narrow local scans (r6 verdict item 5). The probe
    is the real planned width, not the file count — Spark bin-packs
    small files into one FilePartition, so file count alone
    over-estimates (review r7)."""
    from lakehouse_app_spark.operators.dedup import spread

    npart = spark.sparkContext.defaultParallelism
    wide_dir = str(tmp_path / "wide")
    spark.range(npart * 100).repartition(npart).write.parquet(wide_dir)

    # tiny files get bin-packed into few partitions → gate must still
    # repartition even though the FILE count reaches the target
    packed = spark.read.parquet(wide_dir)
    assert len(packed.inputFiles()) >= npart
    if packed.rdd.getNumPartitions() < npart:
        out = spread(packed)
        assert out is not packed

    # force one split per file → scan genuinely plans >= npart
    # partitions → gate is a no-op
    prev_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        # NO manual memo clear: the file-split confs are part of the
        # memo key (review r7), so the earlier packed-scan probe
        # cannot shadow this one
        wide = spark.read.parquet(wide_dir)
        assert wide.rdd.getNumPartitions() >= npart
        assert spread(wide) is wide  # gate hit: no exchange inserted
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_oc)

    # and back under the restored confs the packed scan repartitions
    # again — the conf-keyed memo serves the right cached decision
    packed_again = spark.read.parquet(wide_dir)
    if packed_again.rdd.getNumPartitions() < npart:
        assert spread(packed_again) is not packed_again

    narrow_dir = str(tmp_path / "narrow")
    spark.range(100).coalesce(1).write.parquet(narrow_dir)
    narrow = spark.read.parquet(narrow_dir)
    out = spread(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == npart


def test_ivfpq_probe_prunes_stored_codes(spark, sf_dir):
    """q_ann_ivfpq must score the STORED pq_codes layout, pruned to
    the probed clusters at the scan (PartitionFilters on cid), with
    no per-query coding pass: the codes scan reads only (vec_id,
    codes) and full vectors appear solely in the shortlist rerank."""
    # every scan of the codes layout carries a cid partition filter
    _assert_cid_pruned(QUERIES["q_ann_ivfpq"](spark, sf_dir), "pq_codes")


def test_fuzzy_join_blocks_as_equi_join(spark, sf_dir):
    """The edit-distance join must plan as an equi-join on the prefix
    block key with levenshtein only in the post-join filter — an
    all-pairs BroadcastNestedLoopJoin/CartesianProduct would defeat
    the blocking design."""
    plan = formatted_plan(QUERIES["q_fuzzy_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "levenshtein" in plan, plan


def test_domain_cap_uses_window_group_limit(spark, sf_dir):
    """The per-domain cap must plan the rank<=K filter as a
    WindowGroupLimit (map-side local top-K per source before the
    shuffle) — the property that keeps a hot domain from shipping its
    whole page set through the exchange."""
    assert_in_plan(QUERIES["q_domain_cap"](spark, sf_dir), "WindowGroupLimit")


def test_dedup_spans_broadcasts_shared_grams(spark, sf_dir):
    """The shared-gram semi-join must broadcast the (small) shared
    set, not shuffle the full gram table a second time, and the span
    merge must stay a per-doc window."""
    plan = formatted_plan(QUERIES["q_dedup_spans"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kmv_sketch_topk_is_map_side_group_limit(spark, sf_dir):
    """The per-source k-min selection must rewrite to
    WindowGroupLimit (each task forwards at most k rows per source —
    the partial top-k IS the distributed sketch merge); losing the
    rewrite would shuffle every distinct hash instead of k per
    source, and a nested-loop pair expansion would defeat the
    sketch-algebra design."""
    plan = formatted_plan(QUERIES["q_kmv_distinct"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_target_encode_single_fact_scan(spark, sf_dir):
    """The leave-fold-out rollup must come from the (category, fold)
    partials, not a second scan per fold: at most 2 orders scans
    (partials + the 1-row global prior) appear in the plan."""
    plan = formatted_plan(QUERIES["q_target_encode"](spark, sf_dir))
    assert plan.count("orders.parquet") <= 2 or plan.count("Scan parquet") <= 2, plan


def test_freq_pairs_broadcasts_frequent_items(spark, sf_dir):
    """The a-priori prune must reach the plan as a broadcast of the
    frequent-item table into the basket scan — shuffling the baskets
    against the item-support table would defeat downward-closure's
    whole point at scale."""
    plan = formatted_plan(QUERIES["q_freq_pairs"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_compact_plan_single_fact_scan(spark, sf_dir):
    """The planner's data-sized work is ONE hash aggregate; the
    global-order window must run over the per-day metadata rows, not
    a second fact scan."""
    plan = formatted_plan(QUERIES["q_compact_plan"](spark, sf_dir))
    # the formatted plan names each scan twice (tree node + detail)
    assert plan.count("Scan parquet") <= 2, plan


def test_dpo_pairs_no_cartesian(spark, sf_dir):
    """The chosen x rejected recombination is a keyed join on
    (source, lang) — never a cartesian pairing of the extremes."""
    plan = formatted_plan(QUERIES["q_dpo_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_winnow_plan_has_no_keyed_shuffle(spark, sf_dir):
    """q_winnow_fingerprint's round-8 plan is scan-local: window
    minima are computed inside per-doc arrays, so the physical plan
    must contain NO keyed exchange (hash or range partitioning) —
    the only permitted exchange is spread()'s optional round-robin
    of the one-partition local scan."""
    plan = (
        QUERIES["q_winnow_fingerprint"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_freq_pairs_reads_fact_through_one_cached_gather(spark, sf_dir):
    """q_freq_pairs' round-8 plan gathers baskets once into a scoped
    cache; the frequent-item aggregate and the pair explosion must
    both read the CACHE (InMemoryTableScan), never re-scan lineitem."""
    from lakehouse_app_spark import release_caches

    try:
        plan = (
            QUERIES["q_freq_pairs"](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("InMemoryTableScan") >= 2, plan


    finally:
        release_caches()


def test_layout_handle_memoized_per_session(spark, sf_dir):
    """derived_table must return the SAME analyzed frame for repeated
    reads of a committed layout in one session (schema discovery is
    catalog overhead), while a changed session falls back to a fresh
    read rather than serving a foreign session's plan."""
    from lakehouse_app_spark.operators.dedup_ext import minhash_sig_table

    a = minhash_sig_table(spark, sf_dir)
    b = minhash_sig_table(spark, sf_dir)
    assert a is b


def test_bootstrap_hash_is_overflow_safe_at_warehouse_keys(spark):
    """The bootstrap universal hash must stay inside int64 and
    non-negative for keys far beyond the bench scale (o_orderkey ≈
    6e9 at TPC-H sf1000): the pre-r8 form A*(key*R + r) wrapped
    int64 at sf≈45 and silently flipped every Poisson threshold
    comparison (review r7)."""
    from lakehouse_app_spark.operators.analytics import (
        BOOT_R,
        _BOOT_A,
        _BOOT_B,
        _BOOT_P,
    )

    rows = spark.range(1).select(
        *[
            (
                (
                    F.lit(_BOOT_A)
                    # cast mirrors the real plan: o_orderkey is LONG,
                    # so every intermediate promotes to int64 (a bare
                    # int literal would stay int32 and overflow under
                    # ANSI exactly as this test guards against)
                    * (((F.lit(key).cast("long") % _BOOT_P) * BOOT_R
                        + F.lit(r)) % _BOOT_P)
                    + F.lit(_BOOT_B)
                )
                % F.lit(_BOOT_P)
            ).alias(f"h_{i}")
            for i, (key, r) in enumerate(
                [(6_000_000_000, 0), (6_000_000_000, 31),
                 (2**40, 7), (2**31 - 1, 31)]
            )
        ]
    ).collect()[0]
    ref_parity = []
    for i, (key, r) in enumerate(
        [(6_000_000_000, 0), (6_000_000_000, 31), (2**40, 7), (2**31 - 1, 31)]
    ):
        expect = (_BOOT_A * (((key % _BOOT_P) * BOOT_R + r) % _BOOT_P)
                  + _BOOT_B) % _BOOT_P
        got = rows[f"h_{i}"]
        assert 0 <= got < _BOOT_P
        ref_parity.append(got == expect)
    assert all(ref_parity), ref_parity


def _overflow_sites():
    """Every integer hash-multiply in the repo, with its adversarial
    input and a pure-Python reference (round-9 verdict item 4: the
    bootstrap wraparound pattern-matched a CLASS — audit them all).
    Each site returns (spark_column, python_expected, upper_bound)
    evaluated at warehouse-scale worst-case operands; the test runs
    them under ANSI (overflow THROWS), so passing means every
    intermediate stays inside int64 by construction, not by luck."""
    from lakehouse_app_spark.operators.analytics import (
        BOOT_R,
        _BOOT_A,
        _BOOT_B,
        _BOOT_P,
    )
    from lakehouse_app_spark.operators.corpus_prep import _MH_P, _MH_PARAMS
    from lakehouse_app_spark.operators.dedup import _SH_PARAMS
    from lakehouse_app_spark.operators.sketches import _HA, _HB, _P, BLOOM_M
    from lakehouse_app_spark.operators.span_dedup import _POS_BASE

    fp_max = _MH_P - 1  # Karp-Rabin folds reduce mod 2^31-1 everywhere
    sites = []

    # sketches.py bloom/CMS second hash: _HA * fp + _HB
    sites.append((
        "bloom_second_hash",
        ((F.lit(_HA) * F.lit(fp_max).cast("long") + F.lit(_HB)) % F.lit(_P))
        % F.lit(BLOOM_M),
        ((_HA * fp_max + _HB) % _P) % BLOOM_M,
        BLOOM_M,
    ))

    # corpus_prep minhash affine hashes (worst multiplier last)
    for i, (a, b) in enumerate(_MH_PARAMS):
        sites.append((
            f"minhash_affine_{i}",
            (F.lit(a) * F.lit(fp_max).cast("long") + F.lit(b)) % F.lit(_MH_P),
            (a * fp_max + b) % _MH_P,
            _MH_P,
        ))

    # dedup.py SimHash 62-bit portable token hash: the TIGHT site —
    # a1 ≈ 2^30.6 times fp ≈ 2^31 is within 2^62 by less than a bit,
    # and the h1·2^31 + h2 concatenation must stay under 2^63
    (a1, b1), (a2, b2) = _SH_PARAMS
    h1 = (F.lit(a1) * F.lit(fp_max).cast("long") + F.lit(b1)) % F.lit(_MH_P)
    h2 = (F.lit(a2) * F.lit(fp_max).cast("long") + F.lit(b2)) % F.lit(_MH_P)
    sites.append((
        "simhash_portable_token",
        h1 * F.lit(1 << 31) + h2,
        ((a1 * fp_max + b1) % _MH_P) * (1 << 31)
        + ((a2 * fp_max + b2) % _MH_P),
        1 << 62,
    ))

    # span_dedup winnow (fp, pos) packing and its sum-of-1024 worst
    fpu_max = fp_max * _POS_BASE + (_POS_BASE - 1)
    sites.append((
        "winnow_fpu_pack",
        F.lit(fp_max).cast("long") * F.lit(_POS_BASE)
        + F.lit(_POS_BASE - 1),
        fpu_max,
        1 << 42,
    ))
    sites.append((
        "winnow_fp_sum_worst",
        F.expr(
            f"aggregate(sequence(1, {_POS_BASE}), CAST(0 AS BIGINT), "
            f"(acc, x) -> acc + CAST({fpu_max // _POS_BASE} AS BIGINT))"
        ),
        _POS_BASE * (fpu_max // _POS_BASE),
        1 << 42,
    ))

    # analytics.py bootstrap hash (the r8 fix, swept here too so the
    # class has ONE covering test)
    key = 6_000_000_000  # o_orderkey at TPC-H sf1000
    sites.append((
        "bootstrap_poisson_hash",
        (
            F.lit(_BOOT_A)
            * (((F.lit(key).cast("long") % _BOOT_P) * BOOT_R + F.lit(31))
               % _BOOT_P)
            + F.lit(_BOOT_B)
        )
        % F.lit(_BOOT_P),
        (_BOOT_A * (((key % _BOOT_P) * BOOT_R + 31) % _BOOT_P) + _BOOT_B)
        % _BOOT_P,
        _BOOT_P,
    ))

    # corpus_prep FIM cut points: doc_id · prime at warehouse-scale
    # document ids (1e11 docs)
    from lakehouse_app_spark.operators.corpus_prep import _FIM_A, _FIM_B

    for nm, mult in (("fim_a", _FIM_A), ("fim_b", _FIM_B)):
        did, third = 100_000_000_000, 577 // 3
        sites.append((
            f"fim_cut_{nm}",
            (F.lit(did).cast("long") * F.lit(mult)) % F.lit(third),
            (did * mult) % third,
            third,
        ))

    # corpus_prep char-fold fingerprint over a max-ascii long string
    big = "\x7f" * 4096
    from lakehouse_app_spark.operators.corpus_prep import _FP_SPARK

    acc = 0
    for _ in range(4096):
        acc = (acc * 31 + 127) % _MH_P
    sites.append((
        "char_fold_fingerprint",
        F.expr(_FP_SPARK.format(w=f"'{big}'")),
        acc,
        _MH_P,
    ))
    return sites


def test_hash_overflow_safe_at_warehouse_keys(spark):
    """Parametrized-in-one-pass sweep of every hash-multiply site at
    warehouse-scale worst-case operands, under ANSI so any int64
    overflow raises instead of wrapping; each value must also equal
    the pure-Python (unbounded-int) reference and respect its
    declared bound."""
    sites = _overflow_sites()
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        row = spark.range(1).select(
            *[col.alias(f"v{i}") for i, (_, col, _, _) in enumerate(sites)]
        ).collect()[0]
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    for i, (name, _, expect, bound) in enumerate(sites):
        got = row[f"v{i}"]
        assert got == expect, (name, got, expect)
        assert 0 <= got < bound, (name, got, bound)


def test_media_decoders_are_exchange_free(spark, sf_dir):
    """Both real codec paths (WAV and BMP, round 9) must stay
    scan-local projections over the stored media layout: all decode
    arithmetic is bound-lambda Catalyst expressions, so the physical
    plan has NO Exchange and NO Python eval — the 100 TB shape is a
    partition-pruned scan + map."""
    from lakehouse_app_spark.plans.checks import formatted_plan

    for key in ("q_media_decode", "q_media_decode_image"):
        plan = formatted_plan(QUERIES[key](spark, sf_dir))
        assert "Exchange" not in plan, (key, plan)
        assert "BatchEvalPython" not in plan, (key, plan)
        assert "ArrowEvalPython" not in plan, (key, plan)


def test_ingest_pipeline_broadcasts_quarantine(spark, sf_dir):
    """q_ingest_pipeline's flagged/admitted splits must consume the
    quarantine id list as a BROADCAST build side (it is metadata-
    sized at any corpus scale), never a shuffled join of the batch."""
    from lakehouse_app_spark.plans.checks import formatted_plan

    plan = formatted_plan(QUERIES["q_ingest_pipeline"](spark, sf_dir))
    # the flagged split's semi join broadcasts the quarantine list
    # (the admitted split's anti join executed inside the snapshot
    # write, so the returned report reads the committed parquet back
    # instead of re-running it); nothing in the report shuffles a
    # join input
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pretraining_transforms_are_exchange_free(spark, sf_dir):
    """Span corruption and FIM reordering (round 9) are pure
    projections over the documents scan: no Exchange (scan splits
    supply the parallelism at scale), no Python eval."""
    from lakehouse_app_spark.plans.checks import formatted_plan

    for key in ("q_span_corrupt", "q_fim_transform"):
        plan = formatted_plan(QUERIES[key](spark, sf_dir))
        assert "Exchange" not in plan, (key, plan)
        assert "BatchEvalPython" not in plan, (key, plan)
        assert "ArrowEvalPython" not in plan, (key, plan)


def test_knn_classify_probes_layout_and_broadcasts(spark, sf_dir):
    """The IVF-routed labeling pass (r10) must keep its two scale
    properties: the candidate scan is the STORED assignment layout
    (not a recomputed clustering), and every query-side/probe-side/
    label-side join is a broadcast — no corpus-sized shuffle and no
    cartesian pair space anywhere in the plan."""
    import re

    df = QUERIES["q_knn_classify"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "ivf8_a" in plan, plan  # stored layout, not a rebuild
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    # BroadcastNestedLoopJoins are legal ONLY against the 8-row
    # centroid table (index METADATA — the probe ranking; the planner
    # instantiates that bounded subtree up to twice); anything more
    # would mean a corpus-sized pair space. The centroid layout scan
    # is pinned present so the nested loops have a bounded side.
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 2, plan
    assert "ivf8_cents" in plan, plan


def test_ivf_append_is_batch_sized(spark, sf_dir):
    """Incremental index append must be O(batch), never O(corpus):
    once the delta segment and health baseline are committed, the
    drift-report plan reads the stored ivf8_delta and ivf8_health
    layouts and does NOT rescan the corpus-sized ivf8_assign table.
    Semantics: every arriving vector lands in exactly one cluster
    (sum of n_new == batch size) and drifts sum to ~0 by construction."""
    df = QUERIES["q_ann_ivf_append"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "ivf8_del" in plan, plan
    assert "ivf8_health" in plan, plan
    assert "ivf8_ass" not in plan, plan  # no corpus rescan
    rows = df.collect()
    from pyspark.sql import functions as F

    batch_n = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") % 10 == 7)
        .count()
    )
    assert sum(r["n_new"] for r in rows) == batch_n
    assert abs(sum(r["occupancy_drift"] for r in rows)) < 1e-5


def test_ivf_delta_probe_prunes_both_segments(spark, sf_dir):
    """The base∪delta probe must partition-prune BOTH segment scans
    with the literal probed-cid filter — the delta segment is
    cid-partitioned like the base precisely so incremental appends
    inherit the probe's n_probe/k scan reduction."""
    df = QUERIES["q_ann_ivf_delta_probe"](spark, sf_dir)
    _assert_cid_pruned(df, "ivf8_delta")
    _assert_cid_pruned(df, "ivf8_assign")


def test_ivf_retrain_reads_layout_not_corpus(spark, sf_dir):
    """Centroid re-train must be O(index): the one-round seeded Lloyd
    step and the re-assignment both read the STORED ivf8_assign
    layout — the raw embeddings table appears nowhere in the plan (a
    from-scratch k-means would rescan it once per training round).
    The codebook joins are broadcasts; no cartesian pair space."""
    df = QUERIES["q_ann_ivf_retrain"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "ivf8_ass" in plan, plan  # stored layout is the only input
    assert "embeddings.parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivf_retrain_moves_improve_cohesion(spark, sf_dir):
    """Semantics: re-assignment is argmax against the retrained
    codebook, so every moved vector's sim_new must be ≥ its sim to
    the retrained copy of its OLD cluster — and the moved set must be
    consistent with the gate (non-empty only when the occupancy skew
    trips the RETRAIN_NUM/RETRAIN_DEN integer gate). The cohesion
    check recomputes the retrained codebook (lloyd_means over the
    stored assignment) and compares cosines per moved vector — a
    wrong re-assignment projection that still moves vectors fails
    here (advice r12)."""
    from lakehouse_app_spark.operators.ann import (
        KM_ITERS,
        N_CENTROIDS,
        RETRAIN_DEN,
        RETRAIN_NUM,
    )
    from lakehouse_app_spark.operators.ann_index import ivf_index, lloyd_means
    from lakehouse_app_spark.operators.vectors import cosine_sim

    rows = QUERIES["q_ann_ivf_retrain"](spark, sf_dir).collect()
    _, assigned = ivf_index(spark, sf_dir, "ivf8", N_CENTROIDS, KM_ITERS)
    occ = [
        r["n"]
        for r in assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    fires = max(occ) * N_CENTROIDS * RETRAIN_DEN >= RETRAIN_NUM * sum(occ)
    if not fires:
        assert rows == []
        return
    assert len(rows) > 0
    for r in rows:
        assert r["old_cid"] != r["new_cid"]
    # the advertised argmax property, checked against an
    # independently recomputed retrained codebook
    retrained = lloyd_means(assigned.select("cid", "emb"))
    moved = spark.createDataFrame(
        [(r["vec_id"], r["old_cid"], r["new_cid"], r["sim_new"]) for r in rows],
        "vec_id long, old_cid int, new_cid int, sim_new double",
    )
    checked = (
        moved.join(assigned.select("vec_id", "emb"), "vec_id")
        .join(
            F.broadcast(
                retrained.select(
                    F.col("cid").alias("new_cid"),
                    F.col("cvec").alias("new_cvec"),
                )
            ),
            "new_cid",
        )
        .join(
            F.broadcast(
                retrained.select(
                    F.col("cid").alias("old_cid"),
                    F.col("cvec").alias("old_cvec"),
                )
            ),
            "old_cid",
        )
        .select(
            "vec_id",
            "sim_new",
            F.round(cosine_sim(F.col("emb"), F.col("new_cvec")), 6).alias(
                "sim_new_chk"
            ),
            F.round(cosine_sim(F.col("emb"), F.col("old_cvec")), 6).alias(
                "sim_old_retrained"
            ),
        )
        .collect()
    )
    assert len(checked) == len(rows)
    for c in checked:
        assert c["sim_new"] == c["sim_new_chk"], c
        assert c["sim_new"] >= c["sim_old_retrained"], c


def test_stream_pruned_join_prunes_static_partitions(spark, sf_dir):
    """The stream-static join body must carry the arriving batch's
    key set into the static scan as literal PartitionFilters — the
    q_join_dpp scan reduction on the streaming path. The static
    month-partitioned layout scan must list the months IN-filter and
    the batch (last two corpus months) must touch ≤ 2 partitions;
    without the pruning every micro-batch rescans the whole fact
    history."""
    import re

    from lakehouse_app_spark.streaming.stream_queries import (
        _anchor_month,
        _PRUNE_MOD,
        _PRUNE_REM,
        pruned_month_enrich,
    )
    from lakehouse_app_spark.sources.tables import load_tables

    m0 = _anchor_month(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    batch = t.lineitem.where(
        (F.col("l_orderkey") % _PRUNE_MOD == _PRUNE_REM)
        & (F.date_format(F.to_date("l_shipdate"), "yyyy-MM") >= F.lit(m0))
    ).select(
        F.date_format(F.to_date("l_shipdate"), "yyyy-MM").alias("ship_month"),
        "l_quantity",
    )
    df = pruned_month_enrich(spark, sf_dir, batch)
    plan = df._jdf.queryExecution().executedPlan().toString()
    ms = re.findall(r"ship_month#\d+ IN \(([^)]*)\)", plan)
    assert len(ms) >= 1, plan
    # the literal IN set is the batch's months — at most 2
    assert len(ms[0].split(",")) <= 2, ms[0]
    # the pruned scan reads the stored layout catalog (paths truncate
    # in executedPlan renderings, so pin the layouts root + the
    # partition filter rather than the full table dir name)
    assert "layouts" in plan, plan


def test_audio_features_decodes_jvm_side_single_scan(spark, sf_dir):
    """Per-frame audio features stay in the JVM: no Python evaluation
    node anywhere (the decode + framing is one Catalyst expression),
    exactly one parquet scan (the stored WAV layout), and no shuffle
    at all — the per-file map shape that scales linearly with the
    corpus."""
    import re

    df = QUERIES["q_audio_features"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # one scan NODE (formatted plans print each node twice: tree + detail)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Exchange" not in plan, plan


def test_ivf_merge_reads_layouts_and_folds_one_file_per_cluster(
    spark, sf_dir
):
    """The maintenance merge must be O(index): its report plan reads
    the merged generation, the base assignment layout (for the
    n_deleted arm), and the broadcast centroids — never the raw
    embeddings table (no corpus rescan, no re-derived vectors).
    Physically, the fold is ONE file per cluster (n_files == 1 on
    every row — also oracle-pinned, re-asserted here so the plan test
    fails standalone), and membership reconciles exactly: n_total ==
    base − deletes + delta per cluster."""
    df = QUERIES["q_ann_ivf_merge"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "ivf8_merged" in plan, plan
    assert "embeddings.parquet" not in plan, plan  # no corpus rescan
    rows = df.collect()
    assert rows and all(r["n_files"] == 1 for r in rows), rows
    base = QUERIES["q_ivf_balance"](spark, sf_dir).collect()
    base_n = {r["cid"]: r["n_vectors"] for r in base}
    for r in rows:
        assert (
            r["n_total"]
            == base_n[r["cid"]] - r["n_deleted"] + r["n_from_delta"]
        ), (r, base_n)


def test_join_dpp_prunes_fact_scan_at_runtime(spark, sf_dir):
    """The star-schema join must carry DYNAMIC partition pruning: the
    filter lives only on the month-dim, so the fact scan's partition
    filter must be the runtime dynamicpruning subquery (a static
    literal filter would defeat the operator's point), and only the
    anchored quarter's three months survive."""
    df = QUERIES["q_join_dpp"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    rows = df.collect()
    assert len(rows) == 3, rows
    months = sorted(r["ship_month"] for r in rows)
    assert [m[5:] for m in months] == ["01", "02", "03"], months


def test_zorder_maintain_prunes_both_states(spark, sf_dir):
    """q_zorder_maintain's I/O claims: the PRE state opens a strict
    subset of the clustered base's files but EVERY delta file (the
    unclustered append defeats pruning — the reason the fold exists),
    and the POST state opens a strict subset of the folded
    generation's files (pruning restored). Content exactness across
    both states is the oracle's job; this pins the I/O story."""
    import json
    import os
    import re

    from lakehouse_app_spark.sources.layout import layout_path

    df = QUERIES["q_zorder_maintain"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    counts = [
        int(m) for m in re.findall(r"InMemoryFileIndex\((\d+) paths\)", plan)
    ]
    n_delta = len(
        [
            f
            for f in os.listdir(
                os.path.join(layout_path("li_zmaint_delta", sf_dir))
            )
            if f.endswith(".parquet")
        ]
    )

    def total(name):
        with open(
            os.path.join(layout_path(name, sf_dir), "_stats_nd.json")
        ) as fh:
            return len(json.load(fh)["files"])

    n_base, n_gen2 = total("li_zmaint_base"), total("li_zmaint_gen2")
    # the plan holds three scans: pruned base, whole delta, pruned gen2
    assert len(counts) == 3 and n_delta in counts, (counts, n_delta, plan)
    pruned = sorted(counts)
    pruned.remove(n_delta)  # one scan is the whole delta
    base_scan = min(pruned)
    gen2_scan = max(pruned)
    assert 1 <= base_scan < n_base, (base_scan, n_base)
    assert 1 <= gen2_scan <= n_gen2 // 2, (gen2_scan, n_gen2)
    # row-level band predicates survive into the plan (straddlers and
    # the unprunable delta depend on them for exactness)
    assert "l_partkey" in plan and "l_suppkey" in plan, plan


def test_null_prune_skips_allnull_files(spark, sf_dir):
    """q_null_prune's IS NOT NULL scan must open a strict subset of
    the docs_nulllang layout — the manifest's null/row counts skip
    every all-NULL (pre-evolution) file before Spark lists a row
    group. The row-level IS NOT NULL must survive into the plan (the
    range-routed layout allows one straddling file)."""
    import json
    import os
    import re

    from lakehouse_app_spark.sources.layout import layout_path

    df = QUERIES["q_null_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m, plan
    n_scanned = int(m.group(1))
    path = layout_path("docs_nulllang", sf_dir)
    with open(os.path.join(path, "_stats_nd.json")) as fh:
        stats = json.load(fh)["files"]
    n_total = len(stats)
    n_allnull = sum(
        1
        for e in stats.values()
        if e["stats"]["lang"][2] >= e["rows"]
    )
    assert n_allnull >= 1, stats  # the pre-evolution files exist
    assert 1 <= n_scanned == n_total - n_allnull < n_total, (
        n_scanned, n_total, n_allnull, plan,
    )
    assert "isnotnull(lang" in plan, plan


def test_bloom_prune_skips_files(spark, sf_dir):
    """q_bloom_prune's point-lookup scan must open a strict subset of
    the 16-file source-clustered layout — min/max stats cannot prune
    here (every file's doc_id range spans ~the whole domain; asserted
    below), so any skipping in the plan is the bloom's doing."""
    import json
    import os
    import re

    from lakehouse_app_spark.sources.layout import layout_path

    df = QUERIES["q_bloom_prune"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m, plan
    n_scanned = int(m.group(1))
    path = layout_path("docs_bysrc16", sf_dir)
    with open(os.path.join(path, "_bloom_doc_id.json")) as fh:
        n_total = len(json.load(fh)["files"])
    assert 1 <= n_scanned <= min(8, n_total - 1), (n_scanned, n_total)
    # the layout really is adversarial to range stats: per-file doc_id
    # ranges overlap massively (source-clustered, not id-clustered)
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spans = []
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            md = pq.read_metadata(os.path.join(path, f))
            i = {md.schema.column(j).name: j for j in range(md.num_columns)}[
                "doc_id"
            ]
            st = md.row_group(0).column(i).statistics
            lo = min(
                md.row_group(g).column(i).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(i).statistics.max
                for g in range(md.num_row_groups)
            )
            spans.append((lo, hi))
    dom_lo = min(lo for lo, _ in spans)
    dom_hi = max(hi for _, hi in spans)
    wide = sum(
        1 for lo, hi in spans if (hi - lo) >= 0.5 * (dom_hi - dom_lo)
    )
    assert wide >= len(spans) // 2, spans
    # row-level probe predicate survives (false positives stay exact)
    assert "doc_id" in plan, plan


def test_metadata_only_agg_opens_no_data_files(spark, sf_dir):
    """q_metadata_only_agg must be answered entirely from the
    _stats_nd.json manifest: the executed plan aggregates O(files)
    local metadata rows and contains NO file scan of the layout's
    parquet (Iceberg's count(*)-from-manifests behavior)."""
    df = QUERIES["q_metadata_only_agg"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan, plan
    assert "InMemoryFileIndex" not in plan, plan
