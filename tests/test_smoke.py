"""Driver-contract smoke tests for __spark_entry__."""

import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_entry_contract(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 3
    cols = set(df.columns)
    assert {"doc_id", "source", "snippet", "sim"} <= cols
    for r in rows:
        assert r["snippet"].endswith("...")


def test_every_query_has_callable_and_oracle_keys_subset(spark):
    mod = importlib.import_module("__spark_entry__")
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_prepared_plan_cache_honesty_guard(spark, sf_dir):
    """The registry's prepared-plan cache may replay ONLY pure plan
    construction: a builder that schedules jobs at build time
    (streaming replay, layout build, write round-trip) must re-run
    end-to-end on every call. Pin both sides of the guard."""
    from lakehouse_app_spark import runtime_cache as rc
    from lakehouse_app_spark.registry import QUERIES

    # pure plan builder → second call returns the cached DataFrame
    a = QUERIES["q_project"](spark, sf_dir)
    b = QUERIES["q_project"](spark, sf_dir)
    assert a is b
    assert rc.lookup("plans", (sf_dir, "q_project"), spark=spark) is not None

    # a cached plan stays executable after release_caches()
    rc.release_caches()
    assert QUERIES["q_project"](spark, sf_dir).count() > 0

    # impure builder (runs the stream during build) → never cached,
    # fresh result table per call
    c = QUERIES["q_stream_tumbling"](spark, sf_dir)
    d = QUERIES["q_stream_tumbling"](spark, sf_dir)
    assert c is not d
    assert rc.lookup("plans", (sf_dir, "q_stream_tumbling"), spark=spark) is None


def test_prepared_plan_rejects_fake_job_scheduling_builder(spark, sf_dir):
    """Verdict-r5 item 7: a synthetic builder that schedules a Spark
    job during construction must get a cache MISS on every call —
    the guard cannot depend on which real queries happen to be
    impure."""
    from lakehouse_app_spark import runtime_cache as rc

    calls = []

    def impure(s, d):
        df = s.range(5)
        df.count()  # schedules a job during "plan construction"
        calls.append(1)
        return df

    a = rc.prepared_plan("__fake_impure__", impure, spark, sf_dir)
    b = rc.prepared_plan("__fake_impure__", impure, spark, sf_dir)
    assert len(calls) == 2 and a is not b
    assert rc.lookup("plans", (sf_dir, "__fake_impure__"), spark=spark) is None

    def pure(s, d):
        calls.append(1)
        return s.range(5)

    c = rc.prepared_plan("__fake_pure__", pure, spark, sf_dir)
    d = rc.prepared_plan("__fake_pure__", pure, spark, sf_dir)
    assert c is d
    rc.forget("plans", (sf_dir, "__fake_pure__"), spark=spark)


# The read keys of perfbench's app_serve workload (perfbench/workloads.json).
APP_SERVE_READS = (
    "q_vs_retrieve", "q_topk_cosine", "q_context_pack", "q_mmr_diversify",
    "q_dedup_sources", "q_truncate_render", "q_format_docs",
    "q_regex_transform", "q_lateral_topk",
)


@pytest.mark.parametrize("name", APP_SERVE_READS)
def test_app_serve_reads_are_memo_served(spark, sf_dir, name):
    """Every app_serve read is pure plan construction: a fresh build
    schedules no job, so the prepared-plan memo serves each repeat
    with the identical DataFrame. A builder that collects or counts
    would pay the rebuild and its jobs on every request."""
    from lakehouse_app_spark import runtime_cache as rc
    from lakehouse_app_spark.registry import QUERIES

    QUERIES[name].builder(spark, sf_dir)  # one-time ingest: tables, layouts
    rc.forget("plans", (sf_dir, name), spark=spark)
    before = rc._jobs_scheduled(spark)
    first = QUERIES[name](spark, sf_dir)
    assert rc._jobs_scheduled(spark) == before
    assert QUERIES[name](spark, sf_dir) is first


def test_session_id_stable_per_session_and_not_address_based(spark):
    """Session-bound memo entries key on the JVM session's UUID: stable
    within a session, distinct for a second live session on the same
    SparkContext, and never id(spark), which the allocator recycles."""
    from lakehouse_app_spark.runtime_cache import session_id

    b = spark.newSession()
    assert session_id(spark) == session_id(spark)
    assert session_id(b) == session_id(b) != session_id(spark)
    assert session_id(spark) != id(spark)
    assert session_id(spark) == spark._jsparkSession.sessionUUID()


# one pure plan, one plan over the stored IVF layout, one spark.sql
# builder that reads the session's temp views, and one plan over
# managed tables in the catalog both sessions share
TWO_SESSION_KEYS = ("q_vs_retrieve", "q_tpch_q3", "q_agg_gsets", "q_join_bucketed")


def test_two_live_sessions_are_served_their_own_entries(spark, sf_dir):
    """A second live session (newSession(): same SparkContext, own
    temp views and confs) is served its own plans, built in its own
    session, and neither session evicts the other's entries. What the
    sessions share stays shared: b's first q_join_bucketed reuses the
    bucketed tables in the common catalog instead of rewriting them
    under spark's memoized plan, which still reads after b's call."""
    from lakehouse_app_spark.registry import QUERIES

    b = spark.newSession()
    got: dict = {}

    def serve(s):
        for name in TWO_SESSION_KEYS:
            df = QUERIES[name](s, sf_dir)
            assert df.sparkSession is s, name
            got.setdefault((s, name), []).append(df)

    for s in (spark, b):
        for name in TWO_SESSION_KEYS:
            QUERIES[name].builder(s, sf_dir)  # one-time ingest: tables, layouts
        serve(s)
    serve(spark)
    serve(b)
    assert QUERIES["q_agg_gsets"](b, sf_dir).count() > 0  # b's own views
    for name in TWO_SESSION_KEYS:
        (a1, a2), (b1, b2) = got[(spark, name)], got[(b, name)]
        assert a1 is a2 and b1 is b2, name  # neither evicted the other
        assert a1 is not b1, name
    a_rows, b_rows = (got[(s, "q_join_bucketed")][0].collect() for s in (spark, b))
    assert a_rows and sorted(a_rows) == sorted(b_rows)


def test_plan_cache_repersists_scoped_intermediates_on_hit(spark, sf_dir):
    """A cached plan whose builder scoped-persisted a shared
    intermediate must re-pin that intermediate on cache hits after
    release_caches() — otherwise every consumer recomputes it and
    the single-pass design silently degrades on repeat runs."""
    from lakehouse_app_spark import runtime_cache as rc

    def builder(s, d):
        shared = rc.scoped_persist(s.range(100).selectExpr("id", "id*2 AS v"))
        return shared.groupBy().sum("v")

    a = rc.prepared_plan("__fake_shared__", builder, spark, sf_dir)
    key = (sf_dir, "__fake_shared__")
    _, (shared_df,) = rc.lookup("plans", key, spark=spark)
    assert shared_df.storageLevel.useMemory
    rc.release_caches()
    assert not shared_df.storageLevel.useMemory
    b = rc.prepared_plan("__fake_shared__", builder, spark, sf_dir)
    assert b is a
    assert shared_df.storageLevel.useMemory  # re-pinned on hit
    rc.release_caches()
    rc.forget("plans", key, spark=spark)


def test_scratch_commit_dir_defers_cleanup():
    """Superseded scratch dirs are RETIRED, not deleted, when the
    next invocation's dir is created — a lazily-evaluated DataFrame
    built by the earlier invocation may still read the old tree
    (r9 ADVICE) — and are physically reaped only at the next
    release_caches(), the harness drain point. Distinct prefixes
    don't interfere."""
    import os

    from lakehouse_app_spark.runtime_cache import (
        release_caches,
        scratch_commit_dir,
    )

    release_caches()  # drain any dirs retired by earlier tests
    a1 = scratch_commit_dir("sc_test_a_")
    b1 = scratch_commit_dir("sc_test_b_")
    assert os.path.isdir(a1) and os.path.isdir(b1)
    a2 = scratch_commit_dir("sc_test_a_")
    assert os.path.isdir(a2) and a2 != a1
    # previous tree still readable until the drain point ...
    assert os.path.isdir(a1)
    release_caches()
    # ... and reaped there; the live dirs survive
    assert not os.path.exists(a1)
    assert os.path.isdir(a2) and os.path.isdir(b1)
    # cleanup for the test itself: retire + drain
    scratch_commit_dir("sc_test_a_")
    scratch_commit_dir("sc_test_b_")
    release_caches()


def test_scratch_retired_list_is_bounded():
    """A drain-free loop (a caller that never hits release_caches)
    must not accumulate retired trees without bound: past
    _RETIRED_BOUND, acquisition reaps everything but the newest
    retired tree per prefix (advice r10)."""
    import os

    from lakehouse_app_spark import runtime_cache as rc

    rc.release_caches()
    dirs = [rc.scratch_commit_dir("sc_bound_") for _ in range(rc._RETIRED_BOUND + 5)]
    with rc._SCRATCH_LOCK:
        n_retired = len(rc._RETIRED_SCRATCH)
    assert n_retired <= rc._RETIRED_BOUND
    # the newest retired tree (previous generation) must survive the
    # reap — an earlier invocation's lazy DataFrame may still read it
    assert os.path.isdir(dirs[-2]) and os.path.isdir(dirs[-1])
    # everything two-plus generations old is gone
    assert not os.path.exists(dirs[0])
    rc.scratch_commit_dir("sc_bound_")
    rc.release_caches()
