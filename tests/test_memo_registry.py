"""The engine's one memo registry (runtime_cache.memo/lookup/store):
its key, stamp, first-insert-wins and eviction rules, the staged-dir
invalidation built on them, a guard that no module grows a memo
container of its own again, and the list of every cache the engine
keeps with the measurement that keeps it."""

from __future__ import annotations

import ast
import os
import pathlib
from collections import OrderedDict
from types import SimpleNamespace

import pytest

from lakehouse_app_spark import runtime_cache as rc

PKG = pathlib.Path(rc.__file__).parent


class _FakeSession:
    """The two attributes the registry reads from a SparkSession."""

    def __init__(self, uuid: str) -> None:
        self._jsparkSession = SimpleNamespace(sessionUUID=lambda: uuid)
        self._sc = SimpleNamespace(_jsc=object())


@pytest.fixture
def fresh_registry(monkeypatch):
    monkeypatch.setattr(rc, "_MEMO", OrderedDict())


def test_registry_sweeps_dead_contexts_then_evicts_lru(fresh_registry, monkeypatch):
    """An insert first sweeps entries bound to a stopped SparkContext,
    then evicts least-recently-used entries past MEMO_MAX; on_drop
    fires for every value that leaves."""
    monkeypatch.setattr(rc, "MEMO_MAX", 3)
    dropped: list[str] = []
    live, dead = _FakeSession("live"), _FakeSession("dead")
    rc.store("t", "d1", "D1", spark=dead, on_drop=dropped.append)
    rc.store("t", "p1", "P1", on_drop=dropped.append)
    rc.store("t", "p2", "P2", on_drop=dropped.append)
    dead._sc._jsc = None  # what SparkContext.stop() leaves behind
    assert rc.lookup("t", "p1") == "P1"  # p1 is now more recent than p2

    rc.store("t", "l1", "L1", spark=live, on_drop=dropped.append)
    assert dropped == ["D1"]  # the sweep made room: no LRU eviction
    rc.store("t", "p3", "P3", on_drop=dropped.append)
    assert dropped == ["D1", "P2"]  # then the least recently used

    assert rc.lookup("t", "p1") == "P1" and rc.lookup("t", "p2") is None
    assert rc.lookup("t", "l1", spark=live) == "L1"
    assert rc.lookup("t", "l1") is None  # session-bound, not process-level
    assert rc.lookup("t", "l1", spark=_FakeSession("other")) is None


def test_registry_stamps_and_first_insert_wins(fresh_registry):
    """A hit needs an equal stamp; the first insert wins and a losing
    or superseded value goes to on_drop; build() runs with no registry
    lock held, so a builder may itself use the registry."""
    dropped: list[str] = []
    assert rc.memo("t", "k", lambda: "v1", stamp=1, on_drop=dropped.append) == "v1"
    assert rc.memo("t", "k", lambda: "never", stamp=1) == "v1"
    assert rc.store("t", "k", "loser", stamp=1, on_drop=dropped.append) == "v1"
    assert dropped == ["loser"]
    assert rc.memo("t", "k", lambda: "v2", stamp=2, on_drop=dropped.append) == "v2"
    assert dropped == ["loser", "v1"]
    assert rc.memo("t", "o", lambda: rc.memo("t", "i", lambda: 5) + 1) == 6

    rc.forget("t", "k")
    assert dropped == ["loser", "v1", "v2"] and rc.lookup("t", "k", stamp=2) is None
    assert "o" in rc.NamespaceKeys("t") and "k" not in rc.NamespaceKeys("t")
    rc.forget("t", "o", "i")
    assert "o" not in rc.NamespaceKeys("t") and "i" not in rc.NamespaceKeys("t")


def test_restaging_after_regeneration_retires_the_old_dir(spark, sf_dir, tmp_path):
    """A staged stream input is stamped with the corpus fingerprint:
    after documents.parquet is rewritten in place the next call
    re-stages the NEW rows, and the superseded dir is retired (still
    on disk for a live replay) until the release_caches drain."""
    import shutil

    import pyarrow.parquet as pq

    from lakehouse_app_spark.streaming.stream_queries import _staged_new_docs_dir

    corpus = tmp_path / "sf_copy"
    corpus.mkdir()
    for f in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, f), corpus / f)

    rc.release_caches()
    old = _staged_new_docs_dir(spark, str(corpus))
    docs = pq.read_table(corpus / "documents.parquet")
    n_old = spark.read.parquet(old).count()
    assert n_old == sum(i % 10 == 7 for i in docs["doc_id"].to_pylist())

    fewer = docs.slice(0, docs.num_rows // 2)
    pq.write_table(fewer, corpus / "documents.parquet")
    new = _staged_new_docs_dir(spark, str(corpus))
    assert new != old
    n_new = sum(i % 10 == 7 for i in fewer["doc_id"].to_pylist())
    assert 0 < n_new < n_old
    assert spark.read.parquet(new).count() == n_new
    assert _staged_new_docs_dir(spark, str(corpus)) == new

    assert os.path.isdir(old)  # retired, not deleted ...
    rc.release_caches()
    assert not os.path.exists(old) and os.path.isdir(new)  # ... until the drain


def test_reaped_clone_trees_leave_no_read_handles(spark, sf_dir):
    """read_snapshot handles of lineages inside a scratch tree leave
    the registry when release_caches() reaps the tree; the live
    tree's handle stays."""
    from lakehouse_app_spark.sources.sinks import read_snapshot, write_snapshot
    from lakehouse_app_spark.sources.tables import load_tables

    small = load_tables(spark, sf_dir).nation.limit(5)
    trees = []
    for _ in range(3):
        trees.append(os.path.realpath(rc.scratch_commit_dir("rh_clone_")))
        path = os.path.join(trees[-1], "tbl")
        write_snapshot(small, path, "clone")
        assert read_snapshot(spark, path).count() == 5
        rc.release_caches()  # reaps the tree the new clone superseded

    def handles_under(tree):
        return [
            k for k in rc._MEMO
            if k[0] == "sinks.read_handles" and k[2][0].startswith(tree + "/")
        ]

    assert not any(os.path.exists(t) for t in trees[:-1])
    assert [handles_under(t) for t in trees[:-1]] == [[], []]
    assert len(handles_under(trees[-1])) == 1


# Module-level containers and locks that are NOT memos: the registry's
# own state, query-scoped persists, the scratch-dir retirement state,
# the declared query surface, and the snapshot-refs write lock.
NON_MEMO_STATE = {
    ("runtime_cache.py", "_MEMO"),
    ("runtime_cache.py", "_MEMO_LOCK"),
    ("runtime_cache.py", "_SCOPED"),
    ("runtime_cache.py", "_SCRATCH_LOCK"),
    ("runtime_cache.py", "_SCRATCH_DIRS"),
    ("runtime_cache.py", "_RETIRED_SCRATCH"),
    ("registry.py", "QUERIES"),
    ("registry.py", "ORACLES"),
    ("sources/sinks.py", "_REFS_LOCK"),
}

_CONTAINER_CALLS = {
    "dict", "set", "list", "OrderedDict", "defaultdict", "Lock", "RLock",
    "WeakKeyDictionary", "WeakValueDictionary",
}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not getattr(node, "keys", getattr(node, "elts", None))
    if isinstance(node, ast.Call):
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        return name in _CONTAINER_CALLS
    return False


def test_no_module_level_memo_outside_the_registry():
    """Every memo goes through runtime_cache's registry: a new
    module-level empty dict/set/list/OrderedDict or lock anywhere in
    the package fails here unless it is named non-memo state above."""
    found = set()
    for path in PKG.rglob("*.py"):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets, value = [node.target], node.value
            else:
                continue
            if _is_empty_container(value):
                found |= {(rel, ast.unparse(t)) for t in targets}
    assert found - NON_MEMO_STATE == set()
    assert NON_MEMO_STATE <= found  # the allowlist names live state only


# Every cache the engine keeps, with the A/B or the state that keeps
# it (timings: noop sink, 4 cores, median seconds without -> with the
# cache, interleaved pairs). A cache that is not reused within a
# request or across the requests of a session buys nothing, so a new
# namespace or persist site must come with its measurement here.
MEMO_NAMESPACES = {
    "plans": "served 223 of 261 keys; 0.36 s per q_mmr_diversify request",
    "layout.built": "committed layout path; perfbench counts layout builds against it",
    "layout.handles": "26 hits over 16 keys at sf0.01; skips a listing + footer read",
    "layout.scalars": "serves 4 keys, a collect job saved per request",
    "sinks.read_handles": "q_wap_publish 0.483 -> 0.275 s (8/8), q_incremental_agg 0.663 -> 0.559 s",
    "dedup.spread": "the partition probe costs 32-51 ms on a fresh frame, 6 ms on a hit",
    "stream.staged": "serves 15 keys, all 5 stream_replay keys among them",
    "stream.schema": "serves all 19 stream keys; a hit saves a Spark job, 51-96 ms per call on 6 sf0.1 keys",
    "stream.interval_sink": "one interval-join replay shared by its two views",
    "tables": "the session's table frames, shared by every builder",
    "tables.views": "the session's temp views over the current sf dir",
    "joins.bucketed": "managed bucketed tables in the shared catalog",
}

_SF1 = "pays at sf1 only"
_SF01 = "pays at sf0.1: slower without it in >= 4 of 6 pairs"
# (module, enclosing function) -> (persist sites, reason)
PERSIST_SITES = {
    ("runtime_cache.py", "prepared_plan"): (1, "the re-pin on a plan-memo hit"),
    ("operators/analytics.py", "q_freq_pairs"): (
        1, "pinned by test_freq_pairs_reads_fact_through_one_cached_gather"),
    ("operators/ann.py", "_audit_frames"): (1, _SF01),
    ("operators/ann.py", "q_knn_classify"): (1, _SF01),
    ("operators/bpe.py", "_train_bpe"): (2, _SF01),
    ("operators/bpe.py", "_train_unigram"): (
        3, "cold path only: the once-per-corpus unigram_vocab layout build"),
    ("operators/bpe.py", "q_bpe_encode"): (1, _SF01),
    ("operators/bpe.py", "q_bpe_merges"): (1, _SF01),
    ("operators/dedup.py", "q_dedup_minhash"): (2, _SF01),
    ("operators/dedup_ext.py", "_candidates_with_toks"): (2, _SF01),
    ("operators/dedup_ext.py", "q_gopher_repetition"): (1, f"{_SF1}: 5.74 -> 4.86 s"),
    ("operators/pipeline_e2e.py", "q_ingest_pipeline"): (1, f"{_SF01}; 2.73 -> 1.33 s"),
    ("operators/quality.py", "q_skew_stats"): (1, _SF01),
    ("operators/quality.py", "q_target_encode"): (
        1, "pinned by test_target_encode_single_fact_scan"),
    ("operators/sketches.py", "q_bloom_membership"): (2, _SF01),
    ("operators/sketches.py", "q_cms_heavy_hitters"): (1, _SF01),
    ("operators/sketches.py", "q_kmv_distinct"): (1, f"{_SF1}: 3.10 -> 1.96 s"),
    ("operators/span_dedup.py", "q_dedup_spans"): (1, _SF01),
    ("operators/sql_features.py", "q_recursive_cte"): (1, f"{_SF01}; 2.11 -> 0.78 s"),
    ("operators/tpch.py", "q_tpch_q11"): (1, f"{_SF1}: 1.35 -> 1.23 s"),
    ("operators/tpch.py", "q_tpch_q15"): (1, f"{_SF1}: 0.59 -> 0.39 s"),
    ("operators/tpch.py", "q_tpch_q2"): (1, _SF01),
}

_NAMESPACE_CALLS = {"memo", "lookup", "store", "forget", "NamespaceKeys"}


def _caches_in_package() -> tuple[set[str], dict[tuple[str, str], int]]:
    """The namespace literals the package passes to the registry, and
    the scoped_persist calls (direct or ``.transform(scoped_persist)``)
    counted per (module, enclosing function)."""
    from collections import Counter

    namespaces: set[str] = set()
    sites: Counter = Counter()

    def visit(node: ast.AST, rel: str, fn: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                f = child.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                args = child.args
                if name in _NAMESPACE_CALLS and args and isinstance(args[0], ast.Constant):
                    namespaces.add(args[0].value)
                if name == "scoped_persist" or (
                    name == "transform"
                    and any(isinstance(a, ast.Name) and a.id == "scoped_persist" for a in args)
                ):
                    sites[(rel, fn)] += 1
            inner = child.name if isinstance(child, ast.FunctionDef) else fn
            visit(child, rel, inner)

    for path in PKG.rglob("*.py"):
        visit(ast.parse(path.read_text()), path.relative_to(PKG).as_posix(), None)
    return namespaces, dict(sites)


def test_every_cache_is_listed_with_its_reason():
    """Both cache kinds, registry namespaces and scoped_persist sites,
    equal their allowlists above: a cache is added or kept only with
    the measurement that shows it pays."""
    namespaces, sites = _caches_in_package()
    assert namespaces == set(MEMO_NAMESPACES)
    assert sites == {k: n for k, (n, _) in PERSIST_SITES.items()}
