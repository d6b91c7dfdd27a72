"""Query-scoped caches, the engine's one memo registry, and scratch
directories with deferred cleanup.

Several operators persist an intermediate that feeds multiple
consumers inside ONE query (signature tables, posting lists). A bare
``.persist()`` leaks those blocks into Spark's CacheManager for the
rest of a many-query session (round-3 advice); a ``localCheckpoint``
fixes the leak but cuts lineage, so downstream column pruning and
filter pushdown stop at the checkpoint — measured 2× slower on the
dedup tier, whose signatures carry wide shingle arrays the consumers
mostly prune away.

``scoped_persist`` keeps the fast path (a real persist, columnar
cache, pruning-aware) and registers the DataFrame so the harness —
bench.py after each timed query, tests between cases — can call
:func:`release_caches` to unpersist everything the previous query
pinned. Callers that never call ``release_caches`` (the driver's
sf0.01 correctness pass) leak at most the old behavior on 10× less
data.

:func:`memo` (with :func:`lookup`/:func:`store`) is the only place
the engine memoizes anything across calls; see ``MEMO_MAX``.

A cache stays only if it pays: tests/test_memo_registry.py lists
every registry namespace and every scoped_persist site together with
the A/B (or the shared state) that keeps it, and fails on one it does
not list."""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame

_SCOPED: list[DataFrame] = []

# ---------------------------------------------------------------------------
# Memo registry: every memo in the engine is one entry
#   (namespace, session identity or None, key) -> (stamp, value)
# under one rule. A session-bound value (a DataFrame, a temp view, a
# schema read under session confs) passes ``spark``, so a second live
# session (newSession(): same SparkContext, own views and confs) never
# sees another's entries; a process-level value (a staged dir, a
# durable layout path) passes spark=None, and so does a managed table
# in the catalog all sessions of a SparkContext share, stamped with
# that context. A lookup hits only on an equal stamp (a corpus
# fingerprint, a file stat, a context). A miss builds with
# NO lock held (foreachBatch callbacks build on other threads), the
# first insert wins, and a losing or superseded value goes to its
# on_drop. Each insert sweeps entries of a stopped SparkContext, then
# evicts least-recently-used entries past MEMO_MAX. A full ``drive``
# pass at sf0.01 peaks at 324 entries, so it evicts nothing. A
# read_snapshot handle retains ~0.12 MB of JVM heap; the handles of
# lineage clones inside a scratch tree (q_vacuum, q_merge_multi) leave
# the registry when the tree is reaped, so clone churn no longer
# fills it. release_caches() does NOT otherwise clear the registry:
# it runs after every served request, and the plan memo is what makes
# a repeated request cheap.
# ---------------------------------------------------------------------------

MEMO_MAX = 512

_MEMO: OrderedDict[tuple, tuple] = OrderedDict()  # -> (stamp, value, sc, on_drop)
_MEMO_LOCK = threading.Lock()
_MISS = object()


def session_id(spark: Any) -> str:
    """A live SparkSession's JVM UUID, fetched once per Python session
    object: not id(spark), which the allocator recycles, and not the
    SparkContext, which every newSession() shares."""
    sid = getattr(spark, "_memo_session_id", None)
    if sid is None:
        sid = spark._memo_session_id = spark._jsparkSession.sessionUUID()
    return sid


def _entry_key(namespace: str, key: Hashable, spark: Any) -> tuple:
    return (namespace, None if spark is None else session_id(spark), key)


def lookup(namespace, key, *, spark=None, stamp=None, default=None) -> Any:
    """The stored value when its stamp equals ``stamp``, else ``default``."""
    k = _entry_key(namespace, key, spark)
    with _MEMO_LOCK:
        e = _MEMO.get(k)
        if e is None or e[0] != stamp:
            return default
        _MEMO.move_to_end(k)
        return e[1]


def store(namespace, key, value, *, spark=None, stamp=None, on_drop=None) -> Any:
    """Insert ``value`` unless an entry with an equal stamp is there
    (the first insert wins); return the value the registry holds.
    Losing, superseded, swept and evicted values go to their
    ``on_drop`` once the lock is released."""
    k = _entry_key(namespace, key, spark)
    dropped: list[tuple] = []
    with _MEMO_LOCK:
        e = _MEMO.pop(k, None)
        if e is not None and e[0] == stamp:
            if e[1] is not value:
                dropped.append((stamp, value, None, on_drop))
            _MEMO[k] = e
            value = e[1]
        else:
            if e is not None:
                dropped.append(e)
            _MEMO[k] = (stamp, value, None if spark is None else spark._sc, on_drop)
            dead = [dk for dk, de in _MEMO.items() if de[2] and de[2]._jsc is None]
            dropped += [_MEMO.pop(dk) for dk in dead]
            while len(_MEMO) > MEMO_MAX:
                dropped.append(_MEMO.popitem(last=False)[1])
    _drop(dropped)
    return value


def memo(namespace, key, build, *, spark=None, stamp=None, on_drop=None) -> Any:
    """The value for (namespace, session, key) at ``stamp``, calling
    ``build()`` with no lock held on a miss."""
    hit = lookup(namespace, key, spark=spark, stamp=stamp, default=_MISS)
    if hit is not _MISS:
        return hit
    return store(
        namespace, key, build(), spark=spark, stamp=stamp, on_drop=on_drop
    )


def forget(namespace: str, *keys: Hashable, spark: Any = None) -> None:
    """Drop the named keys' entries (``spark``'s, or the process-level
    ones); dropped values go to their ``on_drop``."""
    doomed = [_entry_key(namespace, k, spark) for k in keys]
    with _MEMO_LOCK:
        dropped = [_MEMO.pop(k) for k in doomed if k in _MEMO]
    _drop(dropped)


def _drop(entries: list[tuple]) -> None:
    for _, value, _, on_drop in entries:
        if on_drop is not None:
            on_drop(value)


class NamespaceKeys:
    """Read-only ``in`` over one namespace's process-level keys."""

    def __init__(self, namespace: str) -> None:
        self.namespace = namespace

    def __contains__(self, key: Hashable) -> bool:
        return (self.namespace, None, key) in _MEMO


# ---------------------------------------------------------------------------
# Prepared-plan memo
#
# A DataFrame is an immutable logical plan; rebuilding it for every
# invocation of the same declared query re-pays Python-side plan
# construction and Catalyst analysis (measured 20-140 ms per query
# locally — pure fixed cost, unrelated to data volume). Engines keep
# prepared statements for exactly this reason, so the registry holds
# the built plan per (session, sf_dir, query) and replays it.
#
# Honesty guard: a plan is memoized ONLY when building it scheduled no
# Spark jobs. Builders that do real work at build time — streaming
# replays, index training collects, iterative convergence loops,
# write-path round-trips — are detected via the DAGScheduler job
# counter and never memoized as plans, so repeated calls re-enter the
# builder. The guard covers only the returned plan: ingest-time and
# topology-level work inside a builder (the "layout.built" layouts,
# the shared "stream.interval_sink" replay) has its own registry
# entries, so an unmemoized builder's repeat timing can still exclude
# those one-time costs.
#
# The entry value is (plan, scoped): the DataFrames the builder
# scoped-persisted. A hit skips the builder, so those persists are
# re-applied (and re-registered for the next release_caches) or every
# consumer of a shared intermediate would recompute it on repeat runs.
# ---------------------------------------------------------------------------


def _jobs_scheduled(spark: Any) -> int | None:
    """Monotone count of jobs submitted on this session's context;
    None when the (private-API) counter is unreachable."""
    try:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    except Exception:
        return None


def prepared_plan(
    name: str,
    builder: Callable[[Any, str], DataFrame],
    spark: Any,
    sf_dir: str,
) -> DataFrame:
    """Return the memoized plan for (session, sf_dir, name), building —
    and memoizing only if the build was pure plan construction — on miss."""
    hit = lookup("plans", (sf_dir, name), spark=spark)
    if hit is not None:
        df, scoped = hit
        for shared in scoped:
            scoped_persist(shared)  # re-pin after any release_caches
        return df
    before = _jobs_scheduled(spark)
    scoped_before = len(_SCOPED)
    df = builder(spark, sf_dir)
    if before is not None and _jobs_scheduled(spark) == before:
        entry = (df, _SCOPED[scoped_before:])
        df = store("plans", (sf_dir, name), entry, spark=spark)[0]
    return df


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for the next release_caches()."""
    out = df.persist()
    _SCOPED.append(out)
    return out


def release_caches() -> int:
    """Unpersist every scoped cache registered since the last call —
    and reap retired scratch directories (see scratch_commit_dir);
    returns how many caches were released."""
    n = len(_SCOPED)
    for df in _SCOPED:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped
    _SCOPED.clear()
    with _SCRATCH_LOCK:
        retired, _RETIRED_SCRATCH[:] = list(_RETIRED_SCRATCH), []
    _reap([d for _, d in retired])
    return n


def _reap(trees: list[str]) -> None:
    """Remove retired scratch trees, then drop the read_snapshot
    handles of lineages inside them: those can never hit again (a new
    clone gets a new path), and each pins ~0.12 MB of JVM heap."""
    import os
    import shutil

    if not trees:
        return
    roots = tuple(os.path.join(os.path.realpath(d), "") for d in trees)
    for d in trees:
        shutil.rmtree(d, ignore_errors=True)
    with _MEMO_LOCK:
        dead = [
            k for k in _MEMO
            if k[0] == "sinks.read_handles" and (k[2][0] + "/").startswith(roots)
        ]
        dropped = [_MEMO.pop(k) for k in dead]
    _drop(dropped)


_SCRATCH_LOCK = threading.Lock()
_SCRATCH_DIRS: dict[str, str] = {}
_RETIRED_SCRATCH: list[tuple[str, str]] = []  # (prefix, retired dir)
# Growth bound for callers that never drain via release_caches: once
# the retired list exceeds this, acquisition reaps every retired tree
# EXCEPT the newest per prefix (the only one an earlier invocation's
# still-live lazy DataFrame could plausibly reference) — advice r10.
_RETIRED_BOUND = 8


def scratch_commit_dir(prefix: str) -> str:
    """A fresh scratch directory for a query's demo snapshot commits,
    with DEFERRED cleanup: a superseded directory is only RETIRED here
    and physically removed at the next release_caches() — the harness
    drain point, after the query's consumers have executed — never at
    the next acquisition, which could yank the tree out from under a
    still-live lazily-evaluated DataFrame built by an earlier
    invocation (round-9 advice). The registry is lock-guarded since
    streaming queries may acquire from listener threads. RAM-backed
    when /dev/shm exists — the same policy as the stream checkpoints.
    Callers that never call release_caches (the driver's one-shot
    correctness pass) are still bounded: past _RETIRED_BOUND retired
    trees, acquisition reaps all but the newest retired tree per
    prefix, so a drain-free loop holds at most max(_RETIRED_BOUND,
    n_prefixes) dead trees instead of growing without limit on
    tmpfs (advice r10)."""
    import os
    import tempfile

    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=root)
    reap: list[str] = []
    with _SCRATCH_LOCK:
        prev = _SCRATCH_DIRS.get(prefix)
        if prev is not None:
            _RETIRED_SCRATCH.append((prefix, prev))
        _SCRATCH_DIRS[prefix] = d
        if len(_RETIRED_SCRATCH) > _RETIRED_BOUND:
            newest = {p: i for i, (p, _) in enumerate(_RETIRED_SCRATCH)}
            keep = set(newest.values())
            reap = [
                rd
                for i, (_, rd) in enumerate(_RETIRED_SCRATCH)
                if i not in keep
            ]
            _RETIRED_SCRATCH[:] = [
                e for i, e in enumerate(_RETIRED_SCRATCH) if i in keep
            ]
    _reap(reap)  # outside the lock — rmtree can be slow
    return d


def retire_scratch_dir(prefix: str, d: str) -> None:
    """Register an externally-created scratch dir for deferred removal
    at the next release_caches() drain — the scratch_commit_dir
    retirement protocol exposed to caches that key their dirs
    themselves (e.g. the streaming vector-staging memo, whose key
    embeds the corpus fingerprint; advice r11). Never removes
    eagerly: a still-live lazy DataFrame from an earlier invocation
    may reference the superseded tree."""
    with _SCRATCH_LOCK:
        _RETIRED_SCRATCH.append((prefix, d))
