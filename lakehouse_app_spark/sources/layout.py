"""Build-once derived-table layouts — the ingest-time index story.

SCALE.md's 100 TB claim is that expensive derived columns (IVF
cluster ids, MinHash band keys, SemDeDup block ids) are computed ONCE
at ingest and stored as table LAYOUT — a partition column the query
planner prunes on — so every downstream probe/dedup query is an
equi-join or partition-pruned scan instead of a full recompute. The
reference gets this for free from its server-side vector index
(`app/vector_search.py:24-27`: the index is built before any query
runs); here the index IS the table layout.

This module makes that concrete: :func:`derived_table` materializes a
derived DataFrame under the warehouse layout catalog exactly once per
(corpus fingerprint, name) using sinks.py's manifest-last snapshot
commit, and hands back reads of the stored table. Because the commit
is durable and fingerprint-keyed, a FRESH process (or a second
SparkSession) reuses the ingest artifact instead of rebuilding —
exactly a catalog table on a real cluster — while a regenerated
corpus (different file sizes/mtimes) fingerprints to a new directory
and triggers a clean rebuild rather than serving stale indexes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lakehouse_app_spark.runtime_cache import NamespaceKeys, lookup, memo
from lakehouse_app_spark.sources.sinks import _committed_versions, write_snapshot

# Durable catalog root: env-overridable; defaults to the repo's
# gitignored spark-warehouse/ so layouts survive process restarts.
_DEFAULT_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
    "layouts",
)


def layout_base() -> str:
    return os.environ.get("SPARK_GRAFT_LAYOUT_DIR", _DEFAULT_BASE)


# Registry namespaces: "layout.built" maps a fingerprinted table dir
# to its committed data path (process-level: the path embeds the
# corpus fingerprint, so an in-process regeneration or a gc sweep can
# never serve a stale or deleted path; the durable commit under
# layout_base() is what a fresh process reuses). "layout.handles"
# maps it to the analyzed DataFrame read in the calling session.
#
# Read-only view of "layout.built" for perfbench/tracing.py, which
# counts layout builds with `tdir not in layout._BUILT`.
_BUILT = NamespaceKeys("layout.built")


def corpus_fingerprint(sf_dir: str) -> str:
    """Content-version tag for a corpus directory: (name, size,
    mtime_ns) of every parquet file under it. A regenerated corpus
    gets a new fingerprint, so stale layouts are never read — the
    moral equivalent of a table's snapshot id in the catalog."""
    items = []
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            p = os.path.join(sf_dir, f)
            if os.path.isdir(p):  # multi-file parquet table
                st = []
                for g in sorted(os.listdir(p)):
                    if g.startswith(("_", ".")):
                        continue
                    gs = os.stat(os.path.join(p, g))
                    # mtime included: same-size regenerated files must
                    # still change the fingerprint (review r6)
                    st.append((g, gs.st_size, gs.st_mtime_ns))
                items.append((f, str(st), 0))
            else:
                s = os.stat(p)
                items.append((f, s.st_size, s.st_mtime_ns))
    digest = hashlib.sha256(repr(items).encode()).hexdigest()[:12]
    return f"{os.path.basename(os.path.normpath(sf_dir))}-{digest}"


def _table_dir(name: str, sf_dir: str) -> str:
    return os.path.join(layout_base(), corpus_fingerprint(sf_dir), name)


def _committed_version(tdir: str) -> int | None:
    """Latest manifest-committed version under ``tdir`` (None if no
    committed snapshot exists): sinks.py's snapshot log, where data
    without a manifest is an invisible half-commit."""
    versions = _committed_versions(tdir)
    return versions[-1] if versions else None


def _build_once(tdir: str, sf_dir: str, commit: Callable[[], object]) -> int:
    """Run ``commit`` to build ``tdir``'s first version, then record
    the corpus marker; returns the latest committed version. If the
    build fails, a concurrent builder may be mid-commit: poll briefly
    for its manifest before giving up."""
    try:
        commit()
    except Exception:
        for _ in range(60):
            if _committed_version(tdir) is not None:
                break
            time.sleep(0.5)
        else:
            raise
    # corpus marker: records which source directory this fingerprint
    # belongs to, so gc_layouts never sweeps a same-basename sibling
    # corpus sharing the catalog (review r6)
    marker = os.path.join(os.path.dirname(tdir), "_corpus.json")
    if not os.path.exists(marker):
        with open(marker, "w") as fh:
            fh.write(json.dumps({"sf_dir": os.path.abspath(sf_dir)}))
    return _committed_version(tdir)


def derived_table(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[], DataFrame],
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Read the derived table ``name`` for ``sf_dir``, building and
    committing it first if no process ever has — the durable
    stand-in for an ingest-time pipeline stage.

    The build is one [[sinks.write_snapshot]] commit into the table
    dir: the data is staged privately, ``v=<n>/`` is claimed by an
    atomic rename and the ``_v<n>.json`` manifest is published last,
    put-if-absent. A crashed builder leaves invisible garbage, never
    a readable half-commit; racing builders each land their own
    complete version, and a builder whose build fails waits for a
    concurrent winner's commit."""
    tdir = _table_dir(name, sf_dir)

    def commit() -> int:
        return write_snapshot(
            build(), tdir, note="derived-table layout", partition_by=partition_by
        )

    def committed() -> str:
        ver = _committed_version(tdir)
        if ver is None:
            ver = _build_once(tdir, sf_dir, commit)
        return os.path.join(tdir, f"v={ver}")

    # the handle is the ANALYZED frame: a committed layout is immutable
    # (new content ⇒ new fingerprint ⇒ new tdir), so re-running
    # spark.read.parquet — file listing + footer schema discovery,
    # ~0.1-0.2 s — per handle was pure catalog overhead repeated by
    # every query touching a stored index (round-8 bench audit)
    return memo(
        "layout.handles", tdir,
        lambda: spark.read.parquet(memo("layout.built", tdir, committed)),
        spark=spark,
    )


def corpus_scalar(spark: SparkSession, sf_dir: str, tag: str, compute):
    """Memoized corpus-anchored scalar (a bounded 1-row aggregate —
    the _probe_ids collect class): ``compute()`` runs once per
    (corpus content, tag) and its value is replayed for every later
    invocation on the same corpus. ONE copy of the recipe (review
    r11; was duplicated as _COMPACT_LO_CACHE in lake_ops and
    _DPP_YEAR_CACHE in joins): the stamp is the corpus CONTENT
    fingerprint, so an in-session regeneration re-derives the anchor
    instead of serving a stale one."""
    return memo(
        "layout.scalars", (sf_dir, tag), compute,
        stamp=corpus_fingerprint(sf_dir),
    )


def lineage_table(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    build: Callable[[str], None],
) -> str:
    """Build-once multi-VERSION snapshot lineage layout — the
    [[derived_table]] convention extended from one committed version
    to a whole sinks.py snapshot lineage (r13 verdict item 1: the CDC
    demo keys each re-committed their own COW lineage per invocation;
    the lineage is an ingest-time artifact, so it belongs in the
    durable layout catalog and the timed path should measure the
    READS — feed computation, time-travel, restore read-back — not
    re-pay the commits).

    ``build(root)`` performs the actual commits (write_snapshot /
    delete_where / update_where / restore_version / sidecar writes)
    into a STAGING root; ``os.rename`` then atomically claims the
    final fingerprinted directory, so readers see either nothing or
    the complete lineage and a concurrent loser simply reads the
    winner's commit. Fingerprint-keyed like every layout: a
    regenerated corpus rebuilds from scratch (the cold-layout drive
    certifies exactly that), a fresh process reuses the durable
    commit. Returns the lineage root path (a sinks.py snapshot table
    dir usable with read_snapshot/change_feed/snapshot_history)."""
    tdir = _table_dir(name, sf_dir)

    def commit() -> None:
        os.makedirs(os.path.dirname(tdir), exist_ok=True)
        staging = f"{tdir}-staging-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            build(staging)
            try:
                os.rename(staging, tdir)
            except OSError:
                # lost the claim race: a complete winner must exist
                if _committed_version(tdir) is None:
                    raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    if _committed_version(tdir) is None:
        _build_once(tdir, sf_dir, commit)
    return tdir


def layout_path(name: str, sf_dir: str) -> str | None:
    """Committed data path for a layout (None if never built). Unlike
    the pre-round-6 tempdir scheme this answers from the durable
    catalog, so it works in a process that never built the layout."""
    tdir = _table_dir(name, sf_dir)
    hit = lookup("layout.built", tdir)
    if hit is not None:
        return hit
    ver = _committed_version(tdir)
    return None if ver is None else os.path.join(tdir, f"v={ver}")


def gc_layouts(sf_dir: str) -> list[str]:
    """Remove layout fingerprint directories for ``sf_dir``'s corpus
    whose fingerprint no longer matches the current corpus content —
    the catalog-maintenance half of the durable-layout story (a
    regenerated corpus orphans its old indexes; this sweeps them like
    ``expire_snapshots`` sweeps old table versions). A directory is
    swept only when its ``_corpus.json`` marker names THIS corpus
    path — a same-basename sibling corpus sharing the catalog is
    never touched (pre-marker dirs are likewise left alone).
    Returns the removed directory paths."""
    current = corpus_fingerprint(sf_dir)
    me = os.path.abspath(sf_dir)
    base = layout_base()
    removed = []
    try:
        entries = os.listdir(base)
    except FileNotFoundError:
        return removed
    for d in entries:
        if d == current:
            continue
        marker = os.path.join(base, d, "_corpus.json")
        try:
            with open(marker) as fh:
                owner = json.loads(fh.read()).get("sf_dir")
        except (FileNotFoundError, NotADirectoryError, ValueError):
            continue
        if owner == me:
            path = os.path.join(base, d)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed
