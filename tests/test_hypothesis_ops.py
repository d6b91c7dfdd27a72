"""Randomized (hypothesis) cross-checks for the hand-built operators
most prone to boundary bugs: as-of join and gap sessionization. Each
compares the Spark implementation against an independent pure-Python
reference over generated event sets (including ties and empty sides).
"""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lakehouse_app_spark.operators.joins import asof_join
from lakehouse_app_spark.operators.windows import sessionize

TS = st.integers(min_value=0, max_value=50)
KEY = st.integers(min_value=1, max_value=3)

hyp_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    lefts=st.lists(st.tuples(KEY, TS), min_size=0, max_size=12, unique=True),
    rights=st.lists(st.tuples(KEY, TS), min_size=0, max_size=12, unique=True),
)
@hyp_settings
def test_asof_matches_python_reference(spark, lefts, rights):
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)] or [(99, -1, -1)],
        "k long, ts long, lid long",
    )
    right = spark.createDataFrame(
        [(k, t) for k, t in rights] or [(99, -1)], "k long, ts long"
    )
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts",
                    payload_alias="m")
    got = {r["lid"]: r["m"] for r in out.collect()}
    for i, (k, t) in enumerate(lefts):
        cands = [rt for rk, rt in rights if rk == k and rt <= t]
        expected = max(cands) if cands else None
        assert got[i] == expected, (k, t, cands)


@given(
    events=st.lists(
        st.tuples(KEY, st.integers(min_value=0, max_value=300)),
        min_size=1, max_size=15, unique=True,
    ),
    gap_minutes=st.integers(min_value=1, max_value=5),
)
@hyp_settings
def test_sessionize_matches_python_reference(spark, events, gap_minutes):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, k, base + dt.timedelta(minutes=m)) for i, (k, m) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp_ntz")
    got = {
        r["event_id"]: (r["user_id"], r["session_id"])
        for r in sessionize(df, gap_minutes).collect()
    }
    # reference: per user, sorted by ts; new session when gap > threshold
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (k, m) in enumerate(events):
        by_user.setdefault(k, []).append((m, i))
    for k, evs in by_user.items():
        evs.sort()
        sid, prev = 0, None
        for m, i in evs:
            if prev is None or (m - prev) > gap_minutes:
                sid += 1
            prev = m
            assert got[i] == (k, sid), (k, evs)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=120),  # t seconds
            st.sampled_from(["x", "y"]),
        ),
        min_size=0,
        max_size=14,
    ),
    window_s=st.integers(min_value=1, max_value=45),
)
@hyp_settings
def test_interval_bucket_join_matches_brute_force(spark, events, window_s):
    """The bucket-replication rewrite must equal the O(n²) interval
    definition for arbitrary times (incl. equal timestamps, bucket
    boundaries, and windows that don't divide the bucket width)."""
    from lakehouse_app_spark.operators.joins import interval_bucket_pairs

    rows = [(i, typ, t * 1_000_000) for i, (t, typ) in enumerate(events)]
    ev = spark.createDataFrame(
        rows or [(0, "z", 0)], "event_id long, event_type string, t_us long"
    )
    got = {
        (r["a_id"], r["b_id"]): r["gap_sec"]
        for r in interval_bucket_pairs(ev, window_s * 1_000_000).collect()
    }
    expected = {}
    for i, (ta, tya) in enumerate(events):
        for j, (tb, tyb) in enumerate(events):
            if i < j and tya == tyb and ta <= tb <= ta + window_s:
                expected[(i, j)] = tb - ta
    assert got == expected


@given(
    rows=st.lists(
        st.integers(min_value=0, max_value=1000), min_size=1, max_size=60
    ),
    lo=st.integers(min_value=-50, max_value=1100),
    width=st.integers(min_value=0, max_value=400),
)
@hyp_settings
def test_stats_pruned_read_equals_full_filtered_read(
    spark, tmp_path_factory, rows, lo, width
):
    """Manifest-stats file skipping must be a pure I/O optimization:
    pruned-read + row filter == full-read + row filter for ANY
    key distribution and ANY predicate interval (including empty
    and table-spanning ones)."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_stats_pruned_nd,
        write_stats_manifest_nd,
    )

    hi = lo + width
    path = str(tmp_path_factory.mktemp("sp") / "t")
    df = spark.createDataFrame([(v,) for v in rows], "k long")
    df.repartitionByRange(4, "k").write.parquet(path)
    write_stats_manifest_nd(spark, path, ["k"])

    pruned = sorted(
        r["k"]
        for r in read_stats_pruned_nd(spark, path, bounds={"k": (lo, hi)})
        .where(F.col("k").between(lo, hi))
        .collect()
    )
    full = sorted(v for v in rows if lo <= v <= hi)
    assert pruned == full


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_union_find_matches_reference_components(edges):
    """The driver-side CC fast path (operators/lake_ops._union_find)
    must label every node with its component MINIMUM on arbitrary
    graphs — self-loops, duplicate edges, chains, merging cliques —
    matching a brute-force fixed-point reference."""
    from lakehouse_app_spark.operators.lake_ops import _union_find

    got = _union_find(iter(edges))

    # reference: repeated relaxation to the fixed point
    nodes = {n for e in edges for n in e}
    label = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            for x in (a, b):
                if label[x] != m:
                    label[x] = m
                    changed = True
    assert got == label


@given(
    docs=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fold_once_minhash_equals_inlined_form(spark, docs):
    """The r12 fold-once refactor must stay BIT-IDENTICAL to the
    original 4x-inlined MinHash recipe on arbitrary printable text
    (empty strings, punctuation runs, repeated tokens): the factored
    `fps` projection + affine array_mins and the historical
    fold-inside-every-hash form are the same integer arithmetic, and
    this pins it against any future drift in either path."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.operators.corpus_prep import (
        _FP_SPARK,
        _fps_col,
        _mh_cols_from_fps,
        _MH_P,
        _MH_PARAMS,
    )

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    toks = df.select(
        "doc_id",
        F.array_distinct(F.split(F.lower(F.col("text")), " ")).alias("toks"),
    )
    new = toks.select("doc_id", _fps_col()).select(
        "doc_id", *_mh_cols_from_fps()
    )
    old = toks.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(toks, w -> "
                f"({a} * {_FP_SPARK.format(w='w')} + {b}) % {_MH_P}))"
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(_MH_PARAMS)
        ],
    )
    a = sorted(map(tuple, new.collect()))
    b = sorted(map(tuple, old.collect()))
    assert a == b


@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=3),
        min_size=0,
        max_size=6,
    ),
    muts=st.lists(
        st.tuples(
            st.sampled_from(["del", "upd", "ins"]),
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=4,
    ),
)
@hyp_settings
def test_change_feed_matches_python_reference(spark, tmp_path_factory, base, muts):
    """Random COW commit sequences (delete / update / insert on random
    keys) → the feed must equal an independent pure-Python per-commit
    dict diff, and applying it to v0 must reconstruct the head —
    including no-op commits (update to the same value, delete of a
    missing key) which must emit NOTHING for that key."""
    from lakehouse_app_spark.sources.sinks import change_feed, write_snapshot

    path = str(tmp_path_factory.mktemp("cf_hyp"))
    states = [dict(base)]
    for op, k, v in muts:
        s = dict(states[-1])
        if op == "del":
            s.pop(k, None)
        elif op == "ins" or k in s:
            s[k] = v
        states.append(s)
    for i, s in enumerate(states):
        df = spark.createDataFrame(
            [(k, v) for k, v in s.items()] or [(None, None)],
            "k long, payload long",
        )
        if not s:
            df = df.where("k IS NOT NULL")
        write_snapshot(df, path, note=f"v{i}")
    # pure-Python reference feed
    want = set()
    for v in range(1, len(states)):
        old, new = states[v - 1], states[v]
        for k in old.keys() - new.keys():
            want.add((k, old[k], "delete", v))
        for k in new.keys() - old.keys():
            want.add((k, new[k], "insert", v))
        for k in old.keys() & new.keys():
            if old[k] != new[k]:
                want.add((k, old[k], "update_preimage", v))
                want.add((k, new[k], "update_postimage", v))
    feed = change_feed(spark, path, 0, len(states) - 1, "k", ["payload"])
    got = {
        (r["k"], r["payload"], r["change_type"], r["commit_version"])
        for r in feed.collect()
    }
    assert got == want
    # feed-apply ≡ head state
    final = dict(states[0])
    for k, p, ct, _ in sorted(got, key=lambda t: t[3]):
        if ct in ("insert", "update_postimage"):
            final[k] = p
        elif ct == "delete":
            final.pop(k)
    assert final == states[-1]


@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=20),
        min_size=0,
        max_size=6,
    ),
    src=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=20),
        min_size=0,
        max_size=6,
    ),
    cut=st.integers(min_value=0, max_value=20),
)
@hyp_settings
def test_merge_into_matches_python_reference(
    spark, tmp_path_factory, base, src, cut
):
    """Full multi-clause MERGE INTO vs an independent pure-Python
    replay of Delta's documented clause semantics, on random
    target/source key sets and a random clause threshold: matched
    rows update when the source payload clears the threshold else
    delete; source-only rows insert only above the threshold;
    target-only rows delete below the threshold else update (+100).
    Also pins the one-commit contract: the whole transaction lands
    as EXACTLY one new snapshot version."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        merge_into,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path_factory.mktemp("mi_hyp"))
    tgt = spark.createDataFrame(
        [(k, v) for k, v in base.items()] or [(None, None)],
        "k long, payload long",
    )
    if not base:
        tgt = tgt.where("k IS NOT NULL")
    v0 = write_snapshot(tgt, path, note="base")
    sdf = spark.createDataFrame(
        [(k, v) for k, v in src.items()] or [(None, None)],
        "k long, payload long",
    )
    if not src:
        sdf = sdf.where("k IS NOT NULL")

    v1 = merge_into(
        spark,
        path,
        sdf,
        key="k",
        matched=[
            (F.col("s.payload") > cut, "update", {"payload": F.col("s.payload")}),
            (None, "delete", None),
        ],
        not_matched=[(F.col("s.payload") > cut, None)],
        not_matched_by_source=[
            (F.col("t.payload") < cut, "delete", None),
            (None, "update", {"payload": F.col("t.payload") + 100}),
        ],
    )
    assert v1 == v0 + 1  # ONE commit for the whole transaction

    want = {}
    for k, v in base.items():
        if k in src:
            if src[k] > cut:
                want[k] = src[k]
            # else: matched-delete clause
        elif v < cut:
            pass  # not-matched-by-source delete
        else:
            want[k] = v + 100
    for k, v in src.items():
        if k not in base and v > cut:
            want[k] = v

    got = {r["k"]: r["payload"] for r in read_snapshot(spark, path).collect()}
    assert got == want


@given(
    rows=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=50
    ),
    probes=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
@hyp_settings
def test_bloom_pruned_read_equals_full_filtered_read(
    spark, tmp_path_factory, rows, probes
):
    """Bloom file skipping must be a pure I/O optimization with NO
    false negatives for ANY value distribution and ANY probe set —
    bloom-pruned read + IN filter == full read + IN filter, including
    probes that hit nothing (may legitimately open zero files) and
    values colliding into the same words."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_bloom_pruned,
        write_bloom_manifest,
    )

    path = str(tmp_path_factory.mktemp("bl") / "t")
    df = spark.createDataFrame([(v,) for v in rows], "k long")
    df.repartition(4).write.parquet(path)
    write_bloom_manifest(spark, path, "k")

    got = sorted(
        r["k"]
        for r in read_bloom_pruned(spark, path, "k", probes)
        .where(F.col("k").isin(probes))
        .collect()
    )
    want = sorted(v for v in rows if v in set(probes))
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),
        ),
        min_size=1,
        max_size=40,
    ),
    lo=st.integers(min_value=-10, max_value=110),
    width=st.integers(min_value=0, max_value=60),
)
@hyp_settings
def test_nd_stats_null_pruned_read_equals_full_filtered_read(
    spark, tmp_path_factory, rows, lo, width
):
    """N-D manifest pruning with null-count skipping must equal the
    full read under the same row predicates for ANY mix of NULL and
    non-NULL files and ANY bounds interval: require_non_null +
    IS NOT NULL, require_null + IS NULL, and bounds + BETWEEN all at
    once — files straddling or lacking evidence are read, never
    wrongly skipped."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        read_stats_pruned_nd,
        write_stats_manifest_nd,
    )

    hi = lo + width
    path = str(tmp_path_factory.mktemp("nd") / "t")
    df = spark.createDataFrame(rows, "k long, v long")
    df.repartitionByRange(4, "k").write.parquet(path)
    write_stats_manifest_nd(spark, path, ["k", "v"])

    got_nn = sorted(
        (r["k"], r["v"])
        for r in read_stats_pruned_nd(
            spark, path, bounds={"k": (lo, hi)}, require_non_null=["v"]
        )
        .where(F.col("k").between(lo, hi) & F.col("v").isNotNull())
        .collect()
    )
    want_nn = sorted(
        (k, v) for k, v in rows if lo <= k <= hi and v is not None
    )
    assert got_nn == want_nn

    got_n = sorted(
        r["k"]
        for r in read_stats_pruned_nd(spark, path, require_null=["v"])
        .where(F.col("v").isNull())
        .collect()
    )
    want_n = sorted(k for k, v in rows if v is None)
    assert got_n == want_n


@given(
    base=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=3),
        min_size=1,
        max_size=8,
    ),
    dels=st.lists(
        st.tuples(
            st.booleans(),  # True = merge-on-read, False = copy-on-write
            st.sets(st.integers(min_value=0, max_value=9), max_size=3),
        ),
        min_size=1,
        max_size=4,
    ),
)
@hyp_settings
def test_mor_commits_are_cdf_invisible(spark, tmp_path_factory, base, dels):
    """Deletion-vector commits must be semantically invisible: a
    random sequence of deletes, each randomly committed merge-on-read
    or copy-on-write, must produce the SAME change feed as the pure
    per-commit dict diff (including empty/no-op deletes emitting
    nothing), and OPTIMIZE must materialize the same head state."""
    from pyspark.sql import functions as F

    from lakehouse_app_spark.sources.sinks import (
        apply_deletion_vectors,
        change_feed,
        delete_where,
        delete_where_mor,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path_factory.mktemp("morcdf"))
    write_snapshot(
        spark.createDataFrame(
            [(k, v) for k, v in base.items()], "k long, payload long"
        ),
        path,
        "base",
    )
    state = dict(base)
    want = set()
    for v, (mor, ks) in enumerate(dels, start=1):
        cond = F.col("k").isin(list(ks)) if ks else F.lit(False)
        if mor:
            delete_where_mor(spark, path, cond, "k")
        else:
            delete_where(spark, path, cond)
        for k in ks & state.keys():
            want.add((k, state.pop(k), "delete", v))

    feed = change_feed(spark, path, 0, len(dels), "k", ["payload"])
    got = {
        (r["k"], r["payload"], r["change_type"], r["commit_version"])
        for r in feed.collect()
    }
    assert got == want

    apply_deletion_vectors(spark, path)
    head = {r["k"]: r["payload"] for r in read_snapshot(spark, path).collect()}
    assert head == state
