"""Join operators: equi (all flavors), range/theta, and as-of.

The reference never joins (its single "join" is the remote index
lookup, `app/vector_search.py:29-33`); these are the north-star
relational surface. Scale design notes per operator below — the
recurring themes are broadcast-the-small-side, pre-partition the big
sides on the join key (bucketing makes it shuffle-free), and keep
non-equi joins' build side tiny so BroadcastNestedLoop stays cheap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_app_spark.functions.compat import fpsum, fpsum_sql
from lakehouse_app_spark.registry import query
from lakehouse_app_spark.sources.tables import load_tables


@query(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join. At bench scale AQE picks broadcast-hash for
    customer; at 100 TB both sides bucketed on custkey → no shuffle."""
    t = load_tables(spark, sf_dir)
    return (
        t.orders.where(F.col("o_orderstatus") == "F")
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_regionkey <= 2
    GROUP BY n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-way join. Dims (nation, region) broadcast
    explicitly; fact-side joins shuffle on their keys once each and
    Catalyst reorders by size. Revenue uses the exact-decimal sum
    (SURVEY.md §5.3 determinism rule 1)."""
    t = load_tables(spark, sf_dir)
    revenue_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t.region.where(F.col("r_regionkey") <= 2)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(
            fpsum(revenue_expr, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count → 0)."""
    t = load_tables(spark, sf_dir)
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with ≥1 large order. Semi-join never
    multiplies rows, so it shuffles only keys — cheapest existence test."""
    t = load_tables(spark, sf_dir)
    big = t.orders.where(F.col("o_totalprice") > 100000)
    return t.customer.join(
        big, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders at all."""
    t = load_tables(spark, sf_dir)
    return t.customer.join(
        t.orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


PRICE_BANDS = [
    (0, "LOW", 0.0, 20000.0),
    (1, "MID", 20000.0, 60000.0),
    (2, "HIGH", 60000.0, 1.0e18),
]


@query(
    "q_join_range",
    oracle="""
    SELECT band_name, count(*) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_price
    FROM lineitem
    JOIN (VALUES (0, 'LOW', 0.0, 20000.0),
                 (1, 'MID', 20000.0, 60000.0),
                 (2, 'HIGH', 60000.0, 1e18)) AS b(band_id, band_name, lo, hi)
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band_name
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join: price bands × lineitem. The band table is
    tiny and broadcast, so the non-equi condition runs as a
    BroadcastNestedLoopJoin — O(rows × bands) map-side, no shuffle."""
    t = load_tables(spark, sf_dir)
    bands = spark.createDataFrame(
        PRICE_BANDS, "band_id int, band_name string, lo double, hi double"
    )
    cond = (F.col("l_extendedprice") >= F.col("lo")) & (
        F.col("l_extendedprice") < F.col("hi")
    )
    return (
        t.lineitem.join(F.broadcast(bands), cond)
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fpsum("l_extendedprice", "total_price", scale=100),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_alias: str,
) -> DataFrame:
    """Generic left as-of join: for each left row, the greatest
    ``right_ts <= left_ts`` within the same key (DuckDB ASOF JOIN
    semantics, SURVEY.md §7.4.3).

    Spark has no native batch as-of; this is the union + running
    ``last(ignorenulls)`` formulation: one shuffle on (key), one
    in-partition sort — the same cost profile as a window function,
    and skew-safe because each key's timeline stays together.
    """
    lefts = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_r_ts"),
    )
    rights = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(lefts.schema["_l"].dataType).alias("_l"),
        F.col(right_ts).alias("_r_ts"),
    )
    # Right rows sort before left rows on ts ties so `ts_left >= ts_right`
    # includes equality (ASOF's inclusive boundary).
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts"), F.col("_is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = lefts.unionByName(rights).withColumn(
        payload_alias, F.last("_r_ts", ignorenulls=True).over(w)
    )
    return (
        merged.where(F.col("_is_left") == 1)
        .select(F.col("_l.*"), F.col(payload_alias))
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase ↔ the user's latest prior click."""
    t = load_tables(spark, sf_dir)
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts")
    )
    clicks = t.events.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload_alias="last_click_ts",
    )
    return out.select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"), "last_click_ts"
    )


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    skewed_key: str,
    small_key: str,
    n_salts: int = 8,
    salt_src: Column | None = None,
) -> DataFrame:
    """Skew-safe equi-join: fan the keys of the probe side across
    ``n_salts`` shuffle partitions (blanket form).

    The skewed side gets a deterministic salt in ``[0, n_salts)``
    (hash of ``salt_src``, default the whole row's key column set);
    the build side is exploded ×``n_salts`` so every (key, salt) pair
    exists. The join then shuffles on (key, salt) — a single hot key
    that would land 1/32 of 100 TB on one task is spread over
    ``n_salts`` tasks. Same result set as the plain join. Salting
    EVERY key replicates the whole build side ×``n_salts``; prefer
    :func:`salted_join_hot` which pays that only for keys that are
    actually hot.
    """
    if salt_src is None:
        salt_src = F.col(skewed_key)
    salted = skewed.withColumn("_salt", F.pmod(F.hash(salt_src), F.lit(n_salts)))
    exploded = small.withColumn(
        "_salt", F.explode(F.array([F.lit(i) for i in range(n_salts)]))
    )
    return salted.join(
        exploded,
        (F.col(skewed_key) == F.col(small_key)) & (salted["_salt"] == exploded["_salt"]),
    ).drop("_salt")


def salted_join_hot(
    skewed: DataFrame,
    small: DataFrame,
    skewed_key: str,
    small_key: str,
    n_salts: int = 8,
    hot_threshold: int = 1000,
    salt_src: Column | None = None,
) -> DataFrame:
    """Two-path skew join: salt ONLY detected hot keys.

    Production form of :func:`salted_join`. A map-side-combined count
    finds keys with more than ``hot_threshold`` probe rows — by
    construction a tiny set, so it broadcasts. Hot probe rows get a
    deterministic salt and join the ×``n_salts``-exploded hot slice
    of the build side; the (vast) cold remainder joins plain. The
    union is result-identical to the plain join (oracle + property
    test prove it), but the build-side replication cost is paid only
    for genuinely skewed keys — on unskewed data this degenerates to
    the plain join plus one cheap partial-aggregated key count.
    AQE's skew-join split is the runtime analogue; this is the
    explicit form for known, extreme skew (e.g. a null-key or
    power-law fact table at 100 TB).
    """
    if salt_src is None:
        salt_src = F.col(skewed_key)
    hot_keys = (
        skewed.groupBy(skewed_key)
        .count()
        .where(F.col("count") > hot_threshold)
        .select(F.col(skewed_key).alias("_hot_key"))
    )
    hot_b = F.broadcast(hot_keys)
    is_hot = F.col(skewed_key) == F.col("_hot_key")
    hot_probe = (
        skewed.join(hot_b, is_hot, "left_semi")
        .withColumn("_salt", F.pmod(F.hash(salt_src), F.lit(n_salts)))
    )
    cold_probe = skewed.join(hot_b, is_hot, "left_anti")
    hot_build = (
        small.join(hot_b, F.col(small_key) == F.col("_hot_key"), "left_semi")
        .withColumn("_salt", F.explode(F.array([F.lit(i) for i in range(n_salts)])))
    )
    hot_joined = hot_probe.join(
        hot_build,
        (F.col(skewed_key) == F.col(small_key))
        & (hot_probe["_salt"] == hot_build["_salt"]),
    ).drop("_salt")
    cold_joined = cold_probe.join(
        small, F.col(skewed_key) == F.col(small_key)
    )
    return hot_joined.unionByName(cold_joined)


@query(
    "q_join_salted",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-salted fact-to-dim join, aggregated per order priority.

    The oracle is the PLAIN join — salting must be result-invariant;
    this query runs the two-path rewrite (`salted_join_hot`): detect
    hot probe keys, salt only those, join the cold majority plain.
    On TPC-H's unskewed keys the hot set is empty, so the cost is the
    plain join plus one partial-aggregated key count — exactly the
    behavior you want from a skew guard that is always left on. Salt
    is derived from (l_orderkey, l_linenumber) so it is deterministic
    across retries (no rand(): a task retry must re-produce the same
    partitioning or shuffle readers see phantom rows). The skewed
    path itself is exercised and proved invariant on a power-law
    dataset in tests/test_properties.py.
    """
    t = load_tables(spark, sf_dir)
    joined = salted_join_hot(
        t.lineitem,
        t.orders.select("o_orderkey", "o_orderpriority"),
        skewed_key="l_orderkey",
        small_key="o_orderkey",
        n_salts=8,
        hot_threshold=1000,
        salt_src=F.struct("l_orderkey", "l_linenumber"),
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        fpsum(revenue, "revenue"),
    )


@query(
    "q_join_interval_bucket",
    oracle="""
    SELECT a.event_id AS a_id, b.event_id AS b_id,
           CAST(floor((epoch_us(b.ts) - epoch_us(a.ts)) / 1000000.0) AS BIGINT)
             AS gap_sec
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
     AND a.event_id < b.event_id
    """,
)
def q_join_interval_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join (pairs of same-type events ≤ 60 s apart)
    via TIME BUCKETING — the scale path for range predicates that
    [[q_join_range]]'s BroadcastNestedLoopJoin cannot take at
    100 TB. Each left row is replicated into its own minute bucket
    and the next one (a bounded ×2 blow-up), the join becomes a pure
    (type, bucket) EQUI-join — shuffled hash, fully parallel, no
    nested loop — and the exact interval predicate runs as a cheap
    residual filter on the collided candidates. Replication factor =
    ceil(window / bucket width) + 1, chosen so candidates per bucket
    stay bounded; the oracle is the plain theta join, proving the
    rewrite is result-identical."""
    t = load_tables(spark, sf_dir)
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    ev = t.events.select("event_id", "event_type", us("ts").alias("t_us"))
    return interval_bucket_pairs(ev, 60 * 1_000_000)


def interval_bucket_pairs(ev: DataFrame, w_us: int) -> DataFrame:
    """Core of [[q_join_interval_bucket]] over (event_id, event_type,
    t_us): pairs (a, b) of same-type rows with a_id < b_id and
    a.t_us <= b.t_us <= a.t_us + w_us, generated via bucket
    replication + equi-join (hypothesis-tested against a brute-force
    reference in tests/test_hypothesis_ops.py)."""
    bucket = F.floor(F.col("t_us") / w_us).cast("long")
    left = ev.select(
        F.col("event_id").alias("a_id"),
        F.col("event_type").alias("a_type"),
        F.col("t_us").alias("a_us"),
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    right = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("event_type").alias("b_type"),
        F.col("t_us").alias("b_us"),
        bucket.alias("bucket"),
    )
    return (
        left.join(right, ["bucket"])
        .where(
            (F.col("a_type") == F.col("b_type"))
            & (F.col("b_us") >= F.col("a_us"))
            & (F.col("b_us") <= F.col("a_us") + w_us)
            & (F.col("a_id") < F.col("b_id"))
        )
        .select(
            "a_id",
            "b_id",
            F.floor((F.col("b_us") - F.col("a_us")) / 1_000_000)
            .cast("long")
            .alias("gap_sec"),
        )
        # no dedup needed: b carries exactly ONE bucket value and a's
        # two replicas cover it, so a qualifying pair joins on exactly
        # one bucket — a dropDuplicates here was a full extra shuffle
        # that removed nothing (review r6; hypothesis-tested)
    )


# ------------------------------------------------ bucketed co-located join


def _bucketed_tables(spark: SparkSession, sf_dir: str):
    """lineitem+orders written ONCE per corpus as bucketed managed
    tables (8 buckets on the order key, sorted within buckets) — the
    write-side half of SURVEY.md §7.6's shuffle-free fact-fact join.
    At 100 TB this is how the daily lineitem/orders ingest lands;
    every subsequent orderkey join skips both exchanges forever."""
    import re as _re

    from lakehouse_app_spark.runtime_cache import memo
    from lakehouse_app_spark.sources.sinks import write_bucketed_table

    suffix = _re.sub(r"\W+", "_", sf_dir).strip("_")
    li, od = f"li_bkt_{suffix}", f"od_bkt_{suffix}"

    def build() -> None:
        t = load_tables(spark, sf_dir)
        write_bucketed_table(
            t.lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
            li,
            "l_orderkey",
            n_buckets=8,
        )
        write_bucketed_table(
            t.orders.select("o_orderkey", "o_orderstatus"),
            od,
            "o_orderkey",
            n_buckets=8,
        )

    # context-level entry: managed tables live in the catalog every
    # newSession() of a SparkContext shares, so a second session must
    # reuse them (a rebuild would drop and rewrite the files under the
    # first session's live plans); a new SparkContext, whose catalog
    # starts empty, rebuilds and re-registers them
    sc = spark.sparkContext
    memo("joins.bucketed", sf_dir, build, stamp=(sc.applicationId, sc.startTime))
    return spark.table(li), spark.table(od)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join over BUCKETED tables: both sides were
    written bucketed (and sorted) on the order key, so the sort-merge
    join reads co-located buckets directly — NO exchange on the join
    key on either side (pinned by tests/test_plan_shapes.py); the
    only shuffle in the whole plan is the 3-group aggregate. The
    merge hint keeps AQE from hiding the point behind a broadcast:
    at 100 TB neither fact side broadcasts, and this bucket layout is
    what replaces the two largest exchanges in the workload. Results
    are layout-invariant — the oracle joins the raw tables."""
    li, od = _bucketed_tables(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.hint("merge")
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            fpsum(revenue, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_asof_tolerance",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           max(c.ts) AS last_click_ts
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL '30 minutes'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: each purchase gets the
    user's latest prior click ONLY if it happened within the last 30
    minutes — older matches are nulled, the semantics every
    market-data / attribution as-of actually wants (a quote from
    last week is not a usable quote). Same single-shuffle union +
    running-last plan as [[q_join_asof]]; the tolerance is a pure
    post-projection mask on the matched timestamp, so the bound
    costs nothing. The oracle states the same thing declaratively
    (max over the bounded interval): as-of's greatest-≤ match is in
    the window iff any match is, so the two formulations agree
    exactly."""
    t = load_tables(spark, sf_dir)
    purchases = t.events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts")
    )
    clicks = t.events.where(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload_alias="_last_click",
    )
    in_window = F.col("_last_click") >= F.col("ts") - F.expr("INTERVAL 30 MINUTES")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("_last_click")).alias("last_click_ts"),
    )


@query(
    "q_fuzzy_join",
    oracle="""
    WITH dirty AS (
      SELECT p_partkey AS dirty_id,
             substr(p_name, 1, 3) || substr(p_name, 5) AS dname
      FROM part WHERE p_partkey % 10 = 4 AND length(p_name) >= 5
    ),
    clean AS (
      SELECT min(p_partkey) AS clean_id, p_name
      FROM part GROUP BY p_name
    )
    SELECT d.dirty_id, c.clean_id,
           CAST(levenshtein(d.dname, c.p_name) AS BIGINT) AS dist
    FROM dirty d JOIN clean c
      ON substr(d.dname, 1, 3) = substr(c.p_name, 1, 3)
    WHERE levenshtein(d.dname, c.p_name) <= 1
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (edit-distance) join — the entity-resolution /
    record-linkage shape: dirty strings (deterministically derived
    here by deleting each name's 4th character, so the experiment is
    replayable in SQL) match the clean catalog when Levenshtein ≤ 1.
    Candidates come ONLY from a 3-char-prefix blocking equi-join —
    never an all-pairs comparison: per block the candidate count is
    |dirty_block|×|clean_block|, bounded by the prefix distribution,
    and the verify step (one levenshtein per candidate, JVM codegen)
    touches candidates alone. The clean side is the DEDUPLICATED
    reference catalog (distinct names, min-key representative) — the
    resolution target every record-linkage pipeline actually joins
    against; matching raw rows instead multiplies every hit by the
    name's duplication factor. Recall contract, stated honestly: a
    single edit at position > 3 is always recalled (the prefix is
    untouched); edits inside the prefix need a second blocking pass
    on a different key (suffix, length, phonetic) — the standard
    multi-pass blocking design, same plan shape per pass. At 100 TB
    both sides shuffle on the block key; a hot prefix is AQE
    skew-split like any hot join key."""
    t = load_tables(spark, sf_dir)
    dirty = t.part.where(
        (F.col("p_partkey") % 10 == 4) & (F.length("p_name") >= 5)
    ).select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.substring("p_name", 1, 3), F.expr("substr(p_name, 5)")
        ).alias("dname"),
    )
    clean = t.part.groupBy("p_name").agg(
        F.min("p_partkey").alias("clean_id")
    )
    cand = dirty.join(
        clean,
        F.substring("dname", 1, 3) == F.substring("p_name", 1, 3),
    )
    dist = F.levenshtein("dname", "p_name").cast("long")
    return cand.select("dirty_id", "clean_id", dist.alias("dist")).where(
        F.col("dist") <= 1
    )


def month_fact_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ship-month-partitioned lineitem fact layout (one file per
    month partition) — how warehouses land date-partitioned fact
    tables. Shared by [[q_join_dpp]] (runtime dim-driven pruning) and
    [[q_stream_pruned_join]] (per-micro-batch key-driven pruning of
    the same layout on the streaming path)."""
    from lakehouse_app_spark.sources.layout import derived_table

    t = load_tables(spark, sf_dir)
    month = F.date_format(F.to_date("l_shipdate"), "yyyy-MM")

    def build_fact() -> DataFrame:
        # one task per month -> one file per month partition
        return t.lineitem.select(
            "l_orderkey",
            "l_quantity",
            "l_extendedprice",
            month.alias("ship_month"),
        ).repartition(F.col("ship_month"))

    return derived_table(
        spark,
        "lineitem_by_month",
        sf_dir,
        build_fact,
        partition_by=["ship_month"],
    )


# ------------------------------ dynamic partition pruning (DPP)

# The dim filter is corpus-anchored (first quarter of the corpus's
# SECOND ship year — the q_compact_roundtrip regeneration-proofing
# policy applied to the star-schema filter), memoized via
# layout.corpus_scalar.


@query(
    "q_join_dpp",
    oracle=f"""
    WITH lo AS (
      SELECT CAST(strftime(min(CAST(l_shipdate AS DATE)), '%Y') AS INT) + 1
               AS y
      FROM lineitem
    ),
    fact AS (
      SELECT l_orderkey, l_quantity, l_extendedprice,
             strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month
      FROM lineitem
    ),
    dim AS (
      SELECT DISTINCT ship_month,
             CAST(strftime(CAST(ship_month || '-01' AS DATE), '%Y') AS INT)
               AS yy,
             ((CAST(strftime(CAST(ship_month || '-01' AS DATE), '%m') AS INT)
               - 1) // 3) + 1 AS qq
      FROM fact
    )
    SELECT f.ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           {fpsum_sql("f.l_quantity", "qty_sum", 100)},
           CAST(SUM(CAST(CAST(f.l_extendedprice AS DECIMAL(25,2)) * 100
                         AS BIGINT)) AS DOUBLE) / 100.0 AS price_sum
    FROM fact f JOIN dim d ON d.ship_month = f.ship_month, lo
    WHERE d.yy = lo.y AND d.qq = 1
    GROUP BY f.ship_month
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join with DYNAMIC PARTITION PRUNING — the runtime
    optimization that makes dimensional filtering affordable at
    100 TB: the fact table is stored partitioned on the join key
    (``ship_month``, the [[q_ann_ivf]] cluster-layout idea applied to
    a time dimension), the month-dim carries the filterable
    attributes (year, quarter), and Spark prunes the fact SCAN at
    runtime with the surviving dim keys — the filter lives only on
    the dim, yet ~80 of 83 month partitions are never read
    (`PartitionFilters: [... dynamicpruningexpression(ship_month IN
    dynamicpruning#N)]`, pinned by the plan-shape test). This is the
    one scan-reduction lever the suite's static pruning keys
    (q_stats_prune, q_join_bloom_prune, the IVF literal probes) could
    not show: the pruning values are not known until the dim filter
    runs.

    The dim filter is corpus-anchored (Q1 of the corpus's second ship
    year — a regenerated corpus with a shifted era still selects a
    populated quarter in both engines). The oracle replays fact,
    dim, anchor, join, and the cents-exact aggregate from raw
    lineitem; the Spark side reads the stored month-partitioned
    layout, so content identity across the layout write is in the
    same hash.

    At 100 TB: the fact layout is exactly how warehouses land fact
    tables (date-partitioned); the dim broadcast is KB-sized; the
    scan cost is O(selected partitions) regardless of corpus size —
    and unlike a literal filter, it composes with ANY dim predicate
    (holiday flags, fiscal calendars) without re-deriving fact
    filters."""
    from lakehouse_app_spark.sources.layout import (
        corpus_scalar,
        derived_table,
    )

    t = load_tables(spark, sf_dir)
    month = F.date_format(F.to_date("l_shipdate"), "yyyy-MM")
    fact = month_fact_layout(spark, sf_dir)

    def build_dim() -> DataFrame:
        first = F.to_date(F.concat(F.col("ship_month"), F.lit("-01")))
        return (
            t.lineitem.select(month.alias("ship_month"))
            .distinct()
            .select(
                "ship_month",
                F.year(first).alias("yy"),
                F.quarter(first).alias("qq"),
            )
        )

    dim = derived_table(spark, "month_dim", sf_dir, build_dim)

    y = corpus_scalar(
        spark,
        sf_dir,
        "dpp_anchor_year",
        lambda: t.lineitem.agg(
            (F.year(F.min(F.to_date("l_shipdate"))) + 1).alias("y")
        ).collect()[0]["y"],
    )
    filtered_dim = dim.where((F.col("yy") == y) & (F.col("qq") == 1))
    return (
        fact.join(F.broadcast(filtered_dim), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # fpsum, not cast('long'): Spark's cast truncates while
            # the oracle's CAST AS BIGINT rounds — identical on the
            # integral quantities generated today, divergent on any
            # regenerated corpus with fractional quantities (review
            # r11); the scaled-long recipe is exact on both engines
            fpsum("l_quantity", "qty_sum", 100),
            (
                F.sum(
                    (F.col("l_extendedprice").cast("decimal(25,2)") * 100)
                    .cast("long")
                ).cast("double")
                / 100.0
            ).alias("price_sum"),
        )
    )
