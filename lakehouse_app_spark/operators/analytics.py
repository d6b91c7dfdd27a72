"""Statistical aggregates, window distribution functions, fuzzy
string matching, and stream-static enrichment.

Analytics completeness beyond the core batteries: sample statistics
(stddev/variance/correlation/covariance/percentile), rank
distributions (ntile/percent_rank/cume_dist), edit-distance fuzzy
matching (the string-similarity tier of dedup), and the stream⋈static
dimension join every streaming pipeline starts with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_app_spark.registry import query
from lakehouse_app_spark.runtime_cache import scoped_persist
from lakehouse_app_spark.sources.tables import load_tables


@query(
    "q_agg_stats",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           round(stddev_samp(o_totalprice), 4) AS sd,
           round(var_samp(o_totalprice), 4) AS var,
           round(corr(o_totalprice, o_custkey), 6) AS price_cust_corr,
           round(covar_samp(o_totalprice, o_custkey), 4) AS cov,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-statistics battery (stddev/var/corr/covar/median).
    Rounded to 4-6 dp: both engines use the same sample definitions
    but accumulate doubles in different orders. The median comes from
    one sorted buffer (collect_list + array_sort + midpoint, the
    q_percentile_disc recipe extended with the even-n interpolation)
    instead of the `percentile` aggregate, whose per-group
    value→count OpenHashMap update path cost 0.47 s of this query's
    0.65 s at sf0.1 (buffered form: 0.37 s, hash-identical); the same
    billion-row-group caveat applies — at that scale both exact forms
    yield to the sketch path audited by [[q_approx_quantiles_audit]]."""
    t = load_tables(spark, sf_dir)
    # Even-n midpoint written as lo + (hi - lo) / 2 — the same
    # interpolation form DuckDB's quantile_cont computes — so the two
    # engines agree to the last bit instead of by the 1-ulp grace of
    # (lo + hi) / 2 on money-typed data (the q_anomaly_mad class).
    med = (
        "IF(size(s) % 2 = 1,"
        "   element_at(s, CAST((size(s) + 1) DIV 2 AS INT)),"
        "   element_at(s, CAST(size(s) DIV 2 AS INT))"
        "   + (element_at(s, CAST(size(s) DIV 2 + 1 AS INT))"
        "      - element_at(s, CAST(size(s) DIV 2 AS INT))) / 2)"
    )
    return (
        t.orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.stddev_samp("o_totalprice"), 4).alias("sd"),
            F.round(F.var_samp("o_totalprice"), 4).alias("var"),
            F.round(F.corr("o_totalprice", "o_custkey"), 6).alias(
                "price_cust_corr"
            ),
            F.round(F.covar_samp("o_totalprice", "o_custkey"), 4).alias(
                "cov"
            ),
            F.expr("array_sort(collect_list(o_totalprice))").alias("s"),
        )
        .select(
            "o_orderstatus",
            "n",
            "sd",
            "var",
            "price_cust_corr",
            "cov",
            # cast before round: the buffer holds the column's native
            # type; `percentile` returned DOUBLE and the oracle's
            # quantile_cont does too, so the dtype must stay double
            F.round(F.expr(med).cast("double"), 4).alias("median_price"),
        )
    )


@query(
    "q_window_dist",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-distribution window functions: ntile buckets, percent_rank
    ((rank-1)/(N-1): exact ints → identical doubles), cume_dist."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return t.orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    WITH s AS (SELECT DISTINCT source FROM documents)
    SELECT a.source AS a_src, b.source AS b_src,
           levenshtein(a.source, b.source) AS edit_dist
    FROM s a JOIN s b ON a.source < b.source
    WHERE levenshtein(a.source, b.source) <= 2
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over the (small, deduped) source
    domain — the string-similarity tier of entity resolution. The
    pair space is the distinct-value domain, not the corpus, so the
    cross join is bounded by domain cardinality (broadcast)."""
    t = load_tables(spark, sf_dir)
    s = t.documents.select("source").distinct()
    a = s.select(F.col("source").alias("a_src"))
    b = s.select(F.col("source").alias("b_src"))
    return (
        a.join(F.broadcast(b), F.col("a_src") < F.col("b_src"))
        .select(
            "a_src", "b_src", F.levenshtein("a_src", "b_src").alias("edit_dist")
        )
        .where(F.col("edit_dist") <= 2)
    )


@query(
    "q_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name AS user_name,
           c.c_mktsegment AS segment, e.event_type, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich a live event stream with a static
    dimension (no watermark needed — the static side is broadcast per
    micro-batch; the canonical first stage of every streaming
    pipeline). Oracle: identical batch join."""
    from lakehouse_app_spark.streaming.stream_queries import (
        events_stream,
        run_to_memory,
    )

    t = load_tables(spark, sf_dir)
    stream = events_stream(spark, sf_dir).where(F.col("event_type") == "purchase")
    enriched = stream.join(
        t.customer, stream["user_id"] == t.customer["c_custkey"]
    ).select(
        "event_id",
        "user_id",
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
        "event_type",
        "value",
    )
    return run_to_memory(enriched, "stream_static", output_mode="append")


@query(
    "q_percentile_disc",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS p25,
           quantile_disc(o_totalprice, 0.50) AS p50,
           quantile_disc(o_totalprice, 0.90) AS p90
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (order statistics that are actual data
    values, never interpolations — what SLA/latency reporting needs,
    complementing q_quantiles' continuous deciles). Values pass
    through from the data, so no rounding is required for the hash
    match; both engines pick the same element by the standard
    inverse-CDF definition (1-based index ceil(q·n) in the sorted
    group). All three percentiles read ONE sorted buffer per group —
    three separate percentile_disc aggregates each buffer and sort
    the full group independently (measured 0.79 → 0.36 s at sf0.1
    interleaved); at billion-row groups this buffering aggregate
    yields to the sketch path audited by
    [[q_approx_quantiles_audit]]."""
    load_tables(spark, sf_dir)  # registers the `orders` temp view
    return spark.sql(
        """
        SELECT o_orderstatus,
               -- size(s)=0 guard: collect_list drops NULLs, so an
               -- all-NULL group yields an empty buffer and index 0,
               -- where ANSI element_at raises INVALID_INDEX_OF_ZERO;
               -- percentile_disc semantics there are NULL. Inert for
               -- orders (o_totalprice is non-null) but the docstring
               -- advertises this as the general recipe (ADVICE r8).
               CASE WHEN size(s) = 0 THEN NULL
                    ELSE element_at(s, CAST(ceil(0.25 * size(s)) AS INT))
               END AS p25,
               CASE WHEN size(s) = 0 THEN NULL
                    ELSE element_at(s, CAST(ceil(0.50 * size(s)) AS INT))
               END AS p50,
               CASE WHEN size(s) = 0 THEN NULL
                    ELSE element_at(s, CAST(ceil(0.90 * size(s)) AS INT))
               END AS p90
        FROM (SELECT o_orderstatus,
                     array_sort(collect_list(o_totalprice)) AS s
              FROM orders GROUP BY o_orderstatus)
        """
    )


@query(
    "q_corr_matrix",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
           round(corr(l_quantity, l_discount), 6) AS qty_disc,
           round(corr(l_quantity, l_tax), 6) AS qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS price_disc,
           round(corr(l_extendedprice, l_tax), 6) AS price_tax,
           round(corr(l_discount, l_tax), 6) AS disc_tax,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    """,
)
def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix of the fact measures in ONE
    aggregate pass (all six corr states accumulate in the same
    HashAggregate — the feature-screening step before any modeling,
    without six separate scans). Rounded: both engines share the
    definition but accumulate doubles in different orders."""
    t = load_tables(spark, sf_dir)
    return t.lineitem.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("qty_disc"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("qty_tax"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("price_disc"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("price_tax"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("disc_tax"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_approx_quantiles_audit",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(o_totalprice, 0.25) AS e25,
           quantile_disc(o_totalprice, 0.50) AS e50,
           quantile_disc(o_totalprice, 0.90) AS e90,
           3 AS n_within_rank_bound
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_approx_quantiles_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile scale path, audited: approx_percentile's
    bounded-memory QuantileSummaries sketch (the structure that
    replaces q_percentile_disc's value-buffering aggregate at
    billion-row groups) against the exact order statistics.

    Oracle upgrade (round-6 verdict item 5): the sketch value for
    quantile q carries a HARD Greenwald-Khanna guarantee — its rank
    lies within n/accuracy of q·n. The audit turns that guarantee
    into an oracle-checkable integer: for each group it counts how
    many of the three sketch values satisfy their rank bound
    (tie-robust: the value's rank interval [count(<v)+1, count(≤v)]
    must intersect [q·n − n/acc − 1, q·n + n/acc + 1]; the ±1 rank
    of slack absorbs the sketch's target-rank convention and makes
    the bound meaningful at any n — without it, n < accuracy makes
    the window narrower than one rank). Alongside it emits
    the EXACT percentiles (plain order statistics, engine-neutral).
    DuckDB recomputes the exact percentiles and asserts the literal
    3 — a violated sketch guarantee or a broken percentile path
    breaks the hash match, where the old rows-only check saw
    nothing."""
    load_tables(spark, sf_dir)  # registers the `orders` temp view
    return spark.sql(
        """
        WITH ea AS (
          -- exact disc percentiles from ONE sorted buffer per group
          -- (q_percentile_disc's recipe: index ceil(q*n), 1-based)
          SELECT o_orderstatus,
                 -- same size(s)=0 → NULL guard as q_percentile_disc
                 CASE WHEN size(s) = 0 THEN NULL
                      ELSE element_at(s, CAST(ceil(0.25 * size(s)) AS INT))
                 END AS e25,
                 CASE WHEN size(s) = 0 THEN NULL
                      ELSE element_at(s, CAST(ceil(0.50 * size(s)) AS INT))
                 END AS e50,
                 CASE WHEN size(s) = 0 THEN NULL
                      ELSE element_at(s, CAST(ceil(0.90 * size(s)) AS INT))
                 END AS e90,
                 a
          FROM (SELECT o_orderstatus,
                       array_sort(collect_list(o_totalprice)) AS s,
                       approx_percentile(o_totalprice,
                                         array(0.25, 0.5, 0.9), 1000) AS a
                FROM orders GROUP BY o_orderstatus)
        ),
        ranks AS (
          -- one re-scan of orders against the broadcast 3-row ea;
          -- per-group constants ride through first()
          SELECT o.o_orderstatus,
                 count(*) AS n,
                 first(ea.e25) AS e25, first(ea.e50) AS e50,
                 first(ea.e90) AS e90,
                 SUM(CASE WHEN o.o_totalprice <  ea.a[0] THEN 1 ELSE 0 END) AS lt25,
                 SUM(CASE WHEN o.o_totalprice <= ea.a[0] THEN 1 ELSE 0 END) AS le25,
                 SUM(CASE WHEN o.o_totalprice <  ea.a[1] THEN 1 ELSE 0 END) AS lt50,
                 SUM(CASE WHEN o.o_totalprice <= ea.a[1] THEN 1 ELSE 0 END) AS le50,
                 SUM(CASE WHEN o.o_totalprice <  ea.a[2] THEN 1 ELSE 0 END) AS lt90,
                 SUM(CASE WHEN o.o_totalprice <= ea.a[2] THEN 1 ELSE 0 END) AS le90
          FROM orders o JOIN ea ON o.o_orderstatus = ea.o_orderstatus
          GROUP BY o.o_orderstatus
        )
        SELECT o_orderstatus, e25, e50, e90,
               CAST(
                 (CASE WHEN lt25 + 1 <= 0.25 * n + n / 1000.0 + 1
                        AND le25      >= 0.25 * n - n / 1000.0 - 1
                       THEN 1 ELSE 0 END)
               + (CASE WHEN lt50 + 1 <= 0.50 * n + n / 1000.0 + 1
                        AND le50      >= 0.50 * n - n / 1000.0 - 1
                       THEN 1 ELSE 0 END)
               + (CASE WHEN lt90 + 1 <= 0.90 * n + n / 1000.0 + 1
                        AND le90      >= 0.90 * n - n / 1000.0 - 1
                       THEN 1 ELSE 0 END) AS INT) AS n_within_rank_bound
        FROM ranks
        """
    )


# ---------------------------------------------- poisson bootstrap CIs

BOOT_R = 32  # bootstrap replicates
_BOOT_A, _BOOT_B = 1103515245, 12345  # LCG-grade multiplier: the replicate
# index must jump the hash by ~half the modulus, or every replicate
# draws near-identical weights (a small multiplier shifts h by only
# A per replicate, so no row crosses a Poisson threshold and all
# replicate means collapse — caught by the bracket test)
_BOOT_P = 2147483647
# Poisson(1) inverse-CDF thresholds: floor(CDF(k) * (2^31 - 1)) for
# k = 0..6; a uniform hash >= threshold k contributes one more count,
# so w = sum of 7 comparisons in {0..7} with P(w=k) = e^-1 / k!.
_POIS_T = (
    790015083, 1580030167, 1975037709, 2106706890,
    2139624185, 2146207644, 2147304887,
)


def _boot_w_sql(h: str) -> str:
    """Portable Poisson(1) draw: count of CDF thresholds <= h."""
    return " + ".join(
        f"(CASE WHEN ({h}) >= {t} THEN 1 ELSE 0 END)" for t in _POIS_T
    )


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS category,
             CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
               AS yc,
             o_orderkey
      FROM orders
    ),
    reps AS (
      SELECT b.category, b.yc, t.r AS r,
             ({_boot_w_sql(
                 f"({_BOOT_A} * (((b.o_orderkey % {_BOOT_P}) * {BOOT_R}"
                 f" + t.r) % {_BOOT_P}) + {_BOOT_B}) % {_BOOT_P}"
             )}) AS w
      FROM base b CROSS JOIN (SELECT range AS r FROM range({BOOT_R})) t
    ),
    rm AS (
      SELECT category, r,
             CAST(SUM(w * yc) AS DOUBLE) / 100.0 / CAST(SUM(w) AS DOUBLE)
               AS m
      FROM reps GROUP BY category, r
    ),
    full_mean AS (
      SELECT o_orderpriority AS category,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                           AS BIGINT)) AS DOUBLE)
               / 100.0 / CAST(count(*) AS DOUBLE) AS mean
      FROM orders GROUP BY 1
    )
    SELECT f.category, f.n,
           round(f.mean, 6) AS mean,
           round(quantile_disc(rm.m, 0.025), 6) AS ci_lo,
           round(quantile_disc(rm.m, 0.975), 6) AS ci_hi
    FROM rm JOIN full_mean f USING (category)
    GROUP BY f.category, f.n, f.mean
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence intervals — the bootstrap that
    actually distributes (Chamandy et al. 2012, "Estimating
    uncertainty for massive data streams"): classical resampling
    needs n draws WITH replacement per replicate (a shuffle per
    replicate); the Poisson approximation gives every row an
    independent Poisson(1) weight per replicate, so all {BOOT_R}
    resamples ride ONE scan as map-side-combinable weighted partial
    sums. The per-replicate weight is a deterministic inverse-CDF
    draw from a universal hash of (row key, replicate) — both engines
    replay identical integers, so the whole sketch is exact-oracle
    checkable. The replicate-mean table is |groups| x {BOOT_R} rows;
    the 95% interval is discrete order statistics over it
    ([[q_percentile_disc]]'s engine-portable quantile recipe). At
    100 TB: one fact scan, {BOOT_R}x scan-local row amplification
    before partial aggregation, and aggregate-sized everything after —
    the uncertainty layer every metrics pipeline should ship but
    skips because naive resampling can't scale.

    Money rides as INTEGER CENTS through the hot path (round 8): the
    2-dp value is fixed to exact cents once per source row (one
    decimal cast+multiply, BEFORE the {BOOT_R}x explode), and every
    amplified row then does int64 multiply/sum — measured 2.15 s →
    0.76 s at sf0.1 against sum-of-DECIMAL(25,2), whose >18-digit
    precision drops Spark to the BigDecimal slow path on all
    {BOOT_R}·n rows. Exactness is unchanged (integer sums, one
    /100.0 at the aggregate); headroom: a per-(category, replicate)
    sum stays under 2^63 up to ~10^11 orders per category."""
    t = load_tables(spark, sf_dir)
    reps = (
        t.orders.select(
            F.col("o_orderpriority").alias("category"),
            (F.col("o_totalprice").cast("decimal(25,2)") * 100)
            .cast("long")
            .alias("yc"),
            # the key-dependent hash prefactor computed ONCE per
            # source row, BEFORE the {BOOT_R}x amplification — the
            # same pre-explode hoisting as the cents fix (r10 A/B vs
            # post-explode: 0.591 vs 0.614 and 0.652 vs 0.677 s,
            # min-of-3/5 interleaved; a broadcast-range cross join
            # lost badly at 1.60 s — BroadcastNestedLoopJoin's
            # per-row overhead dwarfs Generate's)
            ((F.col("o_orderkey") % _BOOT_P) * BOOT_R).alias("kr"),
        )
        .select(
            "category",
            "yc",
            "kr",
            F.explode(F.sequence(F.lit(0), F.lit(BOOT_R - 1))).alias("r"),
        )
        .withColumn(
            # overflow-safe universal hash (review r7): reduce the key
            # mod the prime BEFORE each multiply so every intermediate
            # stays below ~2.4e18 < 2^62 even at o_orderkey ~ 6e9
            # (TPC-H sf1000); without the inner mod, A*(key*R+r) wraps
            # int64 at sf≈45 — Spark (non-ANSI) silently, DuckDB with
            # an error. At bench/test scales key*R < P, so the inner
            # mod is the identity and every recorded hash is
            # unchanged.
            "h",
            (
                F.lit(_BOOT_A) * ((F.col("kr") + F.col("r")) % _BOOT_P)
                + F.lit(_BOOT_B)
            )
            % F.lit(_BOOT_P),
        )
    )
    w = None
    for thr in _POIS_T:
        term = F.when(F.col("h") >= thr, 1).otherwise(0)
        w = term if w is None else (w + term)
    rm = (
        reps.withColumn("w", w)
        .groupBy("category", "r")
        .agg(
            (
                F.sum(F.col("w") * F.col("yc")).cast("double")
                / F.lit(100.0)
                / F.sum("w").cast("double")
            ).alias("m")
        )
    )
    fm = t.orders.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(
                (F.col("o_totalprice").cast("decimal(25,2)") * 100).cast(
                    "long"
                )
            ).cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("mean"),
    )
    ci = rm.groupBy("category").agg(
        F.expr(
            "round(percentile_disc(0.025) WITHIN GROUP (ORDER BY m), 6)"
        ).alias("ci_lo"),
        F.expr(
            "round(percentile_disc(0.975) WITHIN GROUP (ORDER BY m), 6)"
        ).alias("ci_hi"),
    )
    return fm.join(ci, "category").select(
        "category", "n", F.round("mean", 6).alias("mean"), "ci_lo", "ci_hi"
    )


# ------------------------------------------ frequent pair mining

FP_MIN_ITEM = 20  # a-priori item support floor (orders containing it)
FP_MIN_PAIR = 3   # pair support floor


@query(
    "q_freq_pairs",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
    ),
    n_orders AS (
      SELECT CAST(count(DISTINCT oid) AS BIGINT) AS n FROM baskets
    ),
    freq AS (
      SELECT item, CAST(count(*) AS BIGINT) AS c
      FROM baskets GROUP BY item HAVING count(*) >= {FP_MIN_ITEM}
    ),
    fb AS (
      SELECT b.oid, b.item, f.c
      FROM baskets b JOIN freq f USING (item)
    ),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             max(a.c) AS c_a, max(b.c) AS c_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM fb a JOIN fb b ON a.oid = b.oid AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= {FP_MIN_PAIR}
    )
    SELECT p.item_a, p.item_b, p.c_a, p.c_b, p.c_ab,
           round(CAST(p.c_ab AS DOUBLE) / CAST(p.c_a AS DOUBLE), 6)
             AS confidence,
           round(CAST(n.n AS DOUBLE) * CAST(p.c_ab AS DOUBLE)
                 / (CAST(p.c_a AS DOUBLE) * CAST(p.c_b AS DOUBLE)), 6)
             AS lift
    FROM pairs p CROSS JOIN n_orders n
    """,
)
def q_freq_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent-pair mining with support pruning — market-
    basket co-occurrence (orders as baskets, parts as items) the way
    it survives scale: the downward-closure property (Agrawal &
    Srikant 1994) says a pair can only be frequent if BOTH items are,
    so the per-item support aggregate runs FIRST and the pair
    self-join sees only the frequent-item survivors. Without the
    prune, pair generation is quadratic in basket width over the full
    item universe; with it, the join input shrinks to the head of the
    item-frequency distribution before anything quadratic happens —
    at 100 TB the frequent-item table is small enough to broadcast
    into the basket scan.

    Plan (re-planned twice in round 8; verdict item 2): ONE shuffle of
    the fact scan — ``groupBy(oid).collect_set(item)`` gathers each
    basket (collect_set also dedups repeat items, subsuming the old
    standalone DISTINCT pass, which alone cost 0.87 s) — then
    everything else derives from the cached basket table: item
    supports by exploding the (tiny) per-basket arrays, unordered
    item_a < item_b pairs generated SCAN-LOCAL from each sorted array
    (nested ``transform``/``flatten``, pure JVM, map-side partial
    aggregation into the pair hash-aggregate), and supports attached
    to the surviving pairs by two broadcast joins at aggregate size.
    Filtering pairs by item support AFTER the pair aggregate is
    result-identical to pre-pruning (c_ab never changes; only which
    rows survive), and at this corpus's selectivity (98% of items are
    frequent) a pre-prune pass costs more than it saves. At power-law
    scale the decision flips: semi-join the exploded items against
    the broadcast frequent-item table BEFORE re-gathering, so wide
    baskets shrink before the quadratic step — downward closure
    (Agrawal & Srikant 1994) applied where it pays, which is the
    actual a-priori trade. Confidence c_ab/c_a and lift
    n·c_ab/(c_a·c_b) from exact BIGINT counts, rounded once.
    Output: every pair with item support >= {FP_MIN_ITEM} and pair
    support >= {FP_MIN_PAIR}."""
    t = load_tables(spark, sf_dir)
    raw = t.lineitem.select(
        F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
    )
    # gather at CORE width (the reducer default is sized for exchange
    # cost, not map parallelism); partitioning by oid satisfies the
    # groupBy clustering, so this stays ONE exchange
    sets = scoped_persist(
        raw.repartition(spark.sparkContext.defaultParallelism, "oid")
        .groupBy("oid")
        .agg(F.sort_array(F.collect_set("item")).alias("items"))
    )
    # materializes the cache and doubles as the lift denominator
    n_orders = sets.count()
    freq = (
        sets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= FP_MIN_ITEM)
    )
    # scan-local unordered-pair explosion: for each position i, pair
    # its element with every later element (array is sorted, so
    # item_a < item_b holds by construction)
    pair_col = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("items"), i + F.lit(2),
                    F.size(F.col("items")) - i - F.lit(1),
                ),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_col).alias("p"))
        .select(
            F.col("p.item_a").alias("item_a"),
            F.col("p.item_b").alias("item_b"),
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= FP_MIN_PAIR)
    )
    fa = freq.select(F.col("item").alias("item_a"), F.col("c").alias("c_a"))
    fb = freq.select(F.col("item").alias("item_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .select(
            "item_a", "item_b", "c_a", "c_b", "c_ab",
            F.round(
                F.col("c_ab").cast("double") / F.col("c_a").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                F.lit(float(n_orders)) * F.col("c_ab").cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------- mutual information

@query(
    "q_mutual_info",
    oracle="""
    WITH pairs AS (
      SELECT 'documents:lang~source' AS feature_pair,
             lang AS x, source AS y FROM documents
      UNION ALL
      SELECT 'orders:priority~status',
             o_orderpriority, o_orderstatus FROM orders
    ),
    joint AS (
      SELECT feature_pair, x, y, CAST(count(*) AS BIGINT) AS c
      FROM pairs GROUP BY 1, 2, 3
    ),
    mx AS (SELECT feature_pair, x, CAST(SUM(c) AS BIGINT) AS cx
           FROM joint GROUP BY 1, 2),
    my AS (SELECT feature_pair, y, CAST(SUM(c) AS BIGINT) AS cy
           FROM joint GROUP BY 1, 2),
    tot AS (SELECT feature_pair, CAST(SUM(c) AS BIGINT) AS n
            FROM joint GROUP BY 1),
    mi AS (
      SELECT j.feature_pair, t.n,
             SUM((CAST(j.c AS DOUBLE) / CAST(t.n AS DOUBLE))
                 * ln(CAST(j.c AS DOUBLE) * CAST(t.n AS DOUBLE)
                      / (CAST(x.cx AS DOUBLE) * CAST(y.cy AS DOUBLE))))
               AS mi_nats,
             count(*) AS n_cells
      FROM joint j
      JOIN mx x ON x.feature_pair = j.feature_pair AND x.x = j.x
      JOIN my y ON y.feature_pair = j.feature_pair AND y.y = j.y
      JOIN tot t ON t.feature_pair = j.feature_pair
      GROUP BY 1, 2
    ),
    hx AS (
      SELECT m.feature_pair,
             -SUM((CAST(cx AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * ln(CAST(cx AS DOUBLE) / CAST(t.n AS DOUBLE))) AS h_x
      FROM mx m JOIN tot t USING (feature_pair) GROUP BY 1
    ),
    hy AS (
      SELECT m.feature_pair,
             -SUM((CAST(cy AS DOUBLE) / CAST(t.n AS DOUBLE))
                  * ln(CAST(cy AS DOUBLE) / CAST(t.n AS DOUBLE))) AS h_y
      FROM my m JOIN tot t USING (feature_pair) GROUP BY 1
    )
    SELECT mi.feature_pair, mi.n, mi.n_cells,
           round(mi.mi_nats, 6) AS mi_nats,
           round(hx.h_x, 6) AS h_x,
           round(hy.h_y, 6) AS h_y,
           round(mi.mi_nats / nullif(least(hx.h_x, hy.h_y), 0.0), 6)
             AS nmi
    FROM mi JOIN hx USING (feature_pair) JOIN hy USING (feature_pair)
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between categorical column pairs — the
    feature-association screen a feature store runs to rank candidate
    features against a label (and to flag redundant feature pairs
    before training): MI = sum over cells of p(x,y) ln(p(x,y) /
    (p(x) p(y))), normalized by min(H(X), H(Y)) so 1.0 means one
    column determines the other and 0 means independence — unlike
    correlation it catches non-linear and non-ordinal association.

    Everything derives from ONE joint contingency aggregate per
    feature pair: marginals and totals roll up from the joint counts
    without rescanning ([[q_target_encode]]'s partial-aggregate
    reuse), and the MI/entropy sums run over cell-count rows only —
    |X|x|Y| cells, not data rows. Counts stay BIGINT-exact into the
    final double ln; both feature pairs ride one unioned scan-pass
    shape. At 100 TB: two column-pruned scans, hash aggregates, and
    arithmetic on KB-sized contingency tables."""
    t = load_tables(spark, sf_dir)
    pairs = t.documents.select(
        F.lit("documents:lang~source").alias("feature_pair"),
        F.col("lang").alias("x"),
        F.col("source").alias("y"),
    ).unionByName(
        t.orders.select(
            F.lit("orders:priority~status").alias("feature_pair"),
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
    )
    # not pinned: at run time AQE reuses the joint aggregate's
    # shuffle for every consumer (ReusedExchange), so each fact table
    # is still scanned once
    joint = pairs.groupBy("feature_pair", "x", "y").agg(
        F.count(F.lit(1)).alias("c")
    )
    # marginals and totals as window sums over the cell table
    # (three window specs over ≤|X|×|Y| rows) instead of three
    # groupBy-and-broadcast-back rollups: each broadcast build was its
    # own job, 27 jobs per execution at the floor —
    # now the cell terms, both entropies (distinct marginal
    # projections of the same windowed frame) and the final fuse are
    # a handful of aggregate-sized jobs (r14 optimization)
    from pyspark.sql import Window

    jd = joint.select(
        "feature_pair",
        "x",
        "y",
        "c",
        F.sum("c").over(Window.partitionBy("feature_pair", "x")).alias("cx"),
        F.sum("c").over(Window.partitionBy("feature_pair", "y")).alias("cy"),
        F.sum("c").over(Window.partitionBy("feature_pair")).alias("n"),
    )
    c_d, n_d = F.col("c").cast("double"), F.col("n").cast("double")
    mi = jd.groupBy("feature_pair", "n").agg(
        F.sum(
            (c_d / n_d)
            * F.log(
                c_d * n_d
                / (F.col("cx").cast("double") * F.col("cy").cast("double"))
            )
        ).alias("mi_nats"),
        F.count(F.lit(1)).alias("n_cells"),
    )

    def _entropy(key: str, cnt: str, out: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n").cast("double")
        return (
            jd.select("feature_pair", key, cnt, "n")
            .distinct()
            .groupBy("feature_pair")
            .agg((-F.sum(p * F.log(p))).alias(out))
        )

    hx = _entropy("x", "cx", "h_x")
    hy = _entropy("y", "cy", "h_y")
    return (
        mi.join(F.broadcast(hx), "feature_pair")
        .join(F.broadcast(hy), "feature_pair")
        .select(
            "feature_pair", "n", "n_cells",
            F.round("mi_nats", 6).alias("mi_nats"),
            F.round("h_x", 6).alias("h_x"),
            F.round("h_y", 6).alias("h_y"),
            F.round(
                F.col("mi_nats")
                / F.nullif(F.least("h_x", "h_y"), F.lit(0.0)),
                6,
            ).alias("nmi"),
        )
    )


# ------------------------------------------------ Welch A/B analysis

AB_Z_CRIT = 1.96  # two-sided 5% normal approximation (large-n)


@query(
    "q_ab_test",
    oracle=f"""
    WITH assigned AS (
      SELECT o_orderpriority AS segment,
             o_custkey % 2 AS arm, o_totalprice AS y
      FROM orders
    ),
    arms AS (
      SELECT segment,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n_b,
             avg(y) FILTER (WHERE arm = 0) AS m_a,
             avg(y) FILTER (WHERE arm = 1) AS m_b,
             var_samp(y) FILTER (WHERE arm = 0) AS v_a,
             var_samp(y) FILTER (WHERE arm = 1) AS v_b
      FROM assigned GROUP BY segment
    )
    SELECT segment, n_a, n_b,
           round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
           round(m_b - m_a, 4) AS lift,
           round((m_b - m_a) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_welch,
           round((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
                 / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                    + (v_b / n_b) * (v_b / n_b) / (n_b - 1)), 2) AS df,
           abs(round((m_b - m_a) / sqrt(v_a / n_a + v_b / n_b), 4))
             > {AB_Z_CRIT!r} AS significant
    FROM arms
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample test per segment — the
    experimentation readout every A/B platform computes from the
    assignment log: hash-of-unit arm assignment (customer parity
    here; a salted hash in production), per-arm mean/variance from
    ONE conditional aggregation pass, the Welch t statistic
    (m_b - m_a) / sqrt(v_a/n_a + v_b/n_b), and the Welch-
    Satterthwaite effective degrees of freedom. Welch, not Student:
    pooled-variance t silently miscalibrates when arms differ in
    variance or size, the normal case for revenue metrics. The
    significance flag uses the two-sided 5% normal approximation
    ({AB_Z_CRIT}), documented as the large-n reading (df is emitted
    so a caller can apply an exact t quantile off-engine).

    One scan, map-side-combinable FILTER aggregates, |segments|-row
    output — the entire analysis is a single hash aggregate at any
    scale. Both engines evaluate identical double expressions on the
    same aggregate moments, rounded once at output."""
    t = load_tables(spark, sf_dir)
    assigned = t.orders.select(
        F.col("o_orderpriority").alias("segment"),
        (F.col("o_custkey") % 2).alias("arm"),
        F.col("o_totalprice").alias("y"),
    )
    ya = F.when(F.col("arm") == 0, F.col("y"))
    yb = F.when(F.col("arm") == 1, F.col("y"))
    arms = assigned.groupBy("segment").agg(
        F.count(ya).alias("n_a"),
        F.count(yb).alias("n_b"),
        F.avg(ya).alias("m_a"),
        F.avg(yb).alias("m_b"),
        F.var_samp(ya).alias("v_a"),
        F.var_samp(yb).alias("v_b"),
    )
    se2_a = F.col("v_a") / F.col("n_a")
    se2_b = F.col("v_b") / F.col("n_b")
    tw = F.round((F.col("m_b") - F.col("m_a")) / F.sqrt(se2_a + se2_b), 4)
    df = F.round(
        (se2_a + se2_b) * (se2_a + se2_b)
        / (
            se2_a * se2_a / (F.col("n_a") - 1)
            + se2_b * se2_b / (F.col("n_b") - 1)
        ),
        2,
    )
    return arms.select(
        "segment", "n_a", "n_b",
        F.round("m_a", 4).alias("mean_a"),
        F.round("m_b", 4).alias("mean_b"),
        F.round(F.col("m_b") - F.col("m_a"), 4).alias("lift"),
        tw.alias("t_welch"),
        df.alias("df"),
        (F.abs(tw) > AB_Z_CRIT).alias("significant"),
    )
