"""Data-quality auditing and statistical/time-series modeling tier.

A production lakehouse feeding an LLM training pipeline gates every
table behind declarative quality checks (the dbt-test / Deequ shape)
and reads trends out of its event streams. This module adds both
tiers as oracle-checked queries: a single-pass DQ audit, regression
and autocorrelation aggregates, time-weighted averages, OHLC candle
rollups, Pareto-frontier extraction, and Markov transition matrices.

Reference grounding: the reference app's only validation is a poll
loop asserting a service reaches a desired state
(`lakehouse_app_helpers.py:69-75`); these operators generalize
"assert the data is in the expected state" into declarative,
engine-checked table contracts.

Every check here is a scan-plus-aggregate or a windowed scan — no
O(n²) shapes — so each survives a 1000-executor scale-up: the audit
unions tiny 1-row aggregates, the frontier sweep reduces to |distinct
sizes| rows before its broadcast join back, and the transition matrix
shuffles once on the session key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_app_spark.functions.compat import DEC
from lakehouse_app_spark.registry import query
from lakehouse_app_spark.runtime_cache import scoped_persist
from lakehouse_app_spark.sources.tables import load_tables


@query(
    "q_dq_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS total
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_status_accepted',
           CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_discount_in_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_order_fk',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (dbt-test / Deequ shape): one
    row per check with (violations, total). Covers the five check
    families a table contract needs — PK uniqueness, non-null,
    accepted values, numeric range, referential integrity. Each
    check is one scan-aggregate (conditional counts fuse into a
    single pass per table); the FK check is a left-anti broadcast
    join. Unioning 1-row aggregates is free at any scale."""
    t = load_tables(spark, sf_dir)
    b = F.lit(1)

    # ONE aggregate pass per table (the docstring's claim, now true
    # in the plan — review r6): every conditional count rides the
    # same scan, then stack() unpivots the 1-row result into
    # (check_name, violations) rows. Only the FK check needs its own
    # job (an anti-join is not a conditional count).
    orders_row = t.orders.agg(
        (F.count(b) - F.countDistinct("o_orderkey")).alias("pk"),
        F.count_if(F.col("o_custkey").isNull()).alias("nn"),
        F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias("av"),
        F.count(b).alias("total"),
    )
    orders_checks = orders_row.select(
        F.expr(
            "stack(3, 'orders_pk_unique', pk,"
            " 'orders_custkey_not_null', nn,"
            " 'orders_status_accepted', av) AS (check_name, violations)"
        ),
        "total",
    )
    li_row = t.lineitem.agg(
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("rng"),
        F.count(b).alias("total"),
    )
    li_checks = li_row.select(
        F.expr(
            "stack(1, 'lineitem_discount_in_range', rng)"
            " AS (check_name, violations)"
        ),
        "total",
    )
    orphans = t.lineitem.join(
        F.broadcast(t.orders.select("o_orderkey")),
        t.lineitem.l_orderkey == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count(b).alias("violations"))
    fk = orphans.crossJoin(li_row.select("total")).select(
        F.lit("lineitem_order_fk").alias("check_name"), "violations", "total"
    )
    return orders_checks.unionAll(li_checks).unionAll(fk)


@query(
    "q_regr_trend",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit via SQL regression
    aggregates (slope/intercept/R²) — the in-engine alternative to
    exporting to a stats library. Single hash-aggregate pass; both
    engines use the same textbook definitions, rounded because
    double accumulation order differs."""
    t = load_tables(spark, sf_dir)
    return t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


@query(
    "q_twa",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dt_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           round(CAST(SUM(CAST(value AS DECIMAL(25,6)) * dt_us) AS DOUBLE)
                 / CAST(SUM(dt_us) AS DOUBLE), 6) AS twa_value,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM stepped WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
)
def q_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a gauge per user — the correct
    average for irregularly-sampled measurements (each value holds
    until the next observation, so it is weighted by its holding
    duration). lag/lead derives the interval, then one grouped sum.
    The value×duration products are summed in exact decimal so both
    engines agree regardless of accumulation order. One shuffle on
    the user key; at scale the window and the aggregate share that
    partitioning, so the agg is shuffle-free after the sort."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    stepped = t.events.select(
        "user_id",
        "value",
        (F.lead(ts_us).over(w) - ts_us).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull())
    return stepped.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("value").cast(DEC) * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double"),
            6,
        ).alias("twa_value"),
        F.count(F.lit(1)).alias("n_intervals"),
    )


@query(
    "q_ohlc",
    oracle="""
    WITH w AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value,
             first_value(value) OVER (PARTITION BY date_trunc('day', ts)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
             last_value(value) OVER (PARTITION BY date_trunc('day', ts)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
      FROM events
    )
    SELECT day, max(o) AS open, max(value) AS high,
           min(value) AS low, max(c) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY day
    """,
)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) candles over the event
    gauge — the resample shape every monitoring/market pipeline
    needs. Open/close are order statistics (first/last by event
    time with the PK as tie-break), taken via an unbounded window
    frame inside each day partition; high/low fold into the same
    grouped pass. All values are raw passthrough doubles, so no
    rounding is needed. Day partitions bound the window state, so
    the sort is per-day and parallel at any scale."""
    t = load_tables(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    w = (
        Window.partitionBy(day)
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    stamped = t.events.select(
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        "value",
        F.first("value").over(w).alias("o"),
        F.last("value").over(w).alias("c"),
    )
    return stamped.groupBy("day").agg(
        F.max("o").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max("c").alias("close"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_skyline",
    oracle="""
    WITH per_size AS (
      SELECT p_size, max(p_retailprice) AS mx FROM part GROUP BY p_size
    ),
    swept AS (
      SELECT p_size, mx,
             max(mx) OVER (ORDER BY p_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS mx_larger
      FROM per_size
    )
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p JOIN swept s ON p.p_size = s.p_size
    WHERE p.p_retailprice = s.mx
      AND (s.mx_larger IS NULL OR p.p_retailprice > s.mx_larger)
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts maximizing both p_size and
    p_retailprice: a part survives iff no other part is ≥ in both
    dimensions and > in one. Computed as a sweep, not an O(n²)
    dominance join: aggregate to one max-price row per distinct
    size, running-max over sizes descending gives the best price
    among strictly larger sizes, then a broadcast join back tags
    survivors. The window runs over |distinct sizes| rows (~50), so
    the single-partition sort is trivially safe at 100 TB while the
    fact-side work stays a scan + broadcast probe."""
    t = load_tables(spark, sf_dir)
    per_size = t.part.groupBy("p_size").agg(F.max("p_retailprice").alias("mx"))
    w = Window.orderBy(F.col("p_size").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    swept = per_size.select(
        "p_size", "mx", F.max("mx").over(w).alias("mx_larger")
    )
    return (
        t.part.join(F.broadcast(swept), "p_size")
        .where(
            (F.col("p_retailprice") == F.col("mx"))
            & (
                F.col("mx_larger").isNull()
                | (F.col("p_retailprice") > F.col("mx_larger"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


@query(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type,
             event_type AS next_type
      FROM events
    )
    SELECT prev_type, next_type,
           CAST(count(*) AS BIGINT) AS n,
           round(count(*) / CAST(SUM(count(*)) OVER (PARTITION BY prev_type)
                                 AS DOUBLE), 6) AS p
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | previous event type). lag() pairs
    consecutive events within each user's timeline (one shuffle on
    user_id), counts group to a ≤|types|² table, and row-normalizing
    with a window over that tiny table yields probabilities —
    integer-ratio division, so both engines agree to 6 dp."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t.events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    wn = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wn).cast("double"), 6).alias("p"),
    )


@query(
    "q_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS mode_type, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY user_id, event_type
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY count(*) DESC, event_type) = 1
    """,
)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key mode: each user's most frequent event
    type, ties broken alphabetically (a bare mode() is
    tie-nondeterministic across engines — §5.3 discipline). Count
    then rank-filter; Spark rewrites the rank-filter to
    WindowGroupLimit, so only each group's top row survives the
    shuffle."""
    t = load_tables(spark, sf_dir)
    counts = t.events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@query(
    "q_autocorr",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lagged AS (
      SELECT n, lag(n) OVER (ORDER BY d) AS prev_n FROM daily
    )
    SELECT round(corr(n, prev_n), 6) AS lag1_autocorr,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM lagged WHERE prev_n IS NOT NULL
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume — the one-number
    seasonality/momentum signal for a metric series. Aggregate to
    |days| rows first, self-pair via lag(), then a single corr()
    over the tiny series; the global window touches only the daily
    rollup, never raw events."""
    t = load_tables(spark, sf_dir)
    daily = t.events.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lagged = daily.select(
        "n", F.lag("n").over(Window.orderBy("d")).alias("prev_n")
    ).where(F.col("prev_n").isNotNull())
    return lagged.agg(
        F.round(F.corr("n", "prev_n"), 6).alias("lag1_autocorr"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


def observed_write(df: DataFrame, path: str, metrics: dict):
    """Write ``df`` while collecting inline metrics in the SAME pass
    via ``DataFrame.observe`` — the zero-extra-scan deployment of the
    [[q_dq_checks]] audit: at 100 TB a separate metrics pass re-reads
    the table, while observe() piggybacks on the rows already
    streaming through the writer. ``metrics`` maps name -> aggregate
    Column (count_if/sum/min/max...). Returns the observed row as a
    dict after the write completes."""
    from pyspark.sql import Observation

    obs = Observation("write_metrics")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return obs.get


@query(
    "q_skew_stats",
    oracle="""
    WITH per_key AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_rows,
           round(avg(n), 6) AS avg_rows,
           round(max(n) / avg(n), 6) AS skew_factor,
           round(quantile_cont(n, 0.99), 6) AS p99_rows,
           CAST(count(*) FILTER (WHERE n > 2 * (SELECT avg(n) FROM per_key))
                AS BIGINT) AS n_hot_keys
    FROM per_key
    """,
)
def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: per-key row counts reduced to the
    max/avg skew factor, p99, and hot-key count — the measurement
    that decides between a plain shuffle join, AQE skew handling,
    and an explicit salt ([[q_join_salted]] is the remedy; this is
    the diagnosis). One groupBy on the key then a scalar aggregate
    over |keys| rows; on a cluster this runs as a cheap prelude to
    (or an observe() alongside) the real join."""
    t = load_tables(spark, sf_dir)
    # persisted: per_key feeds the scalar stats aggregate AND the
    # hot-key count — unpersisted, the fact scan + keyed aggregate
    # ran twice (guide §7.2 duplicated subtrees, r14 optimization);
    # the hot-key pass needs the average first, so two passes over
    # per_key are inherent, but both now read the |keys|-sized cache
    per_key = scoped_persist(
        t.lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_rows"),
        F.round(F.avg("n"), 6).alias("avg_rows"),
        F.round(F.max("n") / F.avg("n"), 6).alias("skew_factor"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99_rows"),
        F.avg("n").alias("_avg_raw"),
    )
    hot = (
        per_key.crossJoin(F.broadcast(stats.select("_avg_raw")))
        .where(F.col("n") > 2 * F.col("_avg_raw"))
        .agg(F.count(F.lit(1)).alias("n_hot_keys"))
    )
    return stats.drop("_avg_raw").crossJoin(F.broadcast(hot))


# ------------------------------------- model-based quality classifier

_QC_D = 1024          # hashed feature space
_QC_A = 2654435761    # Knuth multiplicative constant → pseudo-weights
_QC_M = 1000003
_QC_SCALE = 501001    # centers the weight range at zero

from lakehouse_app_spark.operators.corpus_prep import (  # noqa: E402
    _FP_DUCK,
    _FP_SPARK,
)


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH w AS (
      SELECT i AS fid, (i * {_QC_A}) % {_QC_M} - {_QC_SCALE} AS wt
      FROM (SELECT unnest(range(0, {_QC_D})) AS i)
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(lower(text), ' '))) AS tk
      FROM documents
    ),
    feat AS (
      SELECT doc_id,
             {_FP_DUCK.format(w="tk")} % {_QC_D} AS fid
      FROM tok
    ),
    s AS (
      SELECT f.doc_id, CAST(SUM(w.wt) AS BIGINT) AS raw,
             CAST(COUNT(*) AS BIGINT) AS n_feats
      FROM feat f JOIN w ON w.fid = f.fid
      GROUP BY f.doc_id
    )
    SELECT doc_id, n_feats,
           round(CAST(raw AS DOUBLE)
                 / (CAST(n_feats AS DOUBLE) * CAST({_QC_SCALE} AS DOUBLE)),
                 6) AS logit,
           (raw > 0) AS keep
    FROM s
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fastText-style linear
    classifier tier (CCNet/LLaMA corpus pipelines) that sits after
    the rule gates ([[q_corpus_gate]]): each document scores as a
    mean of learned weights over HASHED bag-of-words features, and
    the keep decision thresholds the logit at 0.

    The model ships as a TABLE, not code: 1024 (feature-id, weight)
    rows broadcast to every executor, feature extraction is the
    scan-local portable Karp-Rabin fingerprint mod 1024 (same fold as
    [[q_minhash_sig]] — bit-identical in any engine), scoring is one
    broadcast hash join + an exact integer sum per document. At
    100 TB the weights of a real trained model load from parquet
    into the same join — swap the table, not the plan. Weights here
    are a deterministic integer spread (Knuth multiplicative hash of
    the feature id) standing in for trained values, which is what
    makes the oracle exact: integer sums have no float order
    sensitivity, and the single final division is IEEE-identical
    everywhere. The logit is monotone in the sigmoid probability, so
    thresholding it at 0 IS the p>0.5 decision without touching
    libm exp() (whose last-ulp behavior differs across engines)."""
    t = load_tables(spark, sf_dir)
    w = spark.range(_QC_D).select(
        F.col("id").alias("fid"),
        ((F.col("id") * _QC_A) % _QC_M - _QC_SCALE).alias("wt"),
    )
    tok = t.documents.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tk"),
    )
    feat = tok.select(
        "doc_id", (F.expr(_FP_SPARK.format(w="tk")) % _QC_D).alias("fid")
    )
    s = feat.join(F.broadcast(w), "fid").groupBy("doc_id").agg(
        F.sum("wt").alias("raw"), F.count(F.lit(1)).alias("n_feats")
    )
    return s.select(
        "doc_id",
        "n_feats",
        F.round(
            F.col("raw").cast("double")
            / (F.col("n_feats").cast("double") * float(_QC_SCALE)),
            6,
        ).alias("logit"),
        (F.col("raw") > 0).alias("keep"),
    )


# ------------------------------------------- out-of-fold target encoding

TE_SMOOTH = 20.0  # pseudo-count weight pulling rare categories to the prior
TE_FOLDS = 5


@query(
    "q_target_encode",
    oracle=f"""
    WITH g AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS gmean
      FROM orders
    ),
    cf AS (
      SELECT o_orderpriority AS category,
             o_orderkey % {TE_FOLDS} AS fold,
             CAST(count(*) AS BIGINT) AS n_cf,
             SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS sum_cf
      FROM orders GROUP BY 1, 2
    ),
    c AS (
      SELECT category, CAST(SUM(n_cf) AS BIGINT) AS n_c,
             SUM(sum_cf) AS sum_c
      FROM cf GROUP BY category
    )
    SELECT cf.category, cf.fold, cf.n_cf AS n_in_fold,
           round((CAST(c.sum_c - cf.sum_cf AS DOUBLE)
                  + {TE_SMOOTH!r} * g.gmean)
                 / (CAST(c.n_c - cf.n_cf AS DOUBLE) + {TE_SMOOTH!r}), 6)
             AS oof_enc,
           round((CAST(c.sum_c AS DOUBLE) + {TE_SMOOTH!r} * g.gmean)
                 / (CAST(c.n_c AS DOUBLE) + {TE_SMOOTH!r}), 6) AS full_enc,
           round(g.gmean, 6) AS global_mean
    FROM cf JOIN c USING (category) CROSS JOIN g
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free out-of-fold target encoding — the categorical
    feature-engineering step of every tabular training pipeline
    (Micci-Barreca 2001): each category's encoding for fold f is the
    smoothed target mean computed WITHOUT fold f's own rows, so the
    feature a training row sees never contains its own label. The
    smoothing pseudo-count ({TE_SMOOTH} rows of the global prior)
    shrinks rare categories toward the global mean instead of
    memorizing them.

    Plan shape: one hash-aggregate to (category, fold) partials —
    map-side combinable, |categories|x{TE_FOLDS} rows — from which the
    per-category totals roll up WITHOUT rescanning (the leave-fold-out
    numerator is total minus fold partial, the classic
    partial-aggregate subtraction trick), and the 1-row global prior
    broadcasts. Sums stay in exact DECIMAL until the single rounded
    double division, so both engines agree bit-for-bit. At 100 TB the
    fact scan happens exactly once and everything downstream is
    aggregate-sized."""
    t = load_tables(spark, sf_dir)
    # persist the (category, fold) partials: the per-category rollup
    # and the output join both consume them, and without the pin the
    # rollup re-executes the fact scan — the docstring's
    # scan-exactly-once claim, enforced (test_plan_shapes pins it)
    cf = scoped_persist(
        t.orders.groupBy(
            F.col("o_orderpriority").alias("category"),
            (F.col("o_orderkey") % TE_FOLDS).alias("fold"),
        ).agg(
            F.count(F.lit(1)).alias("n_cf"),
            F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("sum_cf"),
        )
    )
    c = cf.groupBy("category").agg(
        F.sum("n_cf").alias("n_c"), F.sum("sum_cf").alias("sum_c")
    )
    g = t.orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("gmean")
    )
    sm = F.lit(TE_SMOOTH)
    oof = (
        (F.col("sum_c") - F.col("sum_cf")).cast("double") + sm * F.col("gmean")
    ) / ((F.col("n_c") - F.col("n_cf")).cast("double") + sm)
    full = (F.col("sum_c").cast("double") + sm * F.col("gmean")) / (
        F.col("n_c").cast("double") + sm
    )
    return (
        cf.join(c, "category")
        .crossJoin(F.broadcast(g))
        .select(
            "category",
            "fold",
            F.col("n_cf").alias("n_in_fold"),
            F.round(oof, 6).alias("oof_enc"),
            F.round(full, 6).alias("full_enc"),
            F.round(F.col("gmean"), 6).alias("global_mean"),
        )
    )


# -------------------------------------------- two-sample KS drift test

KS_ALPHA_C = 1.358  # c(alpha) for alpha = 0.05 in the KS critical value


@query(
    "q_drift_ks",
    oracle=f"""
    WITH tagged AS (
      SELECT o_orderpriority AS category, o_totalprice AS v,
             o_orderkey % 2 AS split
      FROM orders
    ),
    vals AS (
      SELECT category, v,
             CAST(count(*) FILTER (WHERE split = 0) AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE split = 1) AS BIGINT) AS nb
      FROM tagged GROUP BY category, v
    ),
    tot AS (
      SELECT category, CAST(SUM(na) AS BIGINT) AS ta,
             CAST(SUM(nb) AS BIGINT) AS tb
      FROM vals GROUP BY category
    ),
    cdf AS (
      SELECT v.category,
             SUM(v.na) OVER w AS ca, SUM(v.nb) OVER w AS cb,
             t.ta, t.tb
      FROM vals v JOIN tot t USING (category)
      WINDOW w AS (PARTITION BY v.category ORDER BY v.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    ks AS (
      SELECT category, ta AS n_a, tb AS n_b,
             max(abs(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE)
                     - CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))) AS d
      FROM cdf GROUP BY category, ta, tb
    )
    SELECT category, n_a, n_b,
           round(d, 6) AS ks_stat,
           round({KS_ALPHA_C!r} * sqrt(CAST(n_a + n_b AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE)), 6) AS ks_crit,
           round(d, 6) > round({KS_ALPHA_C!r} * sqrt(CAST(n_a + n_b AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE)), 6) AS drifted
    FROM ks
    """,
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift detection per category —
    the train/serve (or yesterday/today) distribution-shift gate a
    production feature pipeline runs before every model refresh. The
    statistic is max |F_a(x) - F_b(x)| over the pooled support:
    per-(category, value) split counts collapse ties FIRST (the
    correct discrete-tie handling), one ordered window accumulates
    both empirical CDFs in integer domain, and the max-abs-difference
    reduces per category; the alpha = 0.05 critical value
    {KS_ALPHA_C} * sqrt((n_a + n_b) / (n_a * n_b)) flags drift. The
    comparison runs on the 6-dp-rounded doubles so the boolean is
    cross-engine stable. Plan: ONE scan -> (category, value) hash
    aggregate -> one window sort over DISTINCT values only (far
    smaller than the fact table), whose single pass also produces
    the per-category totals -> aggregate-sized output. No
    sampling, no collect; at 100 TB the only sort is per-category
    over distinct values, exactly how a warehouse computes exact
    CDFs."""
    t = load_tables(spark, sf_dir)
    tagged = t.orders.select(
        F.col("o_orderpriority").alias("category"),
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 2).alias("split"),
    )
    vals = tagged.groupBy("category", "v").agg(
        F.count_if(F.col("split") == 0).alias("na"),
        F.count_if(F.col("split") == 1).alias("nb"),
    )
    # per-category totals ta/tb ride the SAME Sort/Window pass as the
    # running CDFs (whole-partition frame alongside the running frame
    # — one Window node evaluates both specs): the old
    # aggregate-and-broadcast-back form re-derived `vals` from a
    # SECOND orders scan because the subtree feeds two consumers and
    # Spark does not de-duplicate it (guide §7.2 duplicated subtrees;
    # r14 optimization — 2 scans → 1, 4 Exchanges → 2; see the plan
    # with `python -m lakehouse_app_spark explain q_drift_ks`)
    w = (
        Window.partitionBy("category")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy("category")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cdf = vals.select(
        "category",
        F.sum("na").over(w_all).alias("ta"),
        F.sum("nb").over(w_all).alias("tb"),
        F.sum("na").over(w).alias("ca"),
        F.sum("nb").over(w).alias("cb"),
    )
    ks = cdf.groupBy("category", "ta", "tb").agg(
        F.max(
            F.abs(
                F.col("ca").cast("double") / F.col("ta").cast("double")
                - F.col("cb").cast("double") / F.col("tb").cast("double")
            )
        ).alias("d")
    )
    crit = F.round(
        F.lit(KS_ALPHA_C)
        * F.sqrt(
            (F.col("ta") + F.col("tb")).cast("double")
            / (F.col("ta") * F.col("tb")).cast("double")
        ),
        6,
    )
    d6 = F.round(F.col("d"), 6)
    return ks.select(
        "category",
        F.col("ta").alias("n_a"),
        F.col("tb").alias("n_b"),
        d6.alias("ks_stat"),
        crit.alias("ks_crit"),
        (d6 > crit).alias("drifted"),
    )


# --------------------------------------------- PSI categorical drift

PSI_BINS = 10      # reference-range equal-width bins
PSI_SMOOTH = 0.5   # Laplace pseudo-count so ln() is always defined


@query(
    "q_drift_psi",
    oracle=f"""
    WITH tagged AS (
      SELECT o_orderpriority AS category, o_totalprice AS v,
             o_orderkey % 2 AS split
      FROM orders
    ),
    ref AS (
      SELECT category, min(v) AS mn, max(v) AS mx
      FROM tagged WHERE split = 0 GROUP BY category
    ),
    binned AS (
      SELECT t.category,
             CAST(least({PSI_BINS - 1}, greatest(0,
               CAST(floor(((t.v - r.mn) * {PSI_BINS}.0)
                          / nullif(r.mx - r.mn, 0.0)) AS BIGINT)))
               AS BIGINT) AS bin,
             t.split
      FROM tagged t JOIN ref r USING (category)
    ),
    bc AS (
      SELECT category, coalesce(bin, 0) AS bin,
             CAST(count(*) FILTER (WHERE split = 0) AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE split = 1) AS BIGINT) AS nb
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT category, CAST(SUM(na) AS BIGINT) AS ta,
             CAST(SUM(nb) AS BIGINT) AS tb,
             CAST(count(*) AS BIGINT) AS n_bins
      FROM bc GROUP BY category
    ),
    terms AS (
      SELECT b.category, t.ta, t.tb, t.n_bins,
             ((CAST(b.na AS DOUBLE) + {PSI_SMOOTH!r})
                / (CAST(t.ta AS DOUBLE)
                   + {PSI_SMOOTH!r} * CAST(t.n_bins AS DOUBLE))
              - (CAST(b.nb AS DOUBLE) + {PSI_SMOOTH!r})
                / (CAST(t.tb AS DOUBLE)
                   + {PSI_SMOOTH!r} * CAST(t.n_bins AS DOUBLE)))
             * ln(((CAST(b.na AS DOUBLE) + {PSI_SMOOTH!r})
                   / (CAST(t.ta AS DOUBLE)
                      + {PSI_SMOOTH!r} * CAST(t.n_bins AS DOUBLE)))
                  / ((CAST(b.nb AS DOUBLE) + {PSI_SMOOTH!r})
                     / (CAST(t.tb AS DOUBLE)
                        + {PSI_SMOOTH!r} * CAST(t.n_bins AS DOUBLE))))
               AS term
      FROM bc b JOIN tot t USING (category)
    )
    SELECT category, ta AS n_ref, tb AS n_cur, n_bins,
           round(SUM(term), 6) AS psi,
           CASE WHEN round(SUM(term), 6) < 0.1 THEN 'stable'
                WHEN round(SUM(term), 6) < 0.25 THEN 'moderate'
                ELSE 'major' END AS status
    FROM terms GROUP BY category, ta, tb, n_bins
    """,
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per category — the categorical/
    binned drift metric every model-monitoring stack reports next to
    [[q_drift_ks]]'s distributional test: PSI = sum over bins of
    (p_ref - p_cur) * ln(p_ref / p_cur), with the standard reading
    <0.1 stable / <0.25 moderate / else major shift.

    Bins are {PSI_BINS} equal-width slices of the REFERENCE split's
    [min, max] (the classic reference-anchored binning, so the
    current split is judged against frozen edges; out-of-range
    current values clamp into the edge bins). Laplace smoothing
    ({PSI_SMOOTH} pseudo-rows per bin) keeps ln() defined on empty
    bins; bins empty in BOTH splits are absent from the group-by in
    both engines identically, so the term set matches bit-for-bit.
    The bin expression is the same IEEE double arithmetic in both
    engines (one subtract, one multiply, one divide, floor), so bin
    assignment cannot straddle engines.

    Plan: one fact scan -> 5-row reference min/max broadcast ->
    (category, bin, split) hash aggregate (map-side combinable,
    <= |categories| x {PSI_BINS} rows) -> per-category totals as
    whole-partition window sums over that same bin table. At
    100 TB: two scans (min/max pass, bin pass — the reference-
    anchored binning's floor), aggregate-sized everything after."""
    t = load_tables(spark, sf_dir)
    tagged = t.orders.select(
        F.col("o_orderpriority").alias("category"),
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderkey") % 2).alias("split"),
    )
    ref = (
        tagged.where(F.col("split") == 0)
        .groupBy("category")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    raw_bin = F.floor(
        ((F.col("v") - F.col("mn")) * F.lit(float(PSI_BINS)))
        / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0))
    ).cast("bigint")
    bin_ = F.coalesce(
        F.least(F.lit(PSI_BINS - 1), F.greatest(F.lit(0), raw_bin)),
        F.lit(0),
    ).cast("bigint")
    bc = (
        tagged.join(F.broadcast(ref), "category")
        .select("category", bin_.alias("bin"), "split")
        .groupBy("category", "bin")
        .agg(
            F.count_if(F.col("split") == 0).alias("na"),
            F.count_if(F.col("split") == 1).alias("nb"),
        )
    )
    # per-category totals over a whole-partition window frame on the
    # bin table itself: the old aggregate-and-broadcast-back form
    # re-derived `bc` (scan + reference-minmax broadcast + bin
    # aggregate) from a SECOND pair of scans because the subtree
    # feeds two consumers (guide §7.2 duplicated subtrees; r14
    # optimization — 4 scans → 2; see the plan with
    # `python -m lakehouse_app_spark explain q_drift_psi`). The unavoidable two
    # passes are reference min/max then binning; everything after is
    # a ≤|categories|×PSI_BINS-row window.
    w_cat = Window.partitionBy("category").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    withtot = bc.select(
        "category",
        "na",
        "nb",
        F.sum("na").over(w_cat).alias("ta"),
        F.sum("nb").over(w_cat).alias("tb"),
        F.count(F.lit(1)).over(w_cat).alias("n_bins"),
    )
    sm = F.lit(PSI_SMOOTH)
    nbins_d = F.col("n_bins").cast("double")
    pa = (F.col("na").cast("double") + sm) / (
        F.col("ta").cast("double") + sm * nbins_d
    )
    pb = (F.col("nb").cast("double") + sm) / (
        F.col("tb").cast("double") + sm * nbins_d
    )
    terms = withtot.select(
        "category", "ta", "tb", "n_bins",
        ((pa - pb) * F.log(pa / pb)).alias("term"),
    )
    psi = F.round(F.sum("term"), 6)
    return terms.groupBy("category", "ta", "tb", "n_bins").agg(
        psi.alias("psi")
    ).select(
        "category",
        F.col("ta").alias("n_ref"),
        F.col("tb").alias("n_cur"),
        "n_bins",
        "psi",
        F.when(F.col("psi") < 0.1, "stable")
        .when(F.col("psi") < 0.25, "moderate")
        .otherwise("major")
        .alias("status"),
    )


# ----------------------------------------- labeler agreement (kappa)

KAPPA_LEN_MIN = 400   # labeler A: raw length gate
KAPPA_WORDS_MIN = 60  # labeler B: whitespace word-count gate


@query(
    "q_cohens_kappa",
    oracle=f"""
    WITH labeled AS (
      SELECT source,
             CASE WHEN n_chars >= {KAPPA_LEN_MIN} THEN 1 ELSE 0 END AS la,
             CASE WHEN len(string_split(text, ' ')) >= {KAPPA_WORDS_MIN}
                  THEN 1 ELSE 0 END AS lb
      FROM documents
    ),
    cm AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE la = 1 AND lb = 1) AS BIGINT) AS n11,
             CAST(count(*) FILTER (WHERE la = 0 AND lb = 0) AS BIGINT) AS n00,
             CAST(count(*) FILTER (WHERE la = 1 AND lb = 0) AS BIGINT) AS n10,
             CAST(count(*) FILTER (WHERE la = 0 AND lb = 1) AS BIGINT) AS n01
      FROM labeled GROUP BY source
    )
    SELECT source, n, n11, n00, n10, n01,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           round(CAST((n11 + n10) * (n11 + n01)
                      + (n00 + n01) * (n00 + n10) AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe,
           round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                  - CAST((n11 + n10) * (n11 + n01)
                         + (n00 + n01) * (n00 + n10) AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                 / nullif(1.0 - CAST((n11 + n10) * (n11 + n01)
                                     + (n00 + n01) * (n00 + n10) AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0), 6)
             AS kappa
    FROM cm
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-labeler agreement per source — the weak-
    supervision health check: when two cheap labeling functions (here
    a raw-length gate and a word-count gate, the [[q_corpus_gate]]
    family) vote on the same corpus, raw agreement p_o overstates
    consensus because both labelers fire mostly-positive; kappa
    subtracts the chance-agreement floor p_e = P(both 1) + P(both 0)
    under marginal independence: kappa = (p_o - p_e) / (1 - p_e)
    (Cohen 1960). A Snorkel-style labeling pipeline prunes labelers
    whose kappa against the ensemble drops — this query is that
    diagnostic as one aggregate.

    Plan: one scan -> per-source confusion-matrix counts via
    conditional aggregation (4 count_ifs, map-side combinable) ->
    arithmetic on the |sources|-row aggregate. All chance algebra
    runs on exact BIGINT products before the single rounded double
    division, so both engines agree bit-for-bit. At 100 TB this is
    a pure scan-and-reduce: no shuffle wider than |sources| rows."""
    t = load_tables(spark, sf_dir)
    la = F.when(F.col("n_chars") >= KAPPA_LEN_MIN, 1).otherwise(0)
    lb = F.when(
        F.size(F.split(F.col("text"), " ")) >= KAPPA_WORDS_MIN, 1
    ).otherwise(0)
    cm = (
        t.documents.select(
            "source", la.alias("la"), lb.alias("lb")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if((F.col("la") == 1) & (F.col("lb") == 1)).alias("n11"),
            F.count_if((F.col("la") == 0) & (F.col("lb") == 0)).alias("n00"),
            F.count_if((F.col("la") == 1) & (F.col("lb") == 0)).alias("n10"),
            F.count_if((F.col("la") == 0) & (F.col("lb") == 1)).alias("n01"),
        )
    )
    n_d = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n_d
    pe = (
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n00") + F.col("n01")) * (F.col("n00") + F.col("n10"))
    ).cast("double") / (n_d * n_d)
    kappa = (po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0))
    return cm.select(
        "source", "n", "n11", "n00", "n10", "n01",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round(kappa, 6).alias("kappa"),
    )
