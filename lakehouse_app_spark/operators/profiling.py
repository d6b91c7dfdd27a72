"""Dataset profiling, sampling, the SQL entry surface, and an
iterative graph algorithm (PageRank).

Profiling generalizes the reference's implicit "what's in this
table" needs (its console `list()` path, `lakehouse_app_helpers.py:
101-124`, only enumerates apps; an analytics engine profiles data).
The SQL interface demonstrates that every registered table is a temp
view, so users can bypass the DataFrame API entirely — the engine's
`spark.sql` surface IS the product for SQL-first users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.operators.dedup import spread, word_pairs
from lakehouse_app_spark.registry import query
from lakehouse_app_spark.sources.tables import load_tables

# ---------------------------------------------------------------- profile


@query(
    "q_profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col,
           CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(o_custkey) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(o_orderstatus) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(o_totalprice) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(o_orderdate) AS BIGINT),
           CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(o_orderpriority) AS BIGINT),
           CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    """,
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile of `orders`: per-column non-null /
    null / exact-distinct counts and min/max (rendered to strings
    with type-stable formatting — DECIMAL(18,2) for doubles,
    second-resolution timestamps — so cross-engine text is
    identical). One independent single-column aggregate per column,
    unioned: columnar pruning means each branch scans ONLY its own
    column's pages (the union reads each byte of the table exactly
    once in total), and each COUNT(DISTINCT) partial-dedups
    map-side without the 7× row multiplication a combined
    multi-DISTINCT aggregate pays via Expand — measured 2.5× faster
    at sf0.1, and the branches parallelize independently on a
    cluster. At 100 TB, swap exact distinct for HLL and this is the
    standard table-health job."""
    from functools import reduce

    t = load_tables(spark, sf_dir)

    def str_of(c: str, kind: str, agg) -> F.Column:
        col = agg(c)
        if kind == "num2":
            return col.cast("decimal(18,2)").cast("string")
        if kind == "ts":
            return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        return col.cast("string")

    cols = [
        ("o_orderkey", "int"),
        ("o_custkey", "int"),
        ("o_orderstatus", "str"),
        ("o_totalprice", "num2"),
        ("o_orderdate", "ts"),
        ("o_orderpriority", "str"),
    ]
    parts = [
        t.orders.agg(
            F.lit(c).alias("col"),
            F.count(c).alias("n_nonnull"),
            (F.count(F.lit(1)) - F.count(c)).alias("n_null"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
            str_of(c, kind, F.min).alias("min_s"),
            str_of(c, kind, F.max).alias("max_s"),
        )
        for c, kind in cols
    ]
    return reduce(DataFrame.unionAll, parts)


# ---------------------------------------------------------------- quantiles


@query(
    "q_quantiles",
    oracle="""
    WITH q AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, CAST(d AS INT) AS decile, round(qs[d], 6) AS value
    FROM q, UNNEST(generate_series(1, 9)) AS t(d)
    """,
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated deciles of order value per priority class —
    the distribution table behind SLA dashboards and skew checks.
    Spark's `percentile` evaluates all nine quantiles in one sort per
    group (one aggregate, the array is computed once); `posexplode`
    fans the array to rows. Both engines use the same linear
    interpolation (type-7), so values match to 6 dp. At 100 TB you'd
    swap in `approx_percentile` with a bounded error — same plan,
    sketch instead of sort."""
    t = load_tables(spark, sf_dir)
    qs = F.expr(
        "percentile(o_totalprice, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
    )
    return (
        t.orders.groupBy("o_orderpriority")
        .agg(qs.alias("qs"))
        .select(
            "o_orderpriority", F.posexplode("qs").alias("pos", "v")
        )
        .select(
            "o_orderpriority",
            (F.col("pos") + 1).cast("int").alias("decile"),
            F.round("v", 6).alias("value"),
        )
    )


# ---------------------------------------------------------------- sampling


@query(
    "q_sample_stratified",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2)
          < CASE WHEN o_orderpriority = '1-URGENT' THEN '1a' ELSE '05' END
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified reproducible sampling: ~10% of urgent orders, ~2% of
    everything else, selected by md5-prefix of the key rather than an
    RNG — the same rows come back from any engine, any partitioning,
    any run (the property a train/eval split must have). Pure
    scan-local filter: no shuffle, no state, trivially parallel at
    any scale; per-stratum rates are just a CASE over the hash
    threshold."""
    t = load_tables(spark, sf_dir)
    threshold = F.when(F.col("o_orderpriority") == "1-URGENT", "1a").otherwise("05")
    return t.orders.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) < threshold
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


# ---------------------------------------------------------------- SQL surface

# Money accumulates as scaled-BIGINT fixed point (exact and
# order-insensitive like the DECIMAL(25,6) formulation it replaced,
# but plain long adds — the fpsum pattern from the pricing agg;
# measured ~1.6× on this query's hot path).
_SQL_NATION_SHARE = """
    WITH rev AS (
      SELECT n_name,
             SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev_fp
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name,
           CAST(rev_fp AS DOUBLE) / 10000.0 AS revenue,
           round(CAST(rev_fp AS DOUBLE) / CAST(SUM(rev_fp) OVER () AS DOUBLE),
                 6) AS share
    FROM rev
"""


@query("q_sql_interface", oracle=_SQL_NATION_SHARE)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry surface: the IDENTICAL ANSI text runs on Spark
    (via the temp views `load_tables` registers) and on DuckDB as its
    own oracle — one string, two engines, hash-equal results. This is
    the contract that makes the engine drop-in for SQL-first users:
    revenue per nation plus its global share via a windowed total
    (decimal-exact so the window sum is order-insensitive)."""
    t = load_tables(spark, sf_dir)  # registers temp views
    return spark.sql(_SQL_NATION_SHARE)


# ---------------------------------------------------------------- pagerank

PR_ITERS = 3
DAMP = 0.85


def _build_word_graph(t):
    """Builder for the stored ``word_graph`` layout: directed bigram
    edges with counts and source totals — shared by [[q_pagerank]]
    (ranking) and [[q_triangles]] (undirected projection)."""

    def build() -> DataFrame:
        # spread pays in the build (single-row-group input, corpus-
        # sized tokenize); the stored table is vocab²-bounded
        edges = (
            word_pairs(spread(t.documents))
            .groupBy("w1", "w2")
            .agg(F.count(F.lit(1)).alias("wt"))
        )
        outw = edges.groupBy("w1").agg(F.sum("wt").alias("tot"))
        return edges.join(outw, "w1")

    return build


def _pr_oracle() -> str:
    """Unrolled fixed-iteration PageRank in pure SQL (DuckDB side).

    Each iteration's incoming-mass sum is decimal-exact (order-
    insensitive) so the recurrence stays bit-identical across
    engines; dangling mass is ignored (every node in this graph has
    out-edges, and the spec is identical on both sides regardless).
    """
    base = """
    WITH tok AS (
      SELECT string_split(lower(text), ' ') AS ts FROM documents
    ), pairs AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    ), edges AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS wt FROM pairs GROUP BY 1, 2
    ), outw AS (
      SELECT w1, CAST(SUM(wt) AS BIGINT) AS tot FROM edges GROUP BY 1
    ), e AS (
      SELECT edges.w1, edges.w2, edges.wt, outw.tot
      FROM edges JOIN outw ON edges.w1 = outw.w1
    ), nodes AS (
      SELECT w1 AS node FROM edges UNION SELECT w2 FROM edges
    ), cnt AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
    ), r0 AS (
      SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN cnt
    )"""
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        base += f""", r{k} AS (
      SELECT nodes.node,
             0.15 / n + {DAMP} * coalesce(s.m, 0.0) AS r
      FROM nodes CROSS JOIN cnt
      LEFT JOIN (
        SELECT e.w2 AS node,
               CAST(SUM(CAST({prev}.r * e.wt / e.tot AS DECIMAL(25,12)))
                    AS DOUBLE) AS m
        FROM e JOIN {prev} ON e.w1 = {prev}.node
        GROUP BY e.w2
      ) s ON s.node = nodes.node
    )"""
        prev = f"r{k}"
    return base + f"""
    SELECT node, round(r, 6) AS pagerank FROM {prev}
    """


@query("q_pagerank", oracle=_pr_oracle())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the word-bigram transition graph, three
    synchronous iterations — the iterative-algorithm shape (shared
    edge table, loop of join + aggregate) that also covers label
    propagation and embedding-graph ranking. The edge table is the
    stored word_graph layout; each iteration shuffles only |nodes|
    rank rows, never the corpus. The oracle is the SAME recurrence
    unrolled as SQL, with each iteration's mass sum decimal-exact so
    accumulation order can't diverge between engines."""
    from lakehouse_app_spark.sources.layout import derived_table

    t = load_tables(spark, sf_dir)

    # the word co-occurrence graph is a STORED LAYOUT (built once per
    # corpus — graph extraction is ingest work, iteration is query
    # work); each ranking run reads (w1, w2, wt, tot) and never
    # touches document text. q_triangles reads the same layout.
    e = derived_table(spark, "word_graph", sf_dir, _build_word_graph(t))
    nodes = e.select(F.col("w1").alias("node")).union(e.select("w2")).distinct()
    cnt = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = nodes.crossJoin(F.broadcast(cnt)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(PR_ITERS):
        # rank table is one row per vocab node — orders of magnitude
        # smaller than the edge table, so broadcast it: each iteration
        # then streams the stored edges through a broadcast-hash
        # join with zero edge shuffle (the only exchange left is the
        # |nodes|-row mass aggregation).
        mass = (
            e.join(F.broadcast(r), e["w1"] == r["node"])
            .select(
                F.col("w2").alias("node"),
                (F.col("r") * F.col("wt") / F.col("tot")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum(F.col("c").cast("decimal(25,12)")).cast("double").alias("m"))
        )
        r = (
            nodes.crossJoin(F.broadcast(cnt))
            .join(F.broadcast(mass), "node", "left")
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(DAMP) * F.coalesce("m", F.lit(0.0))
                ).alias("r"),
            )
        )
    return r.select("node", F.round("r", 6).alias("pagerank"))


# ---------------------------------------------------------------- entropy/KL


@query(
    "q_entropy_kl",
    oracle="""
    WITH sl AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ), stot AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS s_n FROM sl GROUP BY 1
    ), ltot AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS l_n FROM sl GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t_n FROM sl
    )
    SELECT sl.source,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(-(n / s_n) * ln(n / s_n) AS DECIMAL(25,12)))
                      AS DOUBLE), 6) AS entropy,
           round(CAST(SUM(CAST((n / s_n) * ln((n / s_n) / (l_n / t_n))
                               AS DECIMAL(25,12))) AS DOUBLE), 6) AS kl_vs_corpus
    FROM sl
    JOIN stot ON sl.source = stot.source
    JOIN ltot ON sl.lang = ltot.lang
    CROSS JOIN tot
    GROUP BY sl.source
    """,
)
def q_entropy_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift metrics per document source: Shannon entropy
    of its language mix and KL divergence against the corpus-wide
    language distribution — the statistical test a training-data
    pipeline runs to catch a source whose composition shifted. One
    (source, lang) aggregate feeds everything; the marginals are tiny
    re-aggregations of that table (never a second corpus scan) that
    broadcast back. Per-group term sums are decimal-exact so the
    few-term float accumulation can't diverge between engines."""
    t = load_tables(spark, sf_dir)
    sl = t.documents.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    # marginals/total as window sums over the (source, lang)
    # table instead of three rollup-and-broadcast-back joins — each
    # broadcast build was its own floor-priced job (the q_mutual_info
    # treatment, r14). The global-total window runs on one partition,
    # which is exactly right for a vocabulary-sized aggregate.
    from pyspark.sql import Window

    sl = sl.select(
        "source",
        "lang",
        "n",
        F.sum("n").over(Window.partitionBy("source")).alias("s_n"),
        F.sum("n").over(Window.partitionBy("lang")).alias("l_n"),
        F.sum("n").over(Window.partitionBy()).alias("t_n"),
    )
    p = F.col("n") / F.col("s_n")
    q = F.col("l_n") / F.col("t_n")
    dec = "decimal(25,12)"
    return (
        sl.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.round(
                F.sum((-p * F.log(p)).cast(dec)).cast("double"), 6
            ).alias("entropy"),
            F.round(
                F.sum((p * F.log(p / q)).cast(dec)).cast("double"), 6
            ).alias("kl_vs_corpus"),
        )
    )


# ---------------------------------------------------------------- triangles


@query(
    "q_triangles",
    oracle="""
    WITH tok AS (
      SELECT string_split(lower(text), ' ') AS ts FROM documents
    ), pairs AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    ), und AS (
      SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
      FROM pairs WHERE w1 <> w2
    ), tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n
      FROM und e1
      JOIN und e2 ON e1.b = e2.a
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ), deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ), wed AS (
      SELECT CAST(SUM(d * (d - 1)) AS BIGINT) AS w2x FROM deg
    )
    SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
           (SELECT n FROM tri) AS n_triangles,
           round(6.0 * (SELECT n FROM tri) / (SELECT w2x FROM wed), 6)
             AS global_clustering
    FROM (SELECT 1)
    """,
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient over the
    undirected word-cooccurrence graph — the graph-analytics summary
    alongside [[q_pagerank]]'s centrality. Edges are canonically
    oriented (least, greatest), which is exactly the orientation
    trick that makes distributed triangle enumeration feasible: each
    triangle is produced once, and the two-hop join only extends in
    one direction (at web scale you orient by degree instead of
    lexicographically, same plan shape). The closed-form clustering
    denominator (wedges = Σ d(d-1)/2) comes from one degree
    aggregate — no wedge enumeration. All joins here run over the
    deduplicated edge list, orders of magnitude smaller than the
    corpus that produced it."""
    # edges come from the STORED word_graph layout (q_pagerank's
    # ingest artifact) — the undirected distinct edge set is a pure
    # projection of it, so triangle counting never re-tokenizes the
    # corpus (review r6: the inline rebuild re-scanned document text
    # single-threaded on every run)
    from lakehouse_app_spark.sources.layout import derived_table

    t = load_tables(spark, sf_dir)
    graph = derived_table(spark, "word_graph", sf_dir, _build_word_graph(t))
    # No persist (r6 regression fix: caching a vocab-bounded edge set
    # forced a blocking materialization stage that dominated the
    # one-shot runtime; each consumer branch re-reads the tiny stored
    # layout instead). The two-hop extension sides are broadcast: the
    # DISTINCT undirected bigram edge list is vocab-co-occurrence-
    # bounded index metadata, orders of magnitude smaller than the
    # corpus that produced it — for general graphs whose edge lists
    # scale with data, drop the hints and orient by degree (the
    # docstring's web-scale note); the plan shape is unchanged.
    und = (
        graph.where(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
    )
    e2 = F.broadcast(und.select(F.col("a").alias("b2"), F.col("b").alias("c")))
    e3 = F.broadcast(
        und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    )
    tri = (
        und.join(e2, und.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1)).alias("w2x"),
    ).crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
    return summary.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        F.col("n").alias("n_triangles"),
        F.round(F.lit(6.0) * F.col("n") / F.col("w2x"), 6).alias(
            "global_clustering"
        ),
    )
