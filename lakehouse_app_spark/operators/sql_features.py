"""Modern SQL-surface features: recursive CTEs (iterative queries in
pure SQL), the VARIANT semi-structured type (Spark 4), and LATERAL
correlated subqueries.

These are engine-surface capabilities a user switching from any
mature warehouse expects; each is declared through `spark.sql` /
expression API so Catalyst owns the rewrite (decorrelation, recursion
fixpoint) rather than hand-rolled loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.registry import query
from lakehouse_app_spark.sources.tables import load_tables


@query(
    "q_recursive_cte",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT ts[i] AS w1, ts[i + 1] AS w2
      FROM (SELECT string_split(lower(text), ' ') AS ts FROM documents),
           UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    ), reach(node, hop) AS (
      SELECT 'join' AS node, 0 AS hop
      UNION ALL
      SELECT e.w2, r.hop + 1
      FROM reach r JOIN edges e ON e.w1 = r.node
      WHERE r.hop < 3
    )
    SELECT node, CAST(min(hop) AS INT) AS min_hops
    FROM reach GROUP BY node
    """,
)
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): breadth-first
    reachability over the word-bigram graph from the seed 'join',
    hop-capped at 3 — the transitive-closure shape (org charts, BOM
    explosions, graph reachability) expressed as pure SQL instead of
    a driver loop. UNION ALL recursion (the variant Spark 4
    supports) enumerates hop-stamped paths; the hop cap bounds the
    expansion and the min-hop aggregate is path-multiplicity
    invariant, so both engines agree exactly.

    The edge list is materialized (persisted temp view) before the
    recursion starts: Spark's UnionLoop re-evaluates the step plan
    every iteration, so an inline ``edges`` CTE would re-run the
    explode+DISTINCT once per hop — the graph is built once, the
    loop only joins against it."""
    from lakehouse_app_spark.operators.dedup import word_pairs
    from lakehouse_app_spark.runtime_cache import scoped_persist

    t = load_tables(spark, sf_dir)
    edges = word_pairs(t.documents).distinct().transform(scoped_persist)
    edges.createOrReplaceTempView("bigram_edges")
    return spark.sql(
        """
        WITH RECURSIVE reach(node, hop) AS (
          SELECT 'join' AS node, 0 AS hop
          UNION ALL
          SELECT e.w2, r.hop + 1
          FROM reach r JOIN bigram_edges e ON e.w1 = r.node
          WHERE r.hop < 3
        )
        SELECT node, CAST(min(hop) AS INT) AS min_hops
        FROM reach GROUP BY node
        """
    )


@query(
    "q_variant_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the VARIANT type (Spark 4):
    `parse_json` converts the payload string to a binary variant
    ONCE, `variant_get` extracts a typed path without re-parsing —
    at 100 TB this is the difference between parsing JSON text per
    field access (get_json_object) and navigating a decoded binary
    tree; variant also pushes into shredded storage as Parquet
    matures. Grouped by the extracted key's decile bucket."""
    t = load_tables(spark, sf_dir)
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        t.events.select((F.floor(k / 10)).cast("bigint").alias("k_decile"), "value")
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )


@query(
    "q_lateral_topk",
    oracle="""
    SELECT n_name, s.c_name, s.c_acctbal
    FROM nation, LATERAL (
      SELECT c_name, c_acctbal
      FROM customer
      WHERE c_nationkey = n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 1
    ) s
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: the richest-customer-per-nation
    lookup written the way SQL users write it (a per-row dependent
    subquery with ORDER BY ... LIMIT 1). Catalyst decorrelates this
    into a ranked window over one shuffle — proof the engine turns
    the intuitive correlated form into the scalable set-based plan
    instead of executing |nation| separate probes. The identical
    text runs on both engines."""
    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, s.c_name, s.c_acctbal
        FROM nation, LATERAL (
          SELECT c_name, c_acctbal
          FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 1
        ) s
        """
    )
