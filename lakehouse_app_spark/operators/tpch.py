"""TPC-H classic query shapes — all 22 declared (Q1 lives as
q_agg_pricing in operators/aggregates.py) — adapted to the testdata
star schema: no l_commitdate/l_shipmode/o_comment/p_container, so
Q4/Q12/Q13/Q16/Q17/Q20/Q21 swap the missing predicate column for an
equivalent one, keeping the plan shape (noted per query), and the
partsupp-central Q2/Q11 run over the dbgen-formula-DERIVED partsupp
at the bottom of this module.

These pin the composed plans a warehouse lives on: selective dim
filter → fact joins → aggregate → top-k (Q3), correlated EXISTS with
a non-equi conjunct (Q4), a 6-way snowflake join with a
cycle-closing equality (Q5), pure scan+filter+global agg (Q6),
dual-aliased dimension with disjunctive cross-nation predicate (Q7),
8-relation conditional-ratio market share (Q8), returned-item
customer ranking (Q10), shuffle-free promo percentage (Q14),
OR-of-conjunct-groups join predicate (Q19), grouped HAVING →
semi-join (Q18), and scalar-subquery + anti-join (Q22). Revenue/
quantity sums use the exact-decimal contract so ORDER BY / HAVING
boundaries are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.functions.compat import DEC, dsum, fp_long, fp_long_sum, fpsum
from lakehouse_app_spark.registry import query
from lakehouse_app_spark.runtime_cache import scoped_persist
from lakehouse_app_spark.sources.tables import load_tables


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping-priority shape: the selective customer filter
    reaches the scan, joins shuffle once each on their keys, and the
    final top-10 is TakeOrderedAndProject — never a full sort."""
    t = load_tables(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(fpsum(revenue, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity * 10000) AS BIGINT)) > 1400000
    )
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume-customer shape: grouped HAVING feeding an
    IN-subquery — expressed as an aggregate + left-semi join (what
    Catalyst rewrites the IN into anyway). Exact-decimal HAVING
    boundary, so membership is identical across engines."""
    t = load_tables(spark, sf_dir)
    big_orders = (
        t.lineitem.groupBy("l_orderkey")
        .agg(fp_long_sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 1400000)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        t.orders.join(
            big_orders, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi"
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(fpsum("l_quantity", "total_qty"))
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier-volume shape: a 6-way snowflake join whose
    last edge (c_nationkey = s_nationkey) closes a cycle — the plan
    that exercises join reordering hardest. region/nation/supplier
    are broadcast (dims ≪ facts), so the only shuffles are the two
    fact joins; the cycle edge becomes a post-join filter Catalyst
    pushes into the supplier join. 5-row result regardless of SF."""
    t = load_tables(spark, sf_dir)
    y96 = F.lit("1996-01-01").cast("timestamp_ntz")
    y97 = F.lit("1997-01-01").cast("timestamp_ntz")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where((F.col("o_orderdate") >= y96) & (F.col("o_orderdate") < y97))
        .join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(t.supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(fpsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item-reporting shape: quarter-scoped fact joins,
    returnflag filter pushed to the lineitem scan, grouped revenue
    per customer, top-20 via TakeOrderedAndProject. The nation dim
    broadcasts; the l_returnflag predicate lands in PushedFilters so
    the scan skips ~4/5 of lineitem row groups at scale."""
    t = load_tables(spark, sf_dir)
    q_start = F.lit("1996-07-01").cast("timestamp_ntz")
    q_end = F.lit("1996-10-01").cast("timestamp_ntz")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.customer.join(t.orders, F.col("c_custkey") == F.col("o_custkey"))
        .where((F.col("o_orderdate") >= q_start) & (F.col("o_orderdate") < q_end))
        .join(
            t.lineitem.where(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(fpsum(revenue, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting-revenue shape: pure scan + filter + global agg,
    zero joins — the query that measures raw scan throughput. All
    three predicates (date range, discount band, quantity cap) land
    in the parquet PushedFilters, so at 100 TB the scan skips row
    groups on l_shipdate min/max stats; no shuffle at all (partial
    agg → single final row)."""
    t = load_tables(spark, sf_dir)
    li = t.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
             AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume-shipping shape: two aliased copies of the nation dim
    (supplier side and customer side) with a disjunctive cross-nation
    predicate. Both nation joins broadcast; the OR over the two name
    columns can only be applied after both joins, so Catalyst places
    it as a post-broadcast-join filter — the canonical "predicate
    spans two dimensions" plan. Year bucketing happens after the
    joins on already-filtered rows."""
    t = load_tables(spark, sf_dir)
    n1 = t.nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.supplier.join(t.lineitem, F.col("s_suppkey") == F.col("l_suppkey"))
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .join(t.orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t.customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(dsum(revenue, "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q_tpch_q8",
    oracle="""
    SELECT l_year,
           round(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                               AS DECIMAL(25,6))) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(25,6))) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) nations
    GROUP BY l_year
    ORDER BY l_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national-market-share shape: the widest join tree in the
    suite (part, lineitem, supplier, orders, customer, nation×2,
    region = 8 relations) feeding a conditional-ratio aggregate.
    part/supplier/nation/region broadcast; only orders⋈lineitem and
    orders⋈customer shuffle. The share divides two exact-decimal
    sums of the SAME volume expression, so both engines divide
    bitwise-identical operands (round is cosmetic)."""
    t = load_tables(spark, sf_dir)
    n1 = t.nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t.nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    base = (
        F.broadcast(t.part.where(F.col("p_type") == "ECONOMY"))
        .join(t.lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            t.orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(t.region), F.col("n2_region") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .select(
            F.year("o_orderdate").cast("bigint").alias("l_year"),
            volume,
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(0.0).cast(DEC)
    ).cast("double")
    den = F.sum(F.col("volume").cast(DEC)).cast("double")
    return (
        base.groupBy("l_year")
        .agg(F.round(num / den, 6).alias("mkt_share"))
        .orderBy("l_year")
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT round(
             100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                        THEN l_extendedprice * (1 - l_discount)
                                        ELSE 0 END AS DECIMAL(25,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE),
             6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion-effect shape: month-scoped fact scan, broadcast
    part join, single-row conditional-percentage aggregate. The
    one-month shipdate band is the row-group pruning showcase — at
    100 TB a shipdate-partitioned lineitem reads ~1/80th of its
    files; the part side broadcasts so the whole plan is
    shuffle-free (partial agg → 1 row)."""
    t = load_tables(spark, sf_dir)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        t.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(F.broadcast(t.part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    num = F.sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0).cast(DEC)
    ).cast("double")
    den = F.sum(rev.cast(DEC)).cast("double")
    return joined.agg(F.round(F.lit(100.0) * num / den, 6).alias("promo_revenue_pct"))


@query(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
             AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted-revenue shape: a disjunction of three conjunct
    groups that each mix build-side (p_brand, p_size) and probe-side
    (l_quantity) columns. Catalyst derives the single-side residuals
    it CAN push (brand IN (...) to the part scan, quantity envelope
    to the lineitem scan) and evaluates the full OR after the
    broadcast join — the classic test that an engine doesn't fall
    back to a cartesian plan on OR predicates."""
    t = load_tables(spark, sf_dir)
    g1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    g2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    g3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        t.lineitem.join(
            F.broadcast(t.part.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .where(g1 | g2 | g3)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_tpch_q22",
    oracle="""
    SELECT c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_nationkey < 7
      AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
                              / count(*)
                       FROM customer
                       WHERE c_acctbal > 0.0 AND c_nationkey < 7)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1996-01-01'
                        AND o_orderdate <  TIMESTAMP '1996-04-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales-opportunity shape: scalar subquery (average
    balance of positive-balance customers in-scope) feeding a filter,
    then an anti-join against orders (scoped to 1996-Q1 — in this
    dataset every customer has SOME order, so the classic "never
    ordered" form is degenerately empty), then a grouped count/sum.
    The scalar aggregate is one row — Spark plans it as a subquery
    broadcast; the anti-join shuffles only customers that survive the
    balance filter (a small fraction), with orders deduplicated to
    its key column before the anti side at scale. The nationkey
    stands in for TPC-H's phone country code."""
    t = load_tables(spark, sf_dir)
    in_scope = t.customer.where(F.col("c_nationkey") < 7)
    avg_bal = (
        in_scope.where(F.col("c_acctbal") > 0.0)
        .agg((F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("a"))
        .select("a")
    )
    rich = in_scope.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("a"))
    q1_orders = t.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    ).select("o_custkey")
    no_orders = rich.join(
        q1_orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority-checking shape (adapted: the testdata has no
    l_commitdate/l_receiptdate, so the EXISTS predicate is "some line
    shipped after the order date"). A correlated EXISTS with an extra
    non-equi conjunct — Spark executes it as a left-semi join whose
    condition carries both the key equality and the date inequality,
    so the semi probe short-circuits on first match per order instead
    of materializing the multiplicity."""
    t = load_tables(spark, sf_dir)
    scoped = t.orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    hit = scoped.join(
        t.lineitem.select("l_orderkey", "l_shipdate"),
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer-distribution shape (adapted: the o_comment NOT
    LIKE filter becomes an o_orderpriority exclusion — same
    join-level predicate position): LEFT join so zero-order
    customers survive with count 0, then a second aggregation turns
    per-customer counts into a histogram. Two shuffles total
    (custkey, then the tiny c_count key); the join predicate filters
    the probe side before the join, never after — the
    left-join-with-ON-filter semantics Q13 exists to test."""
    t = load_tables(spark, sf_dir)
    per_cust = (
        t.customer.join(
            t.orders.where(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
    FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top-supplier shape: a windowed-quarter revenue aggregate
    consumed TWICE (once for the scalar max, once as the join
    input). The aggregate is computed once and reused via persist —
    the "CREATE VIEW revenue0" of the original — and the scalar max
    arrives as a 1-row broadcast crossjoin filter, not a re-scan.
    Equality against the max is safe because the revenue sum uses
    the exact-decimal contract (bit-identical on both engines)."""
    t = load_tables(spark, sf_dir)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev0 = (
        t.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(revenue, "total_revenue"))
        .transform(scoped_persist)
    )
    mx = rev0.agg(F.max("total_revenue").alias("mx"))
    return (
        t.supplier.join(rev0, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 4).alias("total_revenue"),
        )
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
                 / 7.0, 4) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1' AND p_type = 'ECONOMY'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order shape (adapted: p_container becomes
    p_type — same selective dim predicate): the correlated per-part
    average must decorrelate into ONE grouped aggregate joined back,
    not a per-row re-scan of lineitem. Expressed directly as that
    decorrelated plan: part-filtered lineitem ⋈ per-part thresholds.
    The threshold compare (0.2×avg of integer-valued quantities) is
    exact in double, so both engines cut the same rows."""
    t = load_tables(spark, sf_dir)
    sel_parts = t.part.where(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "ECONOMY")
    )
    # thresholds ONLY for the filtered parts (semi-join first): the
    # full per-partkey aggregate spans the whole part dimension and a
    # forced broadcast of it would blow up at scale — the filtered
    # set is the small side the hint is actually safe for (review r6)
    thresholds = (
        t.lineitem.join(
            sel_parts.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("tp_key"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut"))
    )
    sel = (
        sel_parts
        .join(t.lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(thresholds), F.col("p_partkey") == F.col("tp_key"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
    )
    return sel.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / 7.0, 4
        ).alias("avg_yearly")
    )


@query(
    "q_tpch_q21",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 waiting-supplier shape (adapted: the receipt>commit
    lateness predicate becomes l_returnflag = 'R' — the dataset's
    "failed delivery" marker): the definitive EXISTS + NOT-EXISTS
    pair over the same fact table. Both quantifiers become
    orderkey-equi joins with a suppkey-inequality residual — a
    left-semi and a left-anti that reuse the l_orderkey
    partitioning; no correlated re-execution."""
    t = load_tables(spark, sf_dir)
    l1 = (
        t.lineitem.where(F.col("l_returnflag") == "R")
        .join(
            t.orders.where(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = t.lineitem.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = t.lineitem.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(
        l2, (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3, (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    return (
        cand.join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---- round-4: the remaining TPC-H shapes expressible on this schema
# (q2/q11 are partsupp-central; they run over the DERIVED partsupp
# below, closing the last TPC-H gap — all 22 shapes now declared,
# with Q1 as q_agg_pricing)


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-modes-and-priority shape (adapted: no l_shipmode /
    commit/receipt dates in the fixtures, so the mode group becomes
    l_returnflag and the lateness predicate becomes shipped-after-
    order). The load-bearing shape survives: fact-fact equi-join with
    a residual date inequality feeding conditional CASE sums — one
    shuffle on the join key, priority classification map-side."""
    t = load_tables(spark, sf_dir)
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t.orders.join(t.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") > F.col("o_orderdate"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q9",
    oracle="""
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(25,6))) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.01 * p_retailprice * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type-profit shape (adapted: no partsupp, so supply
    cost is proxied as 1% of p_retailprice per unit — the algebra and
    plan shape are Q9's: part-filtered 5-way join, profit expression,
    (nation, year) rollup). Profit can be negative, so the sum is the
    exact DECIMAL path (dsum), not fpsum. Dims broadcast; the only
    large shuffles are the two fact joins."""
    t = load_tables(spark, sf_dir)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.01 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        t.part.where(F.col("p_name").like("%red%"))
        .join(t.lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .join(t.supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", "sum_profit"))
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#11'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier-relationship shape (adapted: the
    part↔supplier relation comes from lineitem instead of the absent
    partsupp, and the 'customer complaints' supplier exclusion
    becomes negative-balance suppliers). The Q16 algebra survives
    intact: NOT IN anti-join against a subquery, multi-predicate dim
    filter, COUNT(DISTINCT) per group."""
    t = load_tables(spark, sf_dir)
    bad = t.supplier.where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        t.part.where(
            (F.col("p_brand") != "Brand#11")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
        )
        .join(t.lineitem, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q20",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(round(l_quantity * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped WHERE qty > 100)
    ORDER BY s_name
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential-part-promotion shape (adapted: the availqty
    threshold over the absent partsupp becomes a shipped-quantity
    threshold derived from lineitem). The Q20 plan skeleton is
    intact: an aggregated scalar per supplier feeding an IN
    (semi-join) filter over the supplier dimension, nation joined
    for the report. The fact aggregate uses fpsum; the semi probe
    broadcasts the small qualified-supplier set."""
    t = load_tables(spark, sf_dir)
    shipped = (
        t.lineitem.join(
            F.broadcast(t.part.where(F.col("p_name").like("small%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(fpsum("l_quantity", "qty"))
        .where(F.col("qty") > 100)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    return (
        t.supplier.join(F.broadcast(shipped), "s_suppkey", "left_semi")
        .join(F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
    )


# ---- round-4b: q2/q11 over a DERIVED partsupp (closes the last gap)

# The fixtures ship no partsupp, but dbgen's partsupp is not data —
# it is a FORMULA over (part × 4 suppliers). This derivation keeps
# the dbgen shape (suppkey striding so a part's suppliers spread
# across the supplier table) adapted to the fixtures' 0-based keys
# and with deterministic cost/qty functions of the keys, so BOTH
# engines derive the identical relation and every partsupp-central
# query becomes exact-oracle-checkable.
_PS_SQL = """
    psb AS (
      SELECT p_partkey, g.i, sc.S,
             (p_partkey + g.i * (sc.S // 4 + p_partkey // sc.S)) % sc.S
               AS ps_suppkey
      FROM part, (SELECT unnest(range(0, 4)) AS i) g,
           (SELECT count(*) AS S FROM supplier) sc
    ),
    partsupp AS (
      SELECT DISTINCT p_partkey AS ps_partkey, ps_suppkey,
             (p_partkey * 13 + ps_suppkey * 17) % 9999 + 1 AS ps_availqty,
             CAST((p_partkey * 31 + ps_suppkey * 7) % 90000 AS DOUBLE)
               / 100.0 + 100.0 AS ps_supplycost
      FROM psb
    )
"""


def derived_partsupp(t) -> DataFrame:
    """The Spark half of the partsupp derivation (see _PS_SQL):
    part × 4 stride-spread suppliers, key-determined cost/qty,
    DISTINCT because small supplier counts can make strides collide.
    Build cost is one part-table pass; at scale this is an ingest
    artifact like the IVF assignment."""
    scnt = t.supplier.agg(F.count(F.lit(1)).alias("S"))
    p, i, S = F.col("p_partkey"), F.col("i"), F.col("S")
    base = (
        t.part.select("p_partkey")
        .crossJoin(F.broadcast(scnt))
        .select(
            "p_partkey",
            "S",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            "p_partkey",
            ((p + i * (F.expr("S div 4") + F.expr("p_partkey div S"))) % S)
            .alias("ps_suppkey"),
        )
    )
    return base.select(
        F.col("p_partkey").alias("ps_partkey"),
        "ps_suppkey",
        ((p * 13 + F.col("ps_suppkey") * 17) % 9999 + 1).alias("ps_availqty"),
        (
            ((p * 31 + F.col("ps_suppkey") * 7) % 90000).cast("double") / 100.0
            + 100.0
        ).alias("ps_supplycost"),
    ).distinct()


@query(
    "q_tpch_q2",
    oracle=f"""
    WITH {_PS_SQL},
    eur AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey, p.p_brand,
             ps.ps_supplycost
      FROM part p
      JOIN partsupp ps ON p.p_partkey = ps.ps_partkey
      JOIN eur e ON ps.ps_suppkey = e.s_suppkey
      WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
    ),
    minc AS (
      SELECT p_partkey, min(ps_supplycost) AS mc FROM cand GROUP BY p_partkey
    )
    SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_brand,
           c.ps_supplycost
    FROM cand c JOIN minc m
      ON c.p_partkey = m.p_partkey AND c.ps_supplycost = m.mc
    ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.p_partkey
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost-supplier shape over the derived partsupp: the
    correlated min-subquery is decorrelated into a per-part min
    aggregate joined back on (part, cost) — exactly Catalyst's own
    RewriteCorrelatedScalarSubquery output, written explicitly so
    both engines run the same decorrelated plan. Cost equality is
    safe: supplycost is an exact 2-decimal double derived
    identically from the keys in both engines. Region/nation/
    supplier are broadcast dims; the only shuffles key on
    p_partkey."""
    t = load_tables(spark, sf_dir)
    ps = derived_partsupp(t)
    eur = (
        t.supplier.join(
            t.nation, F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(t.region, F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    cand = (
        t.part.where(
            F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
        )
        .join(ps, F.col("p_partkey") == F.col("ps_partkey"))
        .join(F.broadcast(eur), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "ps_supplycost",
        )
    ).transform(scoped_persist)
    minc = cand.groupBy(F.col("p_partkey").alias("mp")).agg(
        F.min("ps_supplycost").alias("mc")
    )
    return (
        cand.join(
            F.broadcast(minc),
            (F.col("p_partkey") == F.col("mp"))
            & (F.col("ps_supplycost") == F.col("mc")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "ps_supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q_tpch_q11",
    oracle=f"""
    WITH {_PS_SQL},
    scoped AS (
      SELECT ps_partkey,
             CAST(round(ps_supplycost * ps_availqty * 10000) AS BIGINT)
               AS vi
      FROM partsupp
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = (SELECT min(n_name) FROM nation)
    ),
    per_part AS (
      SELECT ps_partkey,
             CAST(SUM(vi) AS DOUBLE) / 10000.0 AS part_value
      FROM scoped GROUP BY ps_partkey
    ),
    tot AS (
      SELECT CAST(SUM(CAST(vi AS DECIMAL(38,0))) AS DOUBLE) / 10000.0
        AS total_value
      FROM scoped
    )
    SELECT p.ps_partkey, p.part_value
    FROM per_part p, tot
    WHERE p.part_value > tot.total_value * 0.001
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important-stock shape over the derived partsupp: one
    nation's stock value per part, kept where it exceeds a fraction
    of the nation's total — the grouped-aggregate vs scalar-subquery
    HAVING pattern. Value sums use the scaled-BIGINT fixed point
    ([[q_agg_pricing]]'s contract) so the HAVING boundary is
    bit-identical in both engines; the scalar total is a broadcast
    one-row join, and the nation scope makes supplier/nation
    broadcast dims."""
    t = load_tables(spark, sf_dir)
    ps = derived_partsupp(t)
    first_nation = t.nation.agg(F.min("n_name").alias("fn"))
    sup_scope = (
        t.supplier.join(
            t.nation, F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(first_nation), F.col("n_name") == F.col("fn"))
        .select("s_suppkey")
    )
    vi = fp_long(F.col("ps_supplycost") * F.col("ps_availqty"))
    scoped = ps.join(
        F.broadcast(sup_scope), F.col("ps_suppkey") == F.col("s_suppkey")
    ).select("ps_partkey", vi.alias("vi")).transform(scoped_persist)
    per_part = scoped.groupBy("ps_partkey").agg(
        (F.sum("vi").cast("double") / 10000.0).alias("part_value")
    )
    # the GLOBAL total sums scaled longs over the whole nation scope:
    # a plain long sum wraps past 2^63 at very large part counts
    # (DuckDB promotes to HUGEINT and would diverge) — decimal
    # accumulation is exact and order-insensitive at any scale
    # (review r6; the per-part sums stay long: bounded per group)
    tot = scoped.agg(
        (
            F.sum(F.col("vi").cast("decimal(38,0)")).cast("double") / 10000.0
        ).alias("total_value")
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(F.col("part_value") > F.col("total_value") * 0.001)
        .select("ps_partkey", "part_value")
    )
