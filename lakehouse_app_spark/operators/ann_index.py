"""Learned IVF index build: deterministic Lloyd's + stored layout.

Round-3 verdict items 1a/3: the IVF tier previously (a) pinned its
centroids to the first-k corpus vectors and (b) recomputed the full
cluster assignment inline inside every probe. This module replaces
both with the real index lifecycle the reference's server-side index
implies (`app/vector_search.py:24-27` — the index is trained and
built BEFORE any query runs):

* **Learned codebook** — k-means, but as *deterministic fixed-point
  Lloyd's* rather than MLlib ``KMeans``: seeds are the first-k
  vectors, each round is (argmax-cosine assignment on 6-dp-rounded
  sims with cid tie-break) → (per-cluster per-dimension mean via
  scaled-BIGINT exact sums, re-rounded to 6 dp). Every arithmetic
  step is order-insensitive and reproducible in ANSI SQL, so the
  DuckDB oracle runs the *identical* training loop and the queries
  stay exact-oracle — the property MLlib's seed-dependent partial
  aggregation cannot give (SURVEY.md §5.3).

* **Assignment as layout, not recompute** — the trained assignment
  is materialized ONCE per corpus through
  :func:`~lakehouse_app_spark.sources.layout.derived_table`,
  partitioned by ``cid``; probes then read n_probe partitions via a
  literal partition filter (``PartitionFilters`` in the scan — the
  plan test pins it). At 100 TB this is the ingest job + catalog
  table; only the path changes.

* **Shuffle-free assignment** — the scoring pass carries the whole
  codebook to every row as ONE broadcast-joined array-of-structs
  column and takes ``array_max`` over per-centroid (sim, -cid)
  structs: a pure projection (no corpus×k row blowup, no window
  shuffle). Lloyd's per-round cost is one corpus scan plus a
  k×dims-sized aggregate — MLlib's own training shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.operators.vectors import as_double_array, cosine_sim
from lakehouse_app_spark.sources.layout import derived_table
from lakehouse_app_spark.sources.tables import load_tables


def with_cid(df: DataFrame, emb: Column, cents: DataFrame) -> DataFrame:
    """Add the argmax-cosine cluster id as a pure projection.

    The codebook (small by construction) is packed into a single
    array<struct<cid,cvec>> on one broadcast row; per data row the
    assignment is ``array_max`` over (rounded sim, -cid) structs —
    highest similarity wins, ties to the lowest cid. No shuffle, no
    corpus×k intermediate."""
    packed = cents.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("cvec"))).alias("cb")
    )
    # fail LOUDLY on an empty codebook: collect_list over zero rows
    # still yields one row with an empty array, whose array_max is
    # NULL — every vector would get cid NULL and the durable layout
    # would commit a poisoned cid=__HIVE_DEFAULT_PARTITION__
    # assignment that probe queries silently read forever (review r6)
    packed = packed.select(
        F.when(
            F.size("cb") > 0, F.col("cb")
        ).otherwise(
            F.raise_error(F.lit("with_cid: empty centroid codebook"))
        ).alias("cb")
    )
    best = F.array_max(
        F.transform(
            F.col("cb"),
            lambda c: F.struct(
                F.round(cosine_sim(emb, c["cvec"]), 6).alias("s"),
                (-c["cid"]).alias("n"),
            ),
        )
    )
    return (
        df.join(F.broadcast(packed))
        .withColumn("cid", (-best["n"]).cast("int"))
        .drop("cb")
    )


def lloyd_means(asg: DataFrame, with_n: bool = False) -> DataFrame:
    """One Lloyd mean step: per-(cid, dimension) fixed-point mean of
    an assignment frame carrying (cid, emb), reassembled into a
    ``(cid, cvec)`` codebook. The mean is an exact scaled-BIGINT sum
    (order-insensitive) divided in double and re-rounded to 6 dp —
    bit-identical in any engine following the recipe. Shared by the
    training loop and the [[q_ann_ivf_retrain]] maintenance step
    (which feeds it the STORED assignment layout instead of a fresh
    assignment pass). ``with_n=True`` carries per-cluster occupancy
    out of the SAME pass (the member count already sits on every
    (cid, pos) group), so retrain's skew gate costs no extra scan —
    A/B'd against a separate occupancy aggregate and won every
    paired rep (0.696 vs 0.751 s min-of-4 at sf0.1)."""
    extra = [F.count(F.lit(1)).alias("n")] if with_n else []
    means = (
        asg.select("cid", F.posexplode("emb").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(
            F.round(
                F.sum(F.round(F.col("v") * 1000000.0, 0).cast("long"))
                .cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0),
                6,
            ).alias("v"),
            *extra,
        )
    )
    extra_out = [F.max("n").alias("n")] if with_n else []
    return means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s["v"],
        ).alias("cvec"),
        *extra_out,
    )


def lloyd_cents(emb_df: DataFrame, n: int, iters: int) -> DataFrame:
    """Deterministic Lloyd's: first-``n`` seeds, ``iters`` rounds of
    assign → fixed-point per-dimension mean. Each round's mean is an
    exact scaled-BIGINT sum (order-insensitive) divided in double and
    re-rounded to 6 dp, so the learned codebook is bit-identical in
    any engine that follows the same recipe (the oracle does)."""
    cents = emb_df.where(F.col("vec_id") < n).select(
        F.col("vec_id").cast("int").alias("cid"),
        as_double_array("embedding").alias("cvec"),
    )
    for _ in range(iters):
        asg = with_cid(
            emb_df.select(as_double_array("embedding").alias("emb")),
            F.col("emb"),
            cents,
        )
        # materialize per round: keeps the next round's broadcast plan
        # shallow and runs each corpus pass exactly once (k×dims rows)
        cents = lloyd_means(asg).localCheckpoint(eager=True)
    return cents


def ivf_index(
    spark: SparkSession, sf_dir: str, name: str, n: int, iters: int
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment) read from the stored layout, building
    it on first use — the ingest-time half of IVF. The assignment
    table is partitioned by ``cid`` so probes prune at the scan."""
    t = load_tables(spark, sf_dir)
    cents = derived_table(
        spark,
        f"{name}_cents",
        sf_dir,
        lambda: lloyd_cents(t.embeddings, n, iters),
    )
    assigned = derived_table(
        spark,
        f"{name}_assign",
        sf_dir,
        lambda: with_cid(
            t.embeddings.select(
                "vec_id", as_double_array("embedding").alias("emb")
            ),
            F.col("emb"),
            cents,
        ).select("vec_id", "emb", "cid"),
        partition_by=["cid"],
    )
    return cents, assigned


def lloyd_sql(n: int, iters: int) -> tuple[str, str, str]:
    """The oracle's replica of :func:`lloyd_cents` +
    final assignment, as a CTE chain. Returns (cte_sql,
    final_cents_name, final_assign_name); embed into ``WITH``."""
    parts = [
        f"""cents0 AS (
      SELECT CAST(vec_id AS INT) AS cid, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < {n}
    )"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""asg{i} AS (
      SELECT vec_id, emb, cid FROM (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cid) AS rn
        FROM embeddings e, cents{i} c
      ) WHERE rn = 1
    )"""
        )
        if i < iters:
            parts.append(
                f"""cents{i + 1} AS (
      SELECT cid, list(v ORDER BY pos) AS cvec FROM (
        SELECT cid, pos,
               round(CAST(SUM(CAST(round(v * 1000000.0) AS BIGINT)) AS DOUBLE)
                     / COUNT(*) / 1000000.0, 6) AS v
        FROM (SELECT cid, generate_subscripts(emb, 1) AS pos,
                     unnest(emb) AS v FROM asg{i})
        GROUP BY cid, pos
      ) GROUP BY cid
    )"""
            )
    return ",\n    ".join(parts), f"cents{iters}", f"asg{iters}"
