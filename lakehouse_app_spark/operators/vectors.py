"""Vector similarity operators — the reference's core capability.

The reference's retrieval is a remote ANN call: top-k=3 cosine
similarity against a vector index, returning a projected document set
(`app/vector_search.py:29-33`). Here the corpus is a DataFrame with an
``array<float>`` column, and similarity is a Catalyst expression
(higher-order functions: ``zip_with`` + ``aggregate``) so the whole
top-k plan stays JVM-side inside whole-stage codegen — no Python in
the hot path. A vectorized Arrow ``pandas_udf`` variant exists for the
UDF surface, and an IVF-style partition-pruned variant is the 100 TB
scale path (centroid assignment column → only probed clusters are
scanned).

Determinism (SURVEY.md §5.3): all similarity math is done in DOUBLE
(arrays cast up from float), results rounded to 6 dp, and every
ORDER BY ... LIMIT carries ``vec_id`` as the final tie-breaker.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_app_spark.registry import query
from lakehouse_app_spark.session import width
from lakehouse_app_spark.sources.tables import load_tables


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a sequential JVM-side fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    ))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, pure Catalyst
    expression (stays inside whole-stage codegen)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def query_vector(emb: DataFrame, vec_id: int = 0) -> DataFrame:
    """Single-row DataFrame holding the query vector; joined via
    broadcast so the corpus scan never moves."""
    return (
        emb.where(F.col("vec_id") == vec_id)
        .select(as_double_array("embedding").alias("qv"))
    )


def topk_cosine(emb: DataFrame, qv: DataFrame, k: int = 3) -> DataFrame:
    """Exact top-k by cosine similarity (ref R1: k=3 retrieval).

    Plan shape at scale: broadcast 1-row query vector → projected scan
    computes sim → ``TakeOrderedAndProject`` (per-partition top-k then
    k-way merge on the driver) — no full sort, no shuffle of the corpus.
    """
    scored = emb.join(F.broadcast(qv)).select(
        "vec_id",
        F.round(cosine_sim(as_double_array("embedding"), F.col("qv")), 6).alias("sim"),
    )
    return scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(k)


def _sides(emb: DataFrame, prefix: str) -> DataFrame:
    """One join side for pairwise similarity with the norm hoisted to
    a per-vector column: pair cost drops from 3 array folds to 1
    (dot), with arithmetic bitwise-identical to the unhoisted
    ``cosine_sim`` (same dot / (sqrt(ssq_a) * sqrt(ssq_b)) tree)."""
    return emb.select(
        F.col("vec_id").alias(f"{prefix}_id"),
        F.col("label").alias(f"{prefix}_label"),
        as_double_array("embedding").alias(f"{prefix}_emb"),
        l2_norm(as_double_array("embedding")).alias(f"{prefix}_norm"),
    )


def _pair_sim() -> Column:
    return F.round(
        dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_norm") * F.col("b_norm")), 6
    )


# --------------------------------------------------------------------------
# Declared queries
# --------------------------------------------------------------------------

@query(
    "q_topk_cosine",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS sim
    FROM embeddings e, q
    ORDER BY sim DESC, e.vec_id
    LIMIT 3
    """,
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return topk_cosine(t.embeddings, query_vector(t.embeddings, 0), k=3)


@query(
    "q_vs_retrieve",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    hits AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS sim
      FROM embeddings e, q
      ORDER BY sim DESC, e.vec_id
      LIMIT 3
    )
    SELECT d.doc_id, d.source,
           substr(replace(d.text, chr(10), ''), 1, 50) || '...' AS snippet,
           h.sim
    FROM hits h JOIN documents d ON d.doc_id = h.vec_id
    """,
)
def q_vs_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's full retrieval loop re-expressed.

    retrieve top-3 by cosine (R1) → join corpus + project id/url/content
    (R2, R3) → truncate-normalize snippet (R9, `app/app.py:113-115`).
    """
    t = load_tables(spark, sf_dir)
    hits = topk_cosine(t.embeddings, query_vector(t.embeddings, 0), k=3)
    snippet = F.concat(
        F.substring(F.expr("replace(text, '\n', '')"), 1, 50), F.lit("...")
    ).alias("snippet")
    return (
        F.broadcast(hits)
        .join(t.documents, hits.vec_id == t.documents.doc_id)
        .select("doc_id", "source", snippet, "sim")
    )


@query(
    "q_udf_cosine",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS sim
    FROM embeddings e, q
    WHERE round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) >= 0.2
    """,
)
def q_udf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same similarity as a vectorized Arrow pandas UDF (UDF surface;
    ref R1 math in Python). Rounded to 4 dp because numpy's pairwise
    summation and DuckDB's sequential loop differ in the last ulps.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    t = load_tables(spark, sf_dir)
    qv = (
        t.embeddings.where(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    )
    q = np.asarray(qv, dtype="float64")
    qn = float(np.sqrt(q @ q))

    @pandas_udf("double")
    def cos(v: pd.Series) -> pd.Series:
        m = np.stack(v.apply(lambda x: np.asarray(x, dtype="float64")))
        return pd.Series((m @ q) / (np.linalg.norm(m, axis=1) * qn))

    scored = t.embeddings.select(
        "vec_id", F.round(cos(F.col("embedding")), 4).alias("sim")
    )
    return scored.where(F.col("sim") >= 0.2)


@query(
    "q_embed_centroid",
    oracle="""
    SELECT label, pos, round(avg(v), 6) AS centroid_v, count(*) AS n
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid as a long (label, pos, value) table.

    posexplode keeps this a pure shuffle-once hash aggregate — at
    100 TB the partial aggregation happens map-side per dimension.
    """
    t = load_tables(spark, sf_dir)
    exploded = t.embeddings.select(
        "label", F.posexplode(as_double_array("embedding")).alias("pos", "v")
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("centroid_v"), F.count(F.lit(1)).alias("n")
    )


@query(
    "q_knn_join",
    oracle="""
    SELECT a_id, b_id, sim, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS sim,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                     CAST(b.embedding AS DOUBLE[])), 6)
                        DESC, b.vec_id) AS rn
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
    ) WHERE rn <= 2
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN join: each vector's top-2 nearest neighbors within its
    label block — the hard-negative / nearest-neighbor mining shape of
    training-data pipelines.

    Blocked pair generation (label equi-join) + per-group top-k
    (WindowGroupLimit keeps per-key heaps, no full sort). At 100 TB
    the block key becomes an IVF cluster or LSH bucket — same plan.

    Parallelism note: a small vector table arrives as ONE parquet
    partition, and a shuffled join on the block key caps parallelism
    at |blocks| (10 here). Broadcasting the build side and
    repartitioning the probe side spreads pair generation across all
    cores — 3× at sf0.1 (2.6 s → 0.9 s). At cluster scale the probe
    side is already many partitions and the broadcast threshold
    decides itself; the repartition is a no-op there.
    """
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    a = _sides(t.embeddings, "a").repartition(width(spark))
    b = _sides(t.embeddings, "b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a_label") == F.col("b_label")) & (F.col("a_id") != F.col("b_id")),
    ).select("a_id", "b_id", _pair_sim().alias("sim"))
    w = Window.partitionBy("a_id").orderBy(F.col("sim").desc(), F.col("b_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
        .select("a_id", "b_id", "sim", "rank")
    )


# q_knn_classify moved to operators/ann.py (round 10): the labeling
# pass now routes through the stored IVF layout — the scale path the
# old brute-force docstring itself named — with the probed plan
# replicated exactly in its oracle, like q_stream_vector_search.


@query(
    "q_embed_quantize",
    oracle="""
    WITH m AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS e,
             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)),
                            'max') AS amax
      FROM embeddings
    )
    SELECT vec_id,
           round(amax, 6) AS amax,
           CAST(round(e[1] * (127.0 / amax)) AS INTEGER) AS q_first,
           round(list_aggregate(list_transform(e,
                   x -> abs(x - round(x * (127.0 / amax)) * (amax / 127.0))),
                 'max'), 6) AS max_abs_err
    FROM m
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization of embeddings (the storage-
    compression step of a vector pipeline: 4× smaller than float32,
    16× smaller than the double compute type) with per-vector absmax
    scale and reconstruction-error audit. Pure higher-order
    expressions; identical arithmetic tree on both engines.

    Two performance rules the measurement forced: (1) ``amax`` is
    HOISTED into its own projection before the error lambda —
    referencing the array_max fold from inside a per-element lambda
    makes Catalyst re-evaluate it per element (O(dims²) per row;
    measured 7× on this query), and CollapseProject keeps the hoist
    because the alias is multiply-referenced and non-cheap; (2) the
    per-element rounding is ``trunc(x·scale + sign·0.5)`` (long cast)
    rather than ``F.round`` — identical to round-half-away-from-zero,
    DuckDB ``round()`` semantics, for every input, but plain double
    arithmetic in codegen instead of Spark ROUND's per-element
    BigDecimal path (compat.fpsum reasoning).

    The scale and inverse-scale are hoisted as COLUMNS, not rebuilt
    as expressions per consumer: when scale stayed an expression,
    adding the q_first output changed max_abs_err's last ulps (the
    optimizer's cross-column rewrite evaluated the shared division
    differently), flipping 34/500 rows at the 6-dp boundary against
    the oracle — materializing the shared doubles once pins the
    arithmetic regardless of sibling outputs."""
    t = load_tables(spark, sf_dir)
    e = as_double_array("embedding")
    amax = F.array_max(F.transform(e, lambda x: F.abs(x)))
    hoisted = t.embeddings.select(
        "vec_id",
        e.alias("e"),
        amax.alias("amax"),
        (F.lit(127.0) / amax).alias("sc"),
        (amax / F.lit(127.0)).alias("inv"),
    )
    rnd = lambda v: (v + F.signum(v) * 0.5).cast("long")  # noqa: E731
    err = F.transform(
        F.col("e"),
        lambda x: F.abs(
            x - rnd(x * F.col("sc")).cast("double") * F.col("inv")
        ),
    )
    return hoisted.select(
        "vec_id",
        F.round(F.col("amax"), 6).alias("amax"),
        rnd(F.element_at(F.col("e"), 1) * F.col("sc")).cast("int").alias(
            "q_first"
        ),
        F.round(F.array_max(err), 6).alias("max_abs_err"),
    )


@query(
    "q_neardup_embed",
    oracle="""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    """,
)
def q_neardup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label.

    Blocking is the scale story: the quadratic pair space is cut to
    within-block pairs (at 100 TB the block key is an LSH bucket or
    IVF cluster id, same join shape). Same parallelism fix as
    [[q_knn_join]]: broadcast the build side, repartition the probe
    side so pair generation isn't bound to |blocks| tasks.
    """
    t = load_tables(spark, sf_dir)
    a = _sides(t.embeddings, "a").repartition(width(spark))
    b = _sides(t.embeddings, "b")
    pairs = a.join(
        F.broadcast(b),
        (F.col("a_label") == F.col("b_label")) & (F.col("a_id") < F.col("b_id")),
    ).select("a_id", "b_id", _pair_sim().alias("sim"))
    return pairs.where(F.col("sim") >= 0.35)


# ---------------------------------------------- context-window packing

CTX_TOKEN_BUDGET = 1500  # the reference's max_tokens (`app/app.py:14`)
CTX_CANDIDATES = 20


@query(
    "q_context_pack",
    oracle=f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    hits AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
               AS sim
      FROM embeddings e, q
      ORDER BY sim DESC, e.vec_id
      LIMIT {CTX_CANDIDATES}
    ),
    sized AS (
      SELECT h.vec_id AS doc_id, h.sim,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM hits h JOIN documents d ON d.doc_id = h.vec_id
    ),
    packed AS (
      SELECT doc_id, sim, n_tokens,
             CAST(row_number() OVER w AS BIGINT) AS rank,
             CAST(SUM(n_tokens) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
      FROM sized
      WINDOW w AS (ORDER BY sim DESC, doc_id)
    )
    SELECT rank, doc_id, sim, n_tokens, cum_tokens
    FROM packed WHERE cum_tokens <= {CTX_TOKEN_BUDGET}
    """,
)
def q_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: the step between retrieval and
    generation that the reference leaves implicit — its LLM call is
    capped at max_tokens=1500 (`app/app.py:14` LLM_PARAMS), so the
    top-{CTX_CANDIDATES} retrieved documents are packed in relevance
    order until the token budget is spent (prefix packing: stop at
    the first overflow, deterministic under the sim-then-id total
    order). One top-k scan, one broadcast-sized join to fetch
    lengths, one window over {CTX_CANDIDATES} rows — everything after
    the scan is candidate-sized at any corpus scale."""
    t = load_tables(spark, sf_dir)
    hits = topk_cosine(
        t.embeddings, query_vector(t.embeddings, 0), k=CTX_CANDIDATES
    )
    sized = (
        F.broadcast(hits)
        .join(t.documents, hits.vec_id == t.documents.doc_id)
        .select(
            "doc_id",
            "sim",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
    )
    w = Window.orderBy(F.col("sim").desc(), F.col("doc_id"))
    packed = sized.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "sim",
        "n_tokens",
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_tokens"),
    )
    return packed.where(F.col("cum_tokens") <= CTX_TOKEN_BUDGET)


# ------------------------------------------------- MMR diversification

MMR_LAMBDA = 0.7
# The redundancy weight is a standalone literal, NOT computed as
# 1 - MMR_LAMBDA: the float expression 1 - 0.7 = 0.30000000000000004
# while the oracle SQL would render the literal 0.3 — a 1-ulp
# divergence that could flip a 6-dp-rounded score at a boundary and
# change the greedy pick. One shared constant keeps both engines
# bit-identical.
MMR_MU = 0.3
MMR_CANDIDATES = 8
MMR_K = 4

_COS_DUCK = "round(list_cosine_similarity({a}, {b}), 6)"


def _mmr_oracle() -> str:
    cos = _COS_DUCK
    score = (
        f"round({MMR_LAMBDA} * r.sim - {MMR_MU} * {{pen}}, 6)"
    )
    steps = []
    for step in range(2, MMR_K + 1):
        prev = ", ".join(f"s{i}" for i in range(1, step))
        not_in = " AND ".join(
            f"r.vec_id != s{i}.vec_id" for i in range(1, step)
        )
        pens = ", ".join(
            cos.format(a="r.emb", b=f"s{i}.emb") for i in range(1, step)
        )
        pen = f"greatest({pens})" if step > 2 else pens
        steps.append(
            f"""s{step} AS (
      SELECT r.vec_id, r.emb, r.sim, {score.format(pen=pen)} AS score
      FROM cands r, {prev}
      WHERE {not_in}
      ORDER BY score DESC, r.vec_id LIMIT 1
    )"""
        )
    sep = ",\n    "
    picks = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS pick_rank, vec_id, sim, score FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
    cands AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
             {cos.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qv")} AS sim
      FROM embeddings e, q
      ORDER BY sim DESC, e.vec_id
      LIMIT {MMR_CANDIDATES}
    ),
    s1 AS (
      SELECT vec_id, emb, sim,
             round({MMR_LAMBDA} * sim, 6) AS score
      FROM cands ORDER BY sim DESC, vec_id LIMIT 1
    ),
    {sep.join(steps)}
    SELECT pick_rank, vec_id, sim, score FROM ({picks})
    """


def mmr_plan(cands: DataFrame, k: int) -> DataFrame:
    """Greedy MMR over a (vec_id, emb, sim) candidate frame as ONE
    Catalyst plan: pick ``k`` rows, each maximizing λ·relevance −
    μ·max-similarity-to-already-picked.

    The candidates collapse into a one-row frontier array sorted by
    (sim desc, vec_id); pick 1 is its head, and ``F.aggregate`` over
    ``sequence(2, k)`` appends one pick per step: drop the picked
    rows, score the rest with the oracle's 6-dp-rounded arithmetic
    (the same ``cosine_sim`` fold), keep the best by (score desc,
    vec_id). An exhausted frontier stops growing and an empty one
    yields no rows. ``k`` is only a literal, so the plan is the same
    size for every k, and building it schedules no job."""

    def desc_then_id(key: str):
        def cmp(a, b):
            return (
                F.when(a[key] > b[key], -1).when(a[key] < b[key], 1)
                .when(a["vec_id"] < b["vec_id"], -1)
                .when(a["vec_id"] > b["vec_id"], 1).otherwise(0)
            )

        return cmp

    def pick(rank, x, score) -> Column:
        return F.struct(
            rank.alias("pick_rank"), x["vec_id"].alias("vec_id"),
            x["emb"].alias("emb"), x["sim"].alias("sim"), score.alias("score"),
        )

    def step(acc, i):
        def score(x):
            pen = F.array_max(F.transform(
                acc, lambda p: F.round(cosine_sim(x["emb"], p["emb"]), 6)
            ))
            return F.round(MMR_LAMBDA * x["sim"] - MMR_MU * pen, 6)

        rest = F.filter(
            F.col("c"), lambda x: ~F.exists(acc, lambda p: p["vec_id"] == x["vec_id"])
        )
        scored = F.transform(rest, lambda x: pick(i, x, score(x)))
        best = F.slice(F.array_sort(scored, desc_then_id("score")), 1, 1)
        return F.concat(acc, best)

    first = F.transform(
        F.slice(F.col("c"), 1, 1),
        lambda x: pick(F.lit(1), x, F.round(MMR_LAMBDA * x["sim"], 6)),
    )
    steps = F.sequence(F.lit(2), F.lit(k)) if k > 1 else F.array().cast("array<int>")
    frontier = cands.agg(
        F.array_sort(
            F.collect_list(F.struct("vec_id", "emb", "sim")), desc_then_id("sim")
        ).alias("c")
    )
    return frontier.select(F.inline(F.aggregate(steps, first, step))).select(
        "pick_rank", "vec_id", "sim", "score"
    )


@query("q_mmr_diversify", oracle=_mmr_oracle())
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: re-rank the top-{MMR_CANDIDATES}
    retrieval so each pick maximizes λ·relevance − μ·similarity-
    to-already-picked — the standard diversification pass between
    [[q_vs_retrieve]]'s raw top-k and the prompt (redundant
    near-duplicate passages waste the [[q_context_pack]] budget).
    The greedy runs inside the plan (:func:`mmr_plan`) on the
    constant-size frontier, so the builder schedules no job and the
    prepared-plan memo serves every repeat: a request is one action,
    whose only corpus work is the top-k scan. The oracle is the
    identical algorithm as an SQL unrolling at k={MMR_K}."""
    t = load_tables(spark, sf_dir)
    emb = as_double_array("embedding")
    cands = (
        t.embeddings.join(F.broadcast(query_vector(t.embeddings, 0)))
        .select(
            "vec_id",
            emb.alias("emb"),
            F.round(cosine_sim(emb, F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(MMR_CANDIDATES)
    )
    return mmr_plan(cands, MMR_K)


# ------------------------------------------ random-projection reduce

PROJ_IN_DIMS = 64
PROJ_OUT_DIMS = 8


def _proj_oracle() -> str:
    dims = ",\n           ".join(
        f"round(list_reduce(list_prepend(0.0, list_transform(range(0, {PROJ_IN_DIMS}), "
        f"i -> CAST(embedding[i + 1] AS DOUBLE) * (((i * 31 + {j} * 17) % 7) - 3))), "
        f"(a, x) -> a + x), 6) AS p{j}"
        for j in range(PROJ_OUT_DIMS)
    )
    return f"SELECT vec_id,\n           {dims}\n    FROM embeddings"


@query("q_embed_project", oracle=_proj_oracle())
def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse random projection 64→8
    (Achlioptas-style integer matrix): the embedding-compression pass
    a 100 TB vector corpus runs before coarse clustering or transport
    — 8× narrower rows, distances preserved in expectation
    (Johnson–Lindenstrauss). The projection matrix is CLOSED-FORM
    (M[i][j] = ((i·31 + j·17) mod 7) − 3 ∈ [−3, 3]), so both engines
    derive identical coefficients from the formula and nothing is
    shipped or collected — at scale the matrix never exists as data,
    only as an expression.

    Pure Catalyst: one sequential fold per output dim inside
    whole-stage codegen (same L→R order as DuckDB's list_reduce with
    a 0.0 prepend, so doubles match bit-for-bit before the 6-dp
    round). No UDF, no shuffle — scan-local, column-pruned to
    (vec_id, embedding)."""
    t = load_tables(spark, sf_dir)
    emb = as_double_array("embedding")
    cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    emb,
                    F.sequence(F.lit(0), F.lit(PROJ_IN_DIMS - 1)),
                    lambda x, i: x
                    * ((i * 31 + j * 17) % 7 - 3).cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias(f"p{j}")
        for j in range(PROJ_OUT_DIMS)
    ]
    return t.embeddings.select("vec_id", *cols)


# ----------------------------------------------- Arrow-native batch op

ARROW_NORM_SCHEMA = (
    "vec_id long, n_dims int, l2_norm double, v_max double"
)


def arrow_norm_batches(batches):
    """pyarrow.RecordBatch → RecordBatch: per-vector L2 norm, dim
    count, and max component, computed columnar-native (no pandas
    materialization). The squared terms accumulate with a SEQUENTIAL
    left-to-right cumulative sum so the fold order — and therefore
    the 6-dp-rounded result — is identical to DuckDB's list_reduce
    and Spark's F.aggregate."""
    import numpy as np
    import pyarrow as pa

    for batch in batches:
        col = batch.column("embedding")
        if isinstance(col, pa.ChunkedArray):  # pragma: no cover
            col = col.combine_chunks()
        # offsets index into the FULL child array even when the batch
        # is a non-zero-offset slice of a larger ListArray, so the
        # flat values must be windowed to [offsets[0], offsets[-1])
        # before reshaping — col.values alone would misalign a slice.
        offsets = col.offsets.to_numpy(zero_copy_only=False)
        lengths = np.diff(offsets)
        vals = col.values.to_numpy(zero_copy_only=False).astype(np.float64)
        if len(offsets):
            vals = vals[offsets[0] : offsets[-1]]
        n = len(lengths)
        width = int(lengths[0]) if n else 0
        assert n == 0 or (lengths == width).all(), "ragged embedding batch"
        if n:
            m = vals.reshape(n, width)
            sq = np.cumsum(m * m, axis=1)  # sequential L->R accumulation
            # HALF_UP like Spark/DuckDB round() — np.round is
            # banker's (half-to-even) and would diverge on a scaled
            # value landing exactly on .5 (norms are non-negative,
            # so floor(x*1e6 + 0.5) IS half-away-from-zero)
            norms = np.floor(np.sqrt(sq[:, -1]) * 1e6 + 0.5) / 1e6
            vmax = m.max(axis=1)
        else:
            norms = vmax = np.zeros(0)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("vec_id"),
                pa.array(lengths.astype("int32"), pa.int32()),
                pa.array(norms, pa.float64()),
                pa.array(vmax, pa.float64()),
            ],
            names=["vec_id", "n_dims", "l2_norm", "v_max"],
        )


@query(
    "q_arrow_batch_norm",
    oracle="""
    SELECT vec_id,
           len(embedding) AS n_dims,
           round(sqrt(list_reduce(list_prepend(0.0,
                 list_transform(embedding, x ->
                   CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                 (a, v) -> a + v)), 6) AS l2_norm,
           CAST(list_max(embedding) AS DOUBLE) AS v_max
    FROM embeddings
    """,
)
def q_arrow_batch_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` surface: the one Python-batch API the engine
    hadn't pinned (pandas_udf / applyInPandas / mapInPandas /
    applyInPandasWithState / UDTF are covered elsewhere). Embedding
    batches stay Arrow end-to-end — the list column's flat values
    buffer is reshaped zero-copy into an (n, 64) ndarray, no pandas
    object materialization — which is the right substrate for
    columnar vector math over binary/tensor columns at 100 TB
    (SURVEY.md multimodal mandate). Projection is pruned to
    (vec_id, embedding) BEFORE the Python exchange so only 260
    bytes/row cross Arrow. Norms use a sequential cumulative sum:
    fold order matches DuckDB's list_reduce, so values hash-match
    exactly at 6 dp."""
    t = load_tables(spark, sf_dir)
    return t.embeddings.select("vec_id", "embedding").mapInArrow(
        arrow_norm_batches, ARROW_NORM_SCHEMA
    )
