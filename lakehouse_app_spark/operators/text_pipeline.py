"""LLM-training-corpus pipeline operators: RAG chunking, n-gram
language-model statistics, vocabulary coverage, and BM25 retrieval
scoring over the documents table.

Extends the reference's retrieval tier (`app/vector_search.py:24-33`
retrieves whole documents; a production pipeline chunks first and
ranks lexically as well as by embedding). Everything is built-in
Catalyst expressions — sequence/explode generators and window
aggregates, no Python in the hot path — so each operator is
scan-local map work plus at most one hash-aggregate shuffle and
scales linearly with corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_app_spark.operators.dedup import word_pairs
from lakehouse_app_spark.registry import query
from lakehouse_app_spark.sources.tables import load_tables

CHUNK = 120
STRIDE = 90


@query(
    "q_chunk_documents",
    oracle=f"""
    SELECT doc_id,
           i AS chunk_id,
           substring(text, CAST(i * {STRIDE} + 1 AS INT), {CHUNK}) AS chunk,
           CAST(length(substring(text, CAST(i * {STRIDE} + 1 AS INT), {CHUNK}))
                AS BIGINT) AS chunk_len
    FROM documents,
         UNNEST(generate_series(0, CAST(greatest(0, (n_chars - 1) // {STRIDE})
                                        AS BIGINT))) AS t(i)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (120-char chunks, 90-char
    stride = 25% overlap) — the pre-embedding step of every RAG
    ingest. The chunk index is generated JVM-side with
    ``sequence`` + ``explode`` (no Python, no driver loop); chunk
    count derives from ``n_chars`` already in the row, so the
    generator never re-measures the text. Embarrassingly parallel:
    zero shuffles, output rows ≈ bytes/stride regardless of scale.
    """
    t = load_tables(spark, sf_dir)
    last_idx = F.greatest(F.lit(0), F.floor((F.col("n_chars") - 1) / STRIDE)).cast(
        "bigint"
    )
    return (
        t.documents.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0).cast("bigint"), last_idx)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr(f"substring(text, CAST(chunk_id * {STRIDE} + 1 AS INT), {CHUNK})").alias(
                "chunk"
            ),
        )
        .withColumn("chunk_len", F.length("chunk").cast("bigint"))
    )


@query(
    "q_bigram_lm",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ), pairs AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS g(i)
    )
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(SUM(count(*)) OVER (PARTITION BY w1) AS DOUBLE), 6)
             AS cond_prob
    FROM pairs GROUP BY w1, w2
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: corpus-wide (w1, w2) counts and
    the conditional probability P(w2|w1) — the statistic behind
    n-gram quality filters and perplexity screens. Adjacent pairs
    are built with a JVM ``transform`` over token indices (one
    higher-order expression, no self-join, no window over the
    exploded tokens); the only shuffle is the final count
    aggregation, whose cardinality is |vocab|² — tiny no matter the
    corpus size. The normalizing sum is a window over that already-
    aggregated table."""
    t = load_tables(spark, sf_dir)
    counted = (
        word_pairs(t.documents).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("w1")
    return counted.select(
        "w1",
        "w2",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("cond_prob"),
    )


@query(
    "q_vocab_coverage",
    oracle="""
    WITH counts AS (
      SELECT w AS term, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      GROUP BY w
    )
    SELECT term, n,
           CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank,
           round(CAST(SUM(n) OVER (ORDER BY n DESC, term
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / CAST(SUM(n) OVER () AS DOUBLE), 6) AS cum_coverage
    FROM counts
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary with cumulative corpus coverage —
    the table a tokenizer-training run reads to pick a vocab size
    ("top K terms cover X% of tokens"). Term counting is one
    hash aggregate over exploded tokens (map-side partials make the
    shuffle |vocab|-sized); the ranking windows then run on that
    tiny aggregate, so the single-partition global window is safe at
    any corpus scale."""
    t = load_tables(spark, sf_dir)
    counts = (
        t.documents.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    order = Window.orderBy(F.col("n").desc(), F.col("term"))
    return counts.select(
        "term",
        "n",
        F.row_number().over(order).cast("bigint").alias("rank"),
        F.round(
            F.sum("n").over(order.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double"),
            6,
        ).alias("cum_coverage"),
    )


BM25_TERMS = ("join", "scan")
K1 = 1.2
B = 0.75


def _bm25_cte_sql() -> str:
    """The BM25 scoring chain as shared DuckDB CTEs (tok/dl/stats/
    tf/df) — one copy of the recipe for [[q_bm25]] and
    [[q_hybrid_retrieve]]'s sparse arm (the mh_sig_cte_sql
    convention: a scoring recipe lives in exactly one place per
    engine), ending ready for a per-doc SUM of ``s_term``."""
    return f"""tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM tok
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(ts) AS w FROM tok)
      WHERE w IN ('{BM25_TERMS[0]}', '{BM25_TERMS[1]}')
      GROUP BY doc_id, w
    ), df AS (
      SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
    ), term_scored AS (
      SELECT tf.doc_id,
             ln((n_docs - df + 0.5) / (df + 0.5) + 1)
               * (tf * ({K1} + 1))
               / (tf + {K1} * (1 - {B} + {B} * dl / avgdl)) AS s_term
      FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
    )"""


@query(
    "q_bm25",
    oracle=f"""
    WITH {_bm25_cte_sql()}
    SELECT doc_id, round(SUM(s_term), 6) AS bm25
    FROM term_scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking for a 2-term query — the sparse-retrieval
    complement to the engine's dense cosine top-k (`q_topk_cosine`);
    a hybrid retriever unions both. Plan shape: one exploded-token
    aggregate produces per-doc term frequencies for the query terms
    ONLY (the IN filter prunes before the shuffle, and the doc
    length rides through the explode so no N-row join comes back),
    document frequency is a COUNT(*) window over the (doc, term)-
    unique tf rows themselves (no second derivation of the tf
    subtree), the corpus stats are a one-row broadcast,
    and the final score is pure arithmetic + a top-20
    TakeOrderedAndProject. The expression tree mirrors the oracle's
    operand-for-operand so the doubles match bitwise."""
    t = load_tables(spark, sf_dir)
    tok = t.documents.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("ts")
    )
    dl = tok.select("doc_id", F.size("ts").cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.select(
            "doc_id",
            F.size("ts").cast("bigint").alias("dl"),
            F.explode("ts").alias("w"),
        )
        .where(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf is unique per (doc_id, w) after its groupBy, so document
    # frequency is COUNT(*) over a term-partitioned window on tf
    # itself — the old separate groupBy("w") re-derived the whole
    # scan→explode→aggregate subtree a second time because tf feeds
    # two consumers (guide §7.2 duplicated subtrees, r14 optimization:
    # 3 corpus scans → 2; the remaining two are the corpus-stats pass
    # and the term-pruned tf pass, the floor for BM25)
    df_w = F.count(F.lit(1)).over(Window.partitionBy("w")).alias("df")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.select("doc_id", "dl", "w", "tf", df_w)
        .join(F.broadcast(stats))
        .select("doc_id", (idf * tf_norm).alias("s"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# ------------------------------------------------------------- hybrid RRF

RRF_K = 60


@query(
    "q_hybrid_retrieve",
    oracle=f"""
    WITH {_bm25_cte_sql()}, sparse_scored AS (
      SELECT doc_id, round(SUM(s_term), 6) AS bm25
      FROM term_scored GROUP BY doc_id
    ), sparse AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_s
      FROM sparse_scored ORDER BY bm25 DESC, doc_id LIMIT 20
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), dense_scored AS (
      SELECT e.vec_id AS doc_id,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6)
               AS sim
      FROM embeddings e, q
    ), dense AS (
      SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r_d
      FROM dense_scored ORDER BY sim DESC, doc_id LIMIT 20
    )
    SELECT coalesce(d.doc_id, s.doc_id) AS doc_id,
           round(coalesce(1.0 / ({RRF_K} + r_d), 0.0)
                 + coalesce(1.0 / ({RRF_K} + r_s), 0.0), 6) AS rrf
    FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the dense
    cosine top-20 (the reference's retriever, `app/vector_search.py:
    29-33`) and the sparse BM25 top-20 fused by RRF(60) — the
    production pattern that beats either retriever alone. Both
    candidate lists are ≤20 rows, so the fusion join and final sort
    are free; all heavy lifting happens inside the two retrievers,
    each of which scales independently (dense → IVF layout, sparse
    → pruned term aggregate). Ranks use rounded scores + doc_id
    tie-breaks so ranking is engine-invariant."""
    from lakehouse_app_spark.operators.vectors import query_vector, topk_cosine

    t = load_tables(spark, sf_dir)
    dense = (
        topk_cosine(t.embeddings, query_vector(t.embeddings, 0), k=20)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.col("sim").desc(), F.col("vec_id")))
            .alias("r_d"),
        )
    )
    sparse = (
        q_bm25(spark, sf_dir)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
            .alias("r_s"),
        )
    )
    fused = (
        dense.withColumnRenamed("doc_id", "d_id")
        .join(
            sparse.withColumnRenamed("doc_id", "s_id"),
            F.col("d_id") == F.col("s_id"),
            "full_outer",
        )
        .select(
            F.coalesce("d_id", "s_id").alias("doc_id"),
            F.round(
                F.coalesce(F.lit(1.0) / (RRF_K + F.col("r_d")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_K + F.col("r_s")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@query(
    "q_contamination",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(tk) - 3),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                         || tk[i+3] || ' ' || tk[i+4]))) AS s
      FROM toks WHERE len(tk) >= 5
    ),
    train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
    eval_sh AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 1),
    hits AS (
      SELECT e.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(*) FILTER (WHERE t.s IS NOT NULL) AS BIGINT)
               AS n_contaminated
      FROM eval_sh e LEFT JOIN train t ON e.s = t.s
      GROUP BY e.doc_id
    )
    SELECT doc_id, n_shingles, n_contaminated,
           round(n_contaminated / CAST(n_shingles AS DOUBLE), 6)
             AS contamination_rate
    FROM hits WHERE n_contaminated > 0
    """,
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for each held-out document (odd
    doc_id — the "eval set"), the fraction of its distinct word
    5-grams that also appear anywhere in the training split (even
    doc_id). This is the standard n-gram-collision contamination
    check run before training on scraped corpora (the reason an eval
    suite stays meaningful). Plan shape is an inverted-index
    left-join against the DISTINCT train-shingle set followed by one
    per-doc aggregate — counts, never pair enumeration, so unlike
    near-dup mining there is no quadratic candidate space at any
    corpus size; the train set is the join's build side and shrinks
    further under [[q_neardup_exact]]-style dedup at ingest.

    The train-side index is a STORED LAYOUT (built once per corpus —
    a decontamination index is a standing artifact next to the train
    split, not per-check work), and the eval probe explodes ONLY the
    odd-id documents: the filter runs before the explode, so each
    check tokenizes the eval set alone."""
    from lakehouse_app_spark.operators.dedup import spread, word_shingles
    from lakehouse_app_spark.sources.layout import derived_table

    t = load_tables(spark, sf_dir)

    def build_train_index() -> DataFrame:
        return (
            spread(t.documents)
            .where(F.col("doc_id") % 2 == 0)
            .select(F.explode(word_shingles(5)).alias("s"))
            .distinct()
        )

    train = derived_table(spark, "train_sh5", sf_dir, build_train_index)
    ev = (
        spread(t.documents)
        .where(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.explode(word_shingles(5)).alias("s"))
    )
    hits = (
        ev.join(train.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count_if(F.col("hit").isNotNull()).alias("n_contaminated"),
        )
    )
    return hits.where(F.col("n_contaminated") > 0).select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(
            F.col("n_contaminated") / F.col("n_shingles").cast("double"), 6
        ).alias("contamination_rate"),
    )


# --------------------------------------------------- PMI collocations

PMI_MIN_COUNT = 5
PMI_TOP = 15


@query(
    "q_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS tk FROM documents
    ),
    uni AS (
      SELECT g AS w, count(*) AS c1
      FROM (SELECT unnest(tk) AS g FROM toks) GROUP BY g
    ),
    bi AS (
      SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c
      FROM (
        SELECT unnest(list_transform(range(1, len(tk)),
                 i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS s
        FROM toks WHERE len(tk) >= 2
      ) GROUP BY s.w1, s.w2
    ),
    nu AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_uni FROM uni),
    nb AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_bi FROM bi)
    SELECT b.w1, b.w2, CAST(b.c AS BIGINT) AS c,
           round(ln((b.c / n_bi)
                    / ((u1.c1 / n_uni) * (u2.c1 / n_uni))), 6) AS pmi
    FROM bi b
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w, nu, nb
    WHERE b.c >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT {PMI_TOP}
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{PMI_TOP} corpus bigrams by pointwise
    mutual information, PMI = ln(P(w1w2) / (P(w1)·P(w2))) — the
    classic association score that separates real phrases from chance
    co-occurrence (the phrase-vocabulary step of tokenizer/corpus
    prep). The unigram table is vocabulary-sized, so both probability
    joins are broadcasts; the only data-sized work is the two n-gram
    count aggregates, which partial-combine map-side. ln over
    identical doubles in both engines, rounded to 6 dp (the
    [[q_bm25]] precedent)."""
    t = load_tables(spark, sf_dir)
    tk = F.split(F.lower(F.col("text")), " ")
    docs = t.documents.select(tk.alias("tk"))
    # not pinned: AQE reuses the unigram shuffle for all three of its
    # consumers, and the bigram aggregate has one consumer, since n_bi
    # (the explode's row count) is summed from the token counts
    uni = (
        docs.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("tk") - 1),
        lambda i: F.struct(
            F.element_at("tk", i.cast("int")).alias("w1"),
            F.element_at("tk", (i + 1).cast("int")).alias("w2"),
        ),
    )
    bi = (
        docs.where(F.size("tk") >= 2)
        .select(F.explode(pairs).alias("s"))
        .groupBy(F.col("s.w1").alias("w1"), F.col("s.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nu = uni.agg(F.sum("c1").cast("double").alias("n_uni"))
    nb = docs.where(F.size("tk") >= 2).agg(
        F.sum(F.size("tk") - 1).cast("double").alias("n_bi")
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b"))
    pmi = F.log(
        (F.col("c") / F.col("n_bi"))
        / ((F.col("c1a") / F.col("n_uni")) * (F.col("c1b") / F.col("n_uni")))
    )
    return (
        bi.where(F.col("c") >= PMI_MIN_COUNT)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1", "w2", F.col("c").cast("long").alias("c"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP)
    )


def _novelty_oracle() -> str:
    from lakehouse_app_spark.operators.dedup import _sql_token_hash

    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS toks
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
            FROM documents)
      WHERE len(tk) >= 3
    ),
    sh AS (
      SELECT doc_id, {_sql_token_hash("w")} AS th
      FROM (SELECT doc_id, unnest(toks) AS w FROM toks)
    ),
    firsts AS (SELECT th, min(doc_id) AS fd FROM sh GROUP BY th)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (f.fd = sh.doc_id) AS BIGINT) AS n_novel,
           round(count(*) FILTER (f.fd = sh.doc_id)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM sh JOIN firsts f ON f.th = sh.th
    GROUP BY sh.doc_id
    """


@query("q_ngram_novelty", oracle=_novelty_oracle())
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY score — the corpus-curation signal
    behind "how much of this document have we already ingested?":
    novelty = fraction of a doc's distinct word-trigram shingles whose
    FIRST corpus occurrence (min doc_id, the ingest-order stand-in)
    is this document. Boilerplate and templated spam score near 0 even
    when no single earlier doc is a near-duplicate — the failure mode
    pairwise dedup can't see, which is why curation pipelines run both.
    Plan: one shingle explode (scan-local), one hash aggregate keyed
    by shingle for the global first-occurrence table, one equi-join
    back, one per-doc rollup — the inverted-index build shape, never
    any pairwise comparison; both shuffles carry (shingle, doc_id)
    keys only. The pair table is stored once per corpus as the
    ``shingle_fps`` layout with shingles as PORTABLE 62-bit hashes
    (16-byte rows, long-keyed shuffles — the DF-capped
    [[shingle_postings]] sibling is wrong here: novelty is precisely
    about the frequent shingles a DF cap drops, and string keys
    double the shuffle bytes). Hash collisions merge identically in
    both engines (the oracle replays the same arithmetic), so the
    cross-engine contract is exact. At 100 TB the firsts table is the
    stored ingest-order index and arriving batches join against it
    incrementally (the [[q_dedup_incremental]] topology applied to
    shingle provenance)."""
    from lakehouse_app_spark.operators.dedup import (
        _with_token_hash,
        spread,
        word_shingles,
    )
    from lakehouse_app_spark.sources.layout import derived_table

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        return _with_token_hash(
            spread(t.documents)
            .select("doc_id", F.lower(F.col("text")).alias("text"))
            .select("doc_id", F.explode(word_shingles(3)).alias("token")),
            out="s",
        )

    sh = derived_table(spark, "shingle_fps", sf_dir, build)
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("fd"))
    novel = F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_shingles").cast("double"), 6
            ).alias("novelty"),
        )
    )
