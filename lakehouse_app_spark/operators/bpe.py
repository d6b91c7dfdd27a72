"""BPE vocabulary induction: merge-rule training as DataFrame algebra.

The training-data pipeline's tokenizer half: byte-pair-encoding
learns its vocabulary by repeatedly (1) counting adjacent symbol
pairs across the word-frequency table, (2) picking the most frequent
pair (deterministic tie-break), (3) merging that pair everywhere —
Sennrich et al. 2016, the algorithm behind GPT-2/LLaMA-style
tokenizers. The reference's stack tokenizes behind its model API
(`app/app.py:66-69` — the engine side never sees the vocab); a
corpus engine that PREPARES training data must train the vocab too,
next to [[q_tokenize_wordcount]]'s whitespace/regex counting and
[[q_pack_batches]]'s token budgeting.

Spark-first shape: the word-frequency table is built once (one
explode + hash aggregate — the only corpus-sized work) and each
round is word-table-sized algebra: pair explode → count (map-side
partials) → 1-row argmax broadcast → `replace()` merge projection.
Greedy left-to-right non-overlapping merge semantics come from a
bracket-delimited symbol string — ``[l][r]`` can only match at
symbol boundaries and ``replace`` consumes matches left-to-right, so
``[a][a][a][a]`` merges to ``[aa][aa]`` in one pass with no fold —
which is exactly what lets the DuckDB oracle replay training
bit-for-bit with the same `replace` (SURVEY.md §5.3: same algebra,
same tie-breaks, no engine-private lambdas in the recurrence).

At 100 TB: the word table is vocabulary-sized (millions of rows, not
corpus-sized) after the first aggregate — classic BPE trainers
(SentencePiece, HF tokenizers) make the same reduction — so every
round shuffles kilobyte-scale pair counts; round count is the fixed
vocab budget, not a function of data volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.registry import query
from lakehouse_app_spark.runtime_cache import scoped_persist
from lakehouse_app_spark.sources.tables import load_tables

BPE_MERGES = 3


def _word_table(docs: DataFrame) -> DataFrame:
    """Distinct words with corpus frequency, each rendered as a
    bracket-delimited character-symbol string: 'cat' → '[c][a][t]'.
    Brackets cannot appear inside symbols (words containing them are
    excluded), so '[l][r]' matches only at symbol boundaries."""
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .where((F.col("w") != "") & ~F.col("w").rlike(r"[\[\]]"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = F.concat(
        F.lit("["),
        F.array_join(F.split(F.col("w"), ""), "]["),
        F.lit("]"),
    )
    return words.select("w", syms.alias("s"), "freq")


def _pair_counts(wt: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the word table: '[a][b][c]' →
    (a,b), (b,c), weighted by word freq."""
    symbols = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\]\[")
    pairs = F.expr(
        "transform(sequence(1, size(sy) - 1),"
        " i -> struct(sy[i-1] AS l, sy[i] AS r))"
    )
    return (
        wt.select("freq", symbols.alias("sy"))
        .where(F.size("sy") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_oracle() -> str:
    """Unrolled training replay (the [[q_pagerank]]/Lloyd convention:
    iterative recurrences unroll rather than recurse, since a
    recursive CTE may reference its own table only once and never
    under an aggregate)."""
    k = BPE_MERGES
    best = """best{i} AS (
      SELECT l, r, cnt FROM (
        SELECT p.l, p.r, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
          SELECT freq,
                 unnest(list_transform(range(1, len(sy)),
                        i -> struct_pack(l := sy[i], r := sy[i+1]))) AS p
          FROM (SELECT freq,
                       string_split(substring(s, 2, length(s) - 2), '][') AS sy
                FROM wt{prev})
          WHERE len(sy) >= 2
        )
        GROUP BY p.l, p.r
      ) ORDER BY cnt DESC, l, r LIMIT 1
    )"""
    merge = """wt{i} AS (
      SELECT replace(s, '[' || b.l || '][' || b.r || ']',
                     '[' || b.l || b.r || ']') AS s, freq
      FROM wt{prev}, best{i} b
    )"""
    parts = [
        """wt0 AS (
      SELECT '[' || array_to_string(string_split(w, ''), '][') || ']' AS s,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w != '' AND NOT regexp_matches(w, '[\\[\\]]')
      GROUP BY w
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(best.format(i=i, prev=i - 1))
        if i < k:
            parts.append(merge.format(i=i, prev=i - 1))
    rows = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS step, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, cnt AS pair_count FROM best{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + rows


def _train_bpe(wt: DataFrame, k: int, want_rules: bool):
    """The ONE training loop behind [[q_bpe_merges]] (want_rules=True:
    returns the merge table, skipping the k-th replace that nothing
    would consume — mirroring the oracle's ``if i < k`` structure)
    and [[q_bpe_encode]] (want_rules=False: returns the fully-merged
    word table). A single copy keeps the argmax tie-break and the
    bracket-boundary replace in lockstep between the two queries and
    their oracles (review r6)."""
    out = None
    for step in range(1, k + 1):
        best = scoped_persist(
            _pair_counts(wt)
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        if want_rules:
            out = best if out is None else out.unionByName(best)
        if step < k or not want_rules:
            rule = best.select(
                F.concat(
                    F.lit("["), "left_sym", F.lit("]["), "right_sym", F.lit("]")
                ).alias("pat"),
                F.concat(F.lit("["), "merged", F.lit("]")).alias("rep"),
            )
            wt = scoped_persist(
                wt.crossJoin(F.broadcast(rule)).select(
                    "w", F.expr("replace(s, pat, rep)").alias("s"), "freq"
                )
            )
    return out, wt


@query("q_bpe_merges", oracle=_bpe_oracle())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES} BPE merge rules on the document corpus:
    per round, the globally most frequent adjacent symbol pair
    (count DESC, then (left, right) lexicographic — fully
    deterministic) merges everywhere via the bracket-boundary
    ``replace``. Returns the merge table (step, left, right, merged,
    pair_count) — the artifact a tokenizer ships. The oracle replays
    the identical recurrence as a recursive CTE (the per-step argmax
    is a correlated one-row subquery), so training is exact-checked
    end-to-end, not just spot-audited."""
    t = load_tables(spark, sf_dir)
    wt = scoped_persist(_word_table(t.documents))
    rules, _ = _train_bpe(wt, BPE_MERGES, want_rules=True)
    return rules


def _encode_oracle() -> str:
    """Oracle for [[q_bpe_encode]]: the training replay of
    :func:`_bpe_oracle` carried one merge further (wt{k} applies the
    k-th rule) plus the per-word symbol count and the document join."""
    k = BPE_MERGES
    best = """best{i} AS (
      SELECT l, r FROM (
        SELECT p.l, p.r, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
          SELECT freq,
                 unnest(list_transform(range(1, len(sy)),
                        i -> struct_pack(l := sy[i], r := sy[i+1]))) AS p
          FROM (SELECT freq,
                       string_split(substring(s, 2, length(s) - 2), '][') AS sy
                FROM wt{prev})
          WHERE len(sy) >= 2
        )
        GROUP BY p.l, p.r
      ) ORDER BY cnt DESC, l, r LIMIT 1
    )"""
    merge = """wt{i} AS (
      SELECT w,
             replace(s, '[' || b.l || '][' || b.r || ']',
                     '[' || b.l || b.r || ']') AS s, freq
      FROM wt{prev}, best{i} b
    )"""
    parts = [
        """wt0 AS (
      SELECT w,
             '[' || array_to_string(string_split(w, ''), '][') || ']' AS s,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE w != '' AND NOT regexp_matches(w, '[\\[\\]]')
      GROUP BY w
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(best.format(i=i, prev=i - 1))
        parts.append(merge.format(i=i, prev=i - 1))
    parts.append(
        f"""vocab AS (
      SELECT w,
             CAST(len(string_split(substring(s, 2, length(s) - 2), ']['))
                  AS BIGINT) AS n_sym
      FROM wt{k}
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe_tokens,
           round(SUM(v.n_sym) / CAST(count(*) AS DOUBLE), 6)
             AS tokens_per_word
    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
          FROM documents) d
    JOIN vocab v USING (w)
    GROUP BY d.doc_id
    """
    )


@query("q_bpe_encode", oracle=_encode_oracle())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the {BPE_MERGES}-rule BPE vocabulary
    trained by [[q_bpe_merges]]: per document, whitespace word count,
    BPE token count under the trained merges, and tokens-per-word —
    the fertility statistic that drives vocab-size decisions and the
    token accounting [[q_pack_batches]] budgets with.

    Scale shape: encoding never touches document text with the merge
    rules — the rules apply to the DISTINCT-word table (vocab-sized),
    and documents join the resulting word→token-count map on the
    word key (broadcastable at any corpus size, since vocabularies
    are millions of rows while corpora are billions of documents).
    This is how production tokenizer pipelines amortize BPE: encode
    the vocab once, then the corpus pass is a hash join."""
    t = load_tables(spark, sf_dir)
    wt = scoped_persist(_word_table(t.documents))
    _, wt = _train_bpe(wt, BPE_MERGES, want_rules=False)
    vocab = wt.select(
        "w",
        F.size(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\]\[")
        ).cast("bigint").alias("n_sym"),
    )
    doc_words = t.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    return (
        doc_words.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_sym") / F.count(F.lit(1)).cast("double"), 6
            ).alias("tokens_per_word"),
        )
    )


# ------------------------------------- unigram-LM tokenizer trainer

UNI_MAXP = 3  # max piece length (chars)
UNI_SEED_K = 40  # multi-char seed pieces kept (top-K by weight)
UNI_ROUNDS = 2  # EM rounds
UNI_WMAX = 24  # words longer than this are excluded from training


def _uni_viterbi_expr() -> str:
    """Viterbi segmentation of the word column ``w`` under the piece
    probabilities in map column ``pm``, as ONE scan-local fold: the
    accumulator is the DP cell array best[0..j] (cell = (score,
    path)), each step appends the argmax over piece lengths 1..UNI_MAXP
    ending at j. Scores are IEEE-double PRODUCTS of piece probs — no
    logs: multiplication and comparison of doubles are exact-rounded
    and bit-deterministic across engines, which is what lets the
    DuckDB oracle replay training exactly (a log-domain sum would
    hinge on each engine's libm). Ties break to the LONGER piece via
    the (sc, ln, path) struct ordering of array_max — the same
    ``greatest`` rule the oracle applies. Infeasible candidates
    (j < i) get a -1.0 sentinel GUARD rather than a sentinel prefix
    score: a sentinel that still multiplies a 0.0 piece prob would
    collapse to -0.0 == 0.0 and win longest-tie against real
    candidates."""
    cands = []
    empty = "CAST(array() AS array<string>)"
    for i in range(1, UNI_MAXP + 1):
        prefix = f"element_at(acc, j - {i} + 1)"
        piece = f"substring(w, j - {i} + 1, {i})"
        real = (
            f"struct({prefix}.sc * coalesce(element_at(pm, {piece}), "
            f"CAST(0.0 AS DOUBLE)) AS sc, {i} AS ln, "
            f"{prefix}.path || array({piece}) AS path)"
        )
        cands.append(
            f"IF(j >= {i}, {real}, struct(CAST(-1.0 AS DOUBLE) AS sc, "
            f"{i} AS ln, {empty} AS path))"
        )
    return (
        "aggregate(sequence(1, length(w)), "
        f"array(struct(CAST(1.0 AS DOUBLE) AS sc, {empty} AS path)), "
        "(acc, j) -> acc || transform("
        f"array(array_max(array({', '.join(cands)}))), "
        "b -> struct(b.sc AS sc, b.path AS path)), "
        "acc -> element_at(acc, -1).path)"
    )


def _uni_ctes():
    """Unrolled EM replay ([[q_bpe_merges]]' convention): seed vocab,
    then per round a RECURSIVE-CTE Viterbi (the DP is a linear
    recurrence over character positions, carrying the last UNI_MAXP
    cells in the row — best[j], best[j-1], best[j-2] — because a
    recursive CTE may reference its own table only once), usage
    re-estimation, zero-usage pruning (single chars exempt), and
    re-normalization. Same double arithmetic, same longer-piece
    tie-break (struct-lexicographic ``list_sort(...)[-1]`` — DuckDB's
    greatest() rejects STRUCTs), so the replay is bit-exact."""
    empty = "CAST([] AS VARCHAR[])"

    def cell(sc, path):
        return f"struct_pack(sc := {sc}, ln := 0, path := {path})"

    cands = []
    for i in range(1, UNI_MAXP + 1):
        b = f"b{i}"
        piece = f"substr(w, j + 2 - {i}, {i})"
        real = (
            f"struct_pack(sc := {b}.sc * coalesce(p{i}.p, 0.0), "
            f"ln := {i}, path := list_append({b}.path, {piece}))"
        )
        cands.append(
            f"CASE WHEN j + 1 >= {i} THEN {real} ELSE "
            f"struct_pack(sc := CAST(-1.0 AS DOUBLE), ln := {i}, "
            f"path := {empty}) END"
        )
    joins = "\n        ".join(
        f"LEFT JOIN v{{prev}} p{i} ON p{i}.piece = substr(w, j + 2 - {i}, {i})"
        for i in range(1, UNI_MAXP + 1)
    )
    dp = f"""dp{{r}} AS (
      SELECT w, freq, 0 AS j,
             {cell('CAST(1.0 AS DOUBLE)', empty)} AS b1,
             {cell('CAST(-1.0 AS DOUBLE)', empty)} AS b2,
             {cell('CAST(-1.0 AS DOUBLE)', empty)} AS b3
      FROM wt
      UNION ALL
      SELECT w, freq, j + 1,
             list_sort([{', '.join(cands)}])[{UNI_MAXP}],
             b1, b2
      FROM dp{{r}}
        {joins}
      WHERE j < length(w)
    ),
    f{{r}} AS (SELECT w, freq, b1.path AS path FROM dp{{r}} WHERE j = length(w)),
    u{{r}} AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS usage
      FROM (SELECT freq, unnest(path) AS piece FROM f{{r}})
      GROUP BY piece
    ),
    k{{r}} AS (
      SELECT piece, usage FROM u{{r}}
      UNION ALL
      SELECT s.piece, CAST(0 AS BIGINT) FROM singles s
      WHERE s.piece NOT IN (SELECT piece FROM u{{r}})
    ),
    v{{r}} AS (
      SELECT piece, usage,
             CAST(usage AS DOUBLE) /
             CAST((SELECT CAST(SUM(usage) AS BIGINT) FROM k{{r}}) AS DOUBLE)
               AS p
      FROM k{{r}}
    )"""
    parts = [
        f"""wt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      WHERE w != '' AND length(w) <= {UNI_WMAX}
      GROUP BY w
    ),
    subs AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS wgt
      FROM (
        SELECT substr(w, pos, len) AS piece, freq
        FROM wt,
             LATERAL (SELECT unnest(range(1, length(w) + 1)) AS pos),
             LATERAL (SELECT unnest(range(1,
                 1 + least({UNI_MAXP}, length(w) - pos + 1))) AS len)
      )
      GROUP BY piece
    ),
    singles AS (SELECT piece FROM subs WHERE length(piece) = 1),
    seed AS (
      SELECT piece, wgt FROM subs WHERE length(piece) = 1
      UNION ALL
      SELECT piece, wgt FROM (
        SELECT piece, wgt FROM subs WHERE length(piece) > 1
        ORDER BY wgt DESC, piece LIMIT {UNI_SEED_K})
    ),
    v0 AS (
      SELECT piece,
             CAST(wgt AS DOUBLE) /
             CAST((SELECT CAST(SUM(wgt) AS BIGINT) FROM seed) AS DOUBLE) AS p
      FROM seed
    )"""
    ]
    for r in range(1, UNI_ROUNDS + 1):
        parts.append(dp.format(r=r, prev=r - 1))
    return parts, dp


def _uni_finish(sql: str) -> str:
    """MATERIALIZE every non-recursive CTE: the round-r recursion
    references v{r-1} (itself downstream of the round-(r-1)
    recursion) once per candidate join, and DuckDB re-inlines
    non-materialized CTEs per reference — measured 113 s vs 0.2 s
    at sf0.1 for the 2-round chain. Recursive CTEs themselves
    cannot take the hint; pinning their INPUTS breaks the
    re-evaluation cascade."""
    import re as _re

    return _re.sub(
        r"\b(wt|subs|singles|seed|enc|dw|[vfuk]\d+) AS \(",
        r"\1 AS MATERIALIZED (",
        sql,
    )


def _uni_oracle() -> str:
    parts, _ = _uni_ctes()
    return _uni_finish(
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + f"\n    SELECT piece, usage, p AS prob FROM v{UNI_ROUNDS}"
    )


def _uni_encode_oracle() -> str:
    """One more Viterbi pass (dp{R+1}) under the FINAL vocabulary,
    then the corpus join: word -> piece count, documents join the
    encoded word table — [[q_bpe_encode]]'s broadcast-join shape with
    the unigram segmentation in place of merge rules."""
    parts, dp = _uni_ctes()
    r = UNI_ROUNDS + 1
    parts.append(dp.format(r=r, prev=r - 1))
    parts.append(
        f"""enc AS (
      SELECT w, CAST(len(path) AS BIGINT) AS n_pieces FROM f{r}
    ),
    dw AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    )"""
    )
    return _uni_finish(
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + """
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(n_pieces) AS BIGINT) AS n_uni_tokens,
           round(CAST(SUM(n_pieces) AS DOUBLE) /
                 CAST(count(*) AS DOUBLE), 6) AS tokens_per_word
    FROM dw JOIN enc USING (w)
    GROUP BY doc_id"""
    )


def _train_unigram(spark: SparkSession, sf_dir: str):
    """The ONE unigram training loop behind [[q_unigram_lm]] (returns
    the final vocabulary) and [[q_unigram_encode]] (segments the word
    table under it) — the _train_bpe sharing convention: a single
    copy keeps the seed rule, the Viterbi tie-break and the pruning
    in lockstep between the two queries and their oracles. Returns
    (word_table, final_vocab(piece, usage, p))."""
    t = load_tables(spark, sf_dir)
    wt = scoped_persist(
        t.documents.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .where((F.col("w") != "") & (F.length("w") <= UNI_WMAX))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    subs = (
        wt.select(
            "freq",
            F.explode(
                F.expr(
                    f"flatten(transform(sequence(1, length(w)), pos -> "
                    f"transform(sequence(1, least({UNI_MAXP}, "
                    f"length(w) - pos + 1)), len -> "
                    f"substring(w, pos, len))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("wgt"))
    )
    subs = scoped_persist(subs)
    singles = subs.where(F.length("piece") == 1).select("piece")
    seed = subs.where(F.length("piece") == 1).unionByName(
        subs.where(F.length("piece") > 1)
        .orderBy(F.col("wgt").desc(), "piece")
        .limit(UNI_SEED_K)
    )
    tot0 = seed.agg(F.sum("wgt").cast("long").alias("tot"))
    vocab = seed.crossJoin(F.broadcast(tot0)).select(
        "piece",
        (F.col("wgt").cast("double") / F.col("tot").cast("double")).alias("p"),
    )
    viterbi = _uni_viterbi_expr()
    out = None
    for _ in range(UNI_ROUNDS):
        pm = vocab.agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "p"))
            ).alias("pm")
        )
        seg = wt.crossJoin(F.broadcast(pm)).select(
            "freq", F.expr(viterbi).alias("path")
        )
        usage = (
            seg.select("freq", F.explode("path").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("usage"))
        )
        kept = scoped_persist(
            usage.unionByName(
                singles.join(usage, "piece", "left_anti").select(
                    "piece", F.lit(0).cast("long").alias("usage")
                )
            )
        )
        tot = kept.agg(F.sum("usage").cast("long").alias("tot"))
        out = kept.crossJoin(F.broadcast(tot)).select(
            "piece",
            "usage",
            (F.col("usage").cast("double") / F.col("tot").cast("double"))
            .alias("p"),
        )
        vocab = out
    return wt, out


def unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED unigram vocabulary as a build-once derived layout
    (the ivf_index convention: training is an ingest-time artifact,
    run once per corpus content and shared by every consumer —
    [[q_unigram_lm]] reads it, [[q_unigram_encode]] segments under
    it). The cold-layout drive certifies the builder reproduces the
    exact vocabulary from scratch; a corpus regeneration re-trains
    via the content fingerprint."""
    from lakehouse_app_spark.sources.layout import derived_table

    return derived_table(
        spark,
        "unigram_vocab",
        sf_dir,
        lambda: _train_unigram(spark, sf_dir)[1].coalesce(1),
    )


@query("q_unigram_lm", oracle=_uni_oracle())
def q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:

    """SentencePiece-style unigram-LM tokenizer trainer (Kudo 2018) —
    the subword-vocabulary complement to [[q_bpe_merges]] (r12 verdict
    item 4): seed a piece vocabulary from frequent substrings of the
    word-frequency table, then run {UNI_ROUNDS} hard-EM rounds —
    E-step: Viterbi-segment every distinct word under the current
    piece probabilities (per-word DP, longer-piece tie-break); M-step:
    re-estimate p(piece) = usage/total from the freq-weighted
    segmentations, pruning zero-usage pieces (single chars exempt —
    they guarantee coverage, SentencePiece's required-character rule).
    Returns the final vocabulary (piece, usage, prob).

    Exactness without logs: piece probabilities are BIGINT-ratio
    doubles and Viterbi scores are PRODUCTS of them — IEEE-754
    multiply/divide/compare are exact-rounded and bit-deterministic
    across engines (only transcendentals differ), so the DuckDB
    oracle ([[_uni_oracle]]) replays training bit-for-bit: same seed,
    same DP (a recursive CTE carrying the last {UNI_MAXP} cells where
    Spark folds scan-locally), same struct-ordered argmax tie-break,
    same renormalization.

    Spark-first scale shape: the only corpus-sized work is the one
    token-explode word-count aggregate (shared with BPE); every EM
    round is vocabulary-sized — the Viterbi E-step is a SCAN-LOCAL
    projection over the distinct-word table with the (small) piece
    map broadcast in-band (one 1-row map crossJoin, no collect), and
    usage re-estimation is a map-side-combined hash aggregate. Round
    count is the fixed training budget, not a function of corpus
    size; encoding a 100 TB corpus with the result is the same
    broadcast word→pieces hash join [[q_bpe_encode]] uses."""
    vocab = unigram_vocab(spark, sf_dir)
    return vocab.select("piece", "usage", F.col("p").alias("prob"))


@query("q_unigram_encode", oracle=_uni_encode_oracle())
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM corpus ENCODING — the deployment pass completing
    the [[q_unigram_lm]] lifecycle exactly as [[q_bpe_encode]]
    completes [[q_bpe_merges]]: the trained piece probabilities
    Viterbi-segment the DISTINCT-word table once (the same scan-local
    DP fold as training — vocab-sized work), and the corpus pass is a
    broadcast word→piece-count hash join — documents never meet the
    DP. Per doc: word count, unigram token count, fertility
    (tokens/word, round 6 — IEEE-exact inputs, house rounding).
    The oracle runs one more recursive-CTE Viterbi pass (dp3) under
    the final vocabulary and replays the join; words excluded from
    training (empty, > UNI_WMAX chars) drop from BOTH sides via the
    inner join on the word table. At 100 TB the encode is the same
    shape production tokenizers use: segment the vocabulary once,
    broadcast the result, one hash join over the corpus."""
    t = load_tables(spark, sf_dir)
    wt = (
        t.documents.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .where((F.col("w") != "") & (F.length("w") <= UNI_WMAX))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    vocab = unigram_vocab(spark, sf_dir)
    pm = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "p"))).alias("pm")
    )
    enc = wt.crossJoin(F.broadcast(pm)).select(
        "w", F.size(F.expr(_uni_viterbi_expr())).cast("long").alias("n_pieces")
    )
    doc_words = t.documents.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    return (
        doc_words.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_uni_tokens"),
            F.round(
                F.sum("n_pieces").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("tokens_per_word"),
        )
    )
