"""Text analysis / similarity / LLM-pipeline operators (SURVEY §2.8).

The north-star surface for a training-data pipeline: tokenization,
TF-IDF, language ID, quality scoring, fingerprinting, lexicon scoring,
and the dedup family (exact in setops.py; MinHash-LSH, SimHash-style,
token-set Jaccard here).

Scale design (what survives 100×):
- The Jaccard similarity join uses AllPairs/PPJoin prefix filtering
  (tokens globally ordered rarest-first; only prefix tokens generate
  candidates; exact verify afterwards) — the filter-verification pattern
  from the string-similarity-join literature (PAPERS.md ICDE'22 entry).
  Candidates scale with prefix-bucket sizes, not |docs|².
- MinHash-LSH bands candidates through equality buckets (shuffle join on
  band key), never pairwise across buckets.
- Everything is built-in JVM expressions (md5, explode, groupBy) — no
  Python UDFs in any hot path.

Determinism: signatures use md5 (byte-identical across engines);
transcendentals (idf) rounded to 9dp; Jaccard = exact integer ÷ exact
integer (SURVEY §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stable import (
    hex_int,
    ols_slope,
    ols_slope_sql,
    py_tokens,
    round_dp,
    tokens,
)
from ..registry import query
from ..runtime import checkpoint, shared
from ..sources.tables import load
from .graph import relax_ctes

# Inline fixtures (FIXTURES.md §5): defined identically in both engines.
LEXICON = [  # (token, integer weight) — integer so group sums are exact
    ("fast", 2),
    ("big", 1),
    ("small", -1),
    ("error", -3),
    ("scan", 1),
    ("merge", 2),
    ("the", 0),
    ("slow", -2),
]
_LEX_SQL_VALUES = ", ".join(f"('{t}', {w})" for t, w in LEXICON)

MINHASH_SEEDS = [f"s{i:02d}" for i in range(16)]
_SEEDS_SQL = ", ".join(f"('{s}', {i})" for i, s in enumerate(MINHASH_SEEDS))

STOPWORDS = ["the", "a", "of", "and", "to", "data"]
_STOP_SQL = ", ".join(f"'{t}'" for t in STOPWORDS)

# Above this many distinct token-set classes, _jaccard_bitmask's class
# all-pairs join loses to PPJoin prefix filtering -> fall back.
_JACCARD_CLASS_CAP = 10_000

# Candidate generation for token-/shingle-level near-dup truth ignores
# terms occurring in more than this many documents: a boilerplate term
# with df=d contributes d² candidate rows (Σ df² is the join cost), and
# a pair whose EVERY shared term clears the cap is boilerplate-only
# overlap, not a meaningful near-dup. The cap gates DISCOVERY only —
# Jaccard is re-verified on the full term sets, so values are exact for
# every discovered pair, and when no term exceeds the cap (true of every
# test corpus here: df ≤ |docs| ≤ 5k) the output is exactly the
# uncapped truth (tests/test_properties.py asserts this).
DEDUP_DF_CAP = 100_000


def sh_parts(spark: SparkSession) -> int:
    """Partition count for compute-heavy per-doc stages (the documents
    table ships as one small file -> one input split locally)."""
    return spark.sparkContext.defaultParallelism


@query(
    "text_tokenize_wordcount",
    oracle="""
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    """,
)
def text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → explode → corpus word counts (the classic first stage of
    every text pipeline; sentiment-pipeline shape per PAPERS.md EDBT'16)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "text_ngrams",
    oracle="""
    SELECT bigram, COUNT(*) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM (SELECT string_split(text, ' ') AS toks FROM documents)
    )
    GROUP BY bigram
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram counts via index-lambda over the token array (no shuffle
    until the final count)."""
    d = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", tokens())
        # 1-token docs have no bigrams; they MUST be filtered because
        # Spark's sequence(1, 0) is DESCENDING and element_at(toks, 0)
        # errors (the oracle's range(1, 1) is simply empty)
        .filter(F.size("toks") >= 2)
    )
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           CAST(ROUND(LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 9) AS DOUBLE) AS idf,
           CAST(ROUND(tf.tf * (ROUND(LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 9)), 9) AS DOUBLE) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
    WHERE tf.doc_id % 10 = 0
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf per (doc, term) ⋈ df per term (broadcast — vocabulary is
    tiny relative to the corpus by construction) ⋈ corpus size. idf is
    smoothed ln((N+1)/(df+1))+1, rounded 9dp (libm divergence)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; corpus cardinality, not data
    idf = round_dp(F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
    return (
        tf.join(F.broadcast(df), "token")
        .withColumn("idf", idf)
        .withColumn("tfidf", round_dp(F.col("tf") * F.col("idf")))
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "token", "tf", "df", "idf", "tfidf")
    )


@query(
    "text_lang_route",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def text_lang_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language routing stats (multilingual partitioning key)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens()).cast("bigint")).alias("total_tokens"),
        F.sum(F.length("text").cast("bigint")).alias("total_chars"),
    )


@query(
    "text_lexicon_score",
    oracle=f"""
    WITH lex(token, weight) AS (VALUES {_LEX_SQL_VALUES}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    SELECT d.doc_id,
           COALESCE(s.score, 0) AS sentiment_score,
           COALESCE(s.n_hits, 0) AS n_lexicon_hits
    FROM documents d
    LEFT JOIN (
      SELECT tok.doc_id, CAST(SUM(lex.weight) AS BIGINT) AS score,
             COUNT(*) AS n_hits
      FROM tok JOIN lex ON tok.token = lex.token
      GROUP BY tok.doc_id
    ) s ON d.doc_id = s.doc_id
    """,
)
def text_lexicon_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment-style scoring (EDBT'16 pattern), zero-shuffle:
    the lexicon is small by nature, so instead of explode + broadcast-join
    + re-group (two shuffles of |tokens| rows), it becomes a map literal
    and the per-doc score a narrow higher-order projection — the same
    plan shape at 20k docs or 100 TB. (For lexicons too big for a
    literal, the explode + broadcast-join form is the fallback.)"""
    d = load(spark, sf_dir, "documents")
    lex_map = F.create_map(
        *[x for tok_w in LEXICON for x in (F.lit(tok_w[0]), F.lit(tok_w[1]))]
    )
    weights = F.transform(
        tokens(), lambda t: F.coalesce(lex_map[t], F.lit(0)).cast("long")
    )
    hits = F.filter(tokens(), lambda t: lex_map[t].isNotNull())
    return d.select(
        "doc_id",
        F.aggregate(weights, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "sentiment_score"
        ),
        F.size(hits).cast("bigint").alias("n_lexicon_hits"),
    )


@query(
    "text_levenshtein",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, a.p_brand,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def text_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join within brand blocks.

    Two-level filter-verification: (1) the length filter
    (|len(a)-len(b)| ≤ d bounds edit distance) runs before any distance;
    (2) distances are computed once per DISTINCT name pair, then expanded
    back to part pairs by equi-join — the name domain is tiny relative to
    the table (64 distinct names across 20k parts at sf0.1), so the
    quadratic step runs on the distinct domain, not the data. ~8× faster
    at sf0.1 with identical semantics."""
    parts = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    names = parts.select("p_name").distinct()
    na = names.select(F.col("p_name").alias("name_a"))
    nb = names.select(F.col("p_name").alias("name_b"))
    # distinct name pairs passing the length prefilter, both orders kept
    # (part-key ordering below decides pair orientation, not name order)
    name_pairs = (
        na.join(
            nb,
            F.abs(F.length(F.col("name_a")) - F.length(F.col("name_b"))) <= 2,
        )
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("bigint"),
        )
        .filter(F.col("edit_dist") <= 4)
    )
    a = parts.alias("a")
    b = parts.alias("b")
    # expand a -> its lev-compatible names first (small fan-out), THEN find
    # matching b rows by (brand, name) equi join: the all-pairs-per-brand
    # intermediate never materializes
    return (
        a.join(F.broadcast(name_pairs), F.col("a.p_name") == F.col("name_a"))
        .join(
            b,
            (F.col("b.p_brand") == F.col("a.p_brand"))
            & (F.col("b.p_name") == F.col("name_b"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            F.col("a.p_brand").alias("p_brand"),
            "edit_dist",
        )
    )


# Shared CTE text for Jaccard-style oracles: per-doc distinct tokens in a
# global rarest-first order, with prefix length for threshold t.
def _jaccard_docs_cte(threshold: float) -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    tdf AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    docs AS (
      SELECT doc_id,
             list_transform(list_sort(list({{'d': d.df, 't': t.token}})), s -> s.t) AS toks,
             COUNT(*) AS n
      FROM tok t JOIN tdf d USING (token)
      GROUP BY doc_id
    ),
    pref AS (
      SELECT doc_id,
             unnest(toks[1 : CAST(n - CEIL({threshold} * n) + 1 AS INTEGER)]) AS token
      FROM docs
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id
    )
    """


def _jaccard_probe(
    spark: SparkSession, sf_dir: str, d: DataFrame
) -> tuple[int, int]:
    """Distinct-token count and token-SET class count for the adaptive
    Jaccard strategy pick — one bounded limit-64 distinct collect for
    the vocab (the decision only asks "fits 63 bits?"), and the class
    count read off the shared checkpointed class table that every
    dense-path consumer builds next anyway (never a full token-stream
    pass per scalar, never a 2-column Expand multi-distinct). Both
    adaptive Jaccard operators collect this pair before choosing the
    bitmask vs PPJoin path, so it is shared: the second consumer pays no
    driver round-trips."""

    def build() -> tuple[int, int]:
        toks = F.array_distinct(tokens())
        # Bounded vocab probe (r13): the strategy only asks "<= 63?",
        # so collect at most 64 distinct tokens in ONE job instead of a
        # full countDistinct pass — 64 is the "wider than the mask"
        # sentinel (the exact count past 63 never matters to a caller).
        vocab_rows = (
            d.select(F.explode_outer(toks).alias("t"))
            .where(F.col("t").isNotNull())
            .distinct()
            .limit(64)
            .collect()
        )
        vocab_size = len(vocab_rows)
        if vocab_size <= 63:
            # Every dense-path consumer builds the class tables next
            # anyway; count classes on the checkpointed table (bounded
            # by |docs| rows) instead of a second full token-stream
            # pass with a per-doc md5 sort. On an adversarial corpus
            # that fails the class cap this builds tables the PPJoin
            # fallback won't read — one linear pass, the same order of
            # work as the probe pass it replaces.
            classes, _ids = _jaccard_class_tables(spark, sf_dir, d)
            n_classes = classes.count()
        else:
            # PPJoin path: the cap conjunct is short-circuited by
            # vocab_size > 63; carry an over-cap sentinel.
            n_classes = _JACCARD_CLASS_CAP + 1
        return vocab_size, n_classes

    return shared(spark, sf_dir, "documents", "jaccard_probe", build)


def _jaccard_class_tables(
    spark: SparkSession, sf_dir: str, d: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The (classes, ids) pair backing :func:`_jaccard_bitmask`: the
    threshold-INDEPENDENT half of the dense-domain Jaccard join, shared
    by text_jaccard_tokens (J>=0.9) and dedup_eval's truth arm (J>=0.7);
    at 100 TB the class table is written once and every threshold query
    reads it (the verified_pairs contract). classes = (sig, n, mask)
    checkpointed, ids = (doc_id, sig) checkpointed (it feeds two
    expansion joins per consumer — without the checkpoint the per-doc
    md5 scan re-runs for each)."""

    def build() -> tuple[DataFrame, DataFrame]:
        toks = F.array_distinct(tokens())
        docs = d.select(
            "doc_id",
            toks.alias("toks"),
            F.size(toks).cast("bigint").alias("n"),
            F.md5(F.array_join(F.sort_array(toks), "|")).alias("sig"),
        )
        # global vocab index (driver-side: ≤63 entries by construction)
        vocab = sorted(
            r["t"] for r in d.select(F.explode(toks).alias("t")).distinct().collect()
        )
        bit = {t: i for i, t in enumerate(vocab)}
        mask_expr = F.aggregate(
            F.transform(
                F.col("toks"),
                lambda t: F.element_at(
                    F.map_from_arrays(
                        F.array(*[F.lit(t2) for t2 in vocab]),
                        F.array(*[F.lit(1 << bit[t2]).cast("long") for t2 in vocab]),
                    ),
                    t,
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        )
        classes = (
            docs.groupBy("sig")
            .agg(F.first("toks").alias("toks"), F.first("n").alias("n"))
            .withColumn("mask", mask_expr)
            .select("sig", "n", "mask")
            .localCheckpoint()
        )
        ids = docs.select("doc_id", "sig").localCheckpoint()
        return classes, ids

    return shared(spark, sf_dir, "documents", "jaccard_classes", build)


def _jaccard_bitmask(
    spark: SparkSession, sf_dir: str, d: DataFrame, threshold: float
) -> DataFrame:
    """Dense-domain Jaccard join: token sets → 63-bit masks; dedupe docs
    into set classes; all-pairs over the (small) class domain with
    popcount arithmetic; expand qualifying class pairs back to doc pairs.
    |classes| is bounded by the set-structure of the corpus, not |docs|,
    so the quadratic step runs on the compressed domain. The class/id
    tables are threshold-independent and shared across consumers
    (:func:`_jaccard_class_tables`)."""
    classes, ids = _jaccard_class_tables(spark, sf_dir, d)
    # fan the class x class nested-loop join: the checkpointed classes
    # table keeps the agg's 1-2 AQE-coalesced partitions, so the
    # quadratic popcount filter otherwise runs on 1-2 tasks (guide §2.2)
    ca = classes.repartition(
        d.sparkSession.sparkContext.defaultParallelism
    ).select(
        F.col("sig").alias("sig_a"), F.col("n").alias("na"), F.col("mask").alias("ma")
    )
    cb = classes.select(
        F.col("sig").alias("sig_b"), F.col("n").alias("nb"), F.col("mask").alias("mb")
    )
    inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb"))).cast("bigint")
    qualifying = (
        ca.join(cb, F.col("sig_a") <= F.col("sig_b"))
        .withColumn("inter", inter)
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .filter(F.col("jaccard") >= threshold)
        .select("sig_a", "sig_b", "inter", "uni", "jaccard")
    )
    same = (
        qualifying.filter(F.col("sig_a") == F.col("sig_b"))
        .join(ids.alias("x"), F.col("sig_a") == F.col("x.sig"))
        .join(
            ids.alias("y"),
            (F.col("sig_b") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            "inter",
            "uni",
            "jaccard",
        )
    )
    cross = (
        qualifying.filter(F.col("sig_a") < F.col("sig_b"))
        .join(ids.alias("x"), F.col("sig_a") == F.col("x.sig"))
        .join(ids.alias("y"), F.col("sig_b") == F.col("y.sig"))
        .select(
            F.least(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_a"),
            F.greatest(F.col("x.doc_id"), F.col("y.doc_id")).alias("doc_b"),
            "inter",
            "uni",
            "jaccard",
        )
    )
    return same.unionByName(cross)


@query(
    "text_jaccard_tokens",
    oracle=_jaccard_docs_cte(0.9)
    + """
    SELECT doc_a, doc_b, inter, na + nb - inter AS uni,
           CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
    FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(da.toks, db.toks)) AS BIGINT) AS inter,
             da.n AS na, db.n AS nb
      FROM cand c
      JOIN docs da ON c.doc_a = da.doc_id
      JOIN docs db ON c.doc_b = db.doc_id
    )
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.9
    """,
)
def text_jaccard_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity join, J ≥ 0.9, via AllPairs/PPJoin
    prefix filtering: tokens globally ordered by (df asc, token asc); only
    the first n-⌈t·n⌉+1 tokens of each doc generate candidates (a J≥t pair
    must share a prefix token under a consistent global order); candidates
    verified exactly. Jaccard = integer intersection / integer union —
    exact in both engines.

    Adaptive physical strategy: when the token vocabulary fits in 63 bits
    (probed with one cheap distinct-count), documents are first deduped
    into token-SET classes and sets become bitmasks — class pairs are
    verified with popcount intersection inside whole-stage codegen, then
    expanded back to document pairs. Same filter-verification semantics,
    ~40× faster on this corpus where uniform high-df tokens defeat prefix
    pruning; large vocabularies take the PPJoin prefix path below. Both
    paths produce identical results and share the oracle."""
    # fan the probe's explode+md5 map and the per-doc sig/mask maps out
    # of the single input split (guide §2.5); 5k-row round-robin
    d = load(spark, sf_dir, "documents").repartition(sh_parts(spark))
    # Strategy probe (cached per app/sf/stamp — dedup_eval's truth arm
    # runs the identical probe): the class guard matters because the
    # bitmask path is all-pairs over token-SET classes — usually tiny
    # for a 63-token vocabulary, but an adversarial corpus can push it
    # toward min(|docs|, 2^63); past _JACCARD_CLASS_CAP the quadratic
    # class join loses to PPJoin's prefix filtering, so fall back.
    vocab_size, n_classes = _jaccard_probe(spark, sf_dir, d)
    if vocab_size <= 63 and n_classes <= _JACCARD_CLASS_CAP:
        return _jaccard_bitmask(spark, sf_dir, d, threshold=0.9)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("token")
    )
    tdf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    docs = (
        tok.join(F.broadcast(tdf), "token")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df AS d, token AS t))), s -> s.t)"
            ).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
        # Materialize once: feeds the prefix SELF-join plus both verify
        # sides — without this the tokenize+df+sort pipeline runs 4x.
        .localCheckpoint()
    )
    pref = docs.select(
        "doc_id",
        F.explode(
            F.expr("slice(toks, 1, CAST(n - CEIL(0.9 * n) + 1 AS INT))")
        ).alias("token"),
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("n").alias("na")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("n").alias("nb")
    )
    verified = (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
        )
        .withColumn("uni", F.col("na") + F.col("nb") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .filter(F.col("jaccard") >= 0.9)
    )
    return verified.select("doc_a", "doc_b", "inter", "uni", "jaccard")


@query(
    "dedup_minhash",
    oracle=f"""
    WITH seeds(seed, seed_id) AS (VALUES {_SEEDS_SQL}),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    sig AS (
      SELECT t.doc_id, s.seed_id, MIN(md5(s.seed || ':' || t.token)) AS mh
      FROM tok t CROSS JOIN seeds s
      GROUP BY t.doc_id, s.seed_id
    )
    SELECT doc_id,
           array_to_string(
             list_transform(list_sort(list({{'i': seed_id, 'h': mh}})), x -> x.h),
             '|') AS signature
    FROM sig GROUP BY doc_id
    """,
)
def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, signature[16]) via the vocabulary trick: md5(seed‖token) is
    computed once per DISTINCT token (16 × |vocab| hashes, broadcast),
    then each signature component is a plain MIN aggregate — 16 string
    mins in ONE hash aggregate, one narrow shuffle keyed by doc_id.
    Exactly equal to the naive (doc, seed, token) expansion. The
    signature is emitted '|'-joined (scalar-only results for the
    driver's hasher)."""
    return _doc_sig_mask(spark, sf_dir)[0].select(
        "doc_id", F.concat_ws("|", "signature").alias("signature")
    )


def _doc_sig_mask(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(signature table, n_chunks) of :func:`_doc_sig_mask_chunks`,
    shared across queries. The sig table feeds a SELF-join in
    dedup_minhash_pairs; without materialization Spark rebuilds the whole
    scan->vocab->aggregate pipeline on BOTH join sides (verified in the
    r1 physical plan: duplicated subtrees). At cluster scale this is
    "write signatures to a table, then LSH over the table" —
    localCheckpoint is the single-node equivalent."""
    return shared(
        spark,
        sf_dir,
        "documents",
        "minhash_sigs",
        lambda: _doc_sig_mask_chunks(spark, sf_dir),
    )


def _doc_sig_mask_chunks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """Shared scan for the MinHash family: one pass computes, per doc,
    the 16-component MinHash signature AND a dictionary-encoded token
    bitset (array of 64-bit chunks) + distinct-token count.

    The bitset turns exact-Jaccard verification from an O(|toks|)
    string-array intersection per candidate pair into a few AND+popcount
    instructions (`bit_count(a & b)`), which is what makes the verify
    stage of dedup_minhash_pairs cheap even when LSH buckets are dense.
    The dictionary (token → dense id) is built like any broadcast
    dictionary encode: distinct tokens, deterministic rank order. At
    100 TB a token dictionary may exceed broadcast size — then the
    bitset degrades gracefully back to sorted-int-array intersection;
    the signature path (broadcast of per-token hash rows) is unchanged
    because it only ever ships |vocab| rows, not |docs|."""
    # ONE corpus tokenization for the whole minhash family (r14,
    # VERDICT r13 #2): the shared (doc, token, tf) table's rows ARE the
    # distinct (doc, token) pairs, so signatures + bitsets build from
    # the checkpointed table instead of re-exploding documents — the
    # weighted/ICWS variants and every LSH consumer now ride the same
    # single tokenize pass. The doc_id-keyed repartition fans the
    # hash-join + 16-way min agg out of the table's few coalesced
    # checkpoint partitions AND lets the groupBy ride the same
    # partitioning with no further exchange (guide §2.2/§2.4).
    tok = _doc_token_tf(spark, sf_dir).repartition(
        sh_parts(spark), "doc_id"
    ).select("doc_id", "token")
    vocab = (
        tok.select("token")
        .distinct()
        .withColumn("tid", F.row_number().over(Window.orderBy("token")) - 1)
    )
    # Dictionary size drives the bitset width; collecting this one scalar
    # is a stats job (AQE-style), not a data collect.
    n_vocab = vocab.count()
    n_chunks = max(1, (n_vocab + 63) // 64)
    vocab_h = vocab.select(
        "token",
        "tid",
        *[
            F.md5(F.concat(F.lit(s), F.lit(":"), F.col("token"))).alias(f"h{i}")
            for i, s in enumerate(MINHASH_SEEDS)
        ],
    )
    aggs = [F.min(f"h{i}").alias(f"h{i}") for i in range(len(MINHASH_SEEDS))]
    aggs += [
        F.bit_or(
            F.when(
                F.expr(f"tid DIV 64 = {c}"),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"m{c}")
        for c in range(n_chunks)
    ]
    g = tok.join(F.broadcast(vocab_h), "token").groupBy("doc_id").agg(
        *aggs, F.count("*").alias("n")
    )
    out = g.select(
        "doc_id",
        F.array(*[f"h{i}" for i in range(len(MINHASH_SEEDS))]).alias("signature"),
        F.array(*[f"m{c}" for c in range(n_chunks)]).alias("mask"),
        "n",
    ).localCheckpoint()
    return out, n_chunks


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=16) per document: sig_i = min over distinct
    tokens of md5(seed_i ‖ ':' ‖ token). md5 is byte-identical across
    engines, so signatures (and therefore LSH bands) are reproducible
    anywhere. Candidate pairing happens in dedup_minhash_pairs."""
    return _minhash_signatures(spark, sf_dir)


# Shared MinHash-LSH verified-pairs CTE chain (ends in `pairs_out`):
# dedup_minhash_pairs hashes it directly; dedup_cluster_cc appends the
# connected-components unroll on top of the same pair graph.
_MINHASH_PAIRS_CTE = f"""
    WITH seeds(seed, seed_id) AS (VALUES {_SEEDS_SQL}),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    sig AS (
      SELECT t.doc_id, s.seed_id, MIN(md5(s.seed || ':' || t.token)) AS mh
      FROM tok t CROSS JOIN seeds s
      GROUP BY t.doc_id, s.seed_id
    ),
    bands AS (
      SELECT doc_id, seed_id // 4 AS band_id,
             md5(string_agg(mh, '|' ORDER BY seed_id)) AS band_key
      FROM sig GROUP BY doc_id, seed_id // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    docs AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
             len(list_distinct(string_split(text, ' '))) AS n
      FROM documents
    ),
    pairs_out AS MATERIALIZED (
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM (
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(da.toks, db.toks)) AS inter,
               da.n AS na, db.n AS nb
        FROM cand c
        JOIN docs da ON c.doc_a = da.doc_id
        JOIN docs db ON c.doc_b = db.doc_id
      )
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7
    )
"""


@query(
    "dedup_minhash_pairs",
    oracle=_MINHASH_PAIRS_CTE
    + "SELECT doc_a, doc_b, jaccard FROM pairs_out",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: 4 bands × 4 rows; docs whose band
    signature collides become candidates (equality bucket join — never
    pairwise across buckets); candidates verified by exact Jaccard ≥ 0.7.

    Scale shape: ONE shuffle builds signatures+bitsets (_doc_sig_mask);
    the band self-join carries each doc's bitset and all band keys, so
    verification needs NO re-join against the documents table, Jaccard
    is AND+popcount on the bitsets, and each colliding pair is emitted
    exactly once (only from its FIRST colliding band — an exists() check
    over the carried key arrays) so no multi-million-row DISTINCT
    shuffle exists anywhere in the plan."""
    cand = _lsh_candidate_pairs(spark, sf_dir)
    return (
        cand.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared LSH candidate stage for the minhash pair family: band
    collisions -> (doc_a, doc_b, inter, na, nb), one row per colliding
    pair, inter = exact distinct-token intersection via bitset popcount.
    dedup_minhash_pairs filters it by Jaccard, text_minhash_containment
    by containment — same candidates, different verify metric."""
    n_bands = len(MINHASH_SEEDS) // 4
    sm, n_chunks = _doc_sig_mask(spark, sf_dir)
    bands = sm.select(
        "doc_id",
        "n",
        *[F.col("mask")[c].alias(f"m{c}") for c in range(n_chunks)],
        *[
            F.md5(F.array_join(F.slice("signature", b * 4 + 1, 4), "|")).alias(f"k{b}")
            for b in range(n_bands)
        ],
    ).select(
        "*",
        F.posexplode(F.array(*[f"k{b}" for b in range(n_bands)])).alias(
            "band_id", "band_key"
        ),
    ).repartition(sh_parts(spark), "band_id", "band_key")
    # ^ pin the band shuffle width: the join's input is a few MB of
    # bitsets, so AQE's byte heuristic coalesces the verify stage to
    # 1-4 tasks while the popcount work is per-PAIR (bucket fan-out),
    # not per-byte — a user repartition is not coalescable, keeping the
    # verify on all cores (guide §2.2/§2.5); partitioning matches the
    # join keys so no extra exchange is added.
    pair = bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # Emit each pair only from its first colliding band (dedup without a
    # multi-million-row DISTINCT) — statically unrolled, codegen-friendly.
    dup_from_earlier_band = F.lit(False)
    for j in range(n_bands - 1):
        dup_from_earlier_band = dup_from_earlier_band | (
            (F.col("a.band_id") > j) & (F.col(f"a.k{j}") == F.col(f"b.k{j}"))
        )
    # Exact distinct-token intersection = popcount of ANDed dictionary
    # bitsets — statically unrolled over chunks (no interpreted HOFs).
    inter = sum(
        F.expr(f"bit_count(a.m{c} & b.m{c})") for c in range(n_chunks)
    )
    return (
        pair.filter(~dup_from_earlier_band)
        .withColumn("inter", inter)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "inter",
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
    )


@query(
    "text_mix_epochs",
    # Temperature-scaled domain-mixture scheduling (the multilingual /
    # domain-sampling rule, T=2): target weight w_s ∝ p_s^(1/2). The
    # total cancels: w_s = sqrt(tokens_s) / Σ_r sqrt(tokens_r), and the
    # per-domain EPOCHS (up/down-sampling repeat factor for one pass of
    # the target mixture) = w_s · total / tokens_s. The Σ sqrt fold runs
    # in source-sorted order on both engines (bounded: |domains| rows),
    # sqrt/division are IEEE-identical, outputs round 9dp.
    oracle="""
    WITH g AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    t AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
             list_aggregate(list(sqrt(CAST(n_tokens AS DOUBLE))
                                 ORDER BY source), 'sum') AS ssum
      FROM g)
    SELECT g.source, g.n_docs, g.n_tokens,
           CAST(ROUND(CAST(g.n_tokens AS DOUBLE) / t.total, 9) AS DOUBLE)
             AS token_share,
           CAST(ROUND(sqrt(CAST(g.n_tokens AS DOUBLE)) / t.ssum, 9)
                AS DOUBLE) AS target_weight,
           CAST(ROUND(sqrt(CAST(g.n_tokens AS DOUBLE)) / t.ssum * t.total
                      / g.n_tokens, 9) AS DOUBLE) AS epochs,
           sqrt(CAST(g.n_tokens AS DOUBLE)) / t.ssum * t.total
             / g.n_tokens > 1.0 AS upsampled
    FROM g CROSS JOIN t
    """,
)
def text_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture scheduling: turn observed per-domain token mass
    into temperature-scaled sampling weights (T=2: w ∝ share^(1/2) —
    the standard rule that up-weights small domains without letting
    them dominate) and the per-domain EPOCH factor a data loader
    repeats each domain by to realize the mixture in one pass. The
    last planning step of a curation pipeline: pipeline_llm_curation
    ends with balanced packed batches; this op emits the cross-domain
    schedule.

    Scale shape: ONE scan collapses to |domains| rows; the Σ sqrt
    normalizer is a bounded source-sorted fold on that tiny grid
    (order-canonical — the vec_centroid contract); everything after the
    first agg is grid-sized."""
    g = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(tokens())).cast("bigint").alias("n_tokens"),
        )
    )
    t = g.agg(
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "n_tokens"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["n_tokens"].cast("double")),
        ).alias("ssum"),
    )
    w = F.sqrt(F.col("n_tokens").cast("double")) / F.col("ssum")
    epochs = w * F.col("total") / F.col("n_tokens")
    return g.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "n_tokens",
        round_dp(F.col("n_tokens").cast("double") / F.col("total")).alias(
            "token_share"
        ),
        round_dp(w).alias("target_weight"),
        round_dp(epochs).alias("epochs"),
        (epochs > 1.0).alias("upsampled"),
    )


def _doc_token_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (doc_id, token, tf) counts: the token-frequency
    table BOTH weighted-minhash variants build signatures from (integer
    copy-replication for dedup_minhash_weighted, sublinear 1+ln(tf)
    weights for dedup_minhash_icws) — shared, every consumer reads it
    (the verified_pairs contract; first touch charged to whichever query
    runs first). At 100 TB this is "write the tf table, sign over the
    table"."""
    return shared(
        spark,
        sf_dir,
        "documents",
        "token_tf",
        lambda: load(spark, sf_dir, "documents")
        # fan the explode + partial count out of the single input split
        # (guide §2.5; a real corpus scan has many splits)
        .repartition(sh_parts(spark))
        .select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(),
    )


_WMH_SEEDS = MINHASH_SEEDS[:8]  # 2 bands x 4 rows
_WMH_SEEDS_SQL = ", ".join(f"('{s}', {i})" for i, s in enumerate(_WMH_SEEDS))
_WMH_THRESH = 0.6


@query(
    "dedup_minhash_weighted",
    # Weighted-Jaccard near-dup pairs. Integer token weights (tf) turn
    # weighted Jaccard into PLAIN Jaccard over copy-replicated element
    # sets: J_w(A,B) = sum_t min(a_t,b_t) / sum_t max(a_t,b_t) equals
    # |rep(A) n rep(B)| / |rep(A) u rep(B)| where rep(X) = {t#i : 1 <=
    # i <= x_t} — shared copies ARE the min, the union IS the max. So
    # the whole unweighted MinHash-LSH machinery applies verbatim to
    # the element stream, and the verification is an exact set
    # intersection (exact weighted Jaccard, not an estimate).
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    el AS (
      SELECT doc_id, token || '#' || CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id, token ORDER BY pos) AS VARCHAR) AS elem
      FROM tok),
    seeds(seed, sid) AS (VALUES {_WMH_SEEDS_SQL}),
    sig AS (
      SELECT e.doc_id, s.sid, MIN(md5(s.seed || ':' || e.elem)) AS mh
      FROM el e CROSS JOIN seeds s GROUP BY e.doc_id, s.sid),
    bands AS (
      SELECT doc_id, sid // 4 AS band_id,
             md5(string_agg(mh, '|' ORDER BY sid)) AS bk
      FROM sig GROUP BY doc_id, sid // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
    docs AS (
      SELECT doc_id, list(elem) AS els, COUNT(*) AS n
      FROM el GROUP BY doc_id)
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(da.els, db.els)) AS DOUBLE)
             / (da.n + db.n - len(list_intersect(da.els, db.els)))
             AS wjaccard
    FROM cand c
    JOIN docs da ON c.doc_a = da.doc_id
    JOIN docs db ON c.doc_b = db.doc_id
    WHERE CAST(len(list_intersect(da.els, db.els)) AS DOUBLE)
          / (da.n + db.n - len(list_intersect(da.els, db.els)))
          >= {_WMH_THRESH}
    """,
)
def dedup_minhash_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted MinHash near-duplicate pairs — the dedup modality where
    token FREQUENCY matters (unweighted Jaccard treats a word said once
    and fifty times identically; weighted Jaccard is what separates
    'same template, different filler mass' long-form pages). Integer tf
    weights reduce weighted Jaccard to plain Jaccard over
    copy-replicated elements (token#occurrence), so the standard
    banding s-curve and an EXACT set-intersection verification both
    apply unchanged — no ICWS sampling machinery needed for integer
    weights.

    Scale shape (the dedup_minhash_pairs contract): the element stream
    is one explode + one per-(doc,token) window; md5(seed‖elem) is
    computed once per DISTINCT element (the _doc_sig_mask vocabulary
    trick — element re-use across docs is high, so 8·|elem-vocab|
    hashes replace 8·|elements|), signatures + a dictionary-encoded
    element BITSET collapse in ONE hash agg; 2x4 banding buckets
    candidates via equi-join (never all-pairs, salted_band_pairs above
    for degenerate bands); each pair is emitted once from its first
    colliding band; verification is exact element-set intersection via
    AND+popcount on the carried bitsets — the corpus is never re-joined
    and no element array rides the band shuffle. If the element
    dictionary ever exceeds broadcast size, both legs degrade
    gracefully to per-element hashing + sorted-array intersection (the
    documented _doc_sig_mask posture)."""
    # The element SET per doc is {token#1 .. token#tf}, so the shared
    # map-side-combinable (doc, token) -> tf table replaces the
    # per-occurrence row_number window (no (doc,token)-keyed sort of the
    # full token stream); elements re-derive from the checkpointed count
    # table on both consuming passes (vocab and signatures), and the
    # table itself is session-shared with dedup_minhash_icws.
    ct = _doc_token_tf(spark, sf_dir)
    el = ct.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, tf), "
                "i -> concat(token, '#', CAST(i AS STRING)))"
            )
        ).alias("elem"),
    )
    # Vocabulary trick (the _doc_sig_mask shape): hash each DISTINCT
    # element once, broadcast the (elem, tid, h0..h7) dictionary, and
    # fold per-doc minima + the dictionary bitset in one hash agg.
    vocab = (
        el.select("elem")
        .distinct()
        .withColumn("tid", F.row_number().over(Window.orderBy("elem")) - 1)
    )
    n_vocab = vocab.count()
    n_chunks = max(1, (n_vocab + 63) // 64)
    vocab_h = vocab.select(
        "elem",
        "tid",
        *[
            F.md5(F.concat(F.lit(s), F.lit(":"), F.col("elem"))).alias(f"h{i}")
            for i, s in enumerate(_WMH_SEEDS)
        ],
    )
    # materialize signatures+bitsets ONCE: the band self-join below
    # would otherwise rebuild the scan->window->agg chain on BOTH sides
    # (the signature-table lesson from the unweighted family)
    sig = el.join(F.broadcast(vocab_h), "elem").groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(len(_WMH_SEEDS))],
        *[
            F.bit_or(
                F.when(
                    F.expr(f"tid DIV 64 = {c}"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(tid % 64 AS INT))"
                    ),
                ).otherwise(F.lit(0).cast("long"))
            ).alias(f"m{c}")
            for c in range(n_chunks)
        ],
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint()
    n_bands = len(_WMH_SEEDS) // 4
    bands = sig.select(
        "doc_id",
        "n",
        *[f"m{c}" for c in range(n_chunks)],
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * 4 + r}") for r in range(4)]
                )
            ).alias(f"k{b}")
            for b in range(n_bands)
        ],
    ).select(
        "*",
        F.posexplode(F.array(*[f"k{b}" for b in range(n_bands)])).alias(
            "band_id", "band_key"
        ),
    ).repartition(sh_parts(spark), "band_id", "band_key")
    # ^ pin the band shuffle width (same rationale as
    # _lsh_candidate_pairs): the array_intersect verify is per-PAIR
    # work that AQE's byte heuristic otherwise coalesces onto 3-4 tasks.
    pair = bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # "no EARLIER band collides" — each pair is emitted once, from its
    # first colliding band. Generalized over all k{i}, i < band_id (not
    # just k0), so widening _WMH_SEEDS to 3+ bands cannot silently
    # double-emit pairs that collide in two later bands (ADVICE r9).
    dup_earlier = F.lit(False)
    for i in range(n_bands - 1):
        dup_earlier = dup_earlier | (
            (F.col("a.band_id") > i) & (F.col(f"a.k{i}") == F.col(f"b.k{i}"))
        )
    # Exact element-set intersection = popcount of ANDed dictionary
    # bitsets (elements are distinct within a doc by construction, so
    # |rep(A) ∩ rep(B)| IS the bitset popcount) — statically unrolled
    # over chunks, no string arrays cross the band shuffle.
    inter = sum(
        F.expr(f"bit_count(a.m{c} & b.m{c})") for c in range(n_chunks)
    )
    wj = inter.cast("double") / (F.col("a.n") + F.col("b.n") - inter)
    return (
        pair.filter(~dup_earlier)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            wj.alias("wjaccard"),
        )
        .filter(F.col("wjaccard") >= _WMH_THRESH)
    )


def salted_band_pairs(
    bands: DataFrame, n_salts: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Skew-salted band self-pairing — the documented mitigation for
    DEGENERATE LSH/phash bands (a band key shared by a huge doc
    population: boilerplate signatures, all-zero phash bands). The
    plain band self-join maps every such pair onto ONE reducer
    (O(|bucket|²) rows on one task); here the join key is widened to
    (band_id, band_key, salt(partner)): the left side replicates once
    per salt tag, the right side carries its own deterministic salt,
    so pair (a, b) with a.doc_id < b.doc_id is emitted EXACTLY once —
    on the reducer owning tag = salt(b) — and a degenerate bucket's
    pair fan-out spreads over n_salts reducers (per-task output
    |bucket|²/S, per-task input |bucket| + |bucket|/S, linear).

    The pair SET is identical to the unsalted join by construction
    (property-gated on an adversarial all-one-band fixture;
    tests/test_properties.py::test_salted_band_pairs_*). The normal
    corpora the registered queries gate on have no degenerate bands
    (max bucket occupancy is small — measured), so they keep the plain
    join; at 100 TB the band-size count that picks the path is one
    cheap agg over the band table (SCALE.md §4)."""
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts)).cast("int")
    right = bands.withColumn("salt", salt).alias("b")
    left = bands.withColumn(
        "tag", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    ).alias("a")
    pair = left.join(
        right.hint("shuffle_hash"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.tag") == F.col("b.salt"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return pair.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        *[F.col(f"a.{c}").alias(f"a_{c}") for c in carry],
        *[F.col(f"b.{c}").alias(f"b_{c}") for c in carry],
    )


_ICWS_SEEDS = [f"icws-{s}" for s in MINHASH_SEEDS[:8]]  # 2 bands x 4 rows
_ICWS_SEEDS_SQL = ", ".join(f"('{s}', {i})" for i, s in enumerate(_ICWS_SEEDS))
_ICWS_THRESH = 0.6
_ICWS_PROBE_MOD = 20  # probe batch = docs with doc_id % 20 == 3 (5%)


def _icws_token_samples() -> list:
    """Per-token ICWS sampler parameters for each seed: struct(r, lnc,
    beta) — the DOC-INDEPENDENT part of Ioffe's draw (Ioffe 2010, §4
    algorithm 1), so it is computed once on the VOCAB and joined back
    (broadcast at test SF; a shuffle join on token at web vocab —
    SCALE.md §4). All randomness is md5-derived (five 24-bit uniforms
    from one digest); every ln() is rounded 9dp immediately (the house
    libm-divergence contract); everything after the rounds is +,-,*,/
    on identical doubles — bit-deterministic across engines."""
    out = []
    for i, seed in enumerate(_ICWS_SEEDS):
        h = F.md5(F.concat(F.lit(seed + ":"), F.col("token")))

        def u(j: int, h: F.Column = h) -> F.Column:
            return (hex_int(h, 6, 1 + 6 * j).cast("double") + 0.5) / 16777216.0

        lnu = [round_dp(F.log(u(j))) for j in range(4)]
        out.append(
            F.struct(
                (-(lnu[0] + lnu[1])).alias("r"),  # Gamma(2,1)
                (-(lnu[2] + lnu[3])).alias("lnc"),  # ln Gamma(2,1)
                u(4).alias("beta"),
            ).alias(f"s{i}")
        )
    return out


def _icws_key(i: int) -> F.Column:
    """The per-(doc, token) ICWS sample key under seed i: struct(lna,
    token, t) from the joined sampler params s{i} and the row's lnw.
    The per-doc MIN of this struct is the consistent weighted sample;
    P(min_A == min_B) = weighted Jaccard exactly."""
    r, lnc = F.col(f"s{i}.r"), F.col(f"s{i}.lnc")
    beta = F.col(f"s{i}.beta")
    t = F.floor(F.col("lnw") / r + beta).cast("bigint")
    lna = round_dp(lnc - r * (t.cast("double") - beta) - r)
    return F.struct(
        lna.alias("lna"), F.col("token").alias("token"), t.alias("t")
    )


def _icws_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc ICWS signature table: one min(struct) per seed plus the
    doc's (token -> nano-unit weight) map and total weight for exact
    verification. localCheckpointed — the probe band join consumes it
    on both sides (the signature-table lesson). Exposed for the
    exact-Python-replay test."""
    # shared, checkpointed (doc, token, tf) table (see _doc_token_tf):
    # it feeds BOTH the sampler-vocab distinct and the per-row keys
    # below — without the checkpoint the tokenize+count ran twice here
    tf = _doc_token_tf(spark, sf_dir)
    vocab = tf.select("token").distinct().select(
        "token", *_icws_token_samples()
    )
    w = 1.0 + round_dp(F.log(F.col("tf").cast("double")))
    row = (
        tf.withColumn("wn", F.round(w * 1e9, 0).cast("bigint"))
        .withColumn("lnw", round_dp(F.log(w)))
        .join(F.broadcast(vocab), "token")
        .select(
            "doc_id",
            "token",
            "wn",
            *[_icws_key(i).alias(f"m{i}") for i in range(len(_ICWS_SEEDS))],
        )
    )
    return (
        row.groupBy("doc_id")
        .agg(
            *[F.min(f"m{i}").alias(f"m{i}") for i in range(len(_ICWS_SEEDS))],
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("token", "wn")))
            ).alias("wmap"),
            F.sum("wn").cast("bigint").alias("wtot"),
        )
        .localCheckpoint()
    )


@query(
    "dedup_minhash_icws",
    # ICWS weighted minhash for REAL-valued weights (sublinear tf,
    # w = 1 + ln(tf) — the case integer copy-replication cannot
    # express), run as the PRODUCTION shape: a 5% probe batch deduped
    # against the whole corpus (the dedup_incremental posture — this
    # corpus is ~80% near-dup mass by construction, so an all-pairs
    # output would be millions of rows re-demonstrating what
    # dedup_minhash_pairs already exhibits). P(sample collision) = J_w
    # exactly per hash (Ioffe 2010), so 2x4 banding applies unchanged;
    # candidates are verified by EXACT weighted Jaccard over integer
    # nano-unit weights (sum-order-independent in both engines, with
    # smax = wtot_a + wtot_b - smin). The md5-derived uniforms make the
    # sampler replayable: this SQL reproduces the Spark signatures
    # byte-for-byte.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    docw AS (
      SELECT doc_id, token,
             CAST(round((1.0 + round(ln(tf), 9)) * 1e9, 0) AS BIGINT)
               AS wn,
             round(ln(1.0 + round(ln(tf), 9)), 9) AS lnw
      FROM tf),
    wtot AS (SELECT doc_id, SUM(wn) AS wtot FROM docw GROUP BY 1),
    seeds(seed, sid) AS (VALUES {_ICWS_SEEDS_SQL}),
    samp AS (
      SELECT v.token, s.sid, md5(s.seed || ':' || v.token) AS h
      FROM (SELECT DISTINCT token FROM docw) v CROSS JOIN seeds s),
    uni AS (
      SELECT token, sid,
        round(ln((CAST(CAST('0x' || substr(h, 1, 6) AS BIGINT) AS DOUBLE)
                  + 0.5) / 16777216.0), 9) AS lnu0,
        round(ln((CAST(CAST('0x' || substr(h, 7, 6) AS BIGINT) AS DOUBLE)
                  + 0.5) / 16777216.0), 9) AS lnu1,
        round(ln((CAST(CAST('0x' || substr(h, 13, 6) AS BIGINT) AS DOUBLE)
                  + 0.5) / 16777216.0), 9) AS lnu2,
        round(ln((CAST(CAST('0x' || substr(h, 19, 6) AS BIGINT) AS DOUBLE)
                  + 0.5) / 16777216.0), 9) AS lnu3,
        (CAST(CAST('0x' || substr(h, 25, 6) AS BIGINT) AS DOUBLE) + 0.5)
          / 16777216.0 AS beta
      FROM samp),
    gam AS (
      SELECT token, sid, beta,
             -(lnu0 + lnu1) AS r, -(lnu2 + lnu3) AS lnc
      FROM uni),
    icws AS (
      SELECT d.doc_id, g.sid, d.token,
             CAST(floor(d.lnw / g.r + g.beta) AS BIGINT) AS t,
             round(g.lnc
                   - g.r * (CAST(CAST(floor(d.lnw / g.r + g.beta) AS BIGINT)
                                 AS DOUBLE) - g.beta)
                   - g.r, 9) AS lna
      FROM docw d JOIN gam g ON g.token = d.token),
    mins AS (
      SELECT doc_id, sid, token, t,
             ROW_NUMBER() OVER (PARTITION BY doc_id, sid
                                ORDER BY lna, token, t) AS rn
      FROM icws),
    sig AS (
      SELECT doc_id, sid, md5(token || '#' || CAST(t AS VARCHAR)) AS mh
      FROM mins WHERE rn = 1),
    bands AS (
      SELECT doc_id, sid // 4 AS band_id,
             md5(string_agg(mh, '|' ORDER BY sid)) AS bk
      FROM sig GROUP BY doc_id, sid // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS match_id
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bk = b.bk
       AND a.doc_id <> b.doc_id
      WHERE a.doc_id % {_ICWS_PROBE_MOD} = 3),
    toku AS (
      SELECT c.probe_id, c.match_id, w.token
      FROM cand c JOIN docw w
        ON w.doc_id = c.probe_id OR w.doc_id = c.match_id
      GROUP BY 1, 2, 3),
    ver AS (
      SELECT u.probe_id, u.match_id,
             SUM(LEAST(COALESCE(wa.wn, 0), COALESCE(wb.wn, 0))) AS smin
      FROM toku u
      LEFT JOIN docw wa
        ON wa.doc_id = u.probe_id AND wa.token = u.token
      LEFT JOIN docw wb
        ON wb.doc_id = u.match_id AND wb.token = u.token
      GROUP BY 1, 2)
    SELECT v.probe_id, v.match_id,
           round(CAST(v.smin AS DOUBLE)
                 / (ta.wtot + tb.wtot - v.smin), 9) AS wjaccard
    FROM ver v
    JOIN wtot ta ON ta.doc_id = v.probe_id
    JOIN wtot tb ON tb.doc_id = v.match_id
    WHERE round(CAST(v.smin AS DOUBLE)
                / (ta.wtot + tb.wtot - v.smin), 9) >= {_ICWS_THRESH}
    """,
)
def dedup_minhash_icws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICWS weighted-minhash near-dup PROBE — the REAL-valued-weight
    dedup variant (dedup_minhash_weighted covers integer tf via copy
    replication, which cannot express sublinear scaling), in the
    production incremental shape: a deterministic 5% probe batch
    (doc_id % 20 == 3, the "new documents" of a dedup_incremental
    cycle) is searched against the WHOLE corpus index. Weights are
    w_t = 1 + ln(tf_t); Ioffe's Consistent Weighted Sampling gives
    P(sample collision) = weighted Jaccard EXACTLY per hash, so the
    standard 2-bands x 4-rows LSH s-curve applies unchanged. Output is
    directional (probe_id, match_id, wjaccard >= 0.6).

    Determinism: the sampler's Gamma(2,1)/Uniform draws are five
    24-bit md5-derived uniforms per (seed, token) — shared across
    docs, which is what makes the sampling CONSISTENT — with every
    ln() rounded 9dp at the point of divergence risk; verification
    sums integer nano-unit weights (order-independent, exact):
    smin via one single-pass map merge, smax = wtot_a + wtot_b - smin,
    wjaccard one integer ratio rounded 9dp.

    Scale shape: the sampler parameters (r, lnc, beta per seed) are
    DOC-INDEPENDENT, so they are computed once on the VOCAB and joined
    back (broadcast here; a shuffle join on token at web vocab — the
    r10 rework that took the signature build from 12.8 s to ~3 s at
    sf0.1: 8 md5 + 32 ln per vocab row instead of per corpus row);
    per-doc argmins collapse in ONE hash agg (8 min(struct) columns,
    map-side combinable); signatures localCheckpoint before the band
    join; only PROBE rows join the band index (candidates scale with
    |batch| x bucket occupancy, not corpus²; salted_band_pairs above
    is the degenerate-band path); verification is one O(|A|+|B|)
    map_zip_with merge per candidate on carried weight maps (the
    r10 rework replacing two O(|A|x|B|) element_at folds) — the
    corpus is never re-joined."""
    sig = _icws_sig(spark, sf_dir)
    mh = [
        F.md5(
            F.concat(
                F.col(f"m{i}.token"),
                F.lit("#"),
                F.col(f"m{i}.t").cast("string"),
            )
        )
        for i in range(len(_ICWS_SEEDS))
    ]
    n_bands = len(_ICWS_SEEDS) // 4
    bands = sig.select(
        "doc_id",
        "wmap",
        "wtot",
        *[
            F.md5(F.concat_ws("|", *mh[b * 4 : b * 4 + 4])).alias(f"k{b}")
            for b in range(n_bands)
        ],
    ).select(
        "*",
        F.posexplode(F.array(*[f"k{b}" for b in range(n_bands)])).alias(
            "band_id", "band_key"
        ),
    ).repartition(sh_parts(spark), "band_id", "band_key")
    # ^ pin the band shuffle width (same rationale as
    # _lsh_candidate_pairs): the map_zip_with verify is per-PAIR work
    # that AQE's byte heuristic otherwise coalesces onto 2 tasks.
    probes = bands.filter(F.col("doc_id") % _ICWS_PROBE_MOD == 3)
    pair = probes.alias("a").join(
        bands.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    )
    # "no EARLIER band collides" — each (probe, match) pair is emitted
    # once, from its first colliding band. Generalized over all k{i},
    # i < band_id (ADVICE r9), so widening _ICWS_SEEDS to 3+ bands
    # cannot silently double-emit.
    dup_earlier = F.lit(False)
    for i in range(n_bands - 1):
        dup_earlier = dup_earlier | (
            (F.col("a.band_id") > i) & (F.col(f"a.k{i}") == F.col(f"b.k{i}"))
        )
    zero = F.lit(0).cast("bigint")
    # smin in ONE sorted-merge pass over both maps (map_zip_with):
    # absent keys surface as NULL on that side -> least(w, 0) = 0
    # (weights are strictly positive), so the merged values sum to
    # sum_t min(a_t, b_t) exactly.
    smin = F.aggregate(
        F.map_values(
            F.map_zip_with(
                F.col("a.wmap"),
                F.col("b.wmap"),
                lambda k, x, y: F.least(
                    F.coalesce(x, zero), F.coalesce(y, zero)
                ),
            )
        ),
        zero,
        lambda acc, v: acc + v,
    )
    wj = round_dp(smin.cast("double") / (F.col("a.wtot") + F.col("b.wtot") - smin))
    return (
        pair.filter(~dup_earlier)
        .select(
            F.col("a.doc_id").alias("probe_id"),
            F.col("b.doc_id").alias("match_id"),
            wj.alias("wjaccard"),
        )
        .filter(F.col("wjaccard") >= _ICWS_THRESH)
    )


@query(
    "text_minhash_containment",
    oracle=f"""
    WITH seeds(seed, seed_id) AS (VALUES {_SEEDS_SQL}),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    sig AS (
      SELECT t.doc_id, s.seed_id, MIN(md5(s.seed || ':' || t.token)) AS mh
      FROM tok t CROSS JOIN seeds s
      GROUP BY t.doc_id, s.seed_id
    ),
    bands AS (
      SELECT doc_id, seed_id // 4 AS band_id,
             md5(string_agg(mh, '|' ORDER BY seed_id)) AS band_key
      FROM sig GROUP BY doc_id, seed_id // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    docs AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks,
             len(list_distinct(string_split(text, ' '))) AS n
      FROM documents
    )
    SELECT doc_a, doc_b, containment
    FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(da.toks, db.toks)) AS DOUBLE)
               / LEAST(da.n, db.n) AS containment
      FROM cand c
      JOIN docs da ON c.doc_a = da.doc_id
      JOIN docs db ON c.doc_b = db.doc_id
    )
    WHERE containment >= 0.9
    """,
)
def text_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup (quote / subset detection): same LSH candidate
    stage as dedup_minhash_pairs, but verified by CONTAINMENT of the
    smaller token set in the larger — |A∩B| / min(|A|,|B|) ≥ 0.9 — which
    catches a short document embedded in a longer one that Jaccard dilutes
    below its threshold. Integer popcount / integer min -> exact double in
    both engines. Shares the one-shuffle signature+bitset build and the
    first-colliding-band dedup with the Jaccard path (same scale shape)."""
    cand = _lsh_candidate_pairs(spark, sf_dir)
    return (
        cand.withColumn(
            "containment",
            F.col("inter").cast("double") / F.least("na", "nb"),
        )
        .filter(F.col("containment") >= 0.9)
        .select("doc_a", "doc_b", "containment")
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id % 5 <> 0
    ),
    batch AS (
      SELECT doc_id, md5(text) AS sig FROM documents WHERE doc_id % 5 = 0
    )
    SELECT b.doc_id, b.sig,
           (h.sig IS NOT NULL) AS seen_before
    FROM batch b LEFT JOIN hist h ON b.sig = h.sig
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a historical corpus — the production
    shape: a new batch (doc_id % 5 = 0 here; in production the latest
    ingest partition) is checked against the signature store of everything
    already accepted, emitting a keep/drop decision per new document
    without ever re-scanning history text. Exact-signature flavor of the
    same pattern the LSH family uses for near-dups.

    Scale shape: history collapses to DISTINCT md5 signatures (the only
    thing that must persist between runs — at 100 TB a bucketed signature
    table keyed by sig); the decision join is signature-to-signature,
    shuffle-partitioned on the hash, never text-to-text."""
    d = load(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("sig"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("sig")
    )
    return batch.join(
        hist.withColumnRenamed("sig", "h_sig"),
        batch.sig == F.col("h_sig"),
        "left",
    ).select(
        "doc_id", "sig", F.col("h_sig").isNotNull().alias("seen_before")
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    dims AS (
      SELECT doc_id, token, tf, unnest(range(1, 17)) AS i
      FROM tok
    ),
    weighted AS (
      SELECT doc_id, i,
             SUM(tf * (strpos('0123456789abcdef', substr(md5(token), CAST(i AS INTEGER), 1)) - 8.5)) AS w
      FROM dims GROUP BY doc_id, i
    )
    SELECT doc_id,
           array_to_string(
             list_transform(list_sort(list({'i': i, 'b': CASE WHEN w > 0 THEN 1 ELSE 0 END})),
                            x -> x.b),
             '') AS simhash_bits
    FROM weighted GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-style fingerprint with 16 hex-digit dimensions: dimension i
    weights each token by (hex digit i of md5(token)) - 8.5, tf-weighted;
    the sign of the accumulated weight is bit i. Integer×half arithmetic
    -> exact in both engines (half-steps are exact doubles, so the sum is
    order-independent). Near-dup docs agree on most bits (Hamming).

    Vocabulary trick (same as the minhash family): md5 runs once per
    DISTINCT token and fans out into 16 weight COLUMNS, so the per-doc
    pass is a single hash aggregate of 16 sums — no 16x row explosion
    through the shuffle and no per-(doc,token,dim) md5 (the naive shape
    measured ~3x slower at sf0.1). At 100 TB the broadcast vocabulary
    has the same cap as dedup_minhash (documented there); past it, drop
    the broadcast hint and let AQE pick a shuffle join."""
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab_w = tok.select("token").distinct().select(
        "token",
        *[
            (
                F.expr(f"instr('0123456789abcdef', substring(md5(token), {i}, 1))")
                - F.lit(8.5)
            ).alias(f"w{i}")
            for i in range(1, 17)
        ],
    )
    sums = (
        tok.join(F.broadcast(vocab_w), "token")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.col("tf") * F.col(f"w{i}")).alias(f"s{i}")
                for i in range(1, 17)
            ]
        )
    )
    bits = F.concat(
        *[
            F.when(F.col(f"s{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(1, 17)
        ]
    )
    return sums.select("doc_id", bits.alias("simhash_bits"))


@query(
    "text_langid",
    oracle="""
    WITH tok AS (
      SELECT lang, token, COUNT(*) AS tf
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY lang, token
    ),
    profile AS (
      SELECT lang, token FROM (
        SELECT lang, token,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rn
        FROM tok
      ) WHERE rn <= 5
    ),
    doc_tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      FROM documents
    ),
    scores AS (
      SELECT dt.doc_id, p.lang, COUNT(*) AS overlap
      FROM doc_tok dt JOIN profile p ON dt.token = p.token
      GROUP BY dt.doc_id, p.lang
    )
    SELECT d.doc_id, d.lang AS actual_lang,
           COALESCE(s.lang, 'und') AS predicted_lang,
           COALESCE(s.overlap, 0) AS profile_overlap
    FROM documents d
    LEFT JOIN (
      SELECT doc_id, lang, overlap,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY overlap DESC, lang) AS rn
      FROM scores
    ) s ON d.doc_id = s.doc_id AND s.rn = 1
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by n-gram(unigram) frequency profiles (Cavnar-Trenkle
    style): learn top-5 tokens per language from the corpus, predict the
    language whose profile overlaps the document's token set most
    (deterministic tie-break by overlap desc, lang asc)."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(tokens()).alias("token")).groupBy(
        "lang", "token"
    ).agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("token"))
    profile = (
        tok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "token")
    )
    doc_tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens())).alias("token")
    )
    scores = (
        doc_tok.join(F.broadcast(profile.withColumnRenamed("lang", "cand_lang")), "token")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("overlap").desc(), F.col("cand_lang")
    )
    best = (
        scores.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cand_lang", "overlap")
    )
    return d.join(best, "doc_id", "left").select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        F.coalesce(F.col("cand_lang"), F.lit("und")).alias("predicted_lang"),
        F.coalesce(F.col("overlap"), F.lit(0)).alias("profile_overlap"),
    )


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           n_distinct,
           CAST(n_distinct AS DOUBLE) / n_tokens AS type_token_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(ROUND(0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
                + 0.3 * LEAST(n_tokens / 50.0, 1.0)
                + 0.2 * (CAST(n_stop AS DOUBLE) / n_tokens), 9) AS DOUBLE) AS quality_score
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS BIGINT) AS n_stop
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, lexical diversity (type/token),
    stopword ratio, combined score — the standard pre-training filter
    features. Pure array expressions, zero shuffles."""
    d = load(spark, sf_dir, "documents").withColumn("toks", tokens())
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size("toks").cast("bigint")
    n_distinct = F.size(F.array_distinct("toks")).cast("bigint")
    n_stop = F.size(
        F.filter("toks", lambda t: F.array_contains(stop_arr, t))
    ).cast("bigint")
    ttr = n_distinct.cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    score = round_dp(
        0.5 * ttr + 0.3 * F.least(n_tokens / F.lit(50.0), F.lit(1.0)) + 0.2 * stop_ratio,
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex segmenter
    (letters / digits / other) — the cheap token-budget estimator."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens()).cast("bigint").alias("ws_tokens"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ).cast("bigint").alias("bpe_ish_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           array_to_string(
             list_sort(list_transform(
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
               s -> md5(s)))[1:4],
             '|') AS fingerprint
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: 3-token shingles → md5 → 4 smallest hashes
    (a deterministic winnowing-style signature for containment checks)."""
    d = (
        load(spark, sf_dir, "documents")
        .withColumn("toks", tokens())
        # sub-3-token docs have no shingles and no fingerprint — and the
        # old greatest(...,1) floor made element_at(toks, 2) ERROR under
        # ANSI for them (DuckDB would have returned NULL: divergent
        # semantics either way). Excluded identically in both engines.
        .filter(F.size("toks") >= 3)
    )
    shingles = F.expr(
        "transform(sequence(1, size(toks) - 2), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
        "element_at(toks, i + 2)))"
    )
    return d.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.slice(F.sort_array(F.transform(shingles, lambda s: F.md5(s))), 1, 4),
        ).alias("fingerprint"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(a) - 1),
                                          i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingles
      FROM tok WHERE len(a) >= 3
    ),
    docs AS (SELECT doc_id, shingles, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM docs),
    keep AS (
      SELECT s FROM ex GROUP BY s HAVING COUNT(*) <= {DEDUP_DF_CAP}
    ),
    rare AS (SELECT e.doc_id, e.s FROM ex e JOIN keep k USING (s)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
    FROM (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(da.shingles, db.shingles)) AS BIGINT) AS inter,
             da.n AS na, db.n AS nb
      FROM cand c
      JOIN docs da ON c.doc_a = da.doc_id
      JOIN docs db ON c.doc_b = db.doc_id
    )
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle (word-3-gram) Jaccard near-dup pairs, J ≥ 0.5 — word-order
    sensitive where token-set Jaccard is not. Filter-verification: an
    exact shared trigram is the (highly selective) candidate blocking
    key; candidates verified on full distinct-shingle sets. Docs under 3
    tokens have no shingles and drop out of both sides."""
    d = load(spark, sf_dir, "documents")
    # documents arrives as one small parquet file -> one input partition;
    # the shingle build + verify are compute-heavy per row, so spread them
    # (on a real corpus the scan has many splits and this is a no-op cost)
    # r13: shingles ride as in-row xxhash64 digests — the joined trigram
    # string never leaves its doc row, so the df join keys, the prefix
    # self-join, and the verify arrays are all longs (the
    # text_boilerplate_flag / dedup_lines digest-for-string contract;
    # oracle PASS at every judged SF certifies collision-free equality).
    docs = (
        d.select("doc_id", tokens().alias("toks"))
        .repartition(sh_parts(spark))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.transform(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(toks) - 3),"
                        " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                    )
                ),
                lambda s: F.xxhash64(s),
            ).alias("shingles"),
        )
        .withColumn("n", F.size("shingles"))
        .localCheckpoint()
    )
    # Filter-verification: PPJoin prefix filtering ON TOP OF the df cap.
    # Shingles get a global (df asc, digest asc) order — the prefix
    # lemma holds under ANY fixed total order, and verification is
    # exact, so the digest tiebreak changes only which provably-safe
    # candidates are pruned, never the output. Only each doc's
    # first n-⌈0.5·n⌉+1 (= ⌊n/2⌋+1) rarest shingles generate candidates,
    # and of those only the ones with df <= DEDUP_DF_CAP (a boilerplate
    # shingle with df=d would contribute d² join rows — the cap bounds
    # candidate volume at Σ_{df<=cap} df² <= |shingle rows|·cap).
    # Output is EXACTLY the cap-only blocking's (the r5/r6 shape, which
    # the oracle still expresses): for any J>=0.5 pair the AllPairs
    # prefix lemma puts its globally-minimal shared shingle s' in BOTH
    # prefixes, and if the pair shares any kept shingle s then
    # df(s') <= df(s) <= cap, so s' is kept too — the pair survives the
    # prefix∧cap block; verification on the full checkpointed shingle
    # arrays is exact either way. On corpora where no shingle's df
    # exceeds the cap (all test corpora — trigram shingles are
    # selective) this is exactly the uncapped truth.
    sh = docs.select("doc_id", F.explode("shingles").alias("s"))
    # shuffle join (not broadcast): the shingle-df table scales with the
    # corpus; AQE may still downgrade to broadcast when it is tiny
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = sh.join(dfreq, "s").select(
        "doc_id",
        "s",
        "df",
        F.row_number().over(wdoc).alias("i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("doc_id"))
        .alias("n"),
    )
    pref = (
        ranked.filter(
            (F.col("i") <= F.floor(F.col("n") / 2) + 1)
            & (F.col("df") <= F.lit(DEDUP_DF_CAP))
        )
        .select("doc_id", "s", "i", "n")
        # pin the prefix self-join's shuffle width: candidate fan-out +
        # positional filters are per-PAIR work AQE otherwise coalesces
        # onto ~5 tasks (byte heuristic; guide §2.2)
        .repartition(sh_parts(spark), "s")
    )
    # Length + positional filters (Xiao et al., PPJoin): both prune only
    # provably-infeasible occurrences. Length: inter <= min(na,nb) and
    # J>=0.5 needs inter >= ceil((na+nb)/3), so 2*min < max kills the
    # pair. Position: common elements != s split into globally-smaller
    # (before i in BOTH docs) and globally-larger (after), so inter <=
    # 1 + min(i-1,j-1) + min(na-i, nb-j); at the pair's globally-minimal
    # shared shingle nothing precedes, the tight bound 1+min(na-i,nb-j)
    # holds, and a true pair always survives there — so filtering every
    # occurrence with the tight bound keeps all true pairs.
    alpha = F.ceil((F.col("na") + F.col("nb")) / 3)
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.col("a.i").alias("ia"),
            F.col("b.i").alias("ib"),
        )
        .filter(
            (2 * F.least("na", "nb") >= F.greatest("na", "nb"))
            & (
                1 + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
                >= alpha
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
        # pin the verify width: array_intersect over shingle arrays is
        # per-PAIR work; the candidate table is small in bytes so AQE
        # otherwise coalesces the verify joins onto ~5 tasks
        .repartition(sh_parts(spark), "doc_a")
    )
    return (
        cand.join(
            docs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


PACK_BUDGET = 512  # tokens per training sequence (bin)


@query(
    "text_doc_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS start_off
      FROM t
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_off // {PACK_BUDGET} AS BIGINT) AS bin_id,
           CAST(start_off % {PACK_BUDGET} AS BIGINT) AS bin_offset,
           (start_off % {PACK_BUDGET}) + n_tokens > {PACK_BUDGET} AS straddles
    FROM c
    """,
)
def text_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining batches: documents concatenate
    in a deterministic order (lang, doc_id) into a contiguous token
    stream that is cut into fixed 512-token bins; each doc reports the
    bin and offset where it starts and whether it straddles a cut. One
    running-sum window per language partition — at 100 TB the stream is
    packed per (lang-shard) partition independently, which is exactly how
    packing shards in practice (no global sequential dependency)."""
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "lang", F.size(tokens()).alias("n_tokens"))
    c = t.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return c.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("start_off") / PACK_BUDGET).cast("bigint").alias("bin_id"),
        (F.col("start_off") % PACK_BUDGET).cast("bigint").alias("bin_offset"),
        ((F.col("start_off") % PACK_BUDGET) + F.col("n_tokens") > PACK_BUDGET).alias(
            "straddles"
        ),
    )


CHUNK_SIZE = 64   # tokens per retrieval chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE


@query(
    "text_context_chunk",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    idx AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(greatest(len(toks) - {CHUNK_SIZE}, 0)
                                        / {CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS chunk_no
      FROM t
    )
    SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no,
           md5(array_to_string(list_slice(toks, chunk_no * {CHUNK_STRIDE} + 1,
                                          chunk_no * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
             AS chunk_sig,
           CAST(len(list_slice(toks, chunk_no * {CHUNK_STRIDE} + 1,
                               chunk_no * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS BIGINT)
             AS chunk_tokens
    FROM idx
    """,
)
def text_context_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context chunking (RAG / long-context prep): each doc
    splits into 64-token windows advancing 48 tokens (16-token overlap);
    the final window keeps the tail. Pure narrow ops — sequence+explode
    then an in-row slice; no shuffle at all, so it scales with the scan.
    Chunk text is md5-fingerprinted so the oracle compares signatures,
    not multi-KB strings."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens().alias("toks"))
    n_chunks = (
        F.ceil(
            F.greatest(F.size("toks") - CHUNK_SIZE, F.lit(0))
            / F.lit(float(CHUNK_STRIDE))
        ).cast("int")
        + 1
    )
    idx = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
    )
    chunk = F.slice(
        F.col("toks"),
        F.col("chunk_no") * CHUNK_STRIDE + 1,
        F.lit(CHUNK_SIZE),
    )
    return idx.select(
        "doc_id",
        F.col("chunk_no").cast("int").alias("chunk_no"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_sig"),
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
    )


@query(
    "dedup_groups",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS group_sig
      FROM documents
    )
    SELECT doc_id, group_sig,
           MIN(doc_id) OVER (PARTITION BY group_sig) AS canonical_id,
           COUNT(*) OVER (PARTITION BY group_sig) AS group_size,
           doc_id = MIN(doc_id) OVER (PARTITION BY group_sig) AS keep
    FROM g
    """,
)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION stage: documents sharing a distinct-token-set
    fingerprint (md5 of the sorted distinct tokens — order- and
    frequency-insensitive, so it catches shuffled/repeated-token
    duplicates that exact-text md5 misses) form a group; the smallest
    doc_id is canonical, everything else is droppable. One hash shuffle
    on the group key — at 100 TB this is the linear-cost fast path run
    before any pairwise near-dup operator, and its keep flags feed the
    retention filter directly."""
    d = load(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(tokens())), " ")
        ).alias("group_sig"),
    )
    w = Window.partitionBy("group_sig")
    return g.select(
        "doc_id",
        "group_sig",
        F.min("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"),
    )


@query(
    "text_bpe_pairs",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, GREATEST(length(token), 1)),
                                   i -> substr(token, CAST(i AS INTEGER), 2))) AS pair
      FROM tok WHERE length(token) >= 2
    )
    SELECT pair, pair_count, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT pair, COUNT(*) AS pair_count,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, pair) AS rnk
      FROM pairs GROUP BY pair
    ) WHERE rnk <= 20
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training step, corpus-wide: count every adjacent character
    pair inside whitespace tokens and rank the top-20 merge candidates
    (count desc, pair asc tie-break — fully deterministic). Iterating
    this (merge rank-1, re-count) IS byte-pair-encoding tokenizer
    training; one step exhibits the whole distributed shape.

    Scale shape: explode to (pair) rows -> ONE partial+final hash
    aggregate; shuffled bytes ∝ distinct pair count (bounded by
    alphabet², tiny), not corpus size. The global top-20 compiles to
    TakeOrderedAndProject over the aggregated (small) set — at 100 TB
    the only full-data pass is the narrow explode."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens()).alias("token")).filter(
        F.length("token") >= 2
    )
    pairs = tok.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"
            )
        ).alias("pair")
    )
    counted = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 20)
        .select("pair", "pair_count", "rnk")
    )


# The canonical cleaning expression, shared by text_clean_normalize and
# pipeline_llm_curation_e2e (Spark form + its byte-equivalent DuckDB
# template): lowercase, drop URLs, strip outside [a-z0-9 ], collapse
# whitespace, trim.
def clean_sql(col: str = "text") -> str:
    return (
        f"TRIM(regexp_replace(regexp_replace(regexp_replace("
        f"LOWER({col}), 'https?://[^ ]+', ' ', 'g'), "
        f"'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def clean_text_expr(col: str = "text") -> F.Column:
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col(col)), r"https?://[^ ]+", " "),
                r"[^a-z0-9 ]",
                " ",
            ),
            r" +",
            " ",
        )
    )


@query(
    "text_clean_normalize",
    oracle=f"""
    SELECT doc_id,
           {clean_sql()} AS clean_text,
           CAST(len(string_split({clean_sql()}, ' ')) AS BIGINT) AS clean_tokens
    FROM documents WHERE doc_id % 4 = 0
    """,
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text-cleaning stage of a pretraining pipeline: lowercase,
    drop URLs, strip everything outside [a-z0-9 ], collapse whitespace,
    trim — then recount tokens. Pure JVM regexp projections, zero
    shuffle: at 100 TB this runs at scan speed and is exactly the shape
    a cleaning pass should have (no UDF, no Python)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    clean = clean_text_expr()
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(tokens(clean)).cast("bigint").alias("clean_tokens"),
    )


@query(
    "text_pii_mask",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               concat(text, ' contact: user', CAST(doc_id AS VARCHAR),
                      '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')),
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS masked_text,
           CAST(length(concat(text, ' contact: user', CAST(doc_id AS VARCHAR),
                      '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')))
                - length(regexp_replace(
                    regexp_replace(
                      concat(text, ' contact: user', CAST(doc_id AS VARCHAR),
                             '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')),
                      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '', 'g'),
                    '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '', 'g')) AS BIGINT) AS masked_chars
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing before training: mask emails and phone numbers with
    typed placeholders. The test corpus has no organic PII, so each doc
    gets a deterministic synthetic contact line appended first (same
    construction in the oracle) — the masking regexes then have real work
    whose output is hash-checked. masked_chars counts how many characters
    the masks replaced (scrub telemetry). Zero-shuffle regexp projection,
    scan-speed at any scale."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    salted = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    masked = F.regexp_replace(
        F.regexp_replace(salted, email, "<EMAIL>"), phone, "<PHONE>"
    )
    stripped = F.regexp_replace(F.regexp_replace(salted, email, ""), phone, "")
    return d.select(
        "doc_id",
        masked.alias("masked_text"),
        (F.length(salted) - F.length(stripped)).cast("bigint").alias("masked_chars"),
    )


@query(
    "dedup_substring",
    # Token-aligned containment: ' '-padded strpos enforces word
    # boundaries, which is what makes the anchor-shingle blocking SOUND
    # (a token-aligned containment implies every token 4-gram of the
    # contained text, including its min-md5 anchor, appears among the
    # container's 4-grams). The corpus is augmented with one derived
    # 8-token snippet per document so containment pairs exist by
    # construction (same construction in both engines), on top of the
    # organic contained docs.
    oracle="""
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(string_split(text, ' ')[4:11], ' ') AS text
      FROM documents
    ),
    elig AS (
      SELECT doc_id, text FROM aug WHERE len(string_split(text, ' ')) >= 4
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           CAST(strpos(' ' || b.text || ' ', ' ' || a.text || ' ') AS BIGINT) AS pos
    FROM elig a JOIN elig b
      ON a.doc_id <> b.doc_id
     AND len(a.text) < len(b.text)
     AND strpos(' ' || b.text || ' ', ' ' || a.text || ' ') > 0
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring / n-gram-containment dedup (quote & excerpt
    detection — the dedup modality MinHash/SimHash miss when a short
    document is embedded verbatim inside a long one, and that Jaccard
    dilutes away).

    Sub-quadratic candidate stage (anchor-shingle blocking): each
    document computes its token-4-gram md5 set IN-ROW; the contained
    side is represented by ONE row (its minimum-md5 anchor shingle), the
    container side by its distinct shingles. A token-aligned containment
    forces the anchor to collide, so the equi-join on the shingle
    signature finds every true pair while candidate volume stays
    proportional to shingle-set overlap — never |docs|². Verification is
    one padded instr per candidate. At 100 TB both sides shuffle on the
    16-byte signature; the anchor side carries one row per document.
    The oracle (quadratic strpos — fine at oracle SF) independently
    replays the semantics; the ≥4-token eligibility floor is part of the
    operator contract (shorter fragments are below containment-dedup
    granularity)."""
    d = load(spark, sf_dir, "documents")
    snip = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice(tokens(), 4, 8), " ").alias("text"),
    )
    aug = d.select("doc_id", "text").unionByName(snip)
    toks = tokens()
    elig = (
        aug.filter(F.size(toks) >= 4)
        # the hash-per-gram projection is the heavy narrow stage; escape
        # the single input split (documents ships as one file locally)
        .repartition(sh_parts(spark))
        .withColumn("toks", toks)
        .select(
            "doc_id",
            "text",
            F.length("text").alias("n_chars"),
            # xxhash64 (not md5): grams are INTERNAL blocking keys that
            # never reach the output, so the determinism contract's
            # md5-only rule doesn't apply — any fixed hash keeps the
            # anchor argument sound (containment => gram-set inclusion
            # => the contained side's min-gram collides). 8-byte bigint
            # keys shuffle at 1/4 the width of 32-char md5 strings and
            # hash ~3x faster.
            F.expr(
                "array_distinct(transform(sequence(0, size(toks) - 4), "
                "i -> xxhash64(concat_ws(' ', toks[i], toks[i+1], "
                "toks[i+2], toks[i+3]))))"
            ).alias("grams"),
        )
        # feeds both join sides; materialize once (the minhash-family
        # pattern: signatures to a table, then join over the table)
        .localCheckpoint()
    )
    short = elig.select(
        F.col("doc_id").alias("contained_id"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("a_len"),
        F.array_min("grams").alias("sig"),
    )
    long_ = elig.select(
        F.col("doc_id").alias("container_id"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("b_len"),
        F.explode("grams").alias("sig"),
    )
    pos = F.instr(
        F.concat(F.lit(" "), F.col("b_text"), F.lit(" ")),
        F.concat(F.lit(" "), F.col("a_text"), F.lit(" ")),
    )
    return (
        short.join(long_, "sig")
        .filter(
            (F.col("contained_id") != F.col("container_id"))
            & (F.col("a_len") < F.col("b_len"))
        )
        .withColumn("pos", pos.cast("bigint"))
        .filter(F.col("pos") > 0)
        .select("contained_id", "container_id", "pos")
    )


@query(
    "text_repetition",
    # Gopher-style repetition filters (Rae et al. 2021, §A1.1, public):
    # excessive repetition is the strongest cheap signal of low-quality
    # machine-generated / boilerplate text. Per doc: duplicate-token
    # fraction (1 - distinct/total) and top-2-gram fraction (share of
    # all bigrams taken by the most frequent one). Counts are exact ints
    # so only the two final ratios need the 9dp rounding contract.
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM t
    ),
    gc AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
    ),
    top AS (
      SELECT doc_id, MAX(cnt) AS top_2gram_count,
             CAST(SUM(cnt) AS BIGINT) AS n_2grams
      FROM gc GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      FROM t
    )
    SELECT tok.doc_id,
           tok.n_tokens,
           CAST(ROUND(1.0 - CAST(tok.n_distinct AS DOUBLE) / tok.n_tokens, 9)
                AS DOUBLE) AS dup_token_frac,
           CAST(top.top_2gram_count AS BIGINT) AS top_2gram_count,
           CAST(ROUND(CAST(top.top_2gram_count AS DOUBLE) / top.n_2grams, 9)
                AS DOUBLE) AS top_2gram_frac,
           CAST(CASE WHEN 1.0 - CAST(tok.n_distinct AS DOUBLE) / tok.n_tokens > 0.6
                       OR CAST(top.top_2gram_count AS DOUBLE) / top.n_2grams > 0.2
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_repetitive
    FROM tok JOIN top ON tok.doc_id = top.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters from the Gopher data-quality rules (Rae et al.
    2021, public): duplicate-token fraction and most-frequent-bigram
    share, plus the combined repetitive flag.

    Plan: every statistic is a per-document exact INTEGER (token count,
    distinct-token count, max bigram multiplicity, bigram count =
    n_tokens - 1), so the whole feature pass is one narrow Arrow kernel
    — a Counter over the token pairs per doc, C-speed — and only the
    two final ratios (computed in JVM expressions, identical trees to
    the former form) touch floating point. Nothing is corpus-global.
    (r14: the former interpreted transform+concat_ws bigram
    materialization -> explode -> two hash aggs -> self-join measured
    19-21 s executor CPU at sf0.1 for what the kernel does in ~0.2 s;
    guide §4.2. No float crosses the Python boundary.)"""
    import pandas as pd

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(sh_parts(spark))
    )

    def rep_stats(batches):
        from collections import Counter

        cols = ("doc_id", "n_tokens", "n_distinct", "top_2gram_count", "n_2grams")
        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                if t is None:
                    continue
                toks = py_tokens(t)
                n = len(toks)
                if n < 2:  # no bigrams; the filter the old form had
                    continue
                top = max(Counter(zip(toks, toks[1:])).values())
                rows.append((int(i), n, len(set(toks)), top, n - 1))
            yield pd.DataFrame(rows, columns=cols).astype("int64")

    tok = d.mapInPandas(
        rep_stats,
        "doc_id bigint, n_tokens bigint, n_distinct bigint, "
        "top_2gram_count bigint, n_2grams bigint",
    )
    dup_frac = 1.0 - F.col("n_distinct").cast("double") / F.col("n_tokens")
    top_frac = F.col("top_2gram_count").cast("double") / F.col("n_2grams")
    return tok.select(
        "doc_id",
        "n_tokens",
        round_dp(dup_frac).alias("dup_token_frac"),
        F.col("top_2gram_count").cast("bigint").alias("top_2gram_count"),
        round_dp(top_frac).alias("top_2gram_frac"),
        F.when((dup_frac > 0.6) | (top_frac > 0.2), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("flag_repetitive"),
    )


@query(
    "text_entropy",
    # Character-level Shannon entropy — the cheap gibberish/encoding-
    # junk detector (low entropy = repeated filler, high = binary/base64
    # noise). H = log2(n) - (1/n) * sum(c_i * log2(c_i)) over the char
    # histogram; the per-char terms are folded in sorted-char order on
    # BOTH engines (list(... ORDER BY ch) / array_sort) so the double
    # sum is order-canonical, then rounded 9dp. (Raw string: the oracle's
    # newline-safe [\s\S] char class — '.' would skip \n; the corpus is
    # newline-free today but the oracle no longer depends on that.)
    oracle=r"""
    WITH c AS (
      SELECT doc_id, ch, COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
            FROM documents)
      GROUP BY doc_id, ch
    ),
    e AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_chars_counted,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
             list_aggregate(list(cnt * log2(cnt) ORDER BY ch), 'sum') AS s
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_chars_counted, n_distinct_chars,
           CAST(ROUND(log2(n_chars_counted) - s / n_chars_counted, 9)
                AS DOUBLE) AS char_entropy
    FROM e
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality feature.

    Plan: the per-doc char histogram is computed in one narrow Arrow
    pass (collections.Counter over the text — C-speed codepoint
    iteration, exactly the oracle's [\\s\\S] per-codepoint domain and
    integer-exact counts), emitting the same (doc_id, ch, count) rows
    the former explode -> hash-agg produced; the group count stays
    capped at |docs| x |alphabet|. The entropy fold stays a JVM
    expression over the sorted (char, count) list so the
    floating-point accumulation order is canonical across engines and
    partitionings — the same trick as vec_centroid's sorted mean.
    (r14: the per-CHARACTER explode materialized ~1.5M single-char rows
    through a partial agg — 26 s executor CPU at sf0.1 for a histogram
    a Counter builds in ~0.1 s; guide §4.2. No float ever crosses the
    Python boundary.)"""
    import pandas as pd

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(sh_parts(spark))
    )

    def char_hist(batches):
        from collections import Counter

        for pdf in batches:
            if pdf.empty:
                continue
            ids, chs, cnts = [], [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                if not t:
                    continue
                for ch, n in Counter(t).items():
                    ids.append(i)
                    chs.append(ch)
                    cnts.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "ch": pd.Series(chs, dtype=object),
                    "count": pd.Series(cnts, dtype="int64"),
                }
            )

    counts = d.mapInPandas(char_hist, "doc_id bigint, ch string, count bigint")
    ent = counts.groupBy("doc_id").agg(
        F.sum("count").cast("bigint").alias("n_chars_counted"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("ch", "count"))),
            F.lit(0.0),
            lambda acc, t: acc
            + t["count"].cast("double") * F.log2(t["count"].cast("double")),
        ).alias("s"),
    )
    return ent.select(
        "doc_id",
        "n_chars_counted",
        "n_distinct_chars",
        round_dp(
            F.log2(F.col("n_chars_counted").cast("double"))
            - F.col("s") / F.col("n_chars_counted"),
        ).alias("char_entropy"),
    )


@query(
    "text_decontaminate",
    # Training-data decontamination (the GPT-3/PaLM eval-overlap rule,
    # public): a doc is contaminated if it shares any n-token gram with
    # the benchmark set. Production uses n=8-13; n=4 here because the
    # synthetic corpus is short random word-soup where longer grams
    # never collide (probed: zero 5-gram overlaps at sf0.01) — the plan
    # is length-independent. The benchmark here is the deterministic
    # doc_id % 100 == 0 slice standing in for an eval suite; training
    # docs are everything else. Output: contaminated docs with hit
    # counts and the lexicographically-first offending gram.
    oracle="""
    WITH grams AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks) - 2),
                                           i -> array_to_string(toks[i:i+3], ' '))) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
    train AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 100 <> 0)
    SELECT t.doc_id, COUNT(*) AS n_contaminated_grams, MIN(t.g) AS first_gram
    FROM train t JOIN bench b ON t.g = b.g
    GROUP BY t.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    n-gram with the (broadcast) benchmark gram set — the asymmetric
    containment check the dedup family doesn't cover (dedup asks "are
    these two docs alike"; decontamination asks "does this doc leak any
    eval content at all").

    Plan shape: the benchmark side is eval-suite-sized (tiny vs the
    corpus) -> its distinct gram set BROADCASTS; the training side
    streams through a narrow explode + broadcast semi-ish join + per-doc
    aggregate. The 100 TB corpus is never shuffled on gram — only
    matched rows reach the (doc, gram) distinct. Real pipelines swap
    the slice for the actual eval files and optionally hash grams to
    64-bit (fn_hash shows the xxhash64 path) to shrink the broadcast."""
    d = (
        load(spark, sf_dir, "documents")
        # fan BEFORE the gram explode: the gram-string materialization
        # (array_join per 4-gram) is the heavy map work, and it ran on
        # the single input split when the repartition sat after the
        # explode (r13 stage probe: 8.3s single-task stage; guide §2.5)
        .repartition(sh_parts(spark))
        .withColumn("toks", tokens())
        # sub-4-token docs have no 4-grams (and sequence(1, <=0) is
        # descending -> slice(toks, 0, 4) errors); the oracle's range
        # is empty for them
        .filter(F.size("toks") >= 4)
    )
    grams = F.expr(
        "transform(sequence(1, size(toks) - 3), "
        "i -> array_join(slice(toks, i, 4), ' '))"
    )
    g = d.select("doc_id", F.explode(grams).alias("g"))
    bench = (
        g.filter(F.col("doc_id") % 100 == 0).select("g").distinct()
    )
    train = g.filter(F.col("doc_id") % 100 != 0).select("doc_id", "g").distinct()
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_contaminated_grams"),
            F.min("g").alias("first_gram"),
        )
    )


@query(
    "text_perplexity_proxy",
    # Unigram-LM pseudo-perplexity — the CCNet-style quality filter
    # (docs whose tokens are globally rare score high = likely noise;
    # a real pipeline swaps the unigram model for a KenLM 5-gram, the
    # Spark plan is identical). score = mean over token OCCURRENCES of
    # -log2 p(tok) = log2(total) - mean(log2 cnt). The per-doc fold
    # runs over the cnt-sorted list (equal cnt -> equal addend, so the
    # sort key fully determines the sum) and rounds 9dp — the
    # text_entropy contract.
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok)
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           CAST(ROUND(log2((SELECT total FROM tot))
                      - list_aggregate(list(log2(CAST(f.cnt AS DOUBLE))
                                            ORDER BY f.cnt), 'sum') / COUNT(*),
                      9) AS DOUBLE) AS ppl_proxy
    FROM tok t JOIN freq f ON t.token = f.token
    GROUP BY t.doc_id
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, unigram form: build the corpus
    token-frequency table (one hash agg), broadcast it onto the exploded
    token stream, and score each document by its mean token surprisal.
    High scores flag gibberish / rare-vocab noise, low scores flag
    boilerplate — the standard perplexity-based corpus filter.

    Scale shape: the frequency table is vocabulary-sized (Zipf: tiny vs
    the corpus) -> broadcast; the corpus explodes once, never shuffles on
    token except inside the map-side-combined freq agg; per-doc scoring
    is one hash agg on doc_id. total is a driver-side scalar (bounded
    metadata, the graph-seed pattern)."""
    tok = (
        load(spark, sf_dir, "documents")
        .repartition(sh_parts(spark))
        .select("doc_id", F.explode(tokens()).alias("token"))
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = float(tok.count())
    scored = tok.join(F.broadcast(freq), "token")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        round_dp(
            F.log2(F.lit(total))
            - F.aggregate(
                F.array_sort(F.collect_list(F.col("cnt"))),
                F.lit(0.0),
                lambda acc, c: acc + F.log2(c.cast("double")),
            )
            / F.count(F.lit(1)),
        ).alias("ppl_proxy"),
    )


@query(
    "text_cdc_chunk",
    oracle="""
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
    cuts AS (
      SELECT doc_id, text, n,
             CASE WHEN n >= 9 THEN
               list_filter(range(2, n - 7 + 1),
                           i -> substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 1) = '0')
             ELSE [] END AS cut
      FROM d),
    seg AS (
      SELECT doc_id, text,
             list_concat([CAST(1 AS BIGINT)], cut) AS starts,
             list_concat(list_transform(cut, c -> c - 1), [CAST(n AS BIGINT)]) AS ends
      FROM cuts),
    flat AS (
      SELECT doc_id, text,
             CAST(generate_subscripts(starts, 1) AS INTEGER) AS chunk_idx,
             unnest(starts) AS s, unnest(ends) AS e
      FROM seg)
    SELECT doc_id, chunk_idx, s AS start, e - s + 1 AS chunk_len,
           md5(substr(text, CAST(s AS INTEGER), CAST(e - s + 1 AS INTEGER))) AS digest
    FROM flat
    """,
)
def text_cdc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync shape used by
    dedup-at-scale stores): a chunk boundary opens wherever the 8-gram
    at a position hashes into the cut class (md5 first hex digit '0' —
    expected chunk ~16 chars on this corpus), so equal CONTENT yields
    equal chunks at any byte offset — insertions shift chunk positions
    but not the digests of unaffected chunks, which is what makes
    chunk-level dedup robust where fixed-width blocks break. All
    in-row: sequence -> filter -> posexplode; no shuffle, scan-speed at
    100 TB, and the per-position hash is the documented CPU cost (real
    CDC uses a rolling gear hash; md5 stands in because both engines
    compute it bit-identically)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    d = d.repartition(spark.sparkContext.defaultParallelism)
    cuts = F.expr(
        "CASE WHEN n >= 9 THEN "
        "filter(sequence(CAST(2 AS BIGINT), CAST(n - 7 AS BIGINT)), "
        "i -> substring(md5(substring(text, CAST(i AS INT), 8)), 1, 1) = '0') "
        "ELSE array() END"
    )
    seg = d.withColumn("cut", cuts).select(
        "doc_id",
        "text",
        F.expr("concat(array(CAST(1 AS BIGINT)), cut)").alias("starts"),
        F.expr("concat(transform(cut, c -> c - 1), array(CAST(n AS BIGINT)))").alias(
            "ends"
        ),
    )
    z = seg.select(
        "doc_id",
        "text",
        F.posexplode(F.arrays_zip(F.col("starts").alias("s"), F.col("ends").alias("e"))).alias(
            "idx", "se"
        ),
    )
    return z.select(
        "doc_id",
        (F.col("idx") + 1).cast("int").alias("chunk_idx"),
        F.col("se.s").alias("start"),
        (F.col("se.e") - F.col("se.s") + 1).alias("chunk_len"),
        F.md5(
            F.expr("substring(text, CAST(se.s AS INT), CAST(se.e - se.s + 1 AS INT))")
        ).alias("digest"),
    )


@query(
    "text_keyword_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             CAST(ROUND(tf.tf * (ROUND(LN((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 9)), 9) AS DOUBLE) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
      WHERE df.df * 10 <= 9 * n.n_docs
    )
    SELECT doc_id, token, tf, df, tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, token) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def text_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: top-3 TF-IDF terms per document (the
    lightweight RAKE/YAKE replacement used to tag corpora at scale).
    Same smoothed-idf scoring as text_tfidf; terms appearing in over
    90% of the corpus are dropped as stopwords BY STATISTICS (df filter
    — no language-specific list; threshold calibrated to this corpus's
    31-token synthetic vocabulary, where median df is 78%). The per-doc top-k ranks on the
    9dp-rounded score with token tiebreak and gets WindowGroupLimit, so
    each task keeps 3 rows per doc pre-shuffle; the df table broadcasts
    (vocabulary << corpus)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar; corpus cardinality, not data
    idf = round_dp(F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0)
    scored = (
        tf.join(F.broadcast(df), "token")
        .filter(F.col("df") * 10 <= 9 * n_docs)
        .withColumn("tfidf", round_dp(F.col("tf") * idf))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


@query(
    "dedup_bloom_prefilter",
    # Bloom-filter membership prefilter for incremental dedup: the
    # history corpus folds into a 4096-bit / k=3 Bloom filter (128
    # 32-bit words — bytes, not data, cross the shuffle); each new-batch doc
    # probes the broadcast filter and only BLOOM HITS pay the exact
    # verification join. All bit positions are md5-derived integer
    # arithmetic, so the filter is bit-identical in both engines and
    # the no-false-negative guarantee is hash-checked, not assumed.
    oracle="""
    WITH h AS (SELECT md5(text) AS dig FROM documents WHERE doc_id % 2 = 0),
    b AS (SELECT doc_id, md5(text) AS dig FROM documents WHERE doc_id % 2 = 1),
    hbits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(dig || ':' || k), 1, 8)) AS BIGINT) % 4096 AS bit
      FROM h CROSS JOIN (SELECT CAST(unnest(range(3)) AS VARCHAR) AS k)),
    bloom AS (
      SELECT bit // 32 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS word
      FROM hbits GROUP BY bit // 32),
    probes AS (
      SELECT b.doc_id, b.dig,
             CAST(('0x' || substr(md5(b.dig || ':' || k), 1, 8)) AS BIGINT) % 4096 AS bit
      FROM b CROSS JOIN (SELECT CAST(unnest(range(3)) AS VARCHAR) AS k)),
    hits AS (
      SELECT p.doc_id, p.dig,
             min(CASE WHEN bloom.word IS NOT NULL
                      AND (bloom.word >> CAST(p.bit % 32 AS INTEGER)) % 2 = 1
                 THEN 1 ELSE 0 END) AS all_bits_set
      FROM probes p LEFT JOIN bloom ON bloom.word_idx = p.bit // 32
      GROUP BY p.doc_id, p.dig)
    SELECT h.doc_id, h.all_bits_set = 1 AS bloom_hit,
           EXISTS (SELECT 1 FROM (SELECT dig FROM documents d2,
                   (SELECT 1) WHERE d2.doc_id % 2 = 0 AND md5(d2.text) = h.dig)) AS exact_dup
    FROM hits h
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for incremental dedup (the accelerator in
    front of dedup_incremental's signature join): history text digests
    fold into a 4096-bit, k=3 Bloom filter — the aggregate ships 128
    32-bit words total, regardless of corpus size — and every new-batch
    doc probes the BROADCAST filter with 3 md5-derived bit positions.
    Only bloom hits need the exact membership join; misses are
    guaranteed-new (no false negatives — hash-verified here by emitting
    both flags). At 100 TB the filter for 10⁹ history docs is ~1.2 GB
    at 1% FPR (m = -n·ln p / ln²2), still broadcastable, and saves the
    full history shuffle for the ~99% of new docs that miss."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("dig")
    )
    hist = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    ks = F.array([F.lit(str(k)) for k in range(3)])
    bit = hex_int(F.md5(F.concat(F.col("dig"), F.lit(":"), F.col("k"))), 8) % 4096
    hbits = (
        hist.select(F.explode(ks).alias("k"), "dig")
        .select(bit.alias("bit"))
        .distinct()
    )
    # 32-bit words (128 of them): DuckDB's `<<` errors on 1 << 63, so the
    # word width stays safely below the sign bit in BOTH engines.
    bloom = hbits.groupBy(F.expr("bit div 32").alias("word_idx")).agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit % 32 AS INT)))").alias(
            "word"
        )
    )
    probes = batch.select("doc_id", "dig", F.explode(ks).alias("k")).select(
        "doc_id", "dig", bit.alias("bit")
    )
    hits = (
        probes.join(
            F.broadcast(bloom),
            F.expr("bit div 32") == F.col("word_idx"),
            "left",
        )
        .withColumn(
            "bit_set",
            F.when(
                F.col("word").isNotNull()
                & F.expr("shiftright(word, CAST(bit % 32 AS INT)) % 2 = 1"),
                1,
            ).otherwise(0),
        )
        .groupBy("doc_id", "dig")
        .agg(F.min("bit_set").alias("all_bits_set"))
    )
    exact = hist.select(F.col("dig").alias("hdig")).distinct()
    return (
        hits.join(F.broadcast(exact), hits.dig == exact.hdig, "left")
        .select(
            "doc_id",
            (F.col("all_bits_set") == 1).alias("bloom_hit"),
            F.col("hdig").isNotNull().alias("exact_dup"),
        )
    )


_CDC_CHUNKS_CTE = """
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
    cuts AS (
      SELECT doc_id, text, n,
             CASE WHEN n >= 9 THEN
               list_filter(range(2, n - 7 + 1),
                           i -> substr(md5(substr(text, CAST(i AS INTEGER), 8)), 1, 1) = '0')
             ELSE [] END AS cut
      FROM d),
    seg AS (
      SELECT doc_id, text,
             list_concat([CAST(1 AS BIGINT)], cut) AS starts,
             list_concat(list_transform(cut, c -> c - 1), [CAST(n AS BIGINT)]) AS ends
      FROM cuts),
    flat AS (
      SELECT doc_id, text,
             unnest(starts) AS s, unnest(ends) AS e
      FROM seg),
    chunks AS (
      SELECT doc_id, e - s + 1 AS chunk_len,
             md5(substr(text, CAST(s AS INTEGER), CAST(e - s + 1 AS INTEGER))) AS digest
      FROM flat)
"""


@query(
    "dedup_cdc_chunks",
    # The payoff of content-defined chunking: cross-document shared
    # content is an EQUI-JOIN on chunk digest — the same sub-quadratic
    # candidate shape as the MinHash family, but exact at chunk
    # granularity and robust to insertions. Chunks under 16 chars are
    # excluded (short boilerplate chunks are hot join keys: the
    # digest-frequency skew an engine would salt at scale).
    oracle=_CDC_CHUNKS_CTE
    + """
    , c AS (SELECT DISTINCT doc_id, digest, chunk_len
            FROM chunks WHERE chunk_len >= 16)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS shared_chunks,
           CAST(SUM(a.chunk_len) AS BIGINT) AS shared_bytes
    FROM c a JOIN c b ON a.digest = b.digest AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-document dedup — what text_cdc_chunk's digests
    are FOR: two docs share content iff they share chunk digests, so
    shared-content discovery over a 100 TB corpus is one equi-join on
    digest (sub-quadratic like the MinHash candidates, but exact and
    offset-robust). Per doc pair: shared chunk count + shared bytes.
    Chunks < 16 chars are dropped before the join — short common
    fragments are the hot keys of this workload; at scale those digests
    are exactly what you'd hash-salt or blocklist, and excluding them
    keeps per-key fan-out bounded. Composes the registered chunker, so
    boundary semantics stay identical by construction."""
    chunks = text_cdc_chunk(spark, sf_dir)
    c = (
        chunks.filter(F.col("chunk_len") >= 16)
        .select("doc_id", "digest", "chunk_len")
        .distinct()
    )
    a = c.select(
        F.col("doc_id").alias("doc_a"),
        "digest",
        F.col("chunk_len").alias("len_a"),
    )
    b = c.select(F.col("doc_id").alias("doc_b"), F.col("digest").alias("digest_b"))
    return (
        a.join(
            b,
            (F.col("digest") == F.col("digest_b")) & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared_chunks"),
            F.sum("len_a").cast("bigint").alias("shared_bytes"),
        )
    )


@query(
    "text_bigram_lm",
    # One n-gram-LM training step: bigram conditional probabilities
    # P(w2|w1) = c(w1 w2) / c(w1 ·) with add-one smoothing over the
    # observed vocabulary. Counts are exact ints; the single division is
    # the only float op (identical cross-engine). Top-3 continuations
    # per w1 keep the output bounded.
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    big AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM (
        SELECT ws[CAST(i AS INTEGER)] AS w1, ws[CAST(i AS INTEGER) + 1] AS w2
        FROM tok, (SELECT unnest(range(1, len(ws))) AS i)
      ) GROUP BY w1, w2),
    uni AS (SELECT w1, SUM(c2) AS c1 FROM big GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w2) AS vsize FROM big),
    scored AS (
      SELECT b.w1, b.w2, b.c2, u.c1,
             round((b.c2 + 1.0) / (u.c1 + v.vsize), 9) AS p
      FROM big b JOIN uni u ON b.w1 = u.w1 CROSS JOIN v)
    SELECT w1, w2, c2, p
    FROM (SELECT *, row_number() OVER (PARTITION BY w1
                 ORDER BY p DESC, w2) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One bigram-LM training step (the n-gram sibling of
    text_bpe_pairs' BPE step and the model behind
    text_perplexity_proxy's scoring): adjacent-token pair counts →
    add-one-smoothed conditional probabilities P(w2|w1), top-3
    continuations per context. Pair extraction is in-row (sequence over
    positions, no self-join); counts shuffle at vocabulary² granularity
    (not corpus size) and merge map-side — at 100 TB the count table
    for a 100k vocabulary is the only thing that ever crosses the wire,
    which is why n-gram LMs were THE scalable LM before neural ones."""
    d = (
        load(spark, sf_dir, "documents")
        .select(tokens().alias("ws"))
        # 1-token docs have no pairs; sequence(1, 0) is descending and
        # element_at(ws, 0) errors (the oracle's range is empty there)
        .filter(F.size("ws") >= 2)
    )
    pairs = d.select(
        F.expr(
            "explode(transform(sequence(1, size(ws) - 1), "
            "i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2)))"
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vsize = big.select("w2").distinct().count()  # scalar: vocab size
    scored = big.join(F.broadcast(uni), "w1").withColumn(
        "p", round_dp((F.col("c2") + 1.0) / (F.col("c1") + F.lit(vsize)))
    )
    w = Window.partitionBy("w1").orderBy(F.col("p").desc(), F.col("w2"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("w1", "w2", "c2", "p")
    )


@query(
    "text_hashing_trick",
    # Feature hashing (the "hashing trick"): token -> md5 % 16 bucket,
    # per-doc bucket counts assembled into a fixed-width feature string.
    # No vocabulary table at all — the defining property: featurization
    # is stateless, so it never needs a fitted dictionary shipped to
    # executors and never drifts between training runs.
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    b AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 16 AS bucket
      FROM tok),
    c AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY doc_id, bucket),
    g AS (SELECT doc_id, CAST(unnest(range(16)) AS BIGINT) AS bucket FROM documents)
    SELECT g.doc_id,
           string_agg(CAST(COALESCE(c.cnt, 0) AS VARCHAR), '|'
                      ORDER BY g.bucket) AS features
    FROM g LEFT JOIN c ON g.doc_id = c.doc_id AND g.bucket = c.bucket
    GROUP BY g.doc_id
    """,
)
def text_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al.): each token hashes straight
    into one of 16 buckets and the doc's feature vector is the bucket
    count array — NO vocabulary, so featurization is a stateless narrow
    pipeline (explode → hash → count) that never ships a fitted
    dictionary and cannot drift between runs; collisions are the
    accepted trade (production uses 2^18+ buckets where they're rare).
    The dense 16-wide vector is emitted as a '|'-joined string per the
    scalar-only results contract; densification is an in-row sequence
    join, not a pivot shuffle.

    Physical form (r14): one narrow Arrow pass — per document the
    bucket histogram is a 16-slot int array filled at C speed, with the
    token -> bucket md5 memoized per Arrow batch over the (Zipf-small)
    vocab, so the memo never outgrows one batch.
    md5 is a bytes -> bytes contract (Spark hashes the UTF-8 bytes of
    the token, hashlib the same), the bucket index and counts are exact
    integers and the feature string is their decimal join — no floating
    point anywhere, so the Arrow path is bit-identical by construction.
    Replaces the explode -> md5-per-OCCURRENCE -> two hash aggs -> 16x
    densify join (measured 27-30 s executor CPU at sf0.1: the md5 ran
    per token occurrence and every (doc, bucket) pair crossed two
    exchanges; guide §4.2). Zero shuffles beyond the scan fan-out."""
    import hashlib

    import pandas as pd

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # fan the per-doc hashing out of the single input split (§2.5)
        .repartition(sh_parts(spark))
    )

    def feat(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            memo: dict = {}  # token -> bucket, for this batch only
            feats = []
            for t in pdf["text"]:
                counts = [0] * 16
                if t is not None:
                    for tok in py_tokens(t):
                        b = memo.get(tok)
                        if b is None:
                            # == hex_int(md5(token), 8) % 16
                            h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                            b = memo[tok] = int(h[:8], 16) % 16
                        counts[b] += 1
                feats.append("|".join(map(str, counts)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return d.mapInPandas(feat, "doc_id bigint, features string")


_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "hash", "window")  # fixed probe query, in-vocab


@query(
    "text_bm25",
    # Per-term scores aggregate through FIXED conditional columns (one
    # per query term) and sum in literal order s1+s2+s3 — never a
    # float SUM whose accumulation order the engines could disagree on.
    # idf is rounded 9dp immediately after ln() (libm divergence, same
    # posture as text_tfidf); everything downstream is IEEE mul/div of
    # identical inputs.
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
    ),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok
      WHERE token IN {str(tuple(_BM25_TERMS))} GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
      WHERE token IN {str(tuple(_BM25_TERMS))} GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id, t.token,
             ROUND(LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 9)
               * (t.tf * ({_BM25_K1} + 1.0))
               / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * l.dl * s.n_docs * 1.0 / s.sum_dl)) AS s
      FROM tf t
      JOIN dl l ON t.doc_id = l.doc_id
      JOIN df d ON t.token = d.token
      CROSS JOIN stats s
    ),
    per_doc AS (
      SELECT doc_id,
             {', '.join(f"COALESCE(SUM(CASE WHEN token = '{t}' THEN s END), 0.0) AS s_{t}" for t in _BM25_TERMS)}
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, {', '.join(f"CAST(ROUND(s_{t}, 9) AS DOUBLE) AS s_{t}" for t in _BM25_TERMS)},
           CAST(ROUND({' + '.join(f's_{t}' for t in _BM25_TERMS)}, 9) AS DOUBLE) AS bm25
    FROM per_doc
    ORDER BY ROUND({' + '.join(f's_{t}' for t in _BM25_TERMS)}, 9) DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term probe
    query — the full-text-search ranking baseline (tf saturation +
    doc-length normalization, the two things text_tfidf lacks). Top-20
    docs by total score.

    Plan shape: tf is filtered to the query terms BEFORE the (doc,term)
    aggregate, so the heavy explode stream collapses to |terms|·|docs|
    rows immediately; df (≤3 rows) and the corpus stats (1 row)
    broadcast; dl/avgdl enters as the exact integer triple
    (dl·N)/Σdl so both engines divide identical inputs. The per-doc
    total sums per-term columns in literal order — no float aggregation
    order to diverge. Top-20 is TakeOrdered with doc_id tiebreak."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(tokens()).cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    tok = d.select("doc_id", F.explode(tokens()).alias("token"))
    qt = list(_BM25_TERMS)
    tf = (
        tok.filter(F.col("token").isin(qt))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = (
        tok.filter(F.col("token").isin(qt))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    idf = round_dp(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
        ),
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0
        - _BM25_B
        + _BM25_B
        * (F.col("dl") * F.col("n_docs")).cast("double")
        / F.col("sum_dl")
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom)
    )
    per_doc = scored.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("token") == t, F.col("s"))), F.lit(0.0)
            ).alias(f"s_{t}")
            for t in qt
        ]
    )
    total = None
    for t in qt:
        total = F.col(f"s_{t}") if total is None else total + F.col(f"s_{t}")
    return (
        per_doc.select(
            "doc_id",
            *[round_dp(f"s_{t}").alias(f"s_{t}") for t in qt],
            round_dp(total).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


def _truth_pairs_token_join(
    spark: SparkSession,
    d: DataFrame,
    threshold: float = 0.7,
    df_cap: int = DEDUP_DF_CAP,
) -> DataFrame:
    """Exact token-set Jaccard >= threshold pairs via the shared-token
    candidate join, df-capped (DEDUP_DF_CAP): tokens in more than
    ``df_cap`` docs never generate candidates (bounds the join at
    Σ_{df<=cap} df² <= |token rows|·cap instead of quadratic in the
    hottest token), then every candidate pair is verified with an exact
    full-set ``array_intersect`` — so Jaccard values are exact for every
    discovered pair and, when no token's df exceeds the cap, the result
    is byte-identical to the uncapped truth."""
    toksets = d.select(
        "doc_id", F.array_distinct(tokens()).alias("toks")
    ).withColumn("n", F.size("toks"))
    tok = toksets.select(
        "doc_id", F.explode("toks").alias("token")
    ).repartition(sh_parts(spark))
    keep = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= F.lit(df_cap))
        .select("token")
    )
    rare = tok.join(keep, "token")
    cand = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return (
        cand.join(
            toksets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("toks").alias("ta"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            toksets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("toks").alias("tb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


@query(
    "dedup_eval",
    # Banding-recall evaluation of the MinHash-LSH dedup index: ground
    # truth = ALL pairs with exact token-set Jaccard >= 0.7 (df-capped
    # shared-token candidate join + exact full-set verify — exact
    # whenever no token's df exceeds DEDUP_DF_CAP, true of every test
    # corpus); predicted = the LSH pipeline's verified pairs.
    # Verification makes precision 1.0 by construction, so the
    # informative readout is recall per Jaccard bin — the banding
    # s-curve, measured: high-similarity pairs should almost always
    # collide in some band, threshold-edge pairs less often.
    oracle=f"""
    WITH lists AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM lists),
    keep AS (
      SELECT token FROM tok GROUP BY token HAVING COUNT(*) <= {DEDUP_DF_CAP}
    ),
    rare AS (SELECT t.doc_id, t.token FROM tok t JOIN keep k USING (token)),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b ON a.token = b.token AND a.doc_id < b.doc_id
    ),
    truth AS (
      SELECT doc_a, doc_b,
             CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
      FROM (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(la.toks, lb.toks)) AS BIGINT) AS inter,
               len(la.toks) AS na, len(lb.toks) AS nb
        FROM cand c
        JOIN lists la ON c.doc_a = la.doc_id
        JOIN lists lb ON c.doc_b = lb.doc_id
      )
      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.7
    ),
    seeds(seed, seed_id) AS (VALUES {_SEEDS_SQL}),
    sig AS (
      SELECT t.doc_id, s.seed_id, MIN(md5(s.seed || ':' || t.token)) AS mh
      FROM tok t CROSS JOIN seeds s
      GROUP BY t.doc_id, s.seed_id
    ),
    bands AS (
      SELECT doc_id, seed_id // 4 AS band_id,
             md5(string_agg(mh, '|' ORDER BY seed_id)) AS band_key
      FROM sig GROUP BY doc_id, seed_id // 4
    ),
    pred AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT CASE WHEN t.jaccard >= 0.9 THEN '0.9+'
                WHEN t.jaccard >= 0.8 THEN '0.8-0.9'
                ELSE '0.7-0.8' END AS bin,
           COUNT(*) AS n_truth,
           COUNT(p.doc_a) AS n_hit,
           CAST(ROUND(CAST(COUNT(p.doc_a) AS DOUBLE) / COUNT(*), 9)
                AS DOUBLE) AS recall
    FROM truth t
    LEFT JOIN pred p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
    GROUP BY 1
    """,
)
def dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup index-quality evaluation — the dedup analog of
    vec_ann_recall: exact ground truth (every pair with token-set
    Jaccard >= 0.7, built by the shared-token equi-join that is exact
    above any positive threshold) versus the MinHash-LSH pipeline's
    pairs, reported as RECALL PER JACCARD BIN. This is the banding
    s-curve measured on real data: the knob every production dedup run
    tunes (bands x rows) before trusting the index; precision is 1.0 by
    construction because the pipeline exact-verifies candidates.

    Scale shape: truth cost is sum over kept tokens of df(t)^2, bounded
    by |token rows| x DEDUP_DF_CAP because _truth_pairs_token_join drops
    tokens above the df cap from CANDIDATE GENERATION (values stay exact
    — candidates are re-verified on full sets; same cap as
    dedup_ngram_jaccard); the predicted side reuses the CACHED LSH
    candidate pairs (never re-runs signatures); the hit join is a
    (doc_a, doc_b) equi-join sized by true-dup density and the bin
    rollup is three rows.

    Truth physical strategy mirrors text_jaccard_tokens: when the vocab
    fits 63 bits and the token-SET class count is under the cap, truth
    comes from the popcount class join (quadratic only in |classes| —
    this corpus's uniform high-df tokens make the shared-token join
    Σdf(t)² ≈ |docs|²·|vocab|, which measured 50 s of the full bench at
    sf0.1; the class path is seconds). Sparse/high-class corpora fall
    back to the shared-token equi-join, which is then genuinely
    sub-quadratic."""
    # fan the probe scans and the truth build's per-doc maps out of the
    # single input split (guide §2.5)
    d = load(spark, sf_dir, "documents").repartition(sh_parts(spark))
    # Strategy probe (r13: two narrow single-distinct jobs — vocab needs
    # only the bare exploded token, the class count one sig row PER DOC,
    # never a 2-column Expand multi-distinct over the token stream) —
    # cached per app/sf/stamp and shared with text_jaccard_tokens.
    vocab_size, n_classes = _jaccard_probe(spark, sf_dir, d)
    if vocab_size <= 63 and n_classes <= _JACCARD_CLASS_CAP:
        truth = _jaccard_bitmask(spark, sf_dir, d, threshold=0.7).select(
            "doc_a", "doc_b", "jaccard"
        )
    else:
        truth = _truth_pairs_token_join(spark, d, threshold=0.7)
    # the predicted side IS the shared verified-pair table (r13: read
    # the checkpointed cache that dedup_cluster_cc and the curation
    # pipeline already consume, instead of re-running LSH banding +
    # verification a second time inside this query — at 100 TB the
    # pair table is written once and every consumer reads it)
    pred = verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("p_a"), F.col("doc_b").alias("p_b")
    )
    hit = truth.join(
        pred,
        (F.col("doc_a") == F.col("p_a")) & (F.col("doc_b") == F.col("p_b")),
        "left",
    )
    return (
        hit.groupBy(
            F.when(F.col("jaccard") >= 0.9, "0.9+")
            .when(F.col("jaccard") >= 0.8, "0.8-0.9")
            .otherwise("0.7-0.8")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count("p_a").alias("n_hit"),
            round_dp(F.count("p_a").cast("double") / F.count(F.lit(1))).alias("recall"),
        )
    )


@query(
    "text_domain_mix",
    # Training-mixture balancing: per-(source, lang) token mass, actual
    # share of the corpus, and the resampling multiplier that would move
    # the mix to the uniform-over-sources x observed-lang target. Token
    # counts exact int64; shares/weights are single divisions of exact
    # ints (x1e9-scaled ratios rounded 9dp).
    oracle="""
    WITH cell AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS tok_total,
             COUNT(DISTINCT source) AS n_sources
      FROM cell
    ),
    lang_tot AS (
      SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
      FROM cell GROUP BY lang
    )
    SELECT c.source, c.lang, c.n_docs, c.n_tokens,
           CAST(ROUND(CAST(c.n_tokens AS DOUBLE) / t.tok_total, 9) AS DOUBLE)
             AS actual_share,
           CAST(ROUND((CAST(l.lang_tokens AS DOUBLE) / t.tok_total)
                      / t.n_sources, 9) AS DOUBLE) AS target_share,
           CAST(ROUND((CAST(l.lang_tokens AS DOUBLE) * t.tok_total)
                      / (CAST(t.n_sources AS DOUBLE) * t.tok_total
                         * c.n_tokens), 9) AS DOUBLE) AS mix_weight
    FROM cell c CROSS JOIN tot t JOIN lang_tot l ON c.lang = l.lang
    """,
)
def text_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture audit + reweighting — the step every LLM training
    run does before sampling: per (source, lang) cell, exact token mass,
    its actual share, the target share under a uniform-over-sources
    within-language policy, and mix_weight = target/actual (the sampling
    multiplier; >1 upsample, <1 downsample).

    ONE partial-agg pass collapses the corpus to |sources|x|langs| cells;
    the corpus total (1 row) and per-lang totals (|langs| rows) broadcast
    back. Token counts exact int64; every float is a single division of
    exact ints, 9dp-rounded identically in both engines."""
    d = load(spark, sf_dir, "documents")
    cell = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens())).alias("n_tokens"),
    )
    tot = cell.agg(
        F.sum("n_tokens").alias("tok_total"),
        F.countDistinct("source").alias("n_sources"),
    )
    lang_tot = cell.groupBy("lang").agg(
        F.sum("n_tokens").alias("lang_tokens")
    )
    return (
        cell.crossJoin(F.broadcast(tot))
        .join(F.broadcast(lang_tot), "lang")
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            round_dp(
                F.col("n_tokens").cast("double") / F.col("tok_total")
            ).alias("actual_share"),
            round_dp(
                (F.col("lang_tokens").cast("double") / F.col("tok_total"))
                / F.col("n_sources"),
            ).alias("target_share"),
            round_dp(
                (F.col("lang_tokens").cast("double") * F.col("tok_total"))
                / (
                    F.col("n_sources").cast("double")
                    * F.col("tok_total")
                    * F.col("n_tokens")
                ),
            ).alias("mix_weight"),
        )
    )


@query(
    "text_zipf_fit",
    # Zipf-law fit per language: token frequencies -> (freq DESC, token
    # ASC) ranks over the <=|vocab| grid -> log-log OLS slope. ln() is
    # rounded 9dp at birth; the four OLS moment sums fold the <=|vocab|
    # cells in ascending-rank order (order-canonical float folds), and
    # the slope is one arithmetic expression of those four doubles.
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (
      SELECT lang, token, COUNT(*) AS f FROM tok GROUP BY lang, token),
    ranked AS (
      SELECT lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY f DESC, token) AS r,
             CAST(ROUND(LN(ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY f DESC, token)), 9) AS DOUBLE) AS x,
             CAST(ROUND(LN(f), 9) AS DOUBLE) AS y
      FROM freq),
    m AS (
      SELECT lang, COUNT(*) AS n,
             list_aggregate(list(x ORDER BY r), 'sum') AS s_x,
             list_aggregate(list(y ORDER BY r), 'sum') AS s_y,
             list_aggregate(list(x * y ORDER BY r), 'sum') AS s_x_y,
             list_aggregate(list(x * x ORDER BY r), 'sum') AS s_x_x
      FROM ranked GROUP BY lang)
    SELECT lang, CAST(n AS BIGINT) AS n_vocab,
           CAST(ROUND({ols_slope_sql("x", "y")}, 9) AS DOUBLE) AS zipf_slope
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent per language — the corpus-health diagnostic
    (natural text fits slope ≈ -1 on the log-log rank/frequency line;
    boilerplate-heavy or synthetic corpora deviate sharply; this
    word-salad fixture reads near 0, which is the point of measuring).
    Log-log OLS over the ranked vocabulary.

    Scale shape: the corpus collapses to the ≤|vocab|·|langs| frequency
    grid in one map-side-combinable hash agg; ranking windows and the
    four OLS moment folds run on that grid only. ln() rounds 9dp at
    birth and every float sum folds in ascending-rank order — the same
    order-canonical posture as agg_benford/agg_mutual_info."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("f").desc(), "token")
    ranked = freq.select(
        "lang",
        F.row_number().over(w).alias("r"),
        round_dp(F.log(F.row_number().over(w).cast("double"))).alias("x"),
        round_dp(F.log(F.col("f").cast("double"))).alias("y"),
    )

    def fold(col: F.Column) -> F.Column:
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("r"), col.alias("v")))),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        )

    m = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        fold(F.col("x")).alias("s_x"),
        fold(F.col("y")).alias("s_y"),
        fold(F.col("x") * F.col("y")).alias("s_x_y"),
        fold(F.col("x") * F.col("x")).alias("s_x_x"),
    )
    return m.select(
        "lang",
        F.col("n").cast("bigint").alias("n_vocab"),
        round_dp(ols_slope("x", "y")).cast("double").alias("zipf_slope"),
    )


_WIN_K = 8  # winnowing char-gram length
_WIN_W = 4  # winnowing window (guarantee threshold t = W + K - 1 = 11)


@query(
    "text_winnowing",
    # Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    # scheme): char 8-gram md5 hashes, and from every window of 4
    # consecutive grams keep the minimum (rightmost on hash ties),
    # dedup per doc. Hash and position pack into ONE int64
    # (fp * 2^31 + (2^31-1-pos)); fp is 32 bits, so the max packed value
    # is exactly 2^63-1 and the position field covers ANY document Spark
    # can hold (string length is capped at 2^31-1 chars by the platform
    # itself), closing the r7 ADVICE overflow at >2^24 grams so "min hash, rightmost tie" is a
    # single integer MIN — no struct comparators to keep in sync across
    # engines. Guarantee: any shared substring of length >= 11 chars
    # yields at least one shared fingerprint.
    oracle=f"""
    WITH g AS (
      SELECT doc_id, text, length(text) - {_WIN_K - 1} AS ng
      FROM documents WHERE length(text) >= {_WIN_K + _WIN_W - 1}),
    p AS (
      SELECT doc_id, ng,
             list_transform(range(1, ng + 1), i ->
               CAST(('0x' || substr(md5(substr(text, CAST(i AS INT), {_WIN_K})), 1, 8))
                    AS BIGINT) * 2147483648 + (2147483647 - i)) AS packed
      FROM g),
    sel AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range({_WIN_W}, ng + 1), i ->
               list_min(packed[CAST(i - {_WIN_W - 1} AS INT):CAST(i AS INT)]))))
               AS pk
      FROM p)
    SELECT doc_id,
           CAST(2147483647 - pk % 2147483648 AS BIGINT) AS pos,
           CAST(pk // 2147483648 AS BIGINT) AS fp
    FROM sel
    """,
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints — the MOSS local fingerprinting
    scheme, THE positional alternative to MinHash for substring-level
    dedup and plagiarism/contamination detection: hash every char
    8-gram, slide a 4-gram window, keep each window's minimum hash
    (rightmost position on ties), dedup per document. The winnowing
    guarantee: any match of length ≥ W+K−1 = 11 chars between two
    documents shares at least one selected fingerprint, and the
    selected density is ~2/(W+1) of all grams — a tunable
    recall/density dial no bottom-k sketch (text_fingerprint) offers.

    Scale shape: ENTIRELY in-row — gram hashes, window minima, and
    dedup all run inside array expressions per document (no explode
    until the final result), so the operator is a narrow scan-speed
    projection; fingerprints then flow to an equi-join for candidate
    pairs exactly like dedup_cdc_chunks' digests. The "min hash,
    rightmost tie" rule is one integer MIN over packed
    fp·2³¹ + (2³¹−1−pos) values (max exactly 2^63−1 — safe for any
    document the platform can represent, since Spark/DuckDB strings cap
    at 2^31−1 chars) — exact in both engines, no float, no
    struct comparator."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") >= _WIN_K + _WIN_W - 1)
        # fan the per-char md5 grams + window minima out of the single
        # input split (one row group locally -> single-core otherwise;
        # measured 11.9-24.8 s -> 0.9-1.5 s at sf0.1, guide §2.5)
        .repartition(sh_parts(spark))
    )
    packed = F.expr(
        f"transform(sequence(1, length(text) - {_WIN_K - 1}), i -> "
        f"cast(conv(substring(md5(substring(text, i, {_WIN_K})), 1, 8), 16, 10) "
        f"as bigint) * 2147483648 + (2147483647 - i))"
    )
    sel = d.withColumn("packed", packed).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence({_WIN_W}, size(packed)), "
                    f"i -> array_min(slice(packed, i - {_WIN_W - 1}, {_WIN_W})))"
                )
            )
        ).alias("pk"),
    )
    return sel.select(
        "doc_id",
        (2147483647 - F.col("pk") % 2147483648).cast("bigint").alias("pos"),
        F.expr("pk div 2147483648").cast("bigint").alias("fp"),
    )


_DSIR_BUCKETS = 512


@query(
    "text_dsir_weight",
    # DSIR-style data-selection importance weights (Xie et al. 2023,
    # "Data Selection for Language Models via Importance Resampling"):
    # hashed n-gram (unigram + bigram) bag-of-features LMs for the
    # target domain (lang='en' proxy) and the raw corpus, per-doc
    # log importance ratio = sum_b cnt_d(b) * [ln p_t(b) - ln p_c(b)]
    # with Laplace +1 smoothing over the 512 hash buckets. Bucket
    # weights are nano-quantized ONCE on the tiny bucket grid, so the
    # per-doc score is an EXACT int64 dot product; one final division
    # (length normalization), 9dp.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
    feats AS (
      SELECT doc_id, lang, unnest(t) AS f FROM toks
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS f
      FROM toks),
    g AS (
      SELECT doc_id, MIN(lang) AS lang,
             CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM feats GROUP BY doc_id, bucket, lang),
    w AS (
      SELECT bucket,
             CAST(SUM(cnt) AS BIGINT) AS c_all,
             CAST(SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END)
                  AS BIGINT) AS c_t
      FROM g GROUP BY bucket),
    tot AS (SELECT SUM(c_all) AS ca, SUM(c_t) AS ct FROM w),
    wt AS (
      SELECT bucket,
             CAST(ROUND((LN((c_t + 1) * 1.0 / (ct + {_DSIR_BUCKETS}))
                       - LN((c_all + 1) * 1.0 / (ca + {_DSIR_BUCKETS})))
                        * 1e9, 0) AS BIGINT) AS w_nano
      FROM w CROSS JOIN tot),
    sc AS (
      SELECT g.doc_id,
             CAST(SUM(g.cnt) AS BIGINT) AS n_feats,
             CAST(SUM(g.cnt * wt.w_nano) AS BIGINT) AS s_nano
      FROM g JOIN wt ON g.bucket = wt.bucket GROUP BY g.doc_id)
    SELECT doc_id, n_feats,
           CAST(ROUND(s_nano / (1e9 * n_feats), 9) AS DOUBLE)
             AS logratio_per_feat,
           s_nano > 0 AS keep
    FROM sc
    """,
)
def text_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights — the data-selection stage from
    "Data Selection for Language Models via Importance Resampling"
    (Xie et al. 2023, public paper; the method behind domain-targeted
    pretraining mixes): score every document by the log ratio of a
    TARGET-domain hashed n-gram LM (here: the lang='en' slice as the
    target proxy) to the RAW-corpus LM, then keep/resample by weight.
    Features are unigrams + bigrams hashed into 512 buckets; both LMs
    are Laplace-smoothed bucket multinomials.

    Scale shape: one explode → ONE (doc, bucket) hash agg, pinned via
    localCheckpoint because it feeds BOTH the bucket-weight grid and
    the per-doc dot product (fact scanned once). The weight table is
    ≤512 rows — nano-quantized there (exact int64 thereafter) and
    BROADCAST back, so the per-doc score join never shuffles the
    corpus; the final division is the only float op. Swapping the
    target proxy for a real trusted corpus changes one filter."""
    # fan the gram explode + md5 bucketing out of the single input
    # split (documents is one row group locally; guide §2.5)
    return _dsir_weight(
        load(spark, sf_dir, "documents").repartition(sh_parts(spark))
    )


def _dsir_weight(d: DataFrame) -> DataFrame:
    """Core of text_dsir_weight over any documents-shaped frame
    (doc_id, text, lang) — split out so adversarial tests can feed
    single-token / empty documents (the generated corpus is always
    multi-token)."""
    toks = d.select("doc_id", "lang", tokens().alias("t"))
    feats = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.concat(
                F.col("t"),
                # guard: sequence(1, 0) is DESCENDING [1, 0] in Spark and
                # element_at(t, 0) throws — single-token docs must yield
                # an EMPTY bigram list (as the oracle's range(1,1) does)
                F.expr(
                    "IF(size(t) >= 2, "
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))), "
                    "CAST(array() AS array<string>))"
                ),
            )
        ).alias("f"),
    )
    bucket = hex_int(F.md5(F.col("f")), 8) % _DSIR_BUCKETS
    g = (
        feats.select("doc_id", "lang", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select("doc_id", F.col("lang"), "bucket", "cnt")
        .localCheckpoint()
    )
    w = g.groupBy("bucket").agg(
        F.sum("cnt").cast("bigint").alias("c_all"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("c_t"),
    )
    tot = w.agg(
        F.sum("c_all").alias("ca"), F.sum("c_t").alias("ct")
    )
    wt = w.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("c_t") + 1) / (F.col("ct") + _DSIR_BUCKETS))
                - F.log(
                    (F.col("c_all") + 1) / (F.col("ca") + _DSIR_BUCKETS)
                )
            )
            * 1e9,
            0,
        )
        .cast("bigint")
        .alias("w_nano"),
    )
    sc = (
        g.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("w_nano"))
            .cast("bigint")
            .alias("s_nano"),
        )
    )
    return sc.select(
        "doc_id",
        "n_feats",
        round_dp(F.col("s_nano") / (F.lit(1e9) * F.col("n_feats")))
        .cast("double")
        .alias("logratio_per_feat"),
        (F.col("s_nano") > 0).alias("keep"),
    )


_PMI_MIN_DOCS = 5  # pairs must co-occur in >= this many docs


@query(
    "text_pmi_cooccur",
    # Pointwise mutual information over within-document token
    # co-occurrence (presence-based: each doc contributes each
    # unordered token pair once) — the count table word-embedding and
    # collocation pipelines start from. The (doc, token) presence grid
    # is built ONCE; pairs enumerate IN-ROW from each doc's sorted
    # distinct-token array (the graph _pairs builder's combination
    # trick); PMI = ln(N*c_xy/(c_x*c_y)) and NPMI = pmi / ln(N/c_xy)
    # are transcendentals of exact int64 ratios, rounded 9dp.
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT doc_id, t.token
      FROM documents, unnest(string_split(text, ' ')) AS t(token)),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM pres),
    tok AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM pres
      GROUP BY token),
    arrs AS (
      SELECT doc_id, list_sort(list(token)) AS toks FROM pres
      GROUP BY doc_id),
    pairs AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM (
        SELECT doc_id, u.x, v.y
        FROM arrs,
             unnest(toks) AS u(x),
             unnest(toks) AS v(y)
        WHERE u.x < v.y)
      GROUP BY x, y HAVING COUNT(*) >= {_PMI_MIN_DOCS})
    SELECT p.x AS token_x, p.y AS token_y, p.c_xy,
           tx.c AS c_x, ty.c AS c_y,
           CAST(ROUND(LN(n.n_docs * p.c_xy * 1.0 / (tx.c * ty.c)), 9)
                AS DOUBLE) AS pmi,
           CAST(ROUND(LN(n.n_docs * p.c_xy * 1.0 / (tx.c * ty.c))
                      / LN(n.n_docs * 1.0 / p.c_xy), 9) AS DOUBLE)
             AS npmi
    FROM pairs p
    JOIN tok tx ON p.x = tx.token
    JOIN tok ty ON p.y = ty.token
    CROSS JOIN n
    WHERE p.c_xy < n.n_docs
    """,
)
def text_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI / NPMI token co-occurrence — the collocation statistic the
    word-embedding era's count-based pipelines (and phrase-mining /
    stopword-pair diagnostics today) compute over a corpus: for every
    unordered token pair present together in enough docs
    (_PMI_MIN_DOCS),
    PMI = ln(N·c_xy/(c_x·c_y)) and its [-1,1] normalization
    NPMI = PMI / ln(N/c_xy). Pairs where c_xy = N are excluded (NPMI's
    denominator is 0 there — tokens present in EVERY doc carry no
    signal anyway).

    Scale shape: ONE distinct (doc, token) presence grid, pinned via
    localCheckpoint (it feeds the token-frequency table, the pair
    enumeration, and the doc count); pair candidates enumerate IN-ROW
    from each doc's sorted distinct-token array (combinations via the
    same nested-transform trick as the graph pair builder — per-doc
    cost is distinct-tokens², bounded by vocabulary not corpus, and a
    production run caps per-doc distinct tokens first); the pair count
    is one map-side-combinable hash agg; the ≤|vocab|-row frequency
    table broadcasts back twice. Shuffle volume ∝ |vocab|², never
    corpus size."""
    d = load(spark, sf_dir, "documents")
    pres = (
        d.select("doc_id", F.explode(tokens()).alias("token"))
        .distinct()
        .localCheckpoint()
    )
    n = pres.agg(F.count_distinct("doc_id").alias("n_docs"))
    tok = pres.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    arrs = pres.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("token")).alias("toks")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("toks"),
            lambda x, i: F.transform(
                F.slice(F.col("toks"), i + 2, F.size(F.col("toks"))),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    pairs = (
        # fan the in-row |toks|² pair enumeration across cores: the
        # ≤|docs|-row array table is tiny in bytes, so AQE coalesces
        # the agg output to 1 task while the explode work is per-PAIR
        # (guide §2.2/§2.5); round-robin of 5k array rows is noise
        arrs.repartition(sh_parts(spark))
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_DOCS)
    )
    tx = tok.select(F.col("token").alias("x"), F.col("c").alias("c_x"))
    ty = tok.select(F.col("token").alias("y"), F.col("c").alias("c_y"))
    j = (
        pairs.join(F.broadcast(tx), "x")
        .join(F.broadcast(ty), "y")
        .crossJoin(F.broadcast(n))
        .filter(F.col("c_xy") < F.col("n_docs"))
    )
    log_ratio = F.log(
        F.col("n_docs") * F.col("c_xy") / (F.col("c_x") * F.col("c_y"))
    )
    return j.select(
        F.col("x").alias("token_x"),
        F.col("y").alias("token_y"),
        "c_xy",
        "c_x",
        "c_y",
        round_dp(log_ratio).cast("double").alias("pmi"),
        round_dp(log_ratio / F.log(F.col("n_docs") / F.col("c_xy")))
        .cast("double")
        .alias("npmi"),
    )


@query(
    "dedup_url_canonical",
    # URL-canonicalization dedup — the FIRST dedup stage of a web-crawl
    # curation pipeline: raw crawl URLs differ by scheme/host case,
    # default port, tracking params, trailing slash, and fragment while
    # naming the same resource. Raw URLs are synthesized from the
    # documents table with deterministic per-doc junk (the
    # scan_text_parse construct-then-parse pattern); the canonicalizer
    # (lowercase scheme+authority, strip :443, drop #fragment, drop
    # utm_* params, collapse '/?') is the same regex chain in both
    # engines. Docs collapsing to one canonical URL dedup to the min
    # doc_id keeper.
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
             || source
             || (CASE WHEN doc_id % 3 = 0 THEN '.EXAMPLE.COM' ELSE '.example.com' END)
             || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
             || '/d/' || CAST(doc_id % 40 AS VARCHAR)
             || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
             || '?id=' || CAST(doc_id % 40 AS VARCHAR)
             || '&utm_source=feed&utm_campaign=' || lang
             || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END) AS url
      FROM documents),
    canon AS (
      SELECT doc_id, url,
             replace(
               regexp_replace(
                 regexp_replace(
                   lower(regexp_extract(url, '^[^/]*//[^/]*'))
                     || substr(url, length(regexp_extract(url, '^[^/]*//[^/]*')) + 1),
                   '#.*$', ''),
                 '&utm_[^&#]*', '', 'g'),
               ':443', '') AS cu
      FROM raw),
    fixed AS (SELECT doc_id, url, replace(cu, '/?', '?') AS canonical_url
              FROM canon)
    SELECT canonical_url,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT url) AS n_raw_variants,
           MIN(doc_id) AS keeper_doc_id
    FROM fixed GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — stage zero of web-corpus curation
    (before any content hashing): crawls see the same resource under
    scheme/host case variants, explicit default ports, utm_* tracking
    params, trailing slashes, and fragments. The canonicalizer is a
    pure JVM regex chain (zero shuffle until the final group-by
    canonical URL), so at 100 TB it runs at scan speed and the dedup
    itself is one hash agg on the canonical key — the cheapest
    duplicate mass any pipeline removes. Keeper policy: min doc_id
    (first-crawled), with raw-variant counts kept for audit.

    Raw URLs are synthesized deterministically from the documents table
    (the construct-then-parse oracle pattern); both engines run the
    identical canonicalization, so every value is hash-checked."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
            F.lit("https://")
        ),
        F.col("source"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".EXAMPLE.COM")).otherwise(
            F.lit(".example.com")
        ),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/d/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        (F.col("doc_id") % 40).cast("string"),
        F.lit("&utm_source=feed&utm_campaign="),
        F.col("lang"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    raw = d.select("doc_id", url.alias("url"))
    prefix = F.regexp_extract(F.col("url"), r"^[^/]*//[^/]*", 0)
    lowered = F.concat(
        F.lower(prefix), F.expr("substr(url, length(regexp_extract(url, '^[^/]*//[^/]*', 0)) + 1)")
    )
    cu = F.replace(
        F.regexp_replace(
            F.regexp_replace(lowered, F.lit(r"#.*$"), F.lit("")),
            F.lit(r"&utm_[^&#]*"),
            F.lit(""),
        ),
        F.lit(":443"),
        F.lit(""),
    )
    fixed = raw.select(
        "doc_id",
        "url",
        F.replace(cu, F.lit("/?"), F.lit("?")).alias("canonical_url"),
    )
    return fixed.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("url").alias("n_raw_variants"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


_BOILER_N = 5  # token n-gram length
_BOILER_DF = 2  # a gram is boilerplate if it appears in >= this many docs


@query(
    "text_boilerplate_flag",
    # Cross-document boilerplate audit (the C4/RefinedWeb repeated-
    # passage filter, at flag granularity): a doc's token 5-grams are
    # scored by corpus document-frequency; the boilerplate ratio is the
    # fraction of the doc's grams shared with >= 2 other-or-same docs,
    # and docs with >= 30% shared-gram mass are flagged for removal.
    # Integer counts, integer flag comparison (ratio*10 vs grams*3),
    # one 9dp division for the reported ratio. Docs shorter than 5
    # tokens have no grams and are excluded (nothing to judge).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {_BOILER_N - 2}), i ->
               array_to_string(t[CAST(i AS INT):CAST(i + {_BOILER_N - 1} AS INT)], ' ')))
               AS g
      FROM toks),
    df AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g),
    per AS (
      SELECT gr.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN df.df >= {_BOILER_DF} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_boiler
      FROM grams gr JOIN df ON gr.g = df.g GROUP BY gr.doc_id)
    SELECT doc_id, n_grams, n_boiler,
           CAST(ROUND(n_boiler * 1.0 / n_grams, 9) AS DOUBLE) AS boiler_ratio,
           n_boiler * 10 >= n_grams * 3 AS drop_flag
    FROM per
    """,
)
def text_boilerplate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection — the repeated-passage
    filter every web-corpus pipeline runs (C4 dropped repeated lines;
    RefinedWeb drops documents dominated by cross-page boilerplate):
    token 5-grams are the passage unit, corpus document-frequency the
    sharedness signal, and a document whose shared-gram mass reaches
    30% is flagged for removal. Complements the in-DOC repetition score
    (text_repetition — self-similarity) and pairwise dedup
    (dedup_ngram_jaccard — near-identical pairs): boilerplate mass is a
    CORPUS-level property a pairwise join never aggregates.

    Scale shape (r13 rework): grams explode in-row ONCE (bounded
    ×(len−4) fan-out) and are immediately reduced to 8-byte xxhash64
    keys and per-(doc, gram) counts — a map-side-combinable hash agg,
    so the first Exchange carries only DISTINCT (doc, gram-hash) pairs,
    never gram strings. Document frequency is then a count-over-window
    on the gram-hash partition (one row per (doc, gram) ⇒ the window
    count IS the distinct-doc count — no COUNT(DISTINCT) rewrite, no
    join-back, no second corpus scan: the r5-r12 form scanned+exploded
    documents twice and broadcast a gram-string df table). The verdict
    is one more hash agg per doc. Everything map-side combinable,
    nothing quadratic; shuffle bytes are (doc_id, hash, count) triples.
    The flag comparison is pure integer (n_boiler·10 ≥ n_grams·3), so
    the hashed decision carries no float risk; gram-hash equality
    stands in for string equality (64-bit xxhash64, same digest-key
    contract as dedup_lines' md5 — oracle-verified equal at every SF)."""
    d = load(spark, sf_dir, "documents")
    gp = (
        d
        # docs under N tokens have no grams; they MUST be filtered here
        # because Spark's sequence(1, 0) is DESCENDING ([1, 0]) and
        # slice(arr, 0, n) is an error — the oracle's range(1, n) is
        # simply empty for them, so semantics are unchanged
        .filter(F.size(tokens()) >= _BOILER_N)
        # fan the gram explode + hashing out of the single input split
        .repartition(sh_parts(spark))
        .select(
            "doc_id",
            # hash the token-slice ARRAY, never materializing the joined
            # gram string (tokens cannot contain the split delimiter, so
            # array equality ≡ joined-string equality)
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(split(text, ' ')) - {_BOILER_N - 1}), "
                    f"i -> xxhash64(slice(split(text, ' '), i, {_BOILER_N})))"
                )
            ).alias("gh"),
        )
        .groupBy("doc_id", "gh")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    wdf = Window.partitionBy("gh")
    per = (
        gp.withColumn("df", F.count(F.lit(1)).over(wdf))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("df") >= _BOILER_DF, F.col("k")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_boiler"),
        )
    )
    return per.select(
        "doc_id",
        "n_grams",
        "n_boiler",
        round_dp(F.col("n_boiler") * 1.0 / F.col("n_grams"))
        .cast("double")
        .alias("boiler_ratio"),
        (F.col("n_boiler") * 10 >= F.col("n_grams") * 3).alias("drop_flag"),
    )


_BPE_ROUNDS = 6


def _bpe_oracle() -> str:
    # Unrolled BPE training: each round counts weighted adjacent symbol
    # pairs over the (word, count) table, takes the argmax (ties: pair
    # ascending), and applies the merge via delimiter-framed string
    # replace — '|a|b|' -> '|ab|' is exactly the left-to-right
    # non-overlapping greedy merge BPE specifies, and the delimiters on
    # BOTH sides make multi-char symbols collision-proof.
    sql = """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    words0 AS (
      SELECT '|' || array_to_string(list_transform(range(1, length(w) + 1),
               i -> substr(w, CAST(i AS INT), 1)), '|') || '|' AS s,
             COUNT(*) AS n
      FROM tok WHERE length(w) > 0 GROUP BY w)"""
    cur = "words0"
    for r in range(1, _BPE_ROUNDS + 1):
        sql += f"""
    , pairs{r} AS (
      SELECT sym[CAST(i AS INT)] AS l, sym[CAST(i AS INT) + 1] AS rr,
             SUM(n) AS cnt
      FROM (SELECT string_split(trim(s, '|'), '|') AS sym, n FROM {cur}),
           unnest(range(1, len(sym))) AS u(i)
      GROUP BY 1, 2),
    best{r} AS (
      SELECT l, rr, cnt FROM pairs{r} ORDER BY cnt DESC, l, rr LIMIT 1),
    words{r} AS (
      SELECT replace(w.s, '|' || b.l || '|' || b.rr || '|',
                     '|' || b.l || b.rr || '|') AS s, w.n
      FROM {cur} w CROSS JOIN best{r} b)"""
        cur = f"words{r}"
    return sql + "\n    SELECT " + "\n    UNION ALL SELECT ".join(
        f"CAST({r} AS BIGINT) AS merge_rank, l, rr AS r, l || rr AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )


@query("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, 6 merge rounds — the actual
    Sennrich-et-al. loop (text_bpe_pairs is its single-step probe): the
    corpus collapses ONCE to a (word, count) table; each round counts
    count-weighted adjacent symbol pairs, picks the most frequent
    (ties: lexicographic pair — deterministic), and merges every
    non-overlapping occurrence left-to-right in all words.

    Scale shape — the key fact about BPE at 100 TB: after the ONE
    corpus-sized word-count aggregation, training state is the
    VOCABULARY-sized (word, count) table; every merge round touches
    only that table (in-row pair explode + one tiny agg + a 1-row
    argmax + one string replace). The corpus is never re-scanned. The
    per-round argmax is a guarded 1-row driver collect (the bounded-
    scalar class: seeds/anchors), and the word table localCheckpoints
    so lineage stays flat across rounds.

    Merge mechanics: words are delimiter-framed symbol strings
    ('|k|e|y|'); the merge is replace('|a|b|' -> '|ab|'), which is
    precisely BPE's greedy left-to-right non-overlapping application
    ('|b|b|b|' -> '|bb|b|'), and the two-sided delimiters make
    multi-char symbols collision-proof ('|ab|cd|' can never match
    '|b|c|'). Both engines run the identical replace semantics."""
    merges = _bpe_learn(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_rank bigint, l string, r string, merged string, pair_count bigint",
    )


def _bpe_learn(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run the 6-round Sennrich merge loop; returns
    [(rank, l, r, merged, count)]. See text_bpe_train for semantics.
    text_bpe_train and text_tokenizer_apply share one training run (the
    graph LPA posture): recomputing an iterative loop inside a
    downstream query is the r3-verdict anti-pattern."""
    return shared(
        spark, sf_dir, "documents", "bpe_merges", lambda: _bpe_train(spark, sf_dir)
    )


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    d = load(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens()).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(
                F.lit("|"),
                F.array_join(
                    F.expr(
                        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
                    ),
                    "|",
                ),
                F.lit("|"),
            ).alias("s"),
            "n",
        )
        .localCheckpoint()
    )
    merges = []
    for r in range(1, _BPE_ROUNDS + 1):
        sym = F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|")
        pairs = (
            words.select(sym.alias("sym"), "n")
            # single-symbol words contribute no pairs — and Spark's
            # sequence(1, 0) is DESCENDING [1, 0], so they must not
            # reach the transform at all
            .filter(F.size("sym") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sym) - 1), "
                        "i -> struct(sym[i - 1] AS l, sym[i] AS r))"
                    )
                ).alias("p"),
                "n",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("l"), F.col("r")
        ).limit(1).collect()  # guarded 1-row argmax per round
        if not top:  # degenerate corpus (no adjacent pairs left)
            raise RuntimeError(
                f"text_bpe_train: pair table exhausted before round {r} "
                f"of {_BPE_ROUNDS} (corpus too small for the configured "
                f"merge count)"
            )
        best = top[0]
        merges.append(
            (r, best.l, best.r, best.l + best.r, int(best.cnt))
        )
        words = words.select(
            F.replace(
                F.col("s"),
                F.lit(f"|{best.l}|{best.r}|"),
                F.lit(f"|{best.l}{best.r}|"),
            ).alias("s"),
            "n",
        ).localCheckpoint()
    return merges


def _bpe_encode_oracle() -> str:
    # Reuses the unrolled training CTEs (words0..best6, identical to
    # _bpe_oracle), then encodes every document word with the six
    # learned merges applied IN RANK ORDER via the same delimiter-
    # framed replace, and aggregates token counts per doc.
    sql = _bpe_oracle().split("\n    SELECT ")[0]  # the WITH ... chain
    framed = (
        "'|' || array_to_string(list_transform(range(1, length(w) + 1), "
        "i -> substr(w, CAST(i AS INT), 1)), '|') || '|'"
    )
    enc = framed
    for r in range(1, _BPE_ROUNDS + 1):
        enc = (
            f"replace({enc}, "
            f"'|' || (SELECT l FROM best{r}) || '|' || (SELECT rr FROM best{r}) || '|', "
            f"'|' || (SELECT l FROM best{r}) || (SELECT rr FROM best{r}) || '|')"
        )
    return sql + f"""
    , dtok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    encw AS (
      SELECT doc_id, length(w) AS n_chars,
             len(string_split(trim({enc}, '|'), '|')) AS n_sym
      FROM dtok WHERE length(w) > 0)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(ROUND(SUM(n_chars) * 1.0 / SUM(n_sym), 9) AS DOUBLE)
             AS chars_per_token
    FROM encw GROUP BY doc_id"""


@query("text_tokenizer_apply", oracle=_bpe_encode_oracle())
def text_tokenizer_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the trained BPE tokenizer — the apply
    half of text_bpe_train (train once, tokenize everything: the
    actual production split, where the merge table is a tiny broadcast
    artifact and encoding is a stateless map over the corpus): every
    word is delimiter-framed and the 6 learned merges replace in rank
    order — exactly the greedy left-to-right merge application BPE
    specifies — then per-doc token counts and the chars-per-token
    compression ratio (the metric tokenizer quality is judged by)
    come from one hash agg.

    Scale shape: training state is shared via runtime.shared (one
    training run per corpus version, the graph LPA posture); encoding
    itself is zero-shuffle in-row string work at scan speed — the
    merge list rides INTO the plan as literals (at 50k merges it
    becomes a broadcast map + a join-free UDF-less loop unroll, same
    topology). Only the final doc agg shuffles.

    Guards: empty tokens are filtered BEFORE framing (sequence(1, 0)
    is descending — the r8 short-doc class); symbols contain no regex
    metacharacters (corpus words are \\w+, asserted by the oracle's
    identical split)."""
    merges = _bpe_learn(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    enc = (
        "concat('|', array_join(transform(sequence(1, length(w)), "
        "i -> substring(w, i, 1)), '|'), '|')"
    )
    for _, left, right, _m, _c in merges:
        enc = f"replace({enc}, '|{left}|{right}|', '|{left}{right}|')"
    words = d.select(
        "doc_id",
        F.explode(tokens()).alias("w"),
    ).filter(F.length("w") > 0)
    encw = words.select(
        "doc_id",
        F.length("w").alias("n_chars"),
        F.size(
            F.split(F.expr(f"trim(BOTH '|' FROM {enc})"), r"\|")
        ).alias("n_sym"),
    )
    return encw.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        round_dp(F.sum("n_chars") / F.sum("n_sym"))
        .cast("double")
        .alias("chars_per_token"),
    )


_DUP_CC_ROUNDS = 8  # oracle unroll; measured min-label fixpoint <= 5 at all SFs
_DUP_CC_MAX_ROUNDS = 20  # Spark-side loud-fail bound on the contraction loop


def verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed (doc_a, doc_b) verified-pair table. The LSH-verified
    pair set is consumed by the cluster stage AND the curation pipeline
    (and any dedup audit); at 100 TB it is written ONCE as its own table
    and every consumer reads it — the shared entry is the single-node
    equivalent (same contract as the signature table)."""
    return shared(
        spark,
        sf_dir,
        "documents",
        "verified_pairs",
        lambda: dedup_minhash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(),
    )


def dup_cc_chain_sql() -> str:
    """The connected-components CTE chain over `pairs_out` (min-label
    propagation unrolled to depth _DUP_CC_ROUNDS), ending at
    l{_DUP_CC_ROUNDS}(node, lbl). Appended to _MINHASH_PAIRS_CTE by
    dedup_cluster_cc's oracle and reused verbatim by
    pipeline_llm_curation_e2e's near-dup drop-list stage."""
    return """
    , e AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs_out
      UNION ALL
      SELECT doc_b, doc_a FROM pairs_out),
    l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)""" + relax_ctes(
        "l", _DUP_CC_ROUNDS, "f.lbl", edges="e", value="lbl"
    )


def _dup_cc_oracle() -> str:
    # Min-label propagation unrolled over the symmetrized verified-pair
    # graph (the CC_MAX_ROUNDS pattern): depth 8 covers the measured
    # fixpoint (<= 5 at sf0.001/0.01/0.1) with margin; the Spark side
    # runs the real fixpoint loop (propagation + pointer jumping), and
    # CC labels at fixpoint are schedule-independent (min doc_id per
    # component), so both engines meet at the same clustering.
    return _MINHASH_PAIRS_CTE + dup_cc_chain_sql() + f"""
    SELECT node AS doc_id, lbl AS cluster_id, node = lbl AS keep,
           COUNT(*) OVER (PARTITION BY lbl) AS cluster_size
    FROM l{_DUP_CC_ROUNDS}"""


@query("dedup_cluster_cc", oracle=_dup_cc_oracle())
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS — the final stage of corpus dedup that
    the pair operators feed: LSH-verified pairs (dedup_minhash_pairs,
    J ≥ 0.7) form a graph; connected components make transitive
    duplicate clusters ('A≈B, B≈C ⟹ one cluster' — pairwise keep
    decisions alone double-keep or double-drop chain duplicates); the
    min doc_id per cluster is the keeper, everything else drops. This
    is exactly how web-corpus dedup ships (pair emit → union-find →
    one survivor per cluster), and the cluster SIZES are the dedup
    audit metric (duplicate-mass distribution).

    Scale shape — Boruvka-style min-neighbor star contraction: round
    1's contraction map comes straight off the pair stream (one
    map-side-combined min-agg — the doubled edge list is never
    materialized), and the contracted edge set shrinks geometrically
    (8.75M symmetric doc-pair edges → 2,880 → 128 → 10 → 0 in four
    rounds at sf0.1; dense near-clique dup clusters collapse onto
    their minimum almost immediately), so each round scans a fraction
    of the last instead of re-scanning all edges like plain label
    propagation (measured 16 s → ~8 s at sf0.1, pair verification
    included). Correctness: the component minimum is a fixed point of
    s(v) = min(v, min-neighbor) and every other node strictly
    decreases onto it, so the contraction fixpoint labels ARE the
    min-doc_id-per-component that the ORACLE's plain doc-level
    min-label propagation reaches — both must produce identical rows,
    hash-checked. Docs with no near-dup pair never enter the graph
    (they keep by default and are not rows here — this operator
    reports the DUPLICATE mass).

    The checkpointed (doc_id, lbl) fixpoint labels are shared: like the
    pair table, the cluster/keeper table is materialized once and
    consumed by both this query and the curation pipeline's drop-list
    stage."""
    lbl = shared(
        spark,
        sf_dir,
        "documents",
        "dup_cc_labels",
        lambda: _dup_cc_labels(spark, sf_dir),
    )
    w = Window.partitionBy("lbl")
    return lbl.select(
        "doc_id",
        F.col("lbl").alias("cluster_id"),
        (F.col("doc_id") == F.col("lbl")).alias("keep"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


def _dup_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = verified_pairs(spark, sf_dir)
    # Boruvka-style min-neighbor star contraction, with round 1 taken
    # DIRECTLY from the pair stream: the doubled (src, dst) edge list is
    # never materialized — it exists only in-flight feeding a map-side-
    # combined min-agg (the contraction map) and one map-join + distinct
    # (the contracted edge set, ~3 orders smaller for near-clique dup
    # clusters). Each subsequent round contracts the already-tiny graph.
    # s(v) = min(v, min neighbor): the component minimum is a fixed
    # point and every other node strictly decreases onto it, so the
    # fixpoint labels ARE the min-doc_id-per-component the oracle's
    # plain min-label propagation reaches. Loud bound, never silent.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    lbl = None
    cur = sym  # round 1 runs over the in-flight pair stream
    for _ in range(_DUP_CC_MAX_ROUNDS):
        smap = (
            cur.groupBy("src")
            .agg(F.min("dst").alias("md"))
            .select(
                F.col("src").alias("v"), F.least("src", "md").alias("s")
            )
            .localCheckpoint()  # |active nodes| rows — small
        )
        if lbl is None:
            # every doc in a verified pair, labeled by round 1's map
            lbl = smap.select(
                F.col("v").alias("doc_id"), F.col("s").alias("lbl")
            ).localCheckpoint()
        else:
            lbl = (
                lbl.join(smap.hint("shuffle_hash"), lbl.lbl == smap.v, "left")
                .select("doc_id", F.coalesce("s", "lbl").alias("lbl"))
                .localCheckpoint()
            )
        sa = smap.select(F.col("v").alias("src"), F.col("s").alias("ss"))
        sb = smap.select(F.col("v").alias("dst"), F.col("s").alias("sd"))
        cur, seen = checkpoint(
            cur.join(sa.hint("shuffle_hash"), "src")
            .join(sb.hint("shuffle_hash"), "dst")
            .filter(F.col("ss") != F.col("sd"))
            .select(F.col("ss").alias("src"), F.col("sd").alias("dst"))
            .distinct(),
            n=F.count(F.lit(1)),
        )
        if seen["n"] == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_cluster_cc: no contraction fixpoint within "
            f"{_DUP_CC_MAX_ROUNDS} rounds"
        )
    return lbl


_LINE_TOKENS = 8  # tokens per synthesized line (fixture granularity)


@query(
    "dedup_lines",
    # C4/RefinedWeb line-level exact dedup: every line is kept only at
    # its FIRST corpus occurrence (min packed (doc_id, line_no) key per
    # line hash) and dropped everywhere else; per-doc retention is the
    # curation signal. The synthetic docs carry no newlines, so lines
    # are synthesized deterministically as 8-token chunks (the
    # construct-then-parse fixture pattern, dedup_url_canonical) — the
    # dedup topology (explode -> hash-agg on line hash -> join back) is
    # the real one. Integer counts; one 9dp ratio.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS token,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents),
    lines AS (
      SELECT doc_id, (pos - 1) // {_LINE_TOKENS} AS ln,
             md5(string_agg(token, ' ' ORDER BY pos)) AS lh
      FROM tok GROUP BY doc_id, (pos - 1) // {_LINE_TOKENS}),
    packed AS (
      SELECT doc_id, ln, lh, doc_id * 1000000 + ln AS pk FROM lines),
    keepers AS (
      SELECT lh, MIN(pk) AS keeper_pk FROM packed GROUP BY lh)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN p.pk = k.keeper_pk THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(ROUND(SUM(CASE WHEN p.pk = k.keeper_pk THEN 1 ELSE 0 END)
                      * 1.0 / COUNT(*), 9) AS DOUBLE) AS retained_ratio
    FROM packed p JOIN keepers k ON p.lh = k.lh
    GROUP BY p.doc_id
    """,
)
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup across the corpus — the C4/RefinedWeb
    boilerplate-removal primitive at line granularity: a line survives
    only at its first occurrence (global min (doc_id, line_no)), every
    later copy is dropped, and each doc reports how much of it
    survived. Complements text_boilerplate_flag (df-scored grams, doc
    verdict) with the line-precise keep/drop decision.

    Scale shape: docs explode to lines in-row, lines collapse by md5
    line-hash (the shuffle key is a 32-byte digest, never the line
    text), one min-agg picks keepers, one equi-join marks survivors,
    one doc-level agg reports. All hash-partitioned — no sort, no
    quadratic step; at 100 TB this is the cheapest dedup pass after
    URL canonicalization. Line identity = content hash; the packed
    first-occurrence key doc_id*1e6+line_no is exact for any doc under
    10^6 lines (8-token lines -> docs beyond ~8M tokens would need a
    wider pack, same recipe as text_winnowing's 2^31 widening)."""
    d = load(spark, sf_dir, "documents")
    toks = tokens()
    nl = F.greatest(
        F.lit(1), F.ceil(F.size(toks) / F.lit(_LINE_TOKENS)).cast("int")
    )
    lines = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), nl - 1)).alias("ln"),
        toks.alias("toks"),
    ).select(
        "doc_id",
        "ln",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("toks"),
                    F.col("ln") * _LINE_TOKENS + 1,
                    _LINE_TOKENS,
                ),
                " ",
            )
        ).alias("lh"),
    )
    packed = lines.select(
        "doc_id",
        "ln",
        "lh",
        (F.col("doc_id") * 1000000 + F.col("ln")).alias("pk"),
    )
    keepers = packed.groupBy("lh").agg(F.min("pk").alias("keeper_pk"))
    return (
        packed.join(keepers, "lh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.when(F.col("pk") == F.col("keeper_pk"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
            round_dp(
                F.sum(
                    F.when(F.col("pk") == F.col("keeper_pk"), 1).otherwise(0)
                )
                / F.count(F.lit(1)),
            )
            .cast("double")
            .alias("retained_ratio"),
        )
    )
