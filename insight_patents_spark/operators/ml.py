"""Model scoring & evaluation at scale (SURVEY §2.16).

The ML-adjacent stages every training-data pipeline runs INSIDE the data
engine (the reference's pipeline surface is reconstructed, SURVEY §0.1;
these are the quality-classifier shapes every corpus-curation stack —
fastText-style filters, classifier-based mixture selection — executes
over the full corpus, not in a training framework):

- ``ml_lr_inference``: linear-model inference over hashed text features.
  The "model" is a hash function (hashing-trick weights), so scoring is
  a STATELESS narrow pipeline — no weight table is shipped, joined, or
  broadcast; the defining production property of feature hashing.
- ``ml_pr_curve``: precision/recall/F1 threshold sweep computed the
  scale-correct way — scores collapse to an exact integer-bin histogram
  first (hash agg), cumulative TP/FP ride windows over the ≤101-bin
  grid. Never a global sort of the corpus by score (that is how
  sklearn does it and exactly what dies at 10⁹ rows; Spark ML's
  BinaryClassificationMetrics bins for the same reason).

Each of the two scores — the hashed-LR classifier (``_lr_docs``) and
the TTR bin (``_ttr_docs``) — is defined once per engine below: a Spark
builder over a ``documents`` frame with its DuckDB CTE twin beside it.
Every query and oracle here that scores documents calls these.

Determinism: logits are exact int64 weight-dot-products divided once;
sigmoid/F1 are single transcendental/divisions of bit-identical inputs,
rounded 9dp per the repo contract (README §determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.stable import hex_int, round_dp, tokens
from ..registry import query
from ..sources.tables import load

_LR_BUCKETS = 16  # hashed feature width (production: 2^18+)
_LR_BIAS_CENTI = -20  # intercept, in 1/100 units like the weights
# The classifier's one operating point, in quarter-logits: keep <=>
# logit > -1/4. On this corpus's score distribution keep-at-0 keeps
# nothing (0 of 500 documents at sf0.01), which would leave the filter
# keeping nothing and every audit of it nothing to audit.
_LR_KEEP_MARGIN_Q = 1


def _lr_bucket() -> F.Column:
    """Hashed-feature bucket of the ``token`` column: first 8 md5 hex
    chars -> bigint mod _LR_BUCKETS."""
    return hex_int(F.md5(F.col("token")), 8) % _LR_BUCKETS


def _lr_w_centi() -> F.Column:
    """md5-derived weight of the ``bucket`` column in centi-units, an
    integer in [-50, 50] — so per-doc dot products are exact bigint sums
    in both engines (the float enters once, at the final division)."""
    return (
        hex_int(F.md5(F.concat(F.lit("w"), F.col("bucket").cast("string"))), 4)
        % 101
        - 50
    )


def _lr_w_centi_sql(bucket: str) -> str:
    """SQL twin of ``_lr_w_centi`` for the bucket expression ``bucket``."""
    return (
        f"(CAST(('0x' || substr(md5('w' || CAST({bucket} AS VARCHAR)), 1, 4))"
        f" AS BIGINT) % 101 - 50)"
    )


def _lr_counts(d: DataFrame) -> DataFrame:
    """Hashed-LR classifier, feature layer: ``(doc_id, bucket, cnt)``,
    the per-doc token count of each hashed bucket. Twin: the
    ``lr_counts`` CTE of ``_LR_DOCS_CTE``."""
    tok = d.select("doc_id", F.explode(tokens()).alias("token"))
    return (
        tok.select("doc_id", _lr_bucket().alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _lr_docs(d: DataFrame) -> DataFrame:
    """Hashed-LR classifier, per doc: ``(doc_id, n_tokens, z_centi)``
    with z_centi = Σ cnt_b·w_b, an exact int64 weight-dot-product. The
    model is a hash function, so this is a stateless narrow pipeline
    plus two doc_id aggs — no weight table to ship, join or broadcast.
    Twin: the ``lr_docs`` CTE of ``_LR_DOCS_CTE``."""
    return _lr_counts(d).groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.sum(F.col("cnt") * _lr_w_centi()).cast("bigint").alias("z_centi"),
    )


_LR_DOCS_CTE = f"""
    WITH lr_counts AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
               % {_LR_BUCKETS} AS bucket,
             COUNT(*) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY doc_id, bucket),
    lr_docs AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(cnt * {_lr_w_centi_sql("bucket")}) AS BIGINT) AS z_centi
      FROM lr_counts GROUP BY doc_id)"""


def _lr_z_num() -> F.Column:
    """z_centi + bias·n_tokens: the logit numerator, exact int64."""
    return F.col("z_centi") + _LR_BIAS_CENTI * F.col("n_tokens")


_LR_Z_NUM_SQL = f"(z_centi + {_LR_BIAS_CENTI} * n_tokens)"


def _lr_logit() -> F.Column:
    """logit = z_num / (100·n_tokens): one division, rounded 9dp."""
    return round_dp(_lr_z_num() / (100.0 * F.col("n_tokens")))


def _lr_score() -> F.Column:
    """Sigmoid of the rounded logit, rounded 9dp."""
    return round_dp(1.0 / (1.0 + F.exp(-_lr_logit())))


_LR_LOGIT_SQL = f"ROUND({_LR_Z_NUM_SQL} * 1.0 / (100 * n_tokens), 9)"
_LR_SCORE_SQL = f"ROUND(1.0 / (1.0 + EXP(-{_LR_LOGIT_SQL})), 9)"


def _lr_keep() -> F.Column:
    """The keep decision, logit > -_LR_KEEP_MARGIN_Q/4, as an exact
    integer comparison (the decision never touches a float):
    4·z_num + 100·_LR_KEEP_MARGIN_Q·n_tokens > 0."""
    return 4 * _lr_z_num() + 100 * _LR_KEEP_MARGIN_Q * F.col("n_tokens") > 0


_LR_KEEP_SQL = f"(4 * {_LR_Z_NUM_SQL} + {100 * _LR_KEEP_MARGIN_Q} * n_tokens > 0)"


def _ttr_docs(d: DataFrame, by_source: bool = False) -> DataFrame:
    """TTR-bin score, per doc: ``(doc_id, [source], bin, pos)`` with
    bin = floor(100·distinct/total tokens), the type-token ratio as an
    exact integer score bin, and the label pos = lang='en'. One per-doc
    hash agg. Twin: ``_ttr_docs_cte``."""
    cols = ["doc_id", "lang"] + (["source"] if by_source else [])
    tok = d.select(*cols, F.explode(tokens()).alias("token"))
    src = [F.min("source").alias("source")] if by_source else []
    return tok.groupBy("doc_id").agg(
        *src,
        F.floor(100.0 * F.count_distinct(F.col("token")) / F.count(F.lit(1)))
        .cast("bigint")
        .alias("bin"),
        (F.min("lang") == "en").alias("pos"),
    )


def _ttr_docs_cte(by_source: bool = False) -> str:
    """SQL twin of ``_ttr_docs``: the ``per_doc`` CTE."""
    src = "MIN(d.source) AS source, " if by_source else ""
    return f"""
    WITH per_doc AS (
      SELECT d.doc_id, {src}
             CAST(FLOOR(100.0 * COUNT(DISTINCT t.token) / COUNT(*))
                  AS BIGINT) AS bin,
             (MIN(d.lang) = 'en') AS pos
      FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
      GROUP BY d.doc_id)"""


@query(
    "ml_lr_inference",
    # Logistic scoring over hashed features. Weights derive from md5 of
    # the bucket id (centi-units, [-50, 50]) so the whole model is a
    # pure function — Spark and DuckDB materialize identical weights
    # with no fitted artifact. z_centi = sum(cnt_b * w_b) is an exact
    # int64; logit = one division; sigmoid rounded 9dp.
    oracle=_LR_DOCS_CTE
    + f"""
    SELECT doc_id, n_tokens,
           CAST({_LR_LOGIT_SQL} AS DOUBLE) AS logit,
           CAST({_LR_SCORE_SQL} AS DOUBLE) AS score,
           {_LR_KEEP_SQL} AS keep
    FROM lr_docs
    """,
)
def ml_lr_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference over the corpus — the fastText-style
    filter stage of every LLM data pipeline, run as pure SQL: tokens
    hash into {_LR_BUCKETS} buckets (hashing trick), each bucket carries
    a weight derived from md5 of its id (centi-units, so the dot product
    is EXACT int64 arithmetic), logit = (Σ cnt·w + bias·n) / (100·n) in
    one division, sigmoid rounded 9dp, keep = logit > -1/4 (exact integer
    comparison — the filter decision never touches a float).

    Scale shape: the model is a hash function, so inference is a
    stateless narrow pipeline — explode → hash → two map-side-combinable
    hash aggs. NO weight table exists to broadcast or join; swapping in
    a trained model means swapping the md5-derived weight expression for
    a 2^18-entry broadcast map, everything else unchanged. Nothing here
    is quadratic, nothing shuffles except the two doc_id aggs (which
    share partitioning)."""
    return _lr_docs(load(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        _lr_logit().cast("double").alias("logit"),
        _lr_score().cast("double").alias("score"),
        _lr_keep().alias("keep"),
    )


@query(
    "ml_pr_curve",
    # PR curve via exact integer score bins: score = type-token ratio
    # binned to floor(100·distinct/total) (exact int arithmetic), label
    # = lang='en'. Cells (bin -> pos, neg) aggregate first; TP/FP at
    # threshold bin t are DESCENDING cumulative window sums over the
    # occupied-bin grid; precision/recall/F1 are single divisions of
    # exact ints, rounded 9dp.
    oracle=_ttr_docs_cte()
    + """,
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(pos) OVER (ORDER BY bin DESC) AS tp,
             SUM(neg) OVER (ORDER BY bin DESC) AS fp,
             SUM(pos) OVER () AS p
      FROM cells)
    SELECT CAST(bin AS BIGINT) AS threshold_bin,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(ROUND(tp * 1.0 / (tp + fp), 9) AS DOUBLE) AS precision_at,
           CAST(ROUND(tp * 1.0 / p, 9) AS DOUBLE) AS recall_at,
           CAST(ROUND(2.0 * tp / (tp + fp + p), 9) AS DOUBLE) AS f1_at
    FROM cum
    """,
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation sweep — precision/recall/F1 at every score
    threshold, computed the way it must be at corpus scale: the corpus
    collapses to an exact integer-bin histogram (bin = floor(100·TTR),
    type-token ratio as the score; label = lang='en'), and the sweep is
    two cumulative windows over the ≤101-bin grid. F1 uses the
    2·tp/(2·tp+fp+fn) identity so it is one division of exact ints.

    Scale shape: one per-doc hash agg (map-side combinable), one ≤101-row
    cell agg, windows over the cell grid only — the corpus is never
    globally sorted by score (the sklearn per-row sweep is exactly what
    a 10⁹-row corpus cannot do; Spark ML bins for the same reason).
    Swapping the score for a real model column changes nothing
    downstream."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("neg"),
    )
    w_cum = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "bin",
        F.sum("pos").over(w_cum).alias("tp"),
        F.sum("neg").over(w_cum).alias("fp"),
        F.sum("pos").over(w_all).alias("p"),
    )
    return cum.select(
        F.col("bin").cast("bigint").alias("threshold_bin"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        round_dp(F.col("tp") / (F.col("tp") + F.col("fp")))
        .cast("double")
        .alias("precision_at"),
        round_dp(F.col("tp") / F.col("p")).cast("double").alias("recall_at"),
        round_dp(2.0 * F.col("tp") / (F.col("tp") + F.col("fp") + F.col("p")))
        .cast("double")
        .alias("f1_at"),
    )


@query(
    "ml_confusion_matrix",
    # Binary confusion matrix + derived metrics for the lr filter vs the
    # lang='en' label: one hash agg to 4 cells, every metric a single
    # division of exact int64s (MCC's sqrt rounds 9dp). The metric
    # columns repeat per row by design (scalar-only results contract).
    oracle=_LR_DOCS_CTE
    + f""",
    joined AS (
      SELECT {_LR_KEEP_SQL} AS pred, (d.lang = 'en') AS actual
      FROM lr_docs w JOIN documents d ON w.doc_id = d.doc_id),
    m AS (
      SELECT CAST(SUM(CASE WHEN pred AND actual THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pred AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN NOT pred AND actual THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN NOT pred AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM joined)
    SELECT quadrant, n, accuracy, mcc FROM (
      SELECT unnest(['tp', 'fp', 'fn', 'tn']) AS quadrant,
             unnest([tp, fp, fn, tn]) AS n,
             CAST(ROUND((tp + tn) * 1.0 / (tp + fp + fn + tn), 9) AS DOUBLE)
               AS accuracy,
             CAST(CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) > 0
                  THEN ROUND((tp*tn - fp*fn) /
                       SQRT(CAST((tp+fp)*(tp+fn) AS DOUBLE) *
                            CAST((tn+fp)*(tn+fn) AS DOUBLE)), 9)
                  ELSE 0.0 END AS DOUBLE) AS mcc
      FROM m)
    """,
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + accuracy + Matthews correlation for the
    ml_lr_inference filter against the lang='en' label — the
    classifier-audit readout next to ml_pr_curve (PR sweeps thresholds;
    this scores the DEPLOYED cut at logit > -1/4). The prediction recomputes
    the exact int64 decision (shared arithmetic with ml_lr_inference),
    so the whole evaluation is one narrow pipeline + two hash aggs + a
    4-cell rollup; every metric is one division of exact ints (MCC's
    denominator factors split into two exact products before ONE double
    multiply — (tp+fp)(tp+fn)(tn+fp)(tn+fn) would overflow int64 at
    10⁹ docs; paired products stay < 2⁶² there).

    Scale shape: identical to ml_lr_inference (stateless, no weight
    table) plus a broadcast-sized label join and a 4-cell aggregate."""
    d = load(spark, sf_dir, "documents")
    joined = _lr_docs(d).join(d.select("doc_id", "lang"), "doc_id").select(
        _lr_keep().alias("pred"), (F.col("lang") == "en").alias("actual")
    )
    m = joined.agg(
        F.sum(F.when(F.col("pred") & F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("pred") & ~F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x) for x in ("tp", "fp", "fn", "tn"))
    d1 = (tp + fp) * (tp + fn)
    d2 = (tn + fp) * (tn + fn)
    mcc = F.when(
        (d1 > 0) & (d2 > 0),
        round_dp(
            (tp * tn - fp * fn)
            / F.sqrt(d1.cast("double") * d2.cast("double")),
        ),
    ).otherwise(F.lit(0.0))
    wide = m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        round_dp((tp + tn) / (tp + fp + fn + tn))
        .cast("double")
        .alias("accuracy"),
        mcc.cast("double").alias("mcc"),
    )
    return wide.select(
        F.posexplode(
            F.create_map(
                F.lit("tp"), tp, F.lit("fp"), fp, F.lit("fn"), fn,
                F.lit("tn"), tn,
            )
        ).alias("_", "quadrant", "n"),
        "accuracy",
        "mcc",
    ).select("quadrant", F.col("n").cast("bigint").alias("n"), "accuracy", "mcc")


@query(
    "ml_calibration_bins",
    # Reliability diagram: predicted probability (the lr sigmoid) binned
    # to centiles; per bin the observed positive rate (exact int
    # division) vs the mean predicted probability. The mean of a float
    # column is made order-independent by FLOOR-quantizing each score to
    # exact int64 nano-units before summing (documented quantization —
    # at 1e-9 resolution the bias is below the 9dp output rounding).
    oracle=_LR_DOCS_CTE
    + f""",
    sc AS (
      SELECT {_LR_SCORE_SQL} AS score, (d.lang = 'en') AS pos
      FROM lr_docs w JOIN documents d ON w.doc_id = d.doc_id),
    cells AS (
      SELECT CAST(FLOOR(score * 100) AS BIGINT) AS bin,
             COUNT(*) AS n,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CAST(FLOOR(score * 1e9) AS BIGINT)) AS BIGINT) AS sq
      FROM sc GROUP BY 1)
    SELECT bin, CAST(n AS BIGINT) AS n,
           CAST(ROUND(n_pos * 1.0 / n, 9) AS DOUBLE) AS observed_rate,
           CAST(ROUND(sq / (n * 1e9), 9) AS DOUBLE) AS mean_predicted
    FROM cells
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability diagram for the lr filter: predicted
    probabilities binned to centiles, observed positive rate vs mean
    predicted probability per bin — the readout that tells you whether
    a 0.8 score means 80% (and feeds temperature scaling if not).
    Completes the in-engine evaluation set: ml_pr_curve sweeps
    thresholds, ml_confusion_matrix scores the deployed cut, this
    audits the probabilities themselves.

    Scale shape: the score pipeline is the stateless lr chain; the
    diagram is ONE hash agg to ≤100 cells. The only float mean is made
    order-independent by floor-quantizing scores to exact int64
    nano-units before summing (same posture as vec_pca_project's matvec
    reduction) — no collect_list of scores, no per-bin sort, at any
    corpus size."""
    d = load(spark, sf_dir, "documents")
    sc = _lr_docs(d).join(d.select("doc_id", "lang"), "doc_id").select(
        _lr_score().alias("score"), (F.col("lang") == "en").alias("pos")
    )
    cells = sc.groupBy(
        F.floor(F.col("score") * 100).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.floor(F.col("score") * F.lit(1e9)).cast("long"))
        .cast("bigint")
        .alias("sq"),
    )
    return cells.select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        round_dp(F.col("n_pos") / F.col("n"))
        .cast("double")
        .alias("observed_rate"),
        round_dp(F.col("sq") / (F.col("n") * F.lit(1e9)))
        .cast("double")
        .alias("mean_predicted"),
    )


# NDCG@10 position discounts 1/log2(rank+1), pre-rounded to exact int64
# nano-units and injected as LITERALS into both engines — the only
# transcendental in ml_ndcg is evaluated once here in Python, so the
# per-term arithmetic is pure integer multiplication everywhere.
_NDCG_K = 10
_NDCG_DISC_NANO = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)


def _disc_sql(rank_col: str) -> str:
    whens = " ".join(
        f"WHEN {i + 1} THEN {d}::BIGINT"
        for i, d in enumerate(_NDCG_DISC_NANO)
    )
    return f"CASE {rank_col} {whens} ELSE 0 END"


@query(
    "ml_roc_auc",
    # Exact AUC (Mann-Whitney with midrank tie handling) per corpus
    # source, from the SAME integer score-bin histogram as ml_pr_curve:
    # AUC = [sum_b pos_b*(neg_below_b + neg_b/2)] / (P*N). Doubling the
    # numerator keeps it an exact int64; ONE division at the end,
    # rounded 9dp. Groups with a degenerate class (P=0 or N=0) are
    # excluded (AUC undefined there).
    oracle=_ttr_docs_cte(by_source=True)
    + """,
    cells AS (
      SELECT source, bin,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM per_doc GROUP BY source, bin),
    cum AS (
      SELECT source, pos, neg,
             COALESCE(SUM(neg) OVER (PARTITION BY source ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM cells),
    g AS (
      SELECT source,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(neg) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS num2
      FROM cum GROUP BY source)
    SELECT source, n_pos, n_neg,
           CAST(ROUND(num2 * 1.0 / (2 * n_pos * n_neg), 9) AS DOUBLE) AS auc
    FROM g WHERE n_pos > 0 AND n_neg > 0
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC per corpus source — the Mann-Whitney rank-sum
    identity with midrank tie handling, computed WITHOUT ranking the
    corpus: scores collapse to the integer-bin histogram (bin =
    floor(100·TTR), label = lang='en', shared with ml_pr_curve), and
    AUC = Σ_b pos_b·(neg_below_b + neg_b/2) / (P·N) over the ≤101-bin
    grid. The numerator is kept doubled so it stays an exact int64;
    one division at the end, rounded 9dp.

    Scale shape: a per-doc hash agg, a (source × bin) cell agg (≤101
    rows per source), a window over the cell grid, one more tiny agg.
    No global sort, no per-row ranks — the property that lets AUC run
    on 10⁹ scored documents. Swapping in a real model score only
    changes the bin expression."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"), by_source=True)
    cells = per_doc.groupBy("source", "bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("neg"),
    )
    w_below = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cells.select(
        "source",
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_below), F.lit(0)).alias("neg_below"),
    )
    g = cum.groupBy("source").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg")))
        .cast("bigint")
        .alias("num2"),
    )
    return g.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        "source",
        "n_pos",
        "n_neg",
        round_dp(F.col("num2") / (2 * F.col("n_pos") * F.col("n_neg")))
        .cast("double")
        .alias("auc"),
    )


@query(
    "ml_lift_gains",
    # Cumulative gains / lift table over descending score bins — the
    # campaign-targeting readout ("scoring the top 20% of the corpus
    # captures 45% of positives, lift 2.2x"). Same integer-bin
    # histogram as ml_pr_curve; depth/gain/lift are single divisions of
    # exact int64 cumulative counts, rounded 9dp.
    oracle=_ttr_docs_cte()
    + """,
    cells AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(n) OVER (ORDER BY bin DESC) AS cum_n,
             SUM(pos) OVER (ORDER BY bin DESC) AS cum_pos,
             SUM(n) OVER () AS tot_n,
             SUM(pos) OVER () AS tot_pos
      FROM cells)
    SELECT CAST(bin AS BIGINT) AS threshold_bin,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(ROUND(cum_n * 1.0 / tot_n, 9) AS DOUBLE) AS depth,
           CAST(ROUND(cum_pos * 1.0 / tot_pos, 9) AS DOUBLE) AS gain,
           CAST(ROUND(cum_pos * 1.0 * tot_n / (cum_n * tot_pos), 9)
                AS DOUBLE) AS lift
    FROM cum
    """,
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile (here: score bin) —
    'score everything, keep the top X%': depth = share of corpus above
    the bin, gain = share of positives captured, lift = gain/depth.
    The classifier-driven corpus-selection readout (quality-filter
    yield curves) next to ml_pr_curve/ml_roc_auc.

    Scale shape: identical to ml_pr_curve — per-doc hash agg, ≤101-bin
    cell agg, cumulative windows over the bin grid only. gain·depth
    arithmetic cross-multiplies exact int64 counts (cum_pos·tot_n
    stays < 2⁶³ up to 3·10⁹ rows) — no intermediate ratios."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
    )
    w_cum = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "bin",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("pos").over(w_cum).alias("cum_pos"),
        F.sum("n").over(w_all).alias("tot_n"),
        F.sum("pos").over(w_all).alias("tot_pos"),
    )
    return cum.select(
        F.col("bin").cast("bigint").alias("threshold_bin"),
        F.col("cum_n").cast("bigint").alias("cum_n"),
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        round_dp(F.col("cum_n") / F.col("tot_n"))
        .cast("double")
        .alias("depth"),
        round_dp(F.col("cum_pos") / F.col("tot_pos"))
        .cast("double")
        .alias("gain"),
        round_dp(
            F.col("cum_pos") * F.col("tot_n")
            / (F.col("cum_n") * F.col("tot_pos")),
        )
        .cast("double")
        .alias("lift"),
    )


@query(
    "ml_psi_drift",
    # Population stability index between two md5-parity halves of the
    # corpus (the train/serve drift monitor): feature = log2 bucket of
    # n_chars (exact in both engines via length(bin(n))-1), Laplace +1
    # smoothing so no bin divides by zero, per-bin PSI term =
    # (pA - pB)·ln(pA/pB) with the ratio formed from exact int64
    # cross-products, rounded 9dp; the total re-quantizes the rounded
    # terms to nano-units so the global sum is order-independent.
    oracle="""
    WITH halves AS (
      SELECT CAST(length(bin(n_chars)) - 1 AS BIGINT) AS bucket,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS part
      FROM documents WHERE n_chars > 0),
    cells AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN part = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_a,
             CAST(SUM(CASE WHEN part = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_b
      FROM halves GROUP BY bucket),
    sm AS (
      SELECT bucket, cnt_a, cnt_b,
             cnt_a + 1 AS ca, cnt_b + 1 AS cb,
             SUM(cnt_a) OVER () + COUNT(*) OVER () AS ta,
             SUM(cnt_b) OVER () + COUNT(*) OVER () AS tb
      FROM cells),
    term AS (
      SELECT bucket, cnt_a, cnt_b,
             ROUND((ca * 1.0 / ta - cb * 1.0 / tb)
                   * LN((ca * tb) * 1.0 / (cb * ta)), 9) AS psi_term
      FROM sm)
    SELECT bucket, cnt_a, cnt_b,
           CAST(psi_term AS DOUBLE) AS psi_term,
           CAST(ROUND(SUM(CAST(ROUND(psi_term * 1e9, 0) AS BIGINT))
                        OVER () / 1e9, 9) AS DOUBLE) AS psi_total
    FROM term
    """,
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index — THE production drift monitor run
    between a reference corpus slice and a fresh one before retraining
    or re-filtering. Slices here are md5-parity halves of doc_id (a
    deterministic stand-in for time windows); the monitored feature is
    the log2 length bucket (exact integer binary-length trick, shared
    with agg_log_histogram). Laplace +1 smoothing keeps every occupied
    bin's ratio finite; PSI per bin = (pA−pB)·ln(pA/pB) with the log
    ratio formed from exact int64 cross-products (ca·tb)/(cb·ta) —
    proportions are never materialized as floats before the ONE double
    division. PSI > 0.2 is the standard 'investigate' threshold.

    Scale shape: one hash agg to ≤64 log buckets, windows over that
    grid only. The total is a window sum of nano-quantized 9dp terms —
    exact int64, order-independent under any partitioning."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    part = hex_int(F.md5(F.col("doc_id").cast("string")), 8) % 2
    halves = d.select(
        (F.length(F.bin(F.col("n_chars"))) - 1).cast("bigint").alias("bucket"),
        part.alias("part"),
    )
    cells = halves.groupBy("bucket").agg(
        F.sum(F.when(F.col("part") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_a"),
        F.sum(F.when(F.col("part") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_b"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sm = cells.select(
        "bucket",
        "cnt_a",
        "cnt_b",
        (F.col("cnt_a") + 1).alias("ca"),
        (F.col("cnt_b") + 1).alias("cb"),
        (F.sum("cnt_a").over(w_all) + F.count(F.lit(1)).over(w_all)).alias("ta"),
        (F.sum("cnt_b").over(w_all) + F.count(F.lit(1)).over(w_all)).alias("tb"),
    )
    term = sm.select(
        "bucket",
        "cnt_a",
        "cnt_b",
        round_dp(
            (F.col("ca") / F.col("ta") - F.col("cb") / F.col("tb"))
            * F.log((F.col("ca") * F.col("tb")) / (F.col("cb") * F.col("ta"))),
        ).alias("psi_term"),
    )
    return term.select(
        "bucket",
        "cnt_a",
        "cnt_b",
        F.col("psi_term").cast("double").alias("psi_term"),
        round_dp(
            F.sum(F.round(F.col("psi_term") * 1e9, 0).cast("bigint")).over(
                w_all
            )
            / 1e9,
        )
        .cast("double")
        .alias("psi_total"),
    )


@query(
    "ml_ndcg",
    # NDCG@10 per user "query" over the events table: the model ranking
    # orders a user's events by value (desc, event_id tiebreak, NULLS
    # LAST both engines), graded relevance is md5-derived in {0..3},
    # the ideal ranking re-sorts by relevance. Discounts 1/log2(r+1)
    # are injected as pre-rounded int64 nano literals, so DCG/IDCG are
    # EXACT integer sums — the only division is the final ratio, 9dp.
    oracle=f"""
    WITH rel AS (
      SELECT user_id, event_id, value,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                                  || CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 4 AS rel
      FROM events),
    ranked AS (
      SELECT user_id, rel,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY value DESC NULLS LAST, event_id) AS rm,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY rel DESC, event_id) AS ri
      FROM rel),
    g AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN rm <= {_NDCG_K}
                  THEN rel * ({_disc_sql('rm')}) ELSE 0 END) AS BIGINT)
               AS dcg_nano,
             CAST(SUM(CASE WHEN ri <= {_NDCG_K}
                  THEN rel * ({_disc_sql('ri')}) ELSE 0 END) AS BIGINT)
               AS idcg_nano
      FROM ranked GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(ROUND(dcg_nano / 1e9, 9) AS DOUBLE) AS dcg,
           CAST(ROUND(idcg_nano / 1e9, 9) AS DOUBLE) AS idcg,
           CAST(CASE WHEN idcg_nano > 0
                THEN ROUND(dcg_nano * 1.0 / idcg_nano, 9)
                ELSE 0.0 END AS DOUBLE) AS ndcg
    FROM g
    """,
)
def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per user — the ranking-quality metric for the retrieval
    / recommendation stages a corpus pipeline feeds (and the eval loop
    vec_ann_recall's index tuning reports against). Each user's events
    form a "query": the model ranking sorts by event value, graded
    relevance (0-3) is md5-derived so both engines materialize the same
    labels, the ideal ranking re-sorts by relevance. Position discounts
    1/log2(rank+1) enter as PRE-ROUNDED int64 nano literals (the one
    transcendental is evaluated once at import), so DCG and IDCG are
    exact integer dot products and NDCG is one division, rounded 9dp.

    Scale shape: two ROW_NUMBER windows over the SAME (user_id)
    partitioning — one shuffle, reused by both sorts — then a hash agg.
    Per-user work is O(events·log) locally; nothing global. At 10⁹
    events the plan is unchanged: partition by query, rank inside."""
    e = load(spark, sf_dir, "events")
    rel = e.select(
        "user_id",
        "event_id",
        "value",
        (
            hex_int(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                8,
            )
            % 4
        ).alias("rel"),
    )
    w_model = Window.partitionBy("user_id").orderBy(
        F.col("value").desc_nulls_last(), F.col("event_id")
    )
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.col("rel").desc(), F.col("event_id")
    )
    ranked = rel.select(
        "user_id",
        "rel",
        F.row_number().over(w_model).alias("rm"),
        F.row_number().over(w_ideal).alias("ri"),
    )

    def disc(rank: F.Column) -> F.Column:
        expr = F.lit(0).cast("bigint")
        for i, dn in enumerate(_NDCG_DISC_NANO):
            expr = F.when(rank == i + 1, F.lit(dn).cast("bigint")).otherwise(
                expr
            )
        return expr

    g = ranked.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(
                F.col("rm") <= _NDCG_K, F.col("rel") * disc(F.col("rm"))
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_nano"),
        F.sum(
            F.when(
                F.col("ri") <= _NDCG_K, F.col("rel") * disc(F.col("ri"))
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("idcg_nano"),
    )
    return g.select(
        "user_id",
        "n_events",
        round_dp(F.col("dcg_nano") / 1e9).cast("double").alias("dcg"),
        round_dp(F.col("idcg_nano") / 1e9).cast("double").alias("idcg"),
        F.when(
            F.col("idcg_nano") > 0,
            round_dp(F.col("dcg_nano") / F.col("idcg_nano")),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("ndcg"),
    )


@query(
    "ml_average_precision",
    # Average precision (area under the PR curve, the step-wise
    # sklearn definition AP = sum_n (R_n - R_{n-1}) * P_n) over the
    # same integer score-bin histogram as ml_pr_curve: per descending
    # bin, term = pos_b * tp_b / (P * (tp_b + fp_b)) — exact int64
    # numerator, ONE division, 9dp; the total nano-quantizes rounded
    # terms so the window sum is order-independent.
    oracle=_ttr_docs_cte()
    + """,
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin, pos,
             SUM(pos) OVER (ORDER BY bin DESC) AS tp,
             SUM(neg) OVER (ORDER BY bin DESC) AS fp,
             SUM(pos) OVER () AS p
      FROM cells),
    term AS (
      SELECT bin, tp, fp,
             CAST(ROUND(tp * 1.0 / (tp + fp), 9) AS DOUBLE) AS precision_at,
             CAST(ROUND(pos * 1.0 / p, 9) AS DOUBLE) AS delta_recall,
             ROUND(pos * 1.0 * tp / (p * (tp + fp)), 9) AS ap_term
      FROM cum)
    SELECT CAST(bin AS BIGINT) AS threshold_bin,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           precision_at, delta_recall,
           CAST(ap_term AS DOUBLE) AS ap_term,
           CAST(ROUND(SUM(CAST(ROUND(ap_term * 1e9, 0) AS BIGINT))
                        OVER () / 1e9, 9) AS DOUBLE) AS ap_total
    FROM term
    """,
)
def ml_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-wise sklearn definition) — the single-number PR summary next
    to ml_roc_auc's ROC summary; the metric of record when positives
    are rare (quality filtering at 1-5% keep rates), where ROC AUC
    saturates. Same ≤101-bin integer histogram as ml_pr_curve; per-bin
    term pos_b·tp_b/(P·(tp_b+fp_b)) keeps the numerator an exact int64
    with ONE 9dp division; the total is the nano-quantized window sum.

    Scale shape: identical to ml_pr_curve — per-doc hash agg, bin-grid
    cells, cumulative windows over ≤101 rows. The corpus is never
    sorted by score."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("neg"),
    )
    w_cum = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "bin",
        "pos",
        F.sum("pos").over(w_cum).alias("tp"),
        F.sum("neg").over(w_cum).alias("fp"),
        F.sum("pos").over(w_all).alias("p"),
    )
    term = cum.select(
        "bin",
        "tp",
        "fp",
        round_dp(F.col("tp") / (F.col("tp") + F.col("fp")))
        .cast("double")
        .alias("precision_at"),
        round_dp(F.col("pos") / F.col("p"))
        .cast("double")
        .alias("delta_recall"),
        round_dp(
            F.col("pos") * F.col("tp") / (F.col("p") * (F.col("tp") + F.col("fp"))),
        ).alias("ap_term"),
    )
    return term.select(
        F.col("bin").cast("bigint").alias("threshold_bin"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        "precision_at",
        "delta_recall",
        F.col("ap_term").cast("double").alias("ap_term"),
        round_dp(
            F.sum(F.round(F.col("ap_term") * 1e9, 0).cast("bigint")).over(
                w_all
            )
            / 1e9,
        )
        .cast("double")
        .alias("ap_total"),
    )


@query(
    "ml_ks_separation",
    # Classifier separation power: the two-sample KS statistic between
    # positive and negative SCORE distributions (the credit-scoring
    # "KS score") on the shared integer bin grid: per-bin (pos, neg)
    # cells, ECDFs as cumulative windows, D in exact integer form
    # max|cp*N - cn*P| until ONE final division. The bin where the max
    # is achieved is the optimal decision cut under equal costs.
    oracle=_ttr_docs_cte()
    + """,
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS q
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(p) OVER (ORDER BY bin) AS cp,
             SUM(q) OVER (ORDER BY bin) AS cq,
             SUM(p) OVER () AS np, SUM(q) OVER () AS nq
      FROM cells),
    gap AS (
      SELECT bin, np, nq,
             CAST(ABS(cp * nq - cq * np) AS BIGINT) AS num
      FROM cum),
    best AS (
      SELECT MIN(bin) AS ks_bin FROM gap
      WHERE num = (SELECT MAX(num) FROM gap))
    SELECT CAST(MAX(g.np) AS BIGINT) AS n_pos,
           CAST(MAX(g.nq) AS BIGINT) AS n_neg,
           CAST(ROUND(MAX(g.num) * 1.0 / (MAX(g.np) * MAX(g.nq)), 9)
                AS DOUBLE) AS ks_stat,
           CAST(MAX(b.ks_bin) AS BIGINT) AS ks_bin
    FROM gap g CROSS JOIN best b
    """,
)
def ml_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier separation power — the two-sample KS statistic between
    the positive and negative classes' SCORE distributions (the 'KS
    score' credit-risk modelers report next to AUC; also the optimal
    equal-cost decision cut, returned as ks_bin). Reuses the shared
    ≤101-bin integer score histogram; the ECDF gap stays in EXACT
    integer form |cp·N − cq·P| until one final 9dp division — the same
    cross-multiplication posture as agg_ks_test, applied to the model
    audit.

    Scale shape: per-doc hash agg → bin cells → cumulative windows on
    the ≤101-row grid → one tiny argmax aggregate. Corpus never sorted,
    never rescanned."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("p"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("q"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gap = cells.select(
        "bin",
        F.sum("p").over(w_cum).alias("cp"),
        F.sum("q").over(w_cum).alias("cq"),
        F.sum("p").over(w_all).alias("np"),
        F.sum("q").over(w_all).alias("nq"),
    ).select(
        "bin",
        "np",
        "nq",
        F.abs(F.col("cp") * F.col("nq") - F.col("cq") * F.col("np"))
        .cast("bigint")
        .alias("num"),
    )
    marked = gap.withColumn("max_num", F.max("num").over(w_all))
    agg = marked.agg(
        F.max("np").cast("bigint").alias("n_pos"),
        F.max("nq").cast("bigint").alias("n_neg"),
        F.max("num").alias("max_num"),
        F.min(F.when(F.col("num") == F.col("max_num"), F.col("bin")))
        .cast("bigint")
        .alias("ks_bin"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        round_dp(F.col("max_num") / (F.col("n_pos") * F.col("n_neg")))
        .cast("double")
        .alias("ks_stat"),
        "ks_bin",
    )


@query(
    "ml_auc_delong_ci",
    # DeLong standard error + 95% CI for the binned AUC: the structural
    # components V10 (per positive: fraction of negatives ranked below,
    # ties half) and V01 are CONSTANT within a score bin, so their
    # means/variances come from the bin grid with exact int64 moments —
    # per-bin numerators a = 2*neg_below + neg_b (units of 1/(2N)) and
    # b = 2*pos_above + pos_b (units of 1/(2P)); variance numerators
    # P*Spa2 - Spa^2 stay < 2^63 up to ~10^5 occupied-bin mass per side
    # (documented bound; beyond that the moments widen to DOUBLE). One
    # sqrt + two additions at the end, 9dp.
    oracle=_ttr_docs_cte()
    + """,
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS q
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin, p, q,
             COALESCE(SUM(q) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS q_below,
             COALESCE(SUM(p) OVER (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS p_above,
             SUM(p) OVER () AS np, SUM(q) OVER () AS nq
      FROM cells),
    m AS (
      SELECT CAST(MAX(np) AS BIGINT) AS np, CAST(MAX(nq) AS BIGINT) AS nq,
             CAST(SUM(p * (2 * q_below + q)) AS BIGINT) AS spa,
             CAST(SUM(p * (2 * q_below + q) * (2 * q_below + q))
                  AS BIGINT) AS spa2,
             CAST(SUM(q * (2 * p_above + p)) AS BIGINT) AS sqb,
             CAST(SUM(q * (2 * p_above + p) * (2 * p_above + p))
                  AS BIGINT) AS sqb2
      FROM cum),
    st AS (
      SELECT np, nq,
             ROUND(spa * 1.0 / (2 * np * nq), 9) AS auc,
             (np * spa2 - spa * spa) * 1.0
               / (4.0 * nq * nq * np * GREATEST(np - 1, 1)) AS v10,
             (nq * sqb2 - sqb * sqb) * 1.0
               / (4.0 * np * np * nq * GREATEST(nq - 1, 1)) AS v01
      FROM m)
    SELECT np AS n_pos, nq AS n_neg,
           CAST(auc AS DOUBLE) AS auc,
           CAST(ROUND(SQRT(v10 / np + v01 / nq), 9) AS DOUBLE) AS se,
           CAST(ROUND(auc - 1.96 * ROUND(SQRT(v10 / np + v01 / nq), 9), 9)
                AS DOUBLE) AS ci_lo,
           CAST(ROUND(auc + 1.96 * ROUND(SQRT(v10 / np + v01 / nq), 9), 9)
                AS DOUBLE) AS ci_hi
    FROM st
    """,
)
def ml_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong standard error and 95% CI for the ROC AUC — the
    inferential companion to ml_roc_auc's point estimate (the
    variance formula from DeLong, DeLong & Clarke-Pearson 1988 that
    every clinical/risk AUC report quotes): AUC's variance decomposes
    into variances of the structural components V10 (per positive, the
    fraction of negatives ranked below it) and V01. Both are CONSTANT
    within a score bin, so their exact moments come from the ≤101-bin
    grid: per-bin integer numerators 2·neg_below+neg (units 1/(2N)) and
    2·pos_above+pos (units 1/(2P)), second moments still int64. One
    sqrt at the end, 9dp.

    Scale shape: identical to ml_roc_auc — per-doc hash agg, bin grid,
    two cumulative windows (ascending for V10, descending for V01),
    one tiny moment aggregate. The corpus is never ranked."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("p"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("q"),
    )
    w_up = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    w_dn = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "bin",
        "p",
        "q",
        F.coalesce(F.sum("q").over(w_up), F.lit(0)).alias("q_below"),
        F.coalesce(F.sum("p").over(w_dn), F.lit(0)).alias("p_above"),
        F.sum("p").over(w_all).alias("np"),
        F.sum("q").over(w_all).alias("nq"),
    )
    a = 2 * F.col("q_below") + F.col("q")
    b = 2 * F.col("p_above") + F.col("p")
    m = cum.agg(
        F.max("np").cast("bigint").alias("np"),
        F.max("nq").cast("bigint").alias("nq"),
        F.sum(F.col("p") * a).cast("bigint").alias("spa"),
        F.sum(F.col("p") * a * a).cast("bigint").alias("spa2"),
        F.sum(F.col("q") * b).cast("bigint").alias("sqb"),
        F.sum(F.col("q") * b * b).cast("bigint").alias("sqb2"),
    )
    np_, nq = F.col("np"), F.col("nq")
    auc = round_dp(F.col("spa") / (2 * np_ * nq))
    v10 = (np_ * F.col("spa2") - F.col("spa") * F.col("spa")) / (
        4.0 * nq * nq * np_ * F.greatest(np_ - 1, F.lit(1))
    )
    v01 = (nq * F.col("sqb2") - F.col("sqb") * F.col("sqb")) / (
        4.0 * np_ * np_ * nq * F.greatest(nq - 1, F.lit(1))
    )
    se = round_dp(F.sqrt(v10 / np_ + v01 / nq))
    return m.select(
        np_.alias("n_pos"),
        nq.alias("n_neg"),
        auc.cast("double").alias("auc"),
        se.cast("double").alias("se"),
        round_dp(auc - 1.96 * se).cast("double").alias("ci_lo"),
        round_dp(auc + 1.96 * se).cast("double").alias("ci_hi"),
    )


@query(
    "ml_ece",
    # Expected calibration error over the same centile bins as
    # ml_calibration_bins: ECE = sum_b (n_b/N)*|acc_b - conf_b|, with
    # per-bin accuracy an exact integer ratio and confidence the
    # floor-quantized nano mean; per-bin terms round 9dp, the total is
    # the nano-quantized order-independent window sum. The repeated
    # total per row keeps the result scalar-only.
    oracle=_LR_DOCS_CTE
    + f""",
    sc AS (
      SELECT {_LR_SCORE_SQL} AS score, (d.lang = 'en') AS pos
      FROM lr_docs w JOIN documents d ON w.doc_id = d.doc_id),
    cells AS (
      SELECT CAST(FLOOR(score * 100) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CAST(FLOOR(score * 1e9) AS BIGINT)) AS BIGINT) AS sq
      FROM sc GROUP BY 1),
    term AS (
      SELECT bin, n, n_pos,
             SUM(n) OVER () AS nn,
             ROUND(ABS(n_pos * 1.0 / n - ROUND(sq / (n * 1e9), 9)) * n * 1.0
                   / SUM(n) OVER (), 9) AS ece_term
      FROM cells)
    SELECT bin, n, n_pos,
           CAST(ece_term AS DOUBLE) AS ece_term,
           CAST(ROUND(SUM(CAST(ROUND(ece_term * 1e9, 0) AS BIGINT))
                        OVER () / 1e9, 9) AS DOUBLE) AS ece_total
    FROM term
    """,
)
def ml_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the single-number summary of
    ml_calibration_bins' reliability diagram (the metric temperature
    scaling minimizes): ECE = Σ_b (n_b/N)·|accuracy_b − confidence_b|
    over the centile score bins. Accuracy is an exact integer ratio,
    confidence the floor-quantized nano mean (shared arithmetic with
    ml_calibration_bins so the two always agree), per-bin terms round
    9dp, and the total is the nano-quantized order-independent window
    sum repeated per row (scalar-only results contract).

    Scale shape: the stateless lr chain + ONE ≤100-cell hash agg +
    windows on the cell grid. Nothing scales with the corpus after the
    first agg."""
    d = load(spark, sf_dir, "documents")
    sc = _lr_docs(d).join(d.select("doc_id", "lang"), "doc_id").select(
        _lr_score().alias("score"), (F.col("lang") == "en").alias("pos")
    )
    cells = sc.groupBy(
        F.floor(F.col("score") * 100).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.floor(F.col("score") * F.lit(1e9)).cast("long"))
        .cast("bigint")
        .alias("sq"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    term = cells.select(
        "bin",
        "n",
        "n_pos",
        round_dp(
            F.abs(
                F.col("n_pos") / F.col("n")
                - round_dp(F.col("sq") / (F.col("n") * F.lit(1e9)))
            )
            * F.col("n")
            / F.sum("n").over(w_all),
        ).alias("ece_term"),
    )
    return term.select(
        "bin",
        "n",
        "n_pos",
        F.col("ece_term").cast("double").alias("ece_term"),
        round_dp(
            F.sum(F.round(F.col("ece_term") * 1e9, 0).cast("bigint")).over(
                w_all
            )
            / 1e9,
        )
        .cast("double")
        .alias("ece_total"),
    )


@query(
    "ml_group_parity",
    # Group-fairness audit of the corpus-curation classifier: per
    # source (the crawl-provenance group), the keep rate of
    # ml_lr_inference's exact integer decision, the statistical-parity
    # difference vs the overall rate, and the disparate-impact ratio vs
    # the best-treated group. Counts are exact ints from one hash agg;
    # every rate is one division rounded 9dp; diff/ratio operate on the
    # ROUNDED rates so both engines subtract/divide identical doubles.
    oracle=_LR_DOCS_CTE
    + f""",
    dec AS (
      SELECT d.source,
             CASE WHEN {_LR_KEEP_SQL} THEN 1 ELSE 0 END
               AS kept
      FROM lr_docs w JOIN documents d ON w.doc_id = d.doc_id),
    grp AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(kept) AS BIGINT) AS n_kept,
             CAST(ROUND(SUM(kept) * 1.0 / COUNT(*), 9) AS DOUBLE) AS keep_rate
      FROM dec GROUP BY source)
    SELECT source, n_docs, n_kept, keep_rate,
           CAST(ROUND(keep_rate -
             ROUND(SUM(n_kept) OVER () * 1.0 / SUM(n_docs) OVER (), 9), 9)
             AS DOUBLE) AS parity_diff,
           CAST(CASE WHEN MAX(keep_rate) OVER () > 0
                     THEN ROUND(keep_rate / MAX(keep_rate) OVER (), 9)
                     ELSE 0.0 END AS DOUBLE) AS impact_ratio
    FROM grp
    """,
)
def ml_group_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the curation classifier — the
    responsible-AI gate a corpus pipeline runs BEFORE shipping filter
    decisions: per crawl source, the classifier's keep rate, the
    statistical-parity difference vs the corpus-wide rate, and the
    disparate-impact ratio vs the best-treated group (the 80%-rule
    denominator). A filter that silently drops one provenance or
    language at twice the rate of another skews the training mixture —
    this surfaces it as a first-class, oracle-checked metric.

    Scale shape: decisions come from the stateless hashed-weights
    classifier (exact int64 z, no float in the decision), so the whole
    audit is the inference pipeline + ONE (source) hash agg + windows
    over the |groups|-row grid — corpus scanned once, nothing sorted."""
    d = load(spark, sf_dir, "documents")
    dec = _lr_docs(d).join(d.select("doc_id", "source"), "doc_id").select(
        "source", _lr_keep().cast("int").alias("kept")
    )
    grp = dec.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        round_dp(F.sum("kept") * 1.0 / F.count(F.lit(1)))
        .cast("double")
        .alias("keep_rate"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    overall = round_dp(F.sum("n_kept").over(w_all) * 1.0 / F.sum("n_docs").over(w_all))
    return grp.select(
        "source",
        "n_docs",
        "n_kept",
        "keep_rate",
        round_dp(F.col("keep_rate") - overall)
        .cast("double")
        .alias("parity_diff"),
        F.when(
            F.max("keep_rate").over(w_all) > 0,
            round_dp(F.col("keep_rate") / F.max("keep_rate").over(w_all)),
        )
        .otherwise(F.lit(0.0))  # all-zero keep rates: no 0/0 under ANSI
        .cast("double")
        .alias("impact_ratio"),
    )


@query(
    "ml_brier_decomp",
    # Brier score + Murphy decomposition of the binned forecaster over
    # the same centile bins as ml_calibration_bins/ml_ece: raw Brier
    # rides an exact nano-quantized integer sum carried THROUGH the bin
    # agg (so the corpus-level total is order-independent), per-bin
    # reliability/resolution terms compose exact integer ratios with
    # the floor-quantized bin confidence, rounded 9dp, totals via the
    # nano window-sum contract. Uncertainty = base*(1-base) of the
    # exact global base rate.
    oracle=_LR_DOCS_CTE
    + f""",
    sc AS (
      SELECT {_LR_SCORE_SQL} AS score,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM lr_docs w JOIN documents d ON w.doc_id = d.doc_id),
    cells AS (
      SELECT CAST(FLOOR(score * 100) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(CAST(FLOOR(score * 1e9) AS BIGINT)) AS BIGINT) AS sq,
             CAST(SUM(CAST(FLOOR((score - y) * (score - y) * 1e9) AS BIGINT))
               AS BIGINT) AS qb
      FROM sc GROUP BY 1),
    t AS (
      SELECT bin, n, n_pos, qb,
             SUM(n) OVER () AS nn,
             SUM(n_pos) OVER () AS nnpos,
             SUM(qb) OVER () AS qball,
             n_pos * 1.0 / n AS acc,
             ROUND(sq / (n * 1e9), 9) AS conf
      FROM cells),
    term AS (
      SELECT bin, n, n_pos,
             CAST(conf AS DOUBLE) AS conf,
             ROUND((conf - acc) * (conf - acc) * n / nn, 9) AS rel_term,
             ROUND((acc - nnpos * 1.0 / nn) * (acc - nnpos * 1.0 / nn)
                   * n / nn, 9) AS res_term,
             ROUND(CAST(qball AS DOUBLE) / (nn * 1e9), 9) AS brier_raw,
             ROUND((nnpos * 1.0 / nn) * (1.0 - nnpos * 1.0 / nn), 9)
               AS uncertainty
      FROM t)
    SELECT bin, n, n_pos, conf,
           CAST(rel_term AS DOUBLE) AS rel_term,
           CAST(res_term AS DOUBLE) AS res_term,
           CAST(ROUND(SUM(CAST(ROUND(rel_term * 1e9, 0) AS BIGINT)) OVER ()
                / 1e9, 9) AS DOUBLE) AS reliability,
           CAST(ROUND(SUM(CAST(ROUND(res_term * 1e9, 0) AS BIGINT)) OVER ()
                / 1e9, 9) AS DOUBLE) AS resolution,
           CAST(brier_raw AS DOUBLE) AS brier_raw,
           CAST(uncertainty AS DOUBLE) AS uncertainty
    FROM term
    """,
)
def ml_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy reliability/resolution/uncertainty
    decomposition — the proper-scoring-rule view of the curation
    classifier that ml_ece's calibration error cannot separate (a model
    can be well-calibrated yet useless; resolution is what tells them
    apart). Raw Brier is an exact nano-quantized integer sum CARRIED
    THROUGH the bin agg (per-bin int64 partials, window-summed — fully
    order-independent); reliability/resolution decompose the binned
    forecaster over the <=101 centile bins with exact integer
    accuracy/base ratios; uncertainty = base*(1-base).

    Scale shape: the stateless lr chain + ONE <=101-cell hash agg +
    windows on the cell grid — identical topology to ml_ece; nothing
    after the first agg scales with the corpus."""
    d = load(spark, sf_dir, "documents")
    sc = _lr_docs(d).join(d.select("doc_id", "lang"), "doc_id").select(
        _lr_score().alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    sqerr = (F.col("score") - F.col("y")) * (F.col("score") - F.col("y"))
    cells = sc.groupBy(
        F.floor(F.col("score") * 100).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum(F.floor(F.col("score") * F.lit(1e9)).cast("long"))
        .cast("bigint")
        .alias("sq"),
        F.sum(F.floor(sqerr * F.lit(1e9)).cast("long"))
        .cast("bigint")
        .alias("qb"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = cells.select(
        "bin",
        "n",
        "n_pos",
        "qb",
        F.sum("n").over(w_all).alias("nn"),
        F.sum("n_pos").over(w_all).alias("nnpos"),
        F.sum("qb").over(w_all).alias("qball"),
        (F.col("n_pos") / F.col("n")).alias("acc"),
        round_dp(F.col("sq") / (F.col("n") * F.lit(1e9))).alias("conf"),
    )
    base = F.col("nnpos") / F.col("nn")
    term = t.select(
        "bin",
        "n",
        "n_pos",
        F.col("conf").cast("double").alias("conf"),
        round_dp(
            (F.col("conf") - F.col("acc"))
            * (F.col("conf") - F.col("acc"))
            * F.col("n")
            / F.col("nn"),
        ).alias("rel_term"),
        round_dp(
            (F.col("acc") - base) * (F.col("acc") - base) * F.col("n") / F.col("nn"),
        ).alias("res_term"),
        round_dp(F.col("qball").cast("double") / (F.col("nn") * F.lit(1e9))).alias(
            "brier_raw"
        ),
        round_dp(base * (1.0 - base)).alias("uncertainty"),
    )
    return term.select(
        "bin",
        "n",
        "n_pos",
        "conf",
        F.col("rel_term").cast("double").alias("rel_term"),
        F.col("res_term").cast("double").alias("res_term"),
        round_dp(
            F.sum(F.round(F.col("rel_term") * 1e9, 0).cast("bigint")).over(w_all)
            / 1e9,
        )
        .cast("double")
        .alias("reliability"),
        round_dp(
            F.sum(F.round(F.col("res_term") * 1e9, 0).cast("bigint")).over(w_all)
            / 1e9,
        )
        .cast("double")
        .alias("resolution"),
        F.col("brier_raw").cast("double").alias("brier_raw"),
        F.col("uncertainty").cast("double").alias("uncertainty"),
    )


@query(
    "ml_shap_linear",
    # Exact Shapley attributions for the hashed-linear scorer: for a
    # linear model phi_b(doc) = w_b * (cnt_b - mu_b) — no sampling, no
    # approximation. The global importance mean |phi| per bucket splits
    # into present-doc |cnt - mu| (nano-floor-quantized per pair, then
    # an exact decimal/HUGEINT sum) plus the (N - n_b) absent docs at
    # exactly mu each (one quantized term), so the result is
    # order-independent at any parallelism.
    oracle=_LR_DOCS_CTE
    + f""",
    nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM lr_counts),
    buckets AS (
      SELECT unnest(range(0, {_LR_BUCKETS})) AS bucket),
    stats AS (
      SELECT b.bucket, {_lr_w_centi_sql("b.bucket")} AS w_centi,
             COALESCE(COUNT(c.doc_id), 0) AS n_docs_with,
             COALESCE(SUM(c.cnt), 0) AS sum_cnt
      FROM buckets b LEFT JOIN lr_counts c ON b.bucket = c.bucket
      GROUP BY b.bucket),
    mu AS (
      SELECT s.bucket, s.w_centi, s.n_docs_with, s.sum_cnt,
             s.sum_cnt * 1.0 / nn.n AS m, nn.n AS n
      FROM stats s CROSS JOIN nn),
    dev AS (
      SELECT m.bucket, m.w_centi, m.n_docs_with, m.m, m.n,
             COALESCE(SUM(CAST(FLOOR(ABS(c.cnt - m.m) * 1e9) AS HUGEINT)), 0)
               + (m.n - m.n_docs_with) * CAST(FLOOR(m.m * 1e9) AS HUGEINT)
               AS qdev
      FROM mu m LEFT JOIN lr_counts c ON m.bucket = c.bucket
      GROUP BY m.bucket, m.w_centi, m.n_docs_with, m.m, m.n)
    SELECT bucket, CAST(w_centi AS BIGINT) AS w_centi,
           CAST(n_docs_with AS BIGINT) AS n_docs_with,
           CAST(ROUND(m, 9) AS DOUBLE) AS mean_count,
           CAST(ROUND(ABS(w_centi) * (CAST(qdev AS DOUBLE) / (n * 1e9))
                      / 100.0, 9) AS DOUBLE) AS mean_abs_shap
    FROM dev
    """,
)
def ml_shap_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-feature Shapley importance for the hashed-linear
    curation classifier — for a linear model the Shapley value is
    closed-form, phi_b(doc) = w_b*(cnt_b - mu_b), so the engine computes
    TRUE global attributions (mean |phi| per hash bucket) with zero
    sampling: the explanation stage of a model-driven data pipeline as
    one aggregation, not a per-doc explainer loop.

    The mean absolute deviation splits exactly: docs containing the
    bucket contribute |cnt - mu| (floor-quantized to nano-units per
    (doc, bucket), summed in a decimal accumulator), absent docs each
    contribute exactly mu (one closed-form term, (N - n_b)*floor(mu*1e9))
    — so the whole statistic is an order-independent integer sum; the
    only floats are mu itself and the final scaling, rounded 9dp.

    Scale shape: the (doc, bucket) count table (one hash agg of the
    exploded corpus) feeds a {_LR_BUCKETS}-row per-bucket agg; the
    bucket domain never leaves a broadcast. Nothing is per-doc after
    the first agg."""
    c = _lr_counts(load(spark, sf_dir, "documents"))
    n_docs = c.agg(
        F.count_distinct("doc_id").cast("bigint").alias("n")
    )
    buckets = spark.range(_LR_BUCKETS).select(
        F.col("id").cast("bigint").alias("bucket")
    )
    stats = (
        buckets.join(c, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_docs_with"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("sum_cnt"),
        )
        .withColumn("w_centi", _lr_w_centi())
    )
    mu = stats.crossJoin(F.broadcast(n_docs)).select(
        "bucket",
        "w_centi",
        "n_docs_with",
        (F.col("sum_cnt") / F.col("n")).alias("m"),
        "n",
    )
    dev = (
        mu.join(c, "bucket", "left")
        .groupBy("bucket", "w_centi", "n_docs_with", "m", "n")
        .agg(
            (
                F.coalesce(
                    F.sum(
                        F.floor(F.abs(F.col("cnt") - F.col("m")) * F.lit(1e9))
                        .cast("long")
                        .cast("decimal(38,0)")
                    ),
                    F.lit(0).cast("decimal(38,0)"),
                )
                + (
                    (F.col("n") - F.col("n_docs_with"))
                    * F.floor(F.col("m") * F.lit(1e9)).cast("long")
                ).cast("decimal(38,0)")
            ).alias("qdev")
        )
    )
    return dev.select(
        "bucket",
        F.col("w_centi").cast("bigint").alias("w_centi"),
        F.col("n_docs_with").cast("bigint").alias("n_docs_with"),
        round_dp(F.col("m")).cast("double").alias("mean_count"),
        round_dp(
            F.abs(F.col("w_centi"))
            * (F.col("qdev").cast("double") / (F.col("n") * F.lit(1e9)))
            / 100.0,
        )
        .cast("double")
        .alias("mean_abs_shap"),
    )


def _tree_model() -> list[dict]:
    """Fixed 4-tree depth-2 ensemble ('trained' offline, compiled into
    the plan): every split threshold and leaf value derives from md5 of
    its position at IMPORT time, so the model is a pure constant
    artifact — both engines receive identical literals, exactly like a
    real exported GBM. Features: 0 = token count, 1 = char count,
    2 = distinct-token count, with per-feature threshold ranges."""
    import hashlib

    rng = [(10, 70), (50, 450), (5, 40)]

    def h(tag: str, mod: int) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) % mod

    trees = []
    for k in range(4):
        nodes = []
        for j in range(3):  # root, left child, right child
            f = h(f"tree{k}:node{j}:f", 3)
            lo, hi = rng[f]
            nodes.append((f, lo + h(f"tree{k}:node{j}:t", hi - lo)))
        leaves = [h(f"tree{k}:leaf{i}", 101) - 50 for i in range(4)]
        trees.append({"nodes": nodes, "leaves": leaves})
    return trees


_TREES = _tree_model()
_TREE_FEATS = (
    "size(split(text, ' '))",
    "length(text)",
    "size(array_distinct(split(text, ' ')))",
)
_TREE_FEATS_SQL = (
    "len(string_split(text, ' '))",
    "length(text)",
    "len(list_distinct(string_split(text, ' ')))",
)


def _tree_case(k: int, feats: tuple) -> str:
    t = _TREES[k]
    (f0, t0), (f1, t1), (f2, t2) = t["nodes"]
    l0, l1, l2, l3 = t["leaves"]
    return (
        f"CASE WHEN {feats[f0]} <= {t0} THEN "
        f"(CASE WHEN {feats[f1]} <= {t1} THEN {l0} ELSE {l1} END) "
        f"ELSE (CASE WHEN {feats[f2]} <= {t2} THEN {l2} ELSE {l3} END) END"
    )


@query(
    "ml_tree_inference",
    # Tree-ensemble inference compiled into the plan: each depth-2 tree
    # is a nested CASE over three integer features (token/char/distinct
    # counts — exact in both engines), leaf values are centi-units, the
    # ensemble score is the exact int64 leaf sum with ONE division at
    # the end; keep = integer comparison on the raw sum. The model is a
    # deterministic import-time constant, so both engines score with
    # byte-identical literals.
    oracle=f"""
    SELECT doc_id,
           CAST({_TREE_FEATS_SQL[0]} AS BIGINT) AS n_tokens,
           CAST({_TREE_FEATS_SQL[1]} AS BIGINT) AS n_chars,
           CAST({_TREE_FEATS_SQL[2]} AS BIGINT) AS n_distinct,
           CAST({" + ".join(f"({_tree_case(k, _TREE_FEATS_SQL)})" for k in range(4))}
             AS BIGINT) AS leaf_sum_centi,
           CAST(ROUND(({" + ".join(f"({_tree_case(k, _TREE_FEATS_SQL)})" for k in range(4))})
                      / 400.0, 9) AS DOUBLE) AS score,
           ({" + ".join(f"({_tree_case(k, _TREE_FEATS_SQL)})" for k in range(4))}) > 0
             AS keep
    FROM documents
    """,
)
def ml_tree_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted-ensemble-style inference run INSIDE the engine
    — the way production pipelines actually deploy tree models over
    10^12 rows: the trained ensemble COMPILES to nested CASE
    expressions (one per tree) over cheap integer features, the whole
    scorer is a stateless narrow map with zero joins, zero UDFs, zero
    shuffles — whole-stage-codegen-able and pushdown-friendly. The
    ensemble here is 4 depth-2 trees with md5-derived import-time
    constants (a fixed model artifact; swapping in a real XGBoost dump
    changes only the literals).

    Determinism: features are exact integers (token/char/distinct-token
    counts), every split is an integer comparison, leaf values are
    centi-units, the score is the exact leaf SUM divided once (9dp),
    and the keep decision compares the raw integer sum — the filter
    never touches a float."""
    d = load(spark, sf_dir, "documents")
    leaf_sum = " + ".join(f"({_tree_case(k, _TREE_FEATS)})" for k in range(4))
    return d.select(
        "doc_id",
        F.expr(_TREE_FEATS[0]).cast("bigint").alias("n_tokens"),
        F.expr(_TREE_FEATS[1]).cast("bigint").alias("n_chars"),
        F.expr(_TREE_FEATS[2]).cast("bigint").alias("n_distinct"),
        F.expr(leaf_sum).cast("bigint").alias("leaf_sum_centi"),
        round_dp(F.expr(leaf_sum) / 400.0).cast("double").alias("score"),
        (F.expr(leaf_sum) > 0).alias("keep"),
    )


_FBETA_NUM_DEN = ((0.5, 1, 4), (1.0, 4, 4), (2.0, 16, 4))
# (beta, 4*beta^2, 4): F_beta = (4+4b2)tp / ((4+4b2)tp + 4fp + 4b2*fn)
# with 4*beta^2 integral for beta in {0.5, 1, 2} -> the score is a
# single division of exact int64s.


@query(
    "ml_threshold_opt",
    # Operating-point selection on the shared <=101-bin grid: for beta
    # in {0.5, 1, 2}, F_beta at every threshold is ONE division of
    # exact int64s (4*beta^2 integral), and the argmax picks the
    # highest 9dp-rounded score with the LOWEST bin as tiebreak
    # (deterministic in both engines). The corpus is never sorted by
    # score — ml_pr_curve's binned-sweep posture, reduced to the
    # decision output.
    oracle=_ttr_docs_cte()
    + f""",
    cells AS (
      SELECT bin,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS neg
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin,
             SUM(pos) OVER (ORDER BY bin DESC) AS tp,
             SUM(neg) OVER (ORDER BY bin DESC) AS fp,
             SUM(pos) OVER () - SUM(pos) OVER (ORDER BY bin DESC) AS fn
      FROM cells),
    scored AS (
      SELECT b.beta, b.n4b2, cum.bin, cum.tp, cum.fp, cum.fn,
             ROUND((4 + b.n4b2) * cum.tp * 1.0
                   / ((4 + b.n4b2) * cum.tp + 4 * cum.fp + b.n4b2 * cum.fn),
                   9) AS fbeta
      FROM cum CROSS JOIN (VALUES {", ".join(f"({b}, {n})" for b, n, _ in _FBETA_NUM_DEN)})
           AS b(beta, n4b2)),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY beta
                                   ORDER BY fbeta DESC, bin) AS rn
      FROM scored)
    SELECT CAST(beta AS DOUBLE) AS beta,
           CAST(bin AS BIGINT) AS best_threshold_bin,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(ROUND(tp * 1.0 / (tp + fp), 9) AS DOUBLE) AS precision_at,
           CAST(ROUND(tp * 1.0 / (tp + fn), 9) AS DOUBLE) AS recall_at,
           CAST(fbeta AS DOUBLE) AS fbeta
    FROM ranked WHERE rn = 1
    """,
)
def ml_threshold_opt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection — the decision ml_pr_curve's sweep
    exists to inform: the F-beta-optimal score threshold for three
    cost profiles (beta = 0.5 precision-weighted, 1 balanced, 2
    recall-weighted — the curation trade between corpus purity and
    corpus yield). F_beta at every bin is ONE division of exact int64s
    (4*beta^2 is integral for these betas), the argmax takes the
    highest 9dp score with lowest-bin tiebreak, and everything runs on
    the <=101-bin grid — the corpus is never sorted by score.

    Scale shape: one per-doc hash agg + one <=101-row cell agg +
    windows on the (3 x grid) cross — identical cost to ml_pr_curve
    regardless of corpus size."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("bigint").alias("neg"),
    )
    w_cum = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "bin",
        F.sum("pos").over(w_cum).alias("tp"),
        F.sum("neg").over(w_cum).alias("fp"),
        (F.sum("pos").over(w_all) - F.sum("pos").over(w_cum)).alias("fn"),
    )
    betas = spark.createDataFrame(
        [(b, n) for b, n, _ in _FBETA_NUM_DEN], "beta double, n4b2 long"
    )
    scored = cum.crossJoin(F.broadcast(betas)).select(
        "beta",
        "bin",
        "tp",
        "fp",
        "fn",
        round_dp(
            (4 + F.col("n4b2")) * F.col("tp")
            / (
                (4 + F.col("n4b2")) * F.col("tp")
                + 4 * F.col("fp")
                + F.col("n4b2") * F.col("fn")
            ),
        ).alias("fbeta"),
    )
    w_rank = Window.partitionBy("beta").orderBy(
        F.col("fbeta").desc(), F.col("bin")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            F.col("beta").cast("double").alias("beta"),
            F.col("bin").cast("bigint").alias("best_threshold_bin"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            round_dp(F.col("tp") / (F.col("tp") + F.col("fp")))
            .cast("double")
            .alias("precision_at"),
            round_dp(F.col("tp") / (F.col("tp") + F.col("fn")))
            .cast("double")
            .alias("recall_at"),
            F.col("fbeta").cast("double").alias("fbeta"),
        )
    )


@query(
    "ml_fairness_eo",
    # Equalized-odds audit per corpus source: TPR and FPR of the
    # deployed integer decision (the one cut, logit > -0.25:
    # 4·(z − 20·n) + 100·n > 0) against the lang='en' label, per group,
    # plus each group's gap to the overall rates and the max gap
    # repeated (the EO distance). Every rate is ONE division of exact
    # int64 cell counts, 9dp; groups with a degenerate class emit NULL
    # rates in BOTH engines.
    oracle=_LR_DOCS_CTE
    + f""",
    dec AS (
      SELECT d.source, {_LR_KEEP_SQL} AS kept,
             (d.lang = 'en') AS pos
      FROM lr_docs w JOIN documents d ON w.doc_id = d.doc_id),
    g AS (
      SELECT source,
             CAST(SUM(CASE WHEN pos AND kept THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN pos AND NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN NOT pos AND kept THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN NOT pos AND NOT kept THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM dec GROUP BY source),
    o AS (
      SELECT SUM(tp) AS tp, SUM(fn) AS fn, SUM(fp) AS fp, SUM(tn) AS tn
      FROM g),
    r AS (
      SELECT g.source, g.tp, g.fn, g.fp, g.tn,
             ROUND(g.tp * 1.0 / NULLIF(g.tp + g.fn, 0), 9) AS tpr,
             ROUND(g.fp * 1.0 / NULLIF(g.fp + g.tn, 0), 9) AS fpr,
             ROUND(o.tp * 1.0 / NULLIF(o.tp + o.fn, 0), 9) AS tpr_all,
             ROUND(o.fp * 1.0 / NULLIF(o.fp + o.tn, 0), 9) AS fpr_all
      FROM g CROSS JOIN o)
    SELECT source, tp, fn, fp, tn,
           CAST(tpr AS DOUBLE) AS tpr, CAST(fpr AS DOUBLE) AS fpr,
           CAST(ROUND(ABS(tpr - tpr_all), 9) AS DOUBLE) AS tpr_gap,
           CAST(ROUND(ABS(fpr - fpr_all), 9) AS DOUBLE) AS fpr_gap,
           CAST(MAX(ROUND(GREATEST(ABS(tpr - tpr_all), ABS(fpr - fpr_all)), 9))
                OVER () AS DOUBLE) AS eo_distance
    FROM r
    """,
)
def ml_fairness_eo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equalized-odds audit of the curation classifier — the
    error-rate-parity criterion beside ml_group_parity's demographic
    parity (a filter can keep equal fractions per source yet
    systematically mis-keep one source's negatives; EO catches that):
    per-source TPR/FPR of the deployed integer decision vs the overall
    rates, gaps per group, and the max gap (EO distance) repeated as
    the headline.

    Determinism: cell counts are exact int64, every rate ONE division
    (NULLIF-guarded for degenerate classes identically in both
    engines), gaps compose 9dp-rounded values. Scale shape: the
    stateless inference chain + one |sources|x4 cell agg + a
    cross-joined 1-row overall frame — auditing 10^9 decisions costs
    one corpus scan."""
    d = load(spark, sf_dir, "documents")
    dec = _lr_docs(d).join(d.select("doc_id", "source", "lang"), "doc_id").select(
        "source",
        _lr_keep().alias("kept"),
        (F.col("lang") == "en").alias("pos"),
    )
    g = dec.groupBy("source").agg(
        F.sum(F.when(F.col("pos") & F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when(F.col("pos") & ~F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when(~F.col("pos") & F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when(~F.col("pos") & ~F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    o = g.agg(
        F.sum("tp").alias("otp"),
        F.sum("fn").alias("ofn"),
        F.sum("fp").alias("ofp"),
        F.sum("tn").alias("otn"),
    )
    r = g.crossJoin(F.broadcast(o)).select(
        "source",
        "tp",
        "fn",
        "fp",
        "tn",
        round_dp(
            F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
        ).alias("tpr"),
        round_dp(
            F.col("fp") / F.nullif(F.col("fp") + F.col("tn"), F.lit(0))
        ).alias("fpr"),
        round_dp(
            F.col("otp") / F.nullif(F.col("otp") + F.col("ofn"), F.lit(0))
        ).alias("tpr_all"),
        round_dp(
            F.col("ofp") / F.nullif(F.col("ofp") + F.col("otn"), F.lit(0))
        ).alias("fpr_all"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return r.select(
        "source",
        "tp",
        "fn",
        "fp",
        "tn",
        F.col("tpr").cast("double").alias("tpr"),
        F.col("fpr").cast("double").alias("fpr"),
        round_dp(F.abs(F.col("tpr") - F.col("tpr_all")))
        .cast("double")
        .alias("tpr_gap"),
        round_dp(F.abs(F.col("fpr") - F.col("fpr_all")))
        .cast("double")
        .alias("fpr_gap"),
        F.max(
            round_dp(
                F.greatest(
                    F.abs(F.col("tpr") - F.col("tpr_all")),
                    F.abs(F.col("fpr") - F.col("fpr_all")),
                ),
            )
        )
        .over(w_all)
        .cast("double")
        .alias("eo_distance"),
    )


@query(
    "ml_calibration_isotonic",
    # Isotonic calibration (PAV fit) on the <=101-bin score grid via
    # the EXACT max-min characterization: iso(i) = max_{j<=i}
    # min_{k>=i} (P_k - P_{j-1})/(N_k - N_{j-1}) — no sequential
    # pooling loop, no driver state; every candidate ratio is one
    # division of exact int64 cumulative counts, min/max run over
    # identical double sets in both engines, 9dp at the end. The
    # pair/triple work is grid-sized (<=101^2 rows), corpus-free.
    oracle=_ttr_docs_cte()
    + """,
    cells AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM per_doc GROUP BY bin),
    cum AS (
      SELECT bin, n, n_pos,
             ROW_NUMBER() OVER (ORDER BY bin) AS i,
             SUM(n) OVER (ORDER BY bin) AS nc,
             SUM(n_pos) OVER (ORDER BY bin) AS pc
      FROM cells),
    jt AS (SELECT i AS j, COALESCE(LAG(nc) OVER (ORDER BY i), 0) AS nj1,
                  COALESCE(LAG(pc) OVER (ORDER BY i), 0) AS pj1
           FROM cum),
    r AS (
      SELECT jt.j, k.i AS k,
             (k.pc - jt.pj1) * 1.0 / (k.nc - jt.nj1) AS ratio
      FROM jt JOIN cum k ON k.i >= jt.j),
    mm AS (
      SELECT j, k AS i,
             MIN(ratio) OVER (PARTITION BY j ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minr
      FROM r),
    iso AS (
      SELECT mm.i, MAX(mm.minr) AS iso_raw
      FROM mm WHERE mm.j <= mm.i GROUP BY mm.i)
    SELECT c.bin, c.n, c.n_pos,
           CAST(ROUND(c.n_pos * 1.0 / c.n, 9) AS DOUBLE) AS raw_rate,
           CAST(ROUND(iso.iso_raw, 9) AS DOUBLE) AS iso_rate
    FROM cum c JOIN iso ON c.i = iso.i
    """,
)
def ml_calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration — the FIX stage after
    ml_calibration_bins/ml_ece diagnose miscalibration (the
    nonparametric recalibrator production stacks reach for before
    temperature scaling, because it needs no model form): fit the
    monotone-nondecreasing rate curve over the score bins that
    minimizes squared error. Instead of the sequential
    pool-adjacent-violators loop (driver state, order-dependent), this
    uses PAV's EXACT closed-form characterization iso(i) = max_{j<=i}
    min_{k>=i} mean(y, bins j..k) — pure dataflow: one grid-sized
    pair expansion (<=101^2 rows), one running-min window per j, one
    max agg per bin.

    Determinism: every candidate mean is ONE division of exact int64
    cumulative counts (identical doubles in both engines), min/max
    select among identical values, 9dp at the end. Scale shape: the
    corpus collapses to the bin grid in one hash agg; everything after
    is corpus-size-free."""
    per_doc = _ttr_docs(load(spark, sf_dir, "documents"))
    cells = per_doc.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("bigint").alias(
            "n_pos"
        ),
    )
    w_ord = Window.orderBy("bin")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cells.select(
        "bin",
        "n",
        "n_pos",
        F.row_number().over(w_ord).alias("i"),
        F.sum("n").over(w_cum).alias("nc"),
        F.sum("n_pos").over(w_cum).alias("pc"),
    ).localCheckpoint()
    jt = cum.select(
        F.col("i").alias("j"),
        F.coalesce(F.lag("nc").over(Window.orderBy("i")), F.lit(0)).alias(
            "nj1"
        ),
        F.coalesce(F.lag("pc").over(Window.orderBy("i")), F.lit(0)).alias(
            "pj1"
        ),
    )
    k = cum.select(
        F.col("i").alias("k"), F.col("nc").alias("nck"), F.col("pc").alias("pck")
    )
    r = jt.join(k, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        ((F.col("pck") - F.col("pj1")) / (F.col("nck") - F.col("nj1"))).alias(
            "ratio"
        ),
    )
    w_minr = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mm = r.select(
        "j", F.col("k").alias("i"), F.min("ratio").over(w_minr).alias("minr")
    )
    iso = (
        mm.filter(F.col("j") <= F.col("i"))
        .groupBy("i")
        .agg(F.max("minr").alias("iso_raw"))
    )
    return cum.join(iso, "i").select(
        "bin",
        "n",
        "n_pos",
        round_dp(F.col("n_pos") / F.col("n")).cast("double").alias(
            "raw_rate"
        ),
        round_dp(F.col("iso_raw")).cast("double").alias("iso_rate"),
    )


_PERM_SHIFT = 17  # deterministic permutation: doc_id -> (doc_id + 17) % N


@query(
    "ml_permutation_importance",
    # Model-agnostic permutation importance for the compiled tree
    # ensemble: baseline keep-accuracy vs the lang='en' label, then
    # each feature column is permuted by the DETERMINISTIC cyclic
    # shift doc_id -> (doc_id + 17) % N (a true permutation, identical
    # in both engines, no RNG) and the ensemble re-scores; importance
    # = accuracy drop. All decisions are exact integer comparisons;
    # accuracies are single divisions of exact counts, 9dp.
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST({_TREE_FEATS_SQL[0]} AS BIGINT) AS f0,
             CAST({_TREE_FEATS_SQL[1]} AS BIGINT) AS f1,
             CAST({_TREE_FEATS_SQL[2]} AS BIGINT) AS f2,
             (lang = 'en') AS pos
      FROM documents),
    nn AS (SELECT COUNT(*) AS n, MIN(doc_id) AS mn FROM f),
    perm AS (
      SELECT a.doc_id, a.f0, a.f1, a.f2, a.pos,
             b.f0 AS g0, b.f1 AS g1, b.f2 AS g2
      FROM f a CROSS JOIN nn
      JOIN f b ON b.doc_id = ((a.doc_id - nn.mn + {_PERM_SHIFT})
                              % nn.n) + nn.mn),
    sc AS (
      SELECT pos,
             ({" + ".join(f"({_tree_case(k, ('f0','f1','f2'))})" for k in range(4))}) > 0 AS keep0,
             ({" + ".join(f"({_tree_case(k, ('g0','f1','f2'))})" for k in range(4))}) > 0 AS keep_p0,
             ({" + ".join(f"({_tree_case(k, ('f0','g1','f2'))})" for k in range(4))}) > 0 AS keep_p1,
             ({" + ".join(f"({_tree_case(k, ('f0','f1','g2'))})" for k in range(4))}) > 0 AS keep_p2
      FROM perm),
    acc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN keep0 = pos THEN 1 ELSE 0 END) AS BIGINT) AS a0,
             CAST(SUM(CASE WHEN keep_p0 = pos THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN keep_p1 = pos THEN 1 ELSE 0 END) AS BIGINT) AS a2,
             CAST(SUM(CASE WHEN keep_p2 = pos THEN 1 ELSE 0 END) AS BIGINT) AS a3
      FROM sc)
    SELECT feature,
           CAST(ROUND(base * 1.0 / n, 9) AS DOUBLE) AS baseline_acc,
           CAST(ROUND(permuted * 1.0 / n, 9) AS DOUBLE) AS permuted_acc,
           CAST(ROUND(base * 1.0 / n - permuted * 1.0 / n, 9) AS DOUBLE)
             AS importance
    FROM (
      SELECT 'n_tokens' AS feature, a0 AS base, a1 AS permuted, n FROM acc
      UNION ALL
      SELECT 'n_chars', a0, a2, n FROM acc
      UNION ALL
      SELECT 'n_distinct', a0, a3, n FROM acc)
    """,
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance — the MODEL-AGNOSTIC
    explainability method beside ml_shap_linear's closed form (works
    for any scorer, here the compiled tree ensemble): permute one
    feature column, re-score, and report the keep-accuracy drop. The
    permutation is the deterministic cyclic shift doc_id ->
    (doc_id + 17) mod N — a true permutation with no RNG state,
    identical in both engines and at any parallelism (production uses
    k shifts and averages; one suffices for the exhibit).

    Scale shape: features compute once (one scan), the permuted
    partner arrives via ONE equi-join on the shifted id (hash join on
    doc_id — no sort, no broadcast of the corpus), all four scorings
    are CASE chains in the SAME projection, and the accuracy table is
    a 1-row agg unfolded to 3 feature rows. Exact integer decisions;
    three divisions, 9dp."""
    d = load(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        F.expr(_TREE_FEATS[0]).cast("bigint").alias("f0"),
        F.expr(_TREE_FEATS[1]).cast("bigint").alias("f1"),
        F.expr(_TREE_FEATS[2]).cast("bigint").alias("f2"),
        (F.col("lang") == "en").alias("pos"),
    ).localCheckpoint()
    nn = f.agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("mn")
    )
    a = f.crossJoin(F.broadcast(nn))
    b = f.select(
        F.col("doc_id").alias("b_id"),
        F.col("f0").alias("g0"),
        F.col("f1").alias("g1"),
        F.col("f2").alias("g2"),
    )
    perm = a.join(
        b,
        F.col("b_id")
        == ((F.col("doc_id") - F.col("mn") + _PERM_SHIFT) % F.col("n"))
        + F.col("mn"),
    )

    def keep(feats):
        expr = " + ".join(f"({_tree_case(k, feats)})" for k in range(4))
        return F.expr(f"({expr}) > 0")

    sc = perm.select(
        "pos",
        keep(("f0", "f1", "f2")).alias("keep0"),
        keep(("g0", "f1", "f2")).alias("kp0"),
        keep(("f0", "g1", "f2")).alias("kp1"),
        keep(("f0", "f1", "g2")).alias("kp2"),
    )
    acc = sc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("keep0") == F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("a0"),
        F.sum(F.when(F.col("kp0") == F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("a1"),
        F.sum(F.when(F.col("kp1") == F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("a2"),
        F.sum(F.when(F.col("kp2") == F.col("pos"), 1).otherwise(0))
        .cast("bigint")
        .alias("a3"),
    )
    parts = []
    for feat, col in (("n_tokens", "a1"), ("n_chars", "a2"), ("n_distinct", "a3")):
        parts.append(
            acc.select(
                F.lit(feat).alias("feature"),
                round_dp(F.col("a0") / F.col("n"))
                .cast("double")
                .alias("baseline_acc"),
                round_dp(F.col(col) / F.col("n"))
                .cast("double")
                .alias("permuted_acc"),
                round_dp(F.col("a0") / F.col("n") - F.col(col) / F.col("n"))
                .cast("double")
                .alias("importance"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_WOE_BIN_WIDTH = 64  # doc-length bin width (chars) — 48..553 → ~9 bins


@query(
    "ml_woe_iv",
    # Weight-of-evidence / information-value feature audit: ln of an
    # exact smoothed odds ratio, rounded 9dp at birth (the
    # agg_mutual_info recipe); the IV total folds bins in ascending
    # order — order-canonical, never a partition-order float sum.
    oracle=f"""
    WITH cells AS (
      SELECT length(text) // {_WOE_BIN_WIDTH} AS bin,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS g,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS b
      FROM documents GROUP BY 1),
    m AS (
      SELECT bin, g, b,
             SUM(g) OVER () AS gt, SUM(b) OVER () AS bt
      FROM cells),
    terms AS (
      SELECT bin, g, b,
             CAST(ROUND(LN(((g + 0.5) * (bt + 1)) / ((b + 0.5) * (gt + 1))), 9)
               AS DOUBLE) AS woe,
             CAST(ROUND(((g + 0.5) / (gt + 1) - (b + 0.5) / (bt + 1)) *
                  CAST(ROUND(LN(((g + 0.5) * (bt + 1)) / ((b + 0.5) * (gt + 1))), 9)
                    AS DOUBLE), 9) AS DOUBLE) AS iv_term
      FROM m),
    tot AS (
      SELECT CAST(ROUND(list_aggregate(list(iv_term ORDER BY bin), 'sum'), 9)
               AS DOUBLE) AS iv
      FROM terms)
    SELECT t.bin, t.g AS n_good, t.b AS n_bad, t.woe, t.iv_term,
           tt.iv AS iv_total
    FROM terms t CROSS JOIN tot tt
    """,
)
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence binning + information value of a numeric
    feature (doc length, width-{64}-char bins) against the lang='en'
    outcome — the credit-scoring/feature-selection audit every
    classifier-based curation pipeline runs before trusting a filter
    feature. WOE_b = ln(smoothed good-share / bad-share) with +0.5
    Laplace cells (zero-cell-safe, deterministic), IV = Σ_b
    (good-share − bad-share)·WOE_b.

    Scale shape: ONE documents scan collapses to the ≤16-bin grid
    (map-side-combinable hash agg); totals, WOE, and the IV fold all
    run on the grid (unpartitioned rowsBetween windows over ≤16 rows —
    the bounded-grid posture of agg_mutual_info). ln enters once per
    bin on an exact smoothed odds ratio, rounded 9dp at birth; the IV
    total folds bins in ascending order, so it is order-canonical and
    hash-stable in both engines."""
    d = load(spark, sf_dir, "documents")
    cells = (
        d.select(
            F.expr(f"length(text) div {_WOE_BIN_WIDTH}").alias("bin"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("is_g"),
        )
        .groupBy("bin")
        .agg(
            F.sum("is_g").cast("bigint").alias("g"),
            F.sum(1 - F.col("is_g")).cast("bigint").alias("b"),
        )
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m = cells.select(
        "bin",
        "g",
        "b",
        F.sum("g").over(w_all).alias("gt"),
        F.sum("b").over(w_all).alias("bt"),
    )
    woe = round_dp(
        F.log(
            ((F.col("g") + 0.5) * (F.col("bt") + 1))
            / ((F.col("b") + 0.5) * (F.col("gt") + 1))
        ),
    ).cast("double")
    iv_term = round_dp(
        (
            (F.col("g") + 0.5) / (F.col("gt") + 1)
            - (F.col("b") + 0.5) / (F.col("bt") + 1)
        )
        * woe,
    ).cast("double")
    terms = m.select(
        "bin",
        F.col("g").alias("n_good"),
        F.col("b").alias("n_bad"),
        woe.alias("woe"),
        iv_term.alias("iv_term"),
    )
    iv = round_dp(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("bin", "iv_term")).over(w_all)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t["iv_term"],
        ),
    )
    return terms.select(
        "bin", "n_good", "n_bad", "woe", "iv_term",
        iv.cast("double").alias("iv_total"),
    )
