"""Multinomial Naive Bayes text classifier as pure DataFrame algebra —
the model-based filtering stage of an LLM-data pipeline (CCNet /
RefinedWeb run fastText-style lang-id and quality classifiers over
every document; this is that stage re-expressed so training AND
scoring are each one declarative pass, no ML library, no Python UDF).

Training is aggregation: per-(label, word) token counts, per-label
token totals, per-label doc counts — the model IS a small table.
Scoring is a broadcast join: test tokens × labels, left-join the model
(missing word → the label's unseen weight), sum count-weighted log
likelihoods + prior, argmax per doc.

Oracle-exactness design: log weights are quantized to integer 1e-4
units (ROUND(ln(p)·10000) — one libm call per MODEL WEIGHT, identical
across engines except on measure-zero rounding boundaries), so every
per-doc score is an exact INTEGER sum — order-independent under any
partial-aggregation order — and the argmax tie-breaks label-asc.

100 TB posture: the model is bounded by vocabulary × labels and
broadcasts; the corpus-sized side only ever shuffles for its own
groupBys. The per-doc term-frequency table feeding both phases is the
maintained token-stats asset a pipeline keeps (materialize it once —
six consumers read it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _q(col: Column) -> Column:
    """ln -> integer 1e-4 units (exactly mirrorable in ANSI SQL as
    CAST(ROUND(ln(x) * 10000, 0) AS BIGINT))."""
    return F.round(F.log(col) * 10000, 0).cast("long")


def _scored(
    counts: DataFrame,
    id_col: str,
    label_col: str,
    word_col: str,
    count_col: str,
    train_pred: Column | None,
) -> DataFrame:
    """Shared train+score plumbing: train on the rows where
    ``train_pred`` holds (default: even ids), score the rest, and
    return per-(test doc, candidate label) integer-quantized
    log-likelihood + prior ("score").

    ``counts`` is the per-(doc, label, word) term-frequency frame —
    typically a materialized asset; queries/documents materializes the
    returned score frame once (the nb_scores asset) and every NB
    consumer reads it through a ``*_from_scored`` function below."""
    if train_pred is None:
        train_pred = F.col(id_col) % 2 == 0
    train = counts.filter(train_pred)
    test = counts.filter(~train_pred)

    vocab = train.agg(F.count_distinct(word_col).alias("V"))
    cls_tok = train.groupBy(label_col).agg(F.sum(count_col).alias("tot"))
    cls_doc = (
        train.select(id_col, label_col).distinct()
        .groupBy(label_col).agg(F.count(F.lit(1)).alias("n_docs_l"))
    )
    n_train = train.agg(F.count_distinct(id_col).alias("n_train"))

    cw = train.groupBy(label_col, word_col).agg(F.sum(count_col).alias("cw"))
    model = (
        cw.join(F.broadcast(cls_tok), label_col)
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(label_col).alias("m_label"),
            word_col,
            _q((F.col("cw") + 1) / (F.col("tot") + F.col("V"))).alias("w"),
        )
    )
    unseen = (
        cls_tok.crossJoin(F.broadcast(vocab))
        .select(
            F.col(label_col).alias("m_label"),
            _q(F.lit(1.0) / (F.col("tot") + F.col("V"))).alias("u"),
        )
    )
    prior = (
        cls_doc.crossJoin(F.broadcast(n_train))
        .select(
            F.col(label_col).alias("m_label"),
            _q(F.col("n_docs_l") / F.col("n_train")).alias("p"),
        )
    )

    # NO broadcast hint on the model join: the model is a
    # vocabulary×labels table, and at web-scale vocabularies forcing a
    # broadcast would exceed Spark's broadcast limit (driver OOM / job
    # failure). Left unhinted, AQE broadcasts it only while its runtime
    # size actually fits and falls back to a shuffle join otherwise —
    # unlike unseen/prior, which are genuinely label-cardinality and
    # keep their hints.
    scored = (
        test.crossJoin(F.broadcast(unseen))
        .join(model, ["m_label", word_col], "left")
        .groupBy(id_col, label_col, "m_label")
        .agg(F.sum(F.col(count_col) * F.coalesce("w", "u")).alias("ll"))
        .join(F.broadcast(prior), "m_label")
        .withColumn("score", F.col("ll") + F.col("p"))
    )
    return scored


def confusion_from_scored(
    scored: DataFrame, id_col: str = "doc_id", label_col: str = "lang"
) -> DataFrame:
    """The (true_label, pred_label, n_docs) confusion matrix, ordered
    by both labels, from a :func:`_scored` frame (or the materialized
    nb_scores asset).  The argmax is a partial-aggregable ``min_by`` over
    (−score, m_label) — identical tie-break to the oracle's
    ROW_NUMBER(ORDER BY score DESC, m_lang ASC) but ONE map-side-
    combinable shuffle instead of a partitioned window sort."""
    pred = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col(label_col), F.col("m_label")),
            F.struct((-F.col("score")).alias("ns"), F.col("m_label")),
        ).alias("tp")
    )
    return (
        pred.groupBy(
            F.col(f"tp.{label_col}").alias("true_label"),
            F.col("tp.m_label").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_label", "pred_label")
    )


def ovr_from_scored(
    scored: DataFrame,
    positive_label: str,
    id_col: str = "doc_id",
    label_col: str = "lang",
) -> DataFrame:
    """One-vs-rest decision statistic per test doc for ROC analysis,
    from a :func:`_scored` frame: ``stat = score(positive_label) − max
    over other labels' score`` — the margin by which the classifier
    prefers (or rejects) the positive class, in EXACT integer
    1e-4-nat units (differences of the quantized-logit sums; no
    softmax). Returns (id, is_pos, stat) where ``is_pos`` flags the
    TRUE label."""
    pos = scored.filter(F.col("m_label") == positive_label).select(
        id_col,
        (F.col(label_col) == positive_label).cast("int").alias("is_pos"),
        F.col("score").alias("s_pos"),
    )
    oth = (
        scored.filter(F.col("m_label") != positive_label)
        .groupBy(id_col)
        .agg(F.max("score").alias("s_oth"))
    )
    return pos.join(oth, id_col).select(
        id_col, "is_pos", (F.col("s_pos") - F.col("s_oth")).alias("stat")
    )


def margins_from_scored(
    scored: DataFrame, id_col: str = "doc_id", label_col: str = "lang"
) -> DataFrame:
    """Per-test-doc decision MARGIN from a :func:`_scored` frame:
    winning score minus runner-up — the classifier's confidence in
    EXACT integer 1e-4-nat units (a plain BIGINT difference; no
    softmax/exp ever enters, which keeps the whole calibration surface
    cross-engine exact). One window rank over the per-doc
    label-cardinality frames. Returns (id, true_label, pred_label,
    margin_i, correct)."""
    from pyspark.sql.window import Window

    win = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("m_label").asc()
    )
    ranked = scored.withColumn("rn", F.row_number().over(win)).filter(
        F.col("rn") <= 2
    )
    top = ranked.filter(F.col("rn") == 1).select(
        id_col,
        F.col(label_col).alias("true_label"),
        F.col("m_label").alias("pred_label"),
        F.col("score").alias("s1"),
    )
    second = ranked.filter(F.col("rn") == 2).select(
        id_col, F.col("score").alias("s2")
    )
    return top.join(second, id_col).select(
        id_col,
        "true_label",
        "pred_label",
        (F.col("s1") - F.col("s2")).alias("margin_i"),
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    )
