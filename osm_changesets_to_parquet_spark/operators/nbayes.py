"""Multinomial naive Bayes over token streams, spelled relationally.

No reference-engine counterpart (/root/reference/src/main.rs is an
ingest converter); SURVEY §2.C analytics surface: the cheap supervised
baseline a curation pipeline reaches for first (domain routing,
quality-label propagation) — and the one that is perfectly
expressible as joins over count tables, no ML runtime needed.

Scale contract: the model is the per-(token,label) count table — a
vocabulary-keyed shuffle, broadcastable per-label scalar frames, and
the ln(c+1) - n*ln(N_l+V) factoring below means only MATCHED
(token,label) pairs ever join: zero-count tokens contribute
ln(1) = 0, so the vocab x labels cross product is never materialized
and scoring is one shuffle join on token.

Determinism (house q129 libm discipline): every ln-derived scalar is
ROUND()ed at 6 dp before composition; the per-doc argmax orders by
ROUND(score, 4) with a label tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def naive_bayes_predict(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Laplace-smoothed multinomial NB: train on ``train``, score
    ``test``; returns (id, true_label, pred_label) one row per test
    doc.  Tokenization is the house split-on-space (q38/q129)."""
    ttok = train.select(
        F.col(label_col).alias("label"),
        F.explode(F.split(text_col, " ")).alias("w"),
    )
    c = ttok.groupBy("w", "label").agg(F.count(F.lit(1)).alias("c"))
    nl = c.groupBy("label").agg(F.sum("c").alias("n_l"))
    vocab = c.select("w").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    prior = train.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("d_l")
    )
    ptot = prior.agg(F.sum("d_l").alias("d"))
    labels = (
        prior.crossJoin(ptot)
        .crossJoin(F.broadcast(v))
        .join(nl, "label")
        .select(
            "label",
            F.round(
                F.log(F.col("d_l").cast("double") / F.col("d")), 6
            ).alias("prior_ln"),
            F.round(
                F.log(F.col("n_l").cast("double") + F.col("v")), 6
            ).alias("denom_ln"),
        )
    )

    stok = test.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("true_label"),
        F.explode(F.split(text_col, " ")).alias("w"),
    )
    iv = (
        stok.join(vocab, "w", "semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_iv"))
    )
    matched = (
        stok.join(c, "w")
        .groupBy("id", "label")
        .agg(
            F.round(
                F.sum(F.log(F.col("c").cast("double") + 1)), 6
            ).alias("sum_ln")
        )
    )
    base = test.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("true_label")
    ).crossJoin(F.broadcast(labels))
    scored = (
        base.join(matched, ["id", "label"], "left")
        .join(iv, "id", "left")
        .select(
            "id",
            "true_label",
            F.col("label").alias("pred_label"),
            (
                F.col("prior_ln")
                + F.coalesce(F.col("sum_ln"), F.lit(0.0))
                - F.coalesce(F.col("n_iv"), F.lit(0)) * F.col("denom_ln")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.round(F.col("score"), 4).desc(), F.col("pred_label")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("id", "true_label", "pred_label")
    )
