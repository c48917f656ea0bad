"""Accuracy / P-R evaluation as DataFrame aggregations.

Reference: src/evaluation/evaluator.py (SURVEY.md §2.4 A3-A4, §2.3 J5).
correct ⇔ ground-truth URI ∈ top-k predicted URIs (hit@k, k=3 default,
evaluator.py:60-74), optionally crediting inferred parent matches
(evaluator.py:68-71). Plus the north_rule's A6: precision/recall of
entity→class assignments and emitted triples vs a golden set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import TOP_K_DEFAULT


def hits(predictions: DataFrame, golden: DataFrame, top_k: int = TOP_K_DEFAULT,
         include_parents: bool = False) -> DataFrame:
    """J5 — per-entity hit flag. predictions: matches rows; golden:
    (entity_id, gt_bfo_uri[, gt_bfo_label])."""
    # Inferred-parent rows carry their OWN rank sequence, so they must be
    # excluded from the rank-based branch — the reference only credits
    # parent_matches when include_parents is set (evaluator.py:68-71).
    preds = predictions.where(
        ((F.col("rank") <= top_k) & (F.col("source") != "inferred"))
        | (F.lit(include_parents) & (F.col("source") == "inferred"))
    )
    hit_rows = (
        preds.join(
            golden.select("entity_id", F.col("gt_bfo_uri").alias("class_uri")),
            ["entity_id", "class_uri"],
            "left_semi",
        )
        .select("entity_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return golden.join(hit_rows, "entity_id", "left").withColumn(
        "hit", F.coalesce(F.col("hit"), F.lit(0))
    )


def accuracy(predictions: DataFrame, golden: DataFrame, top_k: int = TOP_K_DEFAULT,
             include_parents: bool = False) -> DataFrame:
    """A3 — overall hit@k accuracy (one row)."""
    return hits(predictions, golden, top_k, include_parents).agg(
        F.avg("hit").alias("accuracy"),
        F.sum("hit").alias("correct"),
        F.count("*").alias("total"),
    )


def per_class_accuracy(predictions: DataFrame, golden: DataFrame,
                       top_k: int = TOP_K_DEFAULT) -> DataFrame:
    """A4 — accuracy grouped by ground-truth class label (evaluator.py:77-95)."""
    return (
        hits(predictions, golden, top_k)
        .groupBy("gt_bfo_label")
        .agg(F.avg("hit").alias("accuracy"), F.count("*").alias("n"))
        .orderBy("gt_bfo_label")
    )


def precision_recall(ours: DataFrame, reference: DataFrame, keys: list[str]) -> dict:
    """A6 — P/R of our emitted rows vs a reference set on ``keys``
    (north_rule: ≥0.95 on entity→BFO assignments and emitted triples)."""
    ours_k = ours.select(*keys).distinct()
    ref_k = reference.select(*keys).distinct()
    tp = ours_k.join(ref_k, keys, "left_semi").count()
    n_ours = ours_k.count()
    n_ref = ref_k.count()
    precision = tp / n_ours if n_ours else 1.0
    recall = tp / n_ref if n_ref else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "ours": n_ours, "reference": n_ref,
            "precision": precision, "recall": recall, "f1": f1}
