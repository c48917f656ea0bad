"""Combination strategies as set-at-a-time DataFrame dataflow.

Reference: src/classifiers/hybrid.py (SURVEY.md §2.7 C1-C4, C7; §2.4 A1-A2).
The reference makes these decisions one entity at a time; here each strategy
is a dataflow over the whole entities DataFrame — identical per-entity
results, set-at-a-time execution:

- cascade:   per-ROW early exit becomes per-STAGE anti-join staging inside
  one plan — stage i runs only on rows no earlier stage accepted, so the
  expensive kernels still see only the unresolved residue (the reference's
  cost model, ARCHITECTURE.md:385-399, is preserved).
- ensemble:  union of per-classifier score frames → hash aggregate
  (partial+final map-side combine for free).
- hybrid_confidence: same shape with max+count agreement boost.
- tiered:    a routing column + per-slice sub-strategy + unionByName.

A "classifier" here is ``Callable[(entities_df, top_k|None)] -> matches df``
where matches conform to schemas.MATCHES_SCHEMA (extra columns allowed).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window, functions as F

from ..config import (
    AGREEMENT_BOOST,
    CASCADE_DEFAULT_THRESHOLD,
    CASCADE_ORDER,
    CASCADE_THRESHOLDS,
    ENSEMBLE_WEIGHTS,
    HYBRID_BASE_CLASSIFIERS,
    MIN_AGREEMENT,
    TOP_K_DEFAULT,
)

CORE_COLS = ["entity_id", "class_uri", "class_label", "confidence", "source", "rank"]


def _core(df: DataFrame) -> DataFrame:
    return df.select(*CORE_COLS)


def _topk_window():
    return Window.partitionBy("entity_id").orderBy(F.desc("confidence"), F.asc("class_uri"))


def cascade(
    entities: DataFrame,
    classifiers: dict[str, Callable],
    top_k: int = TOP_K_DEFAULT,
    order: list[str] | None = None,
    thresholds: dict[str, float] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """C1 — staged early-exit cascade (hybrid.py:376-446), as ONE lazy plan.

    Stage i scores the residue: the entities left-anti-joined with the ids
    accepted by stages < i, so later (more expensive) classifiers still see
    only unresolved rows. A row is ACCEPTED when its rank-1 confidence >=
    the stage threshold (config: rule 0.90 / semantic 0.55 / zeroshot
    0.70); otherwise CONTINUE (NO_RESULTS when the classifier returned
    nothing for it). Every stage's matches are unioned, tagged with
    ``stage_idx`` and ``threshold``, and one entity window keeps the first
    accepting stage's rows, else the last non-empty stage's
    (hybrid.py:437-440). Entities no stage returned anything for get no
    rows (with semantic in the order that set is empty).

    Returns (matches, trace) — trace rows are
    (entity_id, stage_idx, classifier, top_prediction, confidence,
    threshold, decision), one per stage the entity reached, mirroring
    hybrid.py:409-415. Nothing is persisted and no Spark job runs until
    the caller's action.
    """
    order = order or [n for n in CASCADE_ORDER if n in classifiers]
    thresholds = thresholds or CASCADE_THRESHOLDS
    stage_thresholds = [
        float(thresholds.get(name, CASCADE_DEFAULT_THRESHOLD)) for name in order
    ]
    stage_col = F.col("stage_idx")
    accepts = (F.col("rank") == 1) & (F.col("confidence") >= F.col("threshold"))
    remaining = entities
    scored = None
    for stage_idx, (name, threshold) in enumerate(zip(order, stage_thresholds)):
        stage = _core(classifiers[name](remaining, top_k)).select(
            *CORE_COLS,
            F.lit(stage_idx).alias("stage_idx"),
            F.lit(threshold).alias("threshold"),
        )
        scored = stage if scored is None else scored.unionByName(stage)
        if stage_idx + 1 < len(order):
            accepted_ids = stage.where(accepts).select(F.col("entity_id").alias("id"))
            remaining = remaining.join(accepted_ids, "id", "left_anti")

    by_entity = Window.partitionBy("entity_id")
    matches = (
        scored.withColumn(
            "chosen_stage",
            F.coalesce(
                F.min(F.when(accepts, stage_col)).over(by_entity),
                F.max(stage_col).over(by_entity),
            ),
        )
        .where(stage_col == F.col("chosen_stage"))
        .select(*CORE_COLS)
    )

    top1 = scored.where(F.col("rank") == 1).select(
        "entity_id",
        "stage_idx",
        F.col("class_label").alias("top_prediction"),
        "confidence",
    )
    # every entity × stage index, left-joined to that stage's rank-1 row,
    # cut after the entity's first accepting stage
    threshold_col = F.array(*[F.lit(t) for t in stage_thresholds])[stage_col]
    reached = (
        entities.select(
            F.col("id").alias("entity_id"),
            F.explode(F.sequence(F.lit(0), F.lit(len(order) - 1))).alias("stage_idx"),
        )
        .join(top1, ["entity_id", "stage_idx"], "left")
        .withColumn("threshold", threshold_col)
        .withColumn(
            "accepted_stage",
            F.min(
                F.when(F.col("confidence") >= F.col("threshold"), stage_col)
            ).over(by_entity),
        )
        .where(stage_col <= F.coalesce("accepted_stage", F.lit(len(order) - 1)))
    )
    trace = reached.select(
        "entity_id",
        "stage_idx",
        F.array(*[F.lit(n) for n in order])[stage_col].alias("classifier"),
        "top_prediction",
        "confidence",
        "threshold",
        F.when(F.col("confidence").isNull(), "NO_RESULTS")
        .when(F.col("confidence") >= F.col("threshold"), "ACCEPTED")
        .otherwise("CONTINUE")
        .alias("decision"),
    )
    return matches, trace


def ensemble(
    entities: DataFrame,
    classifiers: dict[str, Callable],
    top_k: int = TOP_K_DEFAULT,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """A1/C2 — weighted score fusion (hybrid.py:448-493).

    Each classifier is queried with top_k*2 (hybrid.py:466); per
    (entity, class): confidence = Σ weight(classifier) × confidence;
    contributing sources accumulate; final order conf DESC, uri ASC, top_k.
    One hash aggregate; Catalyst gives partial aggregation map-side.
    """
    weights = weights or ENSEMBLE_WEIGHTS
    parts = []
    for name, fn in classifiers.items():
        w = float(weights.get(name, 0.0))
        if w == 0.0:
            continue
        parts.append(_core(fn(entities, top_k * 2)).withColumn("weight", F.lit(w)))
    if not parts:
        raise ValueError("ensemble needs at least one weighted classifier")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    agg = union.groupBy("entity_id", "class_uri").agg(
        F.first("class_label").alias("class_label"),
        F.sum(F.col("weight") * F.col("confidence")).alias("confidence"),
        F.sort_array(F.collect_set("source")).alias("sources"),
    )
    return (
        agg.withColumn("source", F.lit("ensemble"))
        .withColumn("rank", F.row_number().over(_topk_window()))
        .where(F.col("rank") <= top_k)
        .select(*CORE_COLS, "sources")
    )


def hybrid_confidence(
    entities: DataFrame,
    classifiers: dict[str, Callable],
    top_k: int = TOP_K_DEFAULT,
    base_classifiers: list[str] | None = None,
    boost: float = AGREEMENT_BOOST,
    min_agreement: int = MIN_AGREEMENT,
) -> DataFrame:
    """A2/C3 — agreement boost (hybrid.py:495-546).

    Base classifiers (rule_based + semantic) queried with top_k*2; per
    (entity, class): base = MAX confidence; when ≥ min_agreement distinct
    classifiers proposed the class: min(base + 0.15, 1.0)."""
    names = base_classifiers or HYBRID_BASE_CLASSIFIERS
    parts = [_core(classifiers[n](entities, top_k * 2)) for n in names]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    agg = union.groupBy("entity_id", "class_uri").agg(
        F.first("class_label").alias("class_label"),
        F.max("confidence").alias("base_conf"),
        F.countDistinct("source").alias("votes"),
    )
    return (
        agg.withColumn(
            "confidence",
            F.when(
                F.col("votes") >= min_agreement,
                F.least(F.col("base_conf") + boost, F.lit(1.0)),
            ).otherwise(F.col("base_conf")),
        )
        .withColumn("source", F.lit("hybrid_confidence"))
        .withColumn("rank", F.row_number().over(_topk_window()))
        .where(F.col("rank") <= top_k)
        .select(*CORE_COLS, "votes")
    )


def tiered(
    entities: DataFrame,
    classifiers: dict[str, Callable],
    top_k: int = TOP_K_DEFAULT,
) -> DataFrame:
    """C4 — adaptive routing (hybrid.py:548-568; configs yaml:27-35).

    has_many_aliases → cascade; has_short_description → ensemble;
    else semantic retagged source='tiered' (only the default branch is
    retagged — hybrid.py:560-566)."""
    from ..functions.text import has_many_aliases_col, has_short_description_col

    from ..util import attach_cleanup

    routed = entities.withColumn(
        "route",
        F.when(has_many_aliases_col(), "cascade")
        .when(has_short_description_col(), "ensemble")
        .otherwise("semantic"),
    ).persist()
    # All three branches union unconditionally — an empty slice contributes
    # zero rows for free, and probing with isEmpty() would cost three extra
    # driver actions that each recompute the routing scan.
    cascade_slice = routed.where(F.col("route") == "cascade").drop("route")
    cascade_matches, _trace = cascade(cascade_slice, classifiers, top_k)
    ensemble_slice = routed.where(F.col("route") == "ensemble").drop("route")
    semantic_slice = routed.where(F.col("route") == "semantic").drop("route")
    parts = [
        _core(cascade_matches),
        _core(ensemble(ensemble_slice, classifiers, top_k)),
        _core(classifiers["semantic"](semantic_slice, top_k)).withColumn(
            "source", F.lit("tiered")
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return attach_cleanup(out, routed)


def infer_parents(
    matches: DataFrame,
    closure: DataFrame,
    decay: float = 0.9,
    bfo_classes: DataFrame | None = None,
) -> DataFrame:
    """C6 — parent inference (hybrid.py:570-607).

    For each match, attach every strict ancestor with confidence =
    match.confidence × 0.9 (FLAT ×0.9, not per-level — code wins over docs,
    SURVEY.md §2.7 C6), source='inferred'. An ancestor already present as a
    direct match for the entity is skipped; when several matches share an
    ancestor, the highest-ranked match's confidence wins (the reference's
    seen-set iteration order). Broadcast join — closure is ~100 rows.
    """
    joined = matches.join(
        F.broadcast(closure),
        matches["class_uri"] == closure["descendant_uri"],
    ).select(
        "entity_id",
        F.col("ancestor_uri").alias("parent_class_uri"),
        (F.col("confidence") * decay).alias("confidence"),
        F.col("rank").alias("src_rank"),
    )
    # skip ancestors already directly matched for the entity
    joined = joined.join(
        matches.select("entity_id", F.col("class_uri").alias("parent_class_uri")),
        ["entity_id", "parent_class_uri"],
        "left_anti",
    )
    first_writer = Window.partitionBy("entity_id", "parent_class_uri").orderBy(
        F.asc("src_rank"), F.desc("confidence")
    )
    deduped = (
        joined.withColumn("rn", F.row_number().over(first_writer))
        .where(F.col("rn") == 1)
        .drop("rn", "src_rank")
    )
    rank_w = Window.partitionBy("entity_id").orderBy(
        F.desc("confidence"), F.asc("parent_class_uri")
    )
    out = deduped.select(
        "entity_id",
        F.col("parent_class_uri").alias("class_uri"),
        "confidence",
        F.lit("inferred").alias("source"),
        F.row_number().over(rank_w).alias("rank"),
    )
    if bfo_classes is not None:
        out = out.join(
            F.broadcast(bfo_classes.select("class_uri", F.col("label").alias("class_label"))),
            "class_uri",
        ).select("entity_id", "class_uri", "class_label", "confidence", "source", "rank")
    return out


def classify(
    entities: DataFrame,
    classifiers: dict[str, Callable],
    strategy: str = "cascade",
    top_k: int = TOP_K_DEFAULT,
) -> DataFrame:
    """C7 — strategy dispatch (hybrid.py:97-148). Unknown → ValueError."""
    if strategy == "cascade":
        matches, _ = cascade(entities, classifiers, top_k)
        return matches
    if strategy == "ensemble":
        return _core(ensemble(entities, classifiers, top_k))
    if strategy == "hybrid_confidence":
        return _core(hybrid_confidence(entities, classifiers, top_k))
    if strategy == "tiered":
        return tiered(entities, classifiers, top_k)
    if strategy in classifiers:
        return _core(classifiers[strategy](entities, top_k))
    raise ValueError(f"unknown strategy: {strategy}")
