"""(subj, pred, obj) triple extraction, dedup, and graph materialization.

north_star dataflow: transcripts → triple extraction (JVM
``regexp_extract_all`` over turn text) → entity linking of subj/obj mentions
(broadcast alias join) → canonicalization of each linked entity into its
BFO class (classifier strategies + P31/P279 closure) → per
(subj_qid, pred, obj_qid) window dedup keeping FIRST by
(ts, conv_id, turn_idx) → partitioned node/edge tables.

The extraction grammar is the closed relation grammar planted by
datagen.RELATION_PREDICATES — subject and object must be known surface
forms, the predicate one of the closed phrase set.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

from ..datagen import RELATION_PREDICATES
from .linking import best_alias, surface_alternation

# phrase → predicate id, e.g. "is related to" → related_to
_PHRASE_TO_PRED = {
    "is related to": "related_to",
    "is located in": "located_in",
    "is part of": "part_of",
    "was studied by": "studied_by",
    "influenced": "influenced",
}
assert {p for p, _t in RELATION_PREDICATES} == set(_PHRASE_TO_PRED.values())


def triple_pattern(surfaces: list[str] | None = None) -> str:
    ent = surface_alternation(surfaces)
    phrases = sorted(_PHRASE_TO_PRED, key=len, reverse=True)
    ph = "|".join(re.escape(p) for p in phrases)
    return rf"\b({ent})\s+({ph})\s+({ent})\b"


def extract_triples(
    transcripts: DataFrame, surfaces: list[str] | None = None
) -> DataFrame:
    """Turn text → raw mention-level triples (conv_id, turn_idx, ts,
    subj_mention, pred, obj_mention), pure JVM:
    ``regexp_extract_all`` pulls whole matches, the three capture groups
    are re-extracted from each short match, and the predicate is mapped by
    a literal map. No Python process in the path.

    A cheap ``rlike`` on the closed predicate phrases runs ahead of the
    scan: a row with no relation phrase cannot produce a triple, so the
    expensive scan only sees candidate rows.
    """
    pattern = triple_pattern(surfaces)
    phrase_rx = "(?i)" + "|".join(re.escape(p) for p in _PHRASE_TO_PRED)
    transcripts = transcripts.where(F.col("text").rlike(phrase_rx))
    lt = F.lower(F.col("text"))
    # ONE regex pass over the (long) turn text; the capture groups are
    # re-extracted from each SHORT matched substring (anchored — a full
    # match trivially re-matches itself). Group 0 and group i come from
    # the same automaton at the same positions, so the match sets agree.
    pred_map = F.create_map(
        *[F.lit(x) for kv in _PHRASE_TO_PRED.items() for x in kv]
    )
    anchored = "^" + pattern + "$"
    return (
        transcripts.select(
            "conv_id", "turn_idx", "ts",
            F.explode(
                F.regexp_extract_all(lt, F.lit(pattern), F.lit(0))
            ).alias("m"),
        )
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.regexp_extract("m", anchored, 1).alias("subj_mention"),
            F.element_at(
                pred_map, F.regexp_extract("m", anchored, 2)
            ).alias("pred"),
            F.regexp_extract("m", anchored, 3).alias("obj_mention"),
        )
    )


def link_triples(raw_triples: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Resolve subj/obj mentions to QIDs: two broadcast joins against
    ``best_alias(alias_dict)``."""
    resolved = best_alias(alias_dict)
    subj = resolved.select(
        F.col("alias").alias("subj_mention"), F.col("qid").alias("subj_qid")
    )
    obj = resolved.select(
        F.col("alias").alias("obj_mention"), F.col("qid").alias("obj_qid")
    )
    return (
        raw_triples.join(F.broadcast(subj), "subj_mention")
        .join(F.broadcast(obj), "obj_mention")
        .select("conv_id", "turn_idx", "ts", "subj_qid", "pred", "obj_qid")
    )


def dedup_triples(linked: DataFrame) -> DataFrame:
    """One edge per (subj_qid, pred, obj_qid), keeping FIRST occurrence by
    (ts, conv_id, turn_idx) — the north_star dedup window. Deterministic:
    the orderBy is a total order within each key."""
    w = Window.partitionBy("subj_qid", "pred", "obj_qid").orderBy(
        "ts", "conv_id", "turn_idx"
    )
    return (
        linked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def edges_df(transcripts: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """transcripts → deduped edge table with a partition column."""
    deduped = dedup_triples(link_triples(extract_triples(transcripts), alias_dict))
    return deduped.withColumn("part", F.col("pred"))


def nodes_df(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """Distinct graph nodes joined to their BFO canonicalization.

    ``assignments`` carries (entity_id → class_uri/class_label/confidence/
    source) rows (rank-1 matches of whichever strategy ran)."""
    qids = (
        edges.select(F.col("subj_qid").alias("qid"))
        .unionByName(edges.select(F.col("obj_qid").alias("qid")))
        .distinct()
    )
    return (
        qids.join(
            assignments.select(
                F.col("entity_id").alias("qid"),
                F.col("class_uri").alias("bfo_class_uri"),
                F.col("class_label").alias("bfo_label"),
                "confidence",
                "source",
            ),
            "qid",
            "left",
        )
        .withColumn("part", F.coalesce(F.col("bfo_label"), F.lit("unclassified")))
    )
