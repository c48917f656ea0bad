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
from .linking import surface_alternation

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
    transcripts: DataFrame,
    surfaces: list[str] | None = None,
    prefilter: bool = True,
) -> DataFrame:
    """Turn text → raw mention-level triples (conv_id, turn_idx, ts,
    subj_mention, pred, obj_mention), pure JVM:
    ``regexp_extract_all`` pulls whole matches, the three capture groups
    are re-extracted from each short match, and the predicate is mapped by
    a literal map. No Python process in the path.

    ``prefilter`` pushes a cheap ``rlike`` on the closed predicate phrases
    ahead of the scan: a row with no relation phrase cannot produce a
    triple, so the expensive scan only sees candidate rows.
    """
    pattern = triple_pattern(surfaces)
    if prefilter:
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
    """Resolve subj/obj mentions to QIDs via two broadcast joins against the
    max-prior-per-alias resolution (deterministic prior DESC, qid ASC).

    When the alias dict is driver-resident (a LocalRelation within the
    session budget, ``routing.local_rows`` — the vendored
    ``alias_dict_df`` always is), the resolution is computed in Python
    and returned as a LocalRelation: the row_number window over the dim
    otherwise forces a
    Sort→Exchange→Sort→Window subtree under EACH of the two broadcast
    builds — two Spark jobs per query (and per stream_edges micro-batch)
    spent ranking the same bounded dim. Identical rule, identical rows;
    distributed alias dicts keep the window path unchanged."""
    from .. import routing

    dict_rows = routing.local_rows(alias_dict.select("alias", "qid", "prior"))
    if dict_rows is not None:
        from ..util import local_df

        best_by_alias: dict = {}
        for r in dict_rows:
            if r.alias is None:
                continue  # a NULL alias never matches the join
            # the window's order: prior DESC NULLS LAST, qid ASC NULLS FIRST
            key = (r.prior is None, -(r.prior or 0.0), r.qid is not None, r.qid or "")
            cur = best_by_alias.get(r.alias)
            if cur is None or key < cur[0]:
                best_by_alias[r.alias] = (key, r.qid)
        resolved = local_df(
            raw_triples.sparkSession,
            sorted((a, qid) for a, (_key, qid) in best_by_alias.items()),
            "alias STRING, qid STRING",
        )
    else:
        best = Window.partitionBy("alias").orderBy(F.desc("prior"), F.asc("qid"))
        resolved = (
            alias_dict.withColumn("rn", F.row_number().over(best))
            .where(F.col("rn") == 1)
            .select("alias", "qid")
        )
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
