"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on the
deterministic sf0.001 transcripts table and returns the edge DataFrame.
``queries()`` exposes each implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators) as a (spark, sf_dir) → DataFrame
callable; ``oracle_sql()`` gives the DuckDB-runnable ANSI-SQL equivalent
for every SQL-expressible operator. Column names/aliases match pairwise;
float-valued aggregates are rounded identically on both sides.

Non-SQL-expressible operators (encoder-backed scoring, MinHash/SimHash
kernels, hierarchical traversal) have queries() entries without oracle
entries — the driver records a rows-only check for those, and
tests/ carries their semantic verification instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from bfokg.config import (
    AGREEMENT_BOOST,
    CASCADE_THRESHOLDS,
    ENSEMBLE_WEIGHTS,
    MIN_AGREEMENT,
)
from bfokg.datagen import generate_transcripts, sf_from_dir
from bfokg.fixtures import _FIXTURES, _MICRO, entities_df, micro_entities_df
from bfokg.functions.text import (
    has_many_aliases_col,
    has_short_description_col,
    with_entity_text,
)
from bfokg.ontology import _BFO_TREE, OBO, bfo_classes_df, bfo_closure_df, closure_rows
from bfokg.operators.rule_based import (
    KEYWORD_RULES,
    classify_rule_based,
    keyword_rules_df,
    keyword_scores,
    p31_rules_df,
)

REPO = os.path.dirname(os.path.abspath(__file__))


# --------------------------------------------------------------------------
# SQL literal helpers (oracle side)
# --------------------------------------------------------------------------

def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fixtures_values() -> str:
    """(entity_id, label, description, n_aliases) — 29 + 2 micro rows."""
    rows = [(eid, lab, desc, len(al)) for eid, lab, desc, al, _gt in _FIXTURES]
    rows += [(eid, lab, desc, len(al)) for eid, lab, desc, al, _cl in _MICRO]
    return ",\n    ".join(
        f"({_q(e)}, {_q(l)}, {_q(d)}, {n})" for e, l, d, n in rows
    )


def _keywords_values() -> str:
    out = []
    for order, (label, kws) in enumerate(KEYWORD_RULES.items()):
        for kw in kws:
            out.append(f"({_q(label)}, {_q(kw)}, {len(kws)}, {order})")
    return ",\n    ".join(out)


def _classes_values() -> str:
    return ",\n    ".join(
        f"({_q(OBO + oid)}, {_q(label)})" for oid, label, _p, _d, _e in _BFO_TREE
    )


def _edges_values() -> str:
    label_uri = {label: OBO + oid for oid, label, _p, _d, _e in _BFO_TREE}
    return ",\n    ".join(
        f"({_q(OBO + oid)}, {_q(label_uri[parent])})"
        for oid, _label, parent, _d, _e in _BFO_TREE
        if parent is not None
    )


def _claims_values() -> str:
    """Exploded claims of the micro fixtures: (entity_id, property, value_qid, pos)."""
    out = []
    for eid, _l, _d, _a, claims in _MICRO:
        for prop, vals in claims.items():
            for pos, v in enumerate(vals):
                out.append(f"({_q(eid)}, {_q(prop)}, {_q(v)}, {pos})")
    return ",\n    ".join(out) or "('__none__','P31','__none__',0)"


_FIXTURES_CTE = f"""
fixtures(entity_id, label, description, n_aliases) AS (VALUES
    {_fixtures_values()}),
fx AS (SELECT entity_id, label, description, n_aliases,
              label || ': ' || description AS text FROM fixtures)
"""

_TOKENS_CTE = """
toks AS (
  SELECT entity_id, tok FROM (
    SELECT entity_id, unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS tok FROM fx
    UNION
    SELECT entity_id, unnest(string_split_regex(lower(text), '[^a-z0-9_-]+')) AS tok FROM fx
  ) WHERE tok <> ''
)
"""

_KW_CTE = f"""
kw(class_label, keyword, n_keywords, rule_order) AS (VALUES
    {_keywords_values()})
"""

_CLASSES_CTE = f"""
classes(class_uri, class_label) AS (VALUES
    {_classes_values()})
"""

_CLOSURE_CTE = f"""
edges(child, parent) AS (VALUES
    {_edges_values()}),
closure(descendant_uri, ancestor_uri, distance) AS (
  WITH RECURSIVE walk(descendant_uri, ancestor_uri, distance) AS (
    SELECT child, parent, 1 FROM edges
    UNION ALL
    SELECT w.descendant_uri, e.parent, w.distance + 1
    FROM walk w JOIN edges e ON w.ancestor_uri = e.child
  ) SELECT * FROM walk
)
"""


# --------------------------------------------------------------------------
# Group A — reference-parity queries (inline-VALUES oracles)
# --------------------------------------------------------------------------

def q_entity_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — the parity-critical get_text() invariant over all fixtures."""
    ents = entities_df(spark, include_micro=True)
    return with_entity_text(ents).select(
        F.col("id").alias("entity_id"), "text",
        has_many_aliases_col().alias("many_aliases"),
        has_short_description_col().alias("short_description"),
    )


SQL_ENTITY_TEXT = f"""
WITH {_FIXTURES_CTE}
SELECT entity_id, text,
       n_aliases >= 3 AS many_aliases,
       length(description) < 50 AS short_description
FROM fx
"""


def q_keyword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/P4 — keyword score + confidence per (entity, class), full set."""
    ents = with_entity_text(entities_df(spark, include_micro=True))
    return keyword_scores(ents, keyword_rules_df(spark), bfo_classes_df(spark)).select(
        "entity_id", "class_label", "score", "confidence"
    )


SQL_KEYWORD_SCORES = f"""
WITH {_FIXTURES_CTE}, {_TOKENS_CTE}, {_KW_CTE}
SELECT t.entity_id, k.class_label,
       CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords) AS score,
       least((CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords)) * 0.9,
             CAST(0.95 AS DOUBLE)) AS confidence
FROM toks t JOIN kw k ON t.tok = k.keyword
GROUP BY t.entity_id, k.class_label
"""


def q_rule_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + P3/P4 — full rule-based classifier (claim short-circuit + top-3)."""
    ents = with_entity_text(entities_df(spark, include_micro=True))
    return classify_rule_based(
        ents, bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark)
    ).select("entity_id", "class_uri", "class_label", "confidence", "source", "rank")


SQL_RULE_BASED = f"""
WITH {_FIXTURES_CTE}, {_TOKENS_CTE}, {_KW_CTE}, {_CLASSES_CTE},
claims(entity_id, property, value_qid, pos) AS (VALUES
    {_claims_values()}),
p31_rules(value_qid, bfo_label) AS (VALUES ('Q5', 'MaterialEntity')),
claim_hits AS (
  SELECT c.entity_id, cl.class_uri, r.bfo_label AS class_label,
         CAST(0.95 AS DOUBLE) AS confidence, 'rule_based' AS source,
         row_number() OVER (PARTITION BY c.entity_id ORDER BY c.pos, c.value_qid) AS rank
  FROM claims c
  JOIN p31_rules r ON c.value_qid = r.value_qid AND c.property = 'P31'
  JOIN classes cl ON cl.class_label = r.bfo_label
),
kw_scored AS (
  SELECT t.entity_id, k.class_label,
         CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords) AS score,
         least((CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords)) * 0.9,
               CAST(0.95 AS DOUBLE)) AS confidence,
         any_value(k.rule_order) AS rule_order
  FROM toks t JOIN kw k ON t.tok = k.keyword
  WHERE t.entity_id NOT IN (SELECT entity_id FROM claim_hits)
  GROUP BY t.entity_id, k.class_label
),
kw_hits AS (
  SELECT s.entity_id, cl.class_uri, s.class_label, s.confidence,
         'rule_based' AS source,
         row_number() OVER (PARTITION BY s.entity_id
                            ORDER BY s.score DESC, s.rule_order ASC) AS rank
  FROM kw_scored s JOIN classes cl ON cl.class_label = s.class_label
)
SELECT entity_id, class_uri, class_label, confidence, source, rank
FROM (SELECT * FROM claim_hits UNION ALL SELECT * FROM kw_hits)
WHERE rank <= 3
"""


def q_bfo_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/O13 — transitive ancestor closure of the class tree."""
    return bfo_closure_df(spark)


SQL_BFO_CLOSURE = f"""
WITH {_CLOSURE_CTE}
SELECT descendant_uri, ancestor_uri, distance FROM closure
"""


def q_parent_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — parent inference over the deterministic rule-based matches."""
    from bfokg.operators.strategies import infer_parents

    matches = q_rule_based(spark, sf_dir)
    return infer_parents(matches, bfo_closure_df(spark)).select(
        "entity_id", "class_uri", "confidence", "source", "rank"
    )


SQL_PARENT_INFERENCE = f"""
WITH {_FIXTURES_CTE}, {_TOKENS_CTE}, {_KW_CTE}, {_CLASSES_CTE},
claims(entity_id, property, value_qid, pos) AS (VALUES
    {_claims_values()}),
p31_rules(value_qid, bfo_label) AS (VALUES ('Q5', 'MaterialEntity')),
claim_hits AS (
  SELECT c.entity_id, cl.class_uri, r.bfo_label AS class_label,
         CAST(0.95 AS DOUBLE) AS confidence, 'rule_based' AS source,
         row_number() OVER (PARTITION BY c.entity_id ORDER BY c.pos, c.value_qid) AS rank
  FROM claims c
  JOIN p31_rules r ON c.value_qid = r.value_qid AND c.property = 'P31'
  JOIN classes cl ON cl.class_label = r.bfo_label
),
kw_scored AS (
  SELECT t.entity_id, k.class_label,
         CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords) AS score,
         least((CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords)) * 0.9,
               CAST(0.95 AS DOUBLE)) AS confidence,
         any_value(k.rule_order) AS rule_order
  FROM toks t JOIN kw k ON t.tok = k.keyword
  WHERE t.entity_id NOT IN (SELECT entity_id FROM claim_hits)
  GROUP BY t.entity_id, k.class_label
),
kw_hits AS (
  SELECT s.entity_id, cl.class_uri, s.class_label, s.confidence,
         'rule_based' AS source,
         row_number() OVER (PARTITION BY s.entity_id
                            ORDER BY s.score DESC, s.rule_order ASC) AS rank
  FROM kw_scored s JOIN classes cl ON cl.class_label = s.class_label
),
matches AS (
  SELECT entity_id, class_uri, class_label, confidence, source, rank
  FROM (SELECT * FROM claim_hits UNION ALL SELECT * FROM kw_hits)
  WHERE rank <= 3
),
{_CLOSURE_CTE},
anc AS (
  SELECT m.entity_id, c.ancestor_uri AS parent_class_uri,
         m.confidence * 0.9 AS confidence, m.rank AS src_rank
  FROM matches m JOIN closure c ON m.class_uri = c.descendant_uri
),
anc_new AS (
  SELECT a.* FROM anc a
  LEFT JOIN matches m
    ON a.entity_id = m.entity_id AND a.parent_class_uri = m.class_uri
  WHERE m.entity_id IS NULL
),
dedup AS (
  SELECT entity_id, parent_class_uri, confidence,
         row_number() OVER (PARTITION BY entity_id, parent_class_uri
                            ORDER BY src_rank ASC, confidence DESC) AS rn
  FROM anc_new
)
SELECT entity_id, parent_class_uri AS class_uri, confidence,
       'inferred' AS source,
       row_number() OVER (PARTITION BY entity_id
                          ORDER BY confidence DESC, parent_class_uri ASC) AS rank
FROM dedup WHERE rn = 1
"""


def q_tiered_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — tiered routing decision per fixture."""
    ents = entities_df(spark, include_micro=True)
    return ents.select(
        F.col("id").alias("entity_id"),
        F.when(has_many_aliases_col(), "cascade")
        .when(has_short_description_col(), "ensemble")
        .otherwise("semantic")
        .alias("route"),
    )


SQL_TIERED_ROUTES = f"""
WITH {_FIXTURES_CTE}
SELECT entity_id,
       CASE WHEN n_aliases >= 3 THEN 'cascade'
            WHEN length(description) < 50 THEN 'ensemble'
            ELSE 'semantic' END AS route
FROM fx
"""

# Shared deterministic per-classifier score table for the strategy-algebra
# oracles (A1/A2/C1 control flow checked against plain SQL):
# (entity_id, classifier, class_uri, class_label, confidence, rank)
_SCORES_ROWS = [
    ("e1", "rule_based", OBO + "BFO_0000040", "MaterialEntity", 0.95, 1),
    ("e1", "semantic", OBO + "BFO_0000040", "MaterialEntity", 0.60, 1),
    ("e1", "semantic", OBO + "BFO_0000015", "Process", 0.58, 2),
    ("e2", "rule_based", OBO + "BFO_0000015", "Process", 0.30, 1),
    ("e2", "semantic", OBO + "BFO_0000019", "Quality", 0.62, 1),
    ("e2", "semantic", OBO + "BFO_0000015", "Process", 0.40, 2),
    ("e3", "semantic", OBO + "BFO_0000023", "Role", 0.50, 1),
    ("e3", "zeroshot", OBO + "BFO_0000023", "Role", 0.65, 1),
    ("e4", "zeroshot", OBO + "BFO_0000006", "SpatialRegion", 0.90, 1),
]

_SCORES_CTE = "scores(entity_id, classifier, class_uri, class_label, confidence, rank) AS (VALUES\n    " + ",\n    ".join(
    f"({_q(e)}, {_q(c)}, {_q(u)}, {_q(l)}, {v}, {r})"
    for e, c, u, l, v, r in _SCORES_ROWS
) + ")"


def _scores_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _SCORES_ROWS,
        "entity_id string, classifier string, class_uri string, class_label string, "
        "confidence double, rank int",
    )


def _fake_classifiers(spark: SparkSession):
    scores = _scores_df(spark).persist()

    def make(name):
        def fn(df, k):
            m = scores.where(F.col("classifier") == name).select(
                "entity_id", "class_uri", "class_label", "confidence",
                F.col("classifier").alias("source"), "rank",
            )
            return m.join(df.select(F.col("id").alias("entity_id")), "entity_id", "left_semi")

        return fn

    return {n: make(n) for n in ["rule_based", "semantic", "zeroshot"]}


def _fake_entities(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(e, e, "d", [], "t") for e in ["e1", "e2", "e3", "e4"]],
        "id string, label string, description string, aliases array<string>, text string",
    )


def q_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/C2 — ensemble weighted fusion over the shared score table."""
    from bfokg.operators.strategies import ensemble

    out = ensemble(_fake_entities(spark), _fake_classifiers(spark))
    return out.select(
        "entity_id", "class_uri", F.round("confidence", 6).alias("confidence"),
        "rank", F.array_join("sources", ",").alias("sources_csv"),
    )


SQL_ENSEMBLE = f"""
WITH {_SCORES_CTE},
weights(classifier, w) AS (VALUES
    ('rule_based', {ENSEMBLE_WEIGHTS['rule_based']}),
    ('semantic', {ENSEMBLE_WEIGHTS['semantic']}),
    ('zeroshot', {ENSEMBLE_WEIGHTS['zeroshot']})),
agg AS (
  SELECT s.entity_id, s.class_uri,
         sum(CAST(w.w AS DOUBLE) * CAST(s.confidence AS DOUBLE)) AS confidence,
         string_agg(DISTINCT s.classifier, ',' ORDER BY s.classifier) AS sources_csv
  FROM scores s JOIN weights w ON s.classifier = w.classifier
  GROUP BY s.entity_id, s.class_uri
)
SELECT entity_id, class_uri, round(confidence, 6) AS confidence,
       row_number() OVER (PARTITION BY entity_id
                          ORDER BY confidence DESC, class_uri ASC) AS rank,
       sources_csv
FROM agg
QUALIFY rank <= 3
"""


def q_hybrid_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/C3 — agreement boost over the shared score table."""
    from bfokg.operators.strategies import hybrid_confidence

    out = hybrid_confidence(_fake_entities(spark), _fake_classifiers(spark))
    return out.select(
        "entity_id", "class_uri", F.round("confidence", 6).alias("confidence"),
        "rank", F.col("votes").cast("long").alias("votes"),
    )


SQL_HYBRID = f"""
WITH {_SCORES_CTE},
base AS (SELECT * FROM scores WHERE classifier IN ('rule_based', 'semantic')),
agg AS (
  SELECT entity_id, class_uri, CAST(max(confidence) AS DOUBLE) AS base_conf,
         count(DISTINCT classifier) AS votes
  FROM base GROUP BY entity_id, class_uri
),
boosted AS (
  SELECT entity_id, class_uri,
         CASE WHEN votes >= {MIN_AGREEMENT}
              THEN least(base_conf + CAST({AGREEMENT_BOOST} AS DOUBLE), CAST(1.0 AS DOUBLE))
              ELSE base_conf END AS confidence,
         votes
  FROM agg
)
SELECT entity_id, class_uri, round(confidence, 6) AS confidence,
       row_number() OVER (PARTITION BY entity_id
                          ORDER BY confidence DESC, class_uri ASC) AS rank,
       votes
FROM boosted
QUALIFY rank <= 3
"""


def q_cascade_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 — cascade staging decisions over the shared score table."""
    from bfokg.operators.strategies import cascade

    _m, trace = cascade(_fake_entities(spark), _fake_classifiers(spark))
    return trace.select("entity_id", "stage_idx", "classifier", "decision")


SQL_CASCADE_TRACE = f"""
WITH {_SCORES_CTE},
top1 AS (SELECT entity_id, classifier, confidence FROM scores WHERE rank = 1),
stages(stage_idx, classifier, threshold) AS (VALUES
    (0, 'rule_based', {CASCADE_THRESHOLDS['rule_based']}),
    (1, 'semantic', {CASCADE_THRESHOLDS['semantic']}),
    (2, 'zeroshot', {CASCADE_THRESHOLDS['zeroshot']})),
ents(entity_id) AS (VALUES ('e1'), ('e2'), ('e3'), ('e4')),
evald AS (
  SELECT e.entity_id, st.stage_idx, st.classifier, st.threshold, t.confidence,
         CASE WHEN t.confidence IS NULL THEN 'NO_RESULTS'
              WHEN t.confidence >= st.threshold THEN 'ACCEPTED'
              ELSE 'CONTINUE' END AS decision
  FROM ents e CROSS JOIN stages st
  LEFT JOIN top1 t ON t.entity_id = e.entity_id AND t.classifier = st.classifier
),
first_accept AS (
  SELECT entity_id, min(stage_idx) AS acc_stage
  FROM evald WHERE decision = 'ACCEPTED' GROUP BY entity_id
)
SELECT ev.entity_id, ev.stage_idx, ev.classifier, ev.decision
FROM evald ev LEFT JOIN first_accept fa ON ev.entity_id = fa.entity_id
WHERE fa.acc_stage IS NULL OR ev.stage_idx <= fa.acc_stage
"""


# --------------------------------------------------------------------------
# Group B — transcripts pipeline (oracle reads the same deterministic
# parquet the Spark side reads; generated once, idempotent, seed=42)
# --------------------------------------------------------------------------

ORACLE_SF = 0.01  # the driver compares at sf=0.01


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = sf_from_dir(sf_dir)
    path = generate_transcripts(sf)
    return spark.read.parquet(path)


def _oracle_transcripts_path() -> str:
    generate_transcripts(ORACLE_SF)
    return os.path.join(REPO, "data", "transcripts", f"sf{ORACLE_SF:g}", "*.parquet")


def q_transcripts_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source scan — per-turn text equality under stable ordering."""
    return _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "role", "text")


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection (vectorized regex kernel)."""
    from bfokg.operators.linking import extract_mentions

    return extract_mentions(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "mention"
    )


def q_linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking: mention → best QID (broadcast join + prior ranking)."""
    from bfokg.operators.linking import alias_dict_df, extract_mentions, link_mentions

    linked = link_mentions(
        extract_mentions(_transcripts(spark, sf_dir)), alias_dict_df(spark)
    )
    return linked.select("conv_id", "turn_idx", "mention", "qid").distinct()


def q_triples_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple extraction (vectorized 3-group regex kernel)."""
    from bfokg.operators.triples import extract_triples

    return extract_triples(_transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "subj_mention", "pred", "obj_mention"
    )


def q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full edge dataflow: extract → link → window dedup (keep-first)."""
    from bfokg.operators.linking import alias_dict_df
    from bfokg.operators.triples import dedup_triples, extract_triples, link_triples

    t = _transcripts(spark, sf_dir)
    deduped = dedup_triples(link_triples(extract_triples(t), alias_dict_df(spark)))
    return deduped.select("subj_qid", "pred", "obj_qid", "conv_id", "turn_idx")


def _alias_values() -> str:
    from bfokg.operators.linking import alias_rows

    return ",\n    ".join(
        f"({_q(a)}, {_q(q)}, {_q(l)}, {p})" for a, q, l, p in alias_rows()
    )


def _sql_transcripts_pipeline() -> dict[str, str]:
    """The four transcript oracles share CTE scaffolding."""
    from bfokg.operators.linking import surface_pattern
    from bfokg.operators.triples import _PHRASE_TO_PRED, triple_pattern

    path = _q(_oracle_transcripts_path())
    mention_rx = _q(surface_pattern())
    triple_rx = _q(triple_pattern())
    pred_case = " ".join(
        f"WHEN {_q(ph)} THEN {_q(pid)}" for ph, pid in _PHRASE_TO_PRED.items()
    )

    scan = f"""
SELECT conv_id, turn_idx, role, text FROM read_parquet({path})
"""

    mentions = f"""
WITH t AS (SELECT conv_id, turn_idx, lower(text) AS lt FROM read_parquet({path}))
SELECT conv_id, turn_idx,
       unnest(regexp_extract_all(lt, {mention_rx}, 1)) AS mention
FROM t
"""

    linked = f"""
WITH t AS (SELECT conv_id, turn_idx, lower(text) AS lt FROM read_parquet({path})),
m AS (
  SELECT conv_id, turn_idx,
         unnest(regexp_extract_all(lt, {mention_rx}, 1)) AS mention
  FROM t),
alias_dict(alias, qid, label, prior) AS (VALUES
    {_alias_values()}),
best AS (
  SELECT alias, qid,
         row_number() OVER (PARTITION BY alias ORDER BY prior DESC, qid ASC) AS rn
  FROM alias_dict
)
SELECT DISTINCT m.conv_id, m.turn_idx, m.mention, b.qid
FROM m JOIN best b ON m.mention = b.alias AND b.rn = 1
"""

    triples_raw = f"""
WITH t AS (SELECT conv_id, turn_idx, lower(text) AS lt FROM read_parquet({path})),
z AS (
  SELECT conv_id, turn_idx,
         unnest(list_zip(regexp_extract_all(lt, {triple_rx}, 1),
                         regexp_extract_all(lt, {triple_rx}, 2),
                         regexp_extract_all(lt, {triple_rx}, 3))) AS trip
  FROM t)
SELECT conv_id, turn_idx,
       trip[1] AS subj_mention,
       CASE trip[2] {pred_case} END AS pred,
       trip[3] AS obj_mention
FROM z
"""

    edges = f"""
WITH t AS (SELECT conv_id, turn_idx, ts, lower(text) AS lt FROM read_parquet({path})),
z AS (
  SELECT conv_id, turn_idx, ts,
         unnest(list_zip(regexp_extract_all(lt, {triple_rx}, 1),
                         regexp_extract_all(lt, {triple_rx}, 2),
                         regexp_extract_all(lt, {triple_rx}, 3))) AS trip
  FROM t),
raw AS (
  SELECT conv_id, turn_idx, ts,
         trip[1] AS subj_mention,
         CASE trip[2] {pred_case} END AS pred,
         trip[3] AS obj_mention
  FROM z),
alias_dict(alias, qid, label, prior) AS (VALUES
    {_alias_values()}),
best AS (
  SELECT alias, qid,
         row_number() OVER (PARTITION BY alias ORDER BY prior DESC, qid ASC) AS rn
  FROM alias_dict
),
resolved AS (SELECT alias, qid FROM best WHERE rn = 1),
linked AS (
  SELECT r.conv_id, r.turn_idx, r.ts, s.qid AS subj_qid, r.pred, o.qid AS obj_qid
  FROM raw r
  JOIN resolved s ON r.subj_mention = s.alias
  JOIN resolved o ON r.obj_mention = o.alias
)
SELECT subj_qid, pred, obj_qid, conv_id, turn_idx
FROM (
  SELECT *, row_number() OVER (PARTITION BY subj_qid, pred, obj_qid
                               ORDER BY ts, conv_id, turn_idx) AS rn
  FROM linked
) WHERE rn = 1
"""
    return {
        "transcripts_scan": scan,
        "mentions": mentions,
        "linked_mentions": linked,
        "triples_raw": triples_raw,
        "edges": edges,
    }


# --------------------------------------------------------------------------
# Group C — training-data / corpus operators over the provided tables
# --------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized text (hash-aggregate). The synthetic
    documents are all unique, so the input is the table unioned with a
    case-perturbed copy of every 10th doc (id offset +100000) — real
    duplicate groups that exercise the normalization, not an empty match."""
    from bfokg.operators.dedup import dedup_exact

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    variant = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text")
    )
    out = dedup_exact(docs.unionByName(variant))
    return out.select(
        "keeper_id", "n_docs",
        F.array_join(F.transform("doc_ids", lambda x: x.cast("string")), ",").alias("doc_ids_csv"),
    )


SQL_DEDUP_EXACT = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 10 = 0
), n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS norm
  FROM corpus
)
SELECT min(doc_id) AS keeper_id, count(*) AS n_docs,
       string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids_csv
FROM n GROUP BY norm HAVING count(*) > 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (shingle self-join)."""
    from bfokg.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD = """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(CASE
           WHEN len(toks) >= 3 THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
           ELSE [array_to_string(toks, ' ')] END)) AS shingle
  FROM n
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.2
"""


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts, subword estimate, lang-ID, quality,
    fingerprint, boilerplate counts, and Gopher-style repetition signals.
    Everything except top_2gram_frac is a JVM-side column expression;
    top_2gram_frac is the explode/agg operator (operators.repetition) —
    linear, map-side partial-aggregated, joined back per doc."""
    from bfokg.functions.textstats import (
        alpha_ratio_col,
        dup_line_fraction_col,
        email_count_col,
        fingerprint_col,
        lang_id_col,
        quality_score_col,
        subword_estimate_col,
        token_count_col,
        url_count_col,
    )
    from bfokg.operators.repetition import top_ngram_stats

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        subword_estimate_col("text").cast("long").alias("est_subwords"),
        F.round(alpha_ratio_col("text"), 6).alias("alpha_ratio"),
        lang_id_col("text").alias("lang_pred"),
        F.round(quality_score_col("text"), 6).alias("quality"),
        fingerprint_col("text").alias("fingerprint"),
        F.round(dup_line_fraction_col("text"), 6).alias("dup_line_frac"),
        url_count_col("text").alias("n_urls"),
        email_count_col("text").alias("n_emails"),
    )
    rep = top_ngram_stats(docs, n=2)
    return base.join(rep, "doc_id", "left").select(
        base["*"],
        F.round(F.coalesce(F.col("top_ngram_frac"), F.lit(0.0)), 6).alias(
            "top_2gram_frac"
        ),
    )


def _sql_doc_stats() -> str:
    from bfokg.functions.textstats import STOPWORDS

    lang_exprs = []
    for lang, words in STOPWORDS.items():
        arr = "[" + ",".join(_q(w) for w in words) + "]"
        lang_exprs.append(
            f"len(list_intersect(list_distinct(toks), {arr})) AS hits_{lang}"
        )
    langs = sorted(STOPWORDS, key=lambda l: (l != "en", l))
    best = "greatest(" + ",".join(f"hits_{l}" for l in langs) + ")"
    pick = "'unknown'"
    for lang in langs[::-1]:
        pick = f"CASE WHEN hits_{lang} = {best} THEN '{lang}' ELSE {pick} END"
    return f"""
WITH t AS (
  SELECT doc_id, text,
         [x FOR x IN string_split_regex(lower(text), '[^a-z0-9'']+') IF x <> ''] AS toks
  FROM documents
),
s AS (
  SELECT doc_id, text, toks, len(toks) AS n_tokens,
         {', '.join(lang_exprs)}
  FROM t
),
rep AS (
  SELECT doc_id,
         round(max(c) * 1.0 / sum(c), 6) AS top_2gram_frac
  FROM (
    SELECT doc_id, gram, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS gram
      FROM t WHERE len(toks) >= 2
    ) GROUP BY doc_id, gram
  ) GROUP BY doc_id
)
SELECT s.doc_id, n_tokens,
       greatest(CAST(ceil(length(text) / 4.0) AS BIGINT), n_tokens) AS est_subwords,
       round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
             / greatest(length(text), 1), 6) AS alpha_ratio,
       CASE WHEN {best} > 0 THEN {pick} ELSE 'unknown' END AS lang_pred,
       round(0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                    / greatest(length(text), 1))
             + 0.3 * least(hits_en / 10.0 * 2, 1.0)
             + 0.3 * least(n_tokens / 200.0, 1.0), 6) AS quality,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint,
       round(CASE WHEN len(lines) > 0
             THEN 1.0 - len(list_distinct(lines)) * 1.0 / len(lines)
             ELSE 0.0 END, 6) AS dup_line_frac,
       len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
       len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_emails,
       round(coalesce(rep.top_2gram_frac, 0.0), 6) AS top_2gram_frac
FROM (SELECT *, [trim(l) FOR l IN string_split(text, chr(10)) IF trim(l) <> ''] AS lines
      FROM s) s
LEFT JOIN rep ON s.doc_id = rep.doc_id
"""


def q_doc_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus curation: hash-keyed train/val/test split
    (0.8/0.1/0.1) + per-language stratified downsampling (en 0.5, others
    0.9) — membership is a pure projection over crc32(id), reproducible
    under any partitioning, replayed integer-for-integer in DuckDB."""
    from bfokg.functions.textstats import lang_id_col
    from bfokg.operators.sampling import hash_split, stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    labeled = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1}).withColumn(
        "lang_pred", lang_id_col("text")
    )
    out = stratified_sample(labeled, {"en": 0.5}, "lang_pred", default_fraction=0.9)
    return out.select("doc_id", "split", "lang_pred")


def _sql_doc_splits() -> str:
    """DuckDB oracle for q_doc_splits: lang-ID argmax (same generator as
    _sql_doc_stats) + crc32 replay of the split/sample buckets with the
    identical integer thresholds."""
    from bfokg.functions.textstats import STOPWORDS
    from bfokg.operators.sampling import BUCKETS

    lang_exprs = []
    for lang, words in STOPWORDS.items():
        arr = "[" + ",".join(_q(w) for w in words) + "]"
        lang_exprs.append(
            f"len(list_intersect(list_distinct(toks), {arr})) AS hits_{lang}"
        )
    langs = sorted(STOPWORDS, key=lambda l: (l != "en", l))
    best = "greatest(" + ",".join(f"hits_{l}" for l in langs) + ")"
    pick = "'unknown'"
    for lang in langs[::-1]:
        pick = f"CASE WHEN hits_{lang} = {best} THEN '{lang}' ELSE {pick} END"
    return f"""
WITH RECURSIVE
t AS (
  SELECT doc_id,
         [x FOR x IN string_split_regex(lower(text), '[^a-z0-9'']+') IF x <> ''] AS toks
  FROM documents
),
s AS (SELECT doc_id, {', '.join(lang_exprs)} FROM t),
lang AS (
  SELECT doc_id,
         CASE WHEN {best} > 0 THEN {pick} ELSE 'unknown' END AS lang_pred
  FROM s
),
keys AS (
  SELECT doc_id,
         'split:42:' || CAST(doc_id AS VARCHAR) AS ks,
         'sample:42:' || CAST(doc_id AS VARCHAR) AS kp
  FROM documents
),
strs AS (SELECT ks AS s FROM keys UNION SELECT kp FROM keys),
{_sql_crc32_ctes('strs')},
b AS (
  SELECT k.doc_id,
         cs.crc % {BUCKETS} AS split_bucket,
         cp.crc % {BUCKETS} AS samp_bucket
  FROM keys k
  JOIN crc32_out cs ON cs.s = k.ks
  JOIN crc32_out cp ON cp.s = k.kp
)
SELECT b.doc_id,
       CASE WHEN split_bucket < 800000 THEN 'train'
            WHEN split_bucket < 900000 THEN 'val'
            ELSE 'test' END AS split,
       l.lang_pred
FROM b JOIN lang l ON l.doc_id = b.doc_id
WHERE samp_bucket < CASE WHEN l.lang_pred = 'en' THEN 500000 ELSE 900000 END
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 ANN baseline for the first 10 vectors.
    Cosine computed in float64 on both sides; ranking over the ROUNDED
    value with vec_id tiebreak so both engines rank identically."""
    from pyspark.sql import Window

    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))  # noqa: E731
    embs = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # norms PROJECTED BEFORE the cross join (guide §2.3 "project before
    # the exchange"): previously each of the Q×N joined rows recomputed
    # both array-aggregate norms; now each side computes its norm once.
    # Identical float math (same aggregate, same multiply order).
    corpus = embs.select("vec_id", "embedding", norm(F.col("embedding")).alias("cnorm"))
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qnorm"),
    )
    dot = F.aggregate(
        F.zip_with("qvec", "embedding", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    scored = (
        queries.crossJoin(corpus)
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(dot / (F.col("qnorm") * F.col("cnorm")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "vec_id", "cosine", "rank")
    )


SQL_EMBEDDING_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS query_id, emb AS qvec FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qvec, e.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(e.emb, e.emb))), 4) AS cosine
  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id ASC) AS rank
FROM scored
QUALIFY rank <= 3
"""


def q_doc_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SF-proportional classification load: semantic top-1 BFO class for
    EVERY document (vs the 31-entity fixture queries, which are
    SF-independent). One mapInPandas encode+score pass, no shuffle."""
    from bfokg.operators.semantic import classify_semantic

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("id"), "text")
    return classify_semantic(docs, top_k=1).select(
        F.col("entity_id").alias("doc_id"), "class_uri", "class_label", "confidence"
    )


def q_doc_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SF-proportional hierarchical walk: the zero-shuffle kernel descends
    the BFO tree for every document."""
    from bfokg.operators.hierarchy import classify_hierarchical

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("string").alias("id"), "text")
    return classify_hierarchical(docs).select(
        F.col("entity_id").alias("doc_id"), "class_uri", "class_label",
        "confidence", "stop_reason", "depth",
    )


def q_doc_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SF-proportional cascade (VERDICT r1 item 3): the staged anti-join
    cascade — rule_based keyword stage, then semantic on the residue —
    over EVERY document, proving the per-stage overhead is fixed cost that
    amortizes at corpus scale (the fixture-sized cascade query runs the
    same dataflow on 31 rows). rank-1 row per doc."""
    from bfokg.operators.strategies import cascade
    from bfokg.plans.pipeline import default_classifiers

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("id"),
        "text",
        F.lit(None).cast("map<string,array<string>>").alias("claims"),
    )
    matches, _trace = cascade(docs, default_classifiers(spark), top_k=3)
    return matches.where(F.col("rank") == 1).select(
        F.col("entity_id").alias("doc_id"), "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"), "source",
    )


def q_doc_semantic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SEMANTIC KERNEL itself as a hash-checked oracle (M1/M2/T1/P7):
    top-1 BFO class per document with the TF-IDF encode → cosine →
    (cos+1)/2 → argmax math replayed in DuckDB from inlined vocabulary /
    idf / normalized-class-matrix VALUES. Both sides compute in float64
    (VocabTfidfEncoder(dtype=float64) — production stays float32), so the
    6-decimal-rounded confidences are bit-comparable."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_texts, classify_semantic

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    return classify_semantic(docs, encoder=enc, top_k=1).select(
        F.col("entity_id").cast("long").alias("doc_id"),
        "class_uri",
        "class_label",
        F.round("confidence", 6).alias("confidence"),
    )


def _sql_semantic_topk(src_sql: str, id_name: str, k: int,
                       with_rank: bool = False, kind: str = "class",
                       conf_mode: str = "cosine") -> str:
    """Generic SQL replay of the float64 scoring kernels over a source CTE
    providing (id, text). Emits idf / normalized-matrix VALUES from the
    same encoder object the Spark query uses. ``kind`` selects the class
    matrix ("class" → semantic texts; "hypothesis" → zeroshot hypothesis
    templates); ``conf_mode`` is "cosine" ((s+1)/2, P7) or "softmax"
    (softmax of 10·cosine with max-subtraction — the zeroshot single-label
    scorer, zeroshot.py)."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_index, class_texts

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    if kind == "hypothesis":
        from bfokg.operators.zeroshot import hypothesis_index

        uris, labels, matrix = hypothesis_index(enc)
    else:
        uris, labels, matrix = class_index(enc)
    idf_values = ",\n    ".join(
        f"({_q(w)}, {float(enc.idf[j])!r})" for j, w in enumerate(enc.vocab)
    )
    cw_rows = []
    for ci, (uri, label) in enumerate(zip(uris, labels)):
        for j in np.nonzero(matrix[ci])[0]:
            cw_rows.append(
                f"({_q(str(uri))}, {_q(str(label))}, {_q(enc.vocab[int(j)])}, "
                f"{float(matrix[ci, int(j)])!r})"
            )
    cw_values = ",\n    ".join(cw_rows)
    rank_col = ",\n       CAST(rn AS INTEGER) AS rank" if with_rank else ""
    if conf_mode == "softmax":
        conf_cte = """
zmax AS (
  SELECT id, class_uri, class_label, score * 10.0 AS z,
         max(score * 10.0) OVER (PARTITION BY id) AS zm
  FROM scored
),
conf AS (
  SELECT id, class_uri, class_label,
         exp(z - zm) / sum(exp(z - zm)) OVER (PARTITION BY id) AS confidence
  FROM zmax
)"""
    else:
        conf_cte = """
conf AS (
  SELECT id, class_uri, class_label, (score + 1.0) / 2.0 AS confidence
  FROM scored
)"""
    return f"""
WITH src AS ({src_sql}),
idf(word, idf) AS (VALUES
    {idf_values}),
cw(class_uri, class_label, word, w) AS (VALUES
    {cw_values}),
classes AS (SELECT DISTINCT class_uri, class_label FROM cw),
tok AS (
  SELECT id, t AS word, count(*) AS cnt
  FROM src, unnest(regexp_extract_all(lower(text), '[a-z0-9_-]+')) AS u(t)
  GROUP BY id, t
),
comp AS (
  SELECT t.id, t.word, t.cnt * i.idf AS c
  FROM tok t JOIN idf i ON t.word = i.word
),
nrm AS (SELECT id, sqrt(sum(c * c)) AS nrm FROM comp GROUP BY id),
dots AS (
  SELECT c.id, w.class_uri, sum(c.c * w.w) AS dot
  FROM comp c JOIN cw w ON c.word = w.word
  GROUP BY c.id, w.class_uri
),
scored AS (
  SELECT s.id, cl.class_uri, cl.class_label,
         coalesce(dt.dot / nullif(n.nrm, 0), 0.0) AS score
  FROM src s
  CROSS JOIN classes cl
  LEFT JOIN nrm n ON n.id = s.id
  LEFT JOIN dots dt ON dt.id = s.id AND dt.class_uri = cl.class_uri
),{conf_cte}
SELECT id AS {id_name}, class_uri, class_label,
       round(confidence, 6) AS confidence{rank_col}
FROM (SELECT *, row_number() OVER (PARTITION BY id
                                   ORDER BY confidence DESC, class_uri ASC) AS rn
      FROM conf)
WHERE rn <= {k}
"""


def _sql_doc_semantic_exact() -> str:
    return _sql_semantic_topk(
        "SELECT doc_id AS id, text FROM documents", "doc_id", 1
    )


def q_semantic_matches_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixture semantic classifier (top-3, P7 math + T1 tiebreak) as a
    hash-checked oracle — float64 twin of q_semantic_matches."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_texts, classify_semantic

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    ents = with_entity_text(entities_df(spark, include_micro=True))
    return classify_semantic(ents, encoder=enc, top_k=3).select(
        "entity_id", "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"), "rank",
    )


def _sql_semantic_matches_exact() -> str:
    src = f"""
  WITH fixtures(entity_id, label, description, n_aliases) AS (VALUES
      {_fixtures_values()})
  SELECT entity_id AS id, label || ': ' || description AS text FROM fixtures
"""
    return _sql_semantic_topk(src, "entity_id", 3, with_rank=True)


def q_cascade_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL CASCADE as a hash-checked oracle (C1): rule_based stage
    (claim short-circuit + keyword scoring, threshold 0.90) then the
    float64 semantic stage on the residue. With semantic always returning
    results, the reference's last-non-empty fallback (hybrid.py:437-440)
    makes the answer: rule top-k for rule-accepted entities, semantic
    top-k for everyone else — exactly what the SQL replays. rank-1 rows
    (the entity→BFO assignment)."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_texts, classify_semantic
    from bfokg.operators.strategies import cascade
    from bfokg.plans.pipeline import default_classifiers

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    clf = default_classifiers(spark)
    clf["semantic"] = lambda df, k: classify_semantic(df, encoder=enc, top_k=k)
    ents = with_entity_text(entities_df(spark, include_micro=True))
    matches, _trace = cascade(ents, clf, top_k=3)
    return matches.where(F.col("rank") == 1).select(
        "entity_id", "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"), "source",
    )


def _sql_cascade_exact() -> str:
    sem_sql = _sql_semantic_matches_exact()
    return f"""
WITH rulep AS ({SQL_RULE_BASED}),
sem AS ({sem_sql}),
acc1 AS (SELECT entity_id FROM rulep WHERE rank = 1 AND confidence >= 0.90),
final AS (
  SELECT r.entity_id, r.class_uri, r.class_label, r.confidence, r.source, r.rank
  FROM rulep r JOIN acc1 a USING (entity_id)
  UNION ALL
  SELECT s.entity_id, s.class_uri, s.class_label, s.confidence,
         'semantic' AS source, s.rank
  FROM sem s WHERE s.entity_id NOT IN (SELECT entity_id FROM acc1)
)
SELECT entity_id, class_uri, class_label,
       round(confidence, 6) AS confidence, source
FROM final WHERE rank = 1
"""


def q_hierarchical_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HIERARCHICAL WALK as a hash-checked oracle (C5): float64 twin of
    q_hierarchical. The DuckDB side replays the whole machine — the
    subtree-smoothed class matrix (inlined VALUES), (cos+1)/2 scoring, and
    a recursive CTE that descends the 35-node tree applying the four stop
    rules (LEAF_NODE / LOW_CONFIDENCE / CONFIDENCE_DROP with the
    root-only 0.50 shallow threshold / MAX_DEPTH) with the argmax
    (conf DESC, uri ASC) tiebreak."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.hierarchy import classify_hierarchical
    from bfokg.operators.semantic import class_texts

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    ents = with_entity_text(entities_df(spark))
    out = classify_hierarchical(ents, encoder=enc)
    return out.select(
        "entity_id", "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"),
        "stop_reason", "depth",
        F.array_join(
            F.transform("path", lambda p: p["class_label"]), ">"
        ).alias("path_str"),
    )


def _sql_hierarchical_exact(src_sql: str | None = None,
                            id_out: str = "id AS entity_id") -> str:
    """Parameterized over the source CTE (id, text) — the fixture set by
    default; ``doc_hierarchy_exact`` points it at the documents table
    (VERDICT r3 item 2: doc-scale twins for the walk kernel)."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_index, class_texts
    from bfokg.ontology import ROOT_URI

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    uris, labels, matrix = class_index(enc, subtree_smoothing=True)
    idf_values = ",\n    ".join(
        f"({_q(w)}, {float(enc.idf[j])!r})" for j, w in enumerate(enc.vocab)
    )
    cw_rows = []
    for ci, (uri, label) in enumerate(zip(uris, labels)):
        for j in np.nonzero(matrix[ci])[0]:
            cw_rows.append(
                f"({_q(str(uri))}, {_q(str(label))}, {_q(enc.vocab[int(j)])}, "
                f"{float(matrix[ci, int(j)])!r})"
            )
    fixtures_only = ",\n    ".join(
        f"({_q(e)}, {_q(l)}, {_q(d)})" for e, l, d, _a, _gt in _FIXTURES
    )
    if src_sql is None:
        src_sql = f"""
  WITH fixtures(entity_id, label, description) AS (VALUES
      {fixtures_only})
  SELECT entity_id AS id, label || ': ' || description AS text FROM fixtures
"""
    return f"""
WITH RECURSIVE
src AS ({src_sql}),
idf(word, idf) AS (VALUES
    {idf_values}),
cw(class_uri, class_label, word, w) AS (VALUES
    {",".join(cw_rows)}),
classes AS (SELECT DISTINCT class_uri, class_label FROM cw),
children(child_uri, parent_uri) AS (VALUES
    {_edges_values()}),
tok AS (
  SELECT id, t AS word, count(*) AS cnt
  FROM src, unnest(regexp_extract_all(lower(text), '[a-z0-9_-]+')) AS u(t)
  GROUP BY id, t
),
comp AS (
  SELECT t.id, t.word, t.cnt * i.idf AS c
  FROM tok t JOIN idf i ON t.word = i.word
),
nrm AS (SELECT id, sqrt(sum(c * c)) AS nrm FROM comp GROUP BY id),
dots AS (
  SELECT c.id, w.class_uri, sum(c.c * w.w) AS dot
  FROM comp c JOIN cw w ON c.word = w.word
  GROUP BY c.id, w.class_uri
),
conf AS (
  SELECT s.id, cl.class_uri, cl.class_label,
         (coalesce(dt.dot / nullif(n.nrm, 0), 0.0) + 1.0) / 2.0 AS confidence
  FROM src s
  CROSS JOIN classes cl
  LEFT JOIN nrm n ON n.id = s.id
  LEFT JOIN dots dt ON dt.id = s.id AND dt.class_uri = cl.class_uri
),
best AS (
  -- argmax child per (entity, parent): highest conf, uri ASC tiebreak
  SELECT c.id, ch.parent_uri, ch.child_uri, cl.class_label AS child_label,
         c.confidence AS child_conf
  FROM conf c
  JOIN children ch ON c.class_uri = ch.child_uri
  JOIN classes cl ON cl.class_uri = ch.child_uri
  WHERE NOT EXISTS (
    SELECT 1 FROM conf c2 JOIN children ch2 ON c2.class_uri = ch2.child_uri
    WHERE c2.id = c.id AND ch2.parent_uri = ch.parent_uri
      AND (c2.confidence > c.confidence
           OR (c2.confidence = c.confidence AND c2.class_uri < c.class_uri))
  )
),
walk(id, cur_uri, cur_label, cur_conf, depth, path, stop) AS (
  SELECT id, {_q(ROOT_URI)}, 'Entity', CAST(1.0 AS DOUBLE), 0, 'Entity',
         CAST(NULL AS VARCHAR)
  FROM src
  UNION ALL
  SELECT w.id,
    CASE WHEN b.child_uri IS NULL OR b.child_conf < 0.5
              OR w.cur_conf - b.child_conf >
                 (CASE WHEN w.depth <= 0 THEN 0.5 ELSE 0.15 END)
         THEN w.cur_uri ELSE b.child_uri END,
    CASE WHEN b.child_uri IS NULL OR b.child_conf < 0.5
              OR w.cur_conf - b.child_conf >
                 (CASE WHEN w.depth <= 0 THEN 0.5 ELSE 0.15 END)
         THEN w.cur_label ELSE b.child_label END,
    CASE WHEN b.child_uri IS NULL OR b.child_conf < 0.5
              OR w.cur_conf - b.child_conf >
                 (CASE WHEN w.depth <= 0 THEN 0.5 ELSE 0.15 END)
         THEN w.cur_conf ELSE b.child_conf END,
    CASE WHEN b.child_uri IS NULL OR b.child_conf < 0.5
              OR w.cur_conf - b.child_conf >
                 (CASE WHEN w.depth <= 0 THEN 0.5 ELSE 0.15 END)
         THEN w.depth ELSE w.depth + 1 END,
    CASE WHEN b.child_uri IS NULL OR b.child_conf < 0.5
              OR w.cur_conf - b.child_conf >
                 (CASE WHEN w.depth <= 0 THEN 0.5 ELSE 0.15 END)
         THEN w.path ELSE w.path || '>' || b.child_label END,
    CASE WHEN b.child_uri IS NULL THEN 'LEAF_NODE'
         WHEN b.child_conf < 0.5 THEN 'LOW_CONFIDENCE'
         WHEN w.cur_conf - b.child_conf >
              (CASE WHEN w.depth <= 0 THEN 0.5 ELSE 0.15 END)
         THEN 'CONFIDENCE_DROP'
         ELSE CAST(NULL AS VARCHAR) END
  FROM walk w
  LEFT JOIN best b ON b.id = w.id AND b.parent_uri = w.cur_uri
  WHERE w.stop IS NULL AND w.depth < 7
)
SELECT {id_out}, cur_uri AS class_uri, cur_label AS class_label,
       round(cur_conf, 6) AS confidence,
       coalesce(stop, 'MAX_DEPTH') AS stop_reason, depth, path AS path_str
FROM walk
WHERE stop IS NOT NULL OR depth = 7
"""


def q_doc_hierarchy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOC-SCALE float64 twin of q_doc_hierarchy (VERDICT r3 item 2): the
    hierarchical walk kernel over the full documents table, hash-checked
    against the same recursive-CTE replay as hierarchical_exact — the
    source CTE is the only thing that changes. Closes the last gap where
    the kernel's oracle ran only on the 29-row fixture set."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.hierarchy import classify_hierarchical
    from bfokg.operators.semantic import class_texts

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    out = classify_hierarchical(docs, encoder=enc)
    return out.select(
        F.col("entity_id").cast("long").alias("doc_id"),
        "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"),
        "stop_reason", "depth",
        F.array_join(
            F.transform("path", lambda p: p["class_label"]), ">"
        ).alias("path_str"),
    )


def _sql_doc_hierarchy_exact() -> str:
    return _sql_hierarchical_exact(
        src_sql="SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents",
        id_out="CAST(id AS BIGINT) AS doc_id",
    )


def q_doc_cascade_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOC-SCALE float64 twin of q_doc_cascade (VERDICT r3 item 2): the
    staged anti-join cascade (rule_based keyword stage at threshold 0.90,
    float64 semantic on the residue) over EVERY document, hash-checked.
    Same two-stage replay as cascade_exact with the documents table as the
    source: docs have no claims, so the rule stage is pure keyword scoring,
    and with semantic always returning rows the last-non-empty fallback
    resolves to rule top-k for rule-accepted docs, semantic top-k for the
    rest (hybrid.py:437-440)."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_texts, classify_semantic
    from bfokg.operators.strategies import cascade
    from bfokg.plans.pipeline import default_classifiers

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    clf = default_classifiers(spark)
    clf["semantic"] = lambda df, k: classify_semantic(df, encoder=enc, top_k=k)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("id"),
        "text",
        F.lit(None).cast("map<string,array<string>>").alias("claims"),
    )
    matches, _trace = cascade(docs, clf, top_k=3)
    return matches.where(F.col("rank") == 1).select(
        F.col("entity_id").cast("long").alias("doc_id"),
        "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"), "source",
    )


def _sql_doc_cascade_exact() -> str:
    sem_sql = _sql_semantic_topk(
        "SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents",
        "entity_id", 3, with_rank=True,
    )
    return f"""
WITH docs AS (SELECT CAST(doc_id AS VARCHAR) AS entity_id, text FROM documents),
toks AS (
  SELECT entity_id, tok FROM (
    SELECT entity_id, unnest(string_split_regex(lower(text), '[^a-z0-9_]+')) AS tok FROM docs
    UNION
    SELECT entity_id, unnest(string_split_regex(lower(text), '[^a-z0-9_-]+')) AS tok FROM docs
  ) WHERE tok <> ''
),
{_KW_CTE.strip()},
{_CLASSES_CTE.strip()},
kw_scored AS (
  SELECT t.entity_id, k.class_label,
         CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords) AS score,
         least((CAST(count(DISTINCT k.keyword) AS DOUBLE) / any_value(k.n_keywords)) * 0.9,
               CAST(0.95 AS DOUBLE)) AS confidence,
         any_value(k.rule_order) AS rule_order
  FROM toks t JOIN kw k ON t.tok = k.keyword
  GROUP BY t.entity_id, k.class_label
),
rulep AS (
  SELECT s.entity_id, cl.class_uri, s.class_label, s.confidence,
         'rule_based' AS source,
         row_number() OVER (PARTITION BY s.entity_id
                            ORDER BY s.score DESC, s.rule_order ASC) AS rank
  FROM kw_scored s JOIN classes cl ON cl.class_label = s.class_label
),
sem AS ({sem_sql}),
acc1 AS (SELECT entity_id FROM rulep WHERE rank = 1 AND confidence >= 0.90),
final AS (
  SELECT r.entity_id, r.class_uri, r.class_label, r.confidence, r.source, r.rank
  FROM rulep r JOIN acc1 a USING (entity_id)
  UNION ALL
  SELECT s.entity_id, s.class_uri, s.class_label, s.confidence,
         'semantic' AS source, s.rank
  FROM sem s WHERE s.entity_id NOT IN (SELECT entity_id FROM acc1)
)
SELECT CAST(entity_id AS BIGINT) AS doc_id, class_uri, class_label,
       round(confidence, 6) AS confidence, source
FROM final WHERE rank = 1
"""


def q_zeroshot_matches_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-shot scorer (M3/P8/P9: hypothesis templates + single-label
    softmax of 10·cosine) as a hash-checked oracle — float64 twin of
    q_zeroshot_matches."""
    import numpy as np

    from bfokg.functions.encoders import VocabTfidfEncoder
    from bfokg.operators.semantic import class_texts
    from bfokg.operators.zeroshot import classify_zeroshot

    enc = VocabTfidfEncoder([r[2] for r in class_texts()], dtype=np.float64)
    ents = with_entity_text(entities_df(spark))
    return classify_zeroshot(ents, encoder=enc, top_k=3).select(
        "entity_id", "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"), "rank",
    )


def _sql_zeroshot_matches_exact() -> str:
    fixtures_only = ",\n    ".join(
        f"({_q(e)}, {_q(l)}, {_q(d)})" for e, l, d, _a, _gt in _FIXTURES
    )
    src = f"""
  WITH fixtures(entity_id, label, description) AS (VALUES
      {fixtures_only})
  SELECT entity_id AS id, label || ': ' || description AS text FROM fixtures
"""
    return _sql_semantic_topk(src, "entity_id", 3, with_rank=True,
                              kind="hypothesis", conf_mode="softmax")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family): JVM-side
    zip_with dot product, cross join pruned by id ordering. Threshold 0.4
    fits the synthetic table's near-random vectors (max pairwise cosine
    ~0.51); real corpora use ~0.95 after an LSH bucket stage."""
    from bfokg.operators.dedup import embedding_near_dups

    embs = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = embedding_near_dups(embs, threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


SQL_EMBEDDING_NEAR_DUPS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
"""


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text → opaque binary payload column + typed
    metadata (the decode/feature-extract kernel itself is stubbed — see
    bfokg.operators.multimodal — but the schema/UDF plumbing is real)."""
    from bfokg.operators.multimodal import with_payload_meta

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload"), F.lit("text/plain").alias("mime")
    )
    return with_payload_meta(docs).select("doc_id", "mime", "n_bytes", "payload_sha")


SQL_MULTIMODAL_META = """
SELECT doc_id, 'text/plain' AS mime,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS payload_sha
FROM documents
"""


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the driver gate: every document's text is
    packed into a 16×16 binary PGM (P5) payload — ASCII-sanitized, padded
    to 256 bytes — and decoded by the numpy PNM parser
    (multimodal.decode_image_kernel). The oracle recomputes width/height/
    mean-luma directly from the same 256 characters in DuckDB, so the
    byte-layout decoder itself is hash-checked."""
    from bfokg.operators.multimodal import extract_image_features

    body = F.rpad(
        F.substring(F.regexp_replace("text", "[^ -~]", " "), 1, 256), 256, " "
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.encode(F.lit("P5 16 16 255\n"), "utf-8"), F.encode(body, "utf-8")
        ).alias("payload"),
        F.lit("image/x-portable-graymap").alias("mime"),
    )
    return extract_image_features(d).select(
        "doc_id", "width", "height", "n_channels",
        F.round("mean_luma", 6).alias("mean_luma"), "decode_ok",
    )


SQL_IMAGE_FEATURES = """
WITH clean AS (
  SELECT doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', ' ', 'g'), 1, 256),
              256, ' ') AS body
  FROM documents)
SELECT doc_id, 16 AS width, 16 AS height, 1 AS n_channels,
       round(list_avg(list_transform(range(1, 257), i -> ascii(body[i])))
             / 255.0, 6) AS mean_luma,
       TRUE AS decode_ok
FROM clean
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM decode under the driver gate (audio twin of
    q_image_features): every document's text becomes the sample stream of
    an 8-bit mono 8 kHz WAV — a constant 44-byte RIFF header (sizes are
    fixed at 256 samples, so the header is a literal) + the 256
    ASCII-sanitized chars as unsigned samples — and the numpy RIFF parser
    (multimodal._decode_wav) extracts rate/channels/duration/RMS/peak.
    The oracle recomputes every feature from the same 256 characters in
    DuckDB, so the byte-layout decoder itself is hash-checked."""
    from bfokg.operators.multimodal import extract_audio_features

    header = (
        b"RIFF" + (36 + 256).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + b"data" + (256).to_bytes(4, "little")
    )
    body = F.rpad(
        F.substring(F.regexp_replace("text", "[^ -~]", " "), 1, 256), 256, " "
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(header), F.encode(body, "utf-8")).alias("payload"),
        F.lit("audio/wav").alias("mime"),
    )
    return extract_audio_features(d).select(
        "doc_id", "sample_rate", "n_channels", "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
        "decode_ok",
    )


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor image resize under the driver gate (the
    brief's resize slot): each document's first 16 sanitized chars become
    a 4×4 PGM, multimodal.resize_images re-encodes it at 2×2 (NN picks
    rows/cols {0,2} → byte indices 0,2,8,10), and the query emits the
    sha-256 of the RESIZED PAYLOAD BYTES — the oracle rebuilds the exact
    output file ('P5 2 2 255\\n' + the 4 selected chars) in DuckDB and
    hashes it, so the whole decode→transform→re-encode path is
    byte-exact hash-checked."""
    from bfokg.operators.multimodal import resize_images

    body = F.rpad(
        F.substring(F.regexp_replace("text", "[^ -~]", " "), 1, 16), 16, " "
    )
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(b"P5 4 4 255\n"), F.encode(body, "utf-8")).alias("payload"),
        F.lit("image/x-portable-graymap").alias("mime"),
    )
    return resize_images(d, 2, 2).select(
        "doc_id", "width", "height",
        F.sha2("payload", 256).alias("payload_sha"), "decode_ok",
    )


SQL_IMAGE_RESIZE = """
WITH clean AS (
  SELECT doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', ' ', 'g'), 1, 16),
              16, ' ') AS body
  FROM documents)
SELECT doc_id, 2 AS width, 2 AS height,
       sha256('P5 2 2 255' || chr(10)
              || body[1] || body[3] || body[9] || body[11]) AS payload_sha,
       TRUE AS decode_ok
FROM clean
"""


def q_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Y4M video decode + frame sampling under the driver gate
    (video twin of q_audio_features): every document's text becomes a
    6-frame 4×4 C444 YUV4MPEG2 stream — constant header
    ``YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C444`` + six ``FRAME`` chunks whose
    planes are the ASCII-sanitized chars — and the numpy Y4M parser
    (multimodal._decode_y4m) extracts dims/fps/frames/duration and the
    mean luma of every 2nd frame. The oracle recomputes each feature from
    the same 288 characters in DuckDB, hash-checking the byte-layout
    parser AND the frame-sampling arithmetic."""
    from bfokg.operators.multimodal import extract_video_features

    header = b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C444\n"
    body = F.rpad(
        F.substring(F.regexp_replace("text", "[^ -~]", " "), 1, 288), 288, " "
    )
    frames = [
        F.concat(F.lit(b"FRAME\n"),
                 F.encode(F.substring(body, i * 48 + 1, 48), "utf-8"))
        for i in range(6)
    ]
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(header), *frames).alias("payload"),
        F.lit("video/x-yuv4mpeg").alias("mime"),
    )
    return extract_video_features(d, frame_step=2).select(
        "doc_id", "width", "height", F.round("fps", 6).alias("fps"),
        "n_frames", F.round("duration_sec", 6).alias("duration_sec"),
        "n_sampled", F.round("mean_luma", 6).alias("mean_luma"),
        "decode_ok",
    )


SQL_VIDEO_FEATURES = """
WITH clean AS (
  SELECT doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', ' ', 'g'), 1, 288),
              288, ' ') AS body
  FROM documents)
SELECT doc_id, 4 AS width, 4 AS height, round(25.0, 6) AS fps,
       6 AS n_frames, round(6.0 / 25.0, 6) AS duration_sec,
       3 AS n_sampled,
       round(list_avg(flatten(list_transform([0, 2, 4], i ->
                 list_transform(range(1, 17),
                                j -> ascii(body[CAST(i * 48 + j AS BIGINT)]) / 255.0)))),
             6) AS mean_luma,
       TRUE AS decode_ok
FROM clean
"""


SQL_AUDIO_FEATURES = """
WITH clean AS (
  SELECT doc_id,
         rpad(substr(regexp_replace(text, '[^ -~]', ' ', 'g'), 1, 256),
              256, ' ') AS body
  FROM documents)
SELECT doc_id, 8000 AS sample_rate, 1 AS n_channels, 256::BIGINT AS n_samples,
       round(256.0 / 8000.0, 6) AS duration_sec,
       round(sqrt(list_avg(list_transform(range(1, 257),
                                          i -> pow((ascii(body[i]) - 128) / 128.0, 2)))),
             6) AS rms,
       round(list_max(list_transform(range(1, 257),
                                     i -> abs((ascii(body[i]) - 128) / 128.0))),
             6) AS peak,
       TRUE AS decode_ok
FROM clean
"""


# ------------------------- relational operator demos ----------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-agg demo (TPC-H Q1 shape): decimal-exact sums so both engines
    agree bit-for-bit; filter pushes to the parquet scan."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    ep = F.col("l_extendedprice").cast("decimal(18,4)")
    dc = F.col("l_discount").cast("decimal(18,4)")
    return (
        li.where(F.col("l_quantity") < 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
            F.sum(ep).alias("sum_base_price"),
            F.sum(ep * (F.lit(1).cast("decimal(18,4)") - dc)).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("sum_base_price").cast("double").alias("sum_base_price"),
            F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
            "count_order",
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
           AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_quantity < 45
GROUP BY l_returnflag, l_linestatus
"""


def q_customer_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-join demo: orders ⋈ customer ⋈ broadcast(nation) → per-nation
    revenue; small dims explicitly broadcast."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_CUSTOMER_NATION_REVENUE = """
SELECT n.n_name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def q_events_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-top-k demo: per event_type, the 3 highest-value events (window
    rank with deterministic tiebreak)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("event_type", "event_id", "user_id", F.round("value", 6).alias("value"), "rank")
    )


SQL_EVENTS_TOPN = """
SELECT event_type, event_id, user_id, round(value, 6) AS value,
       row_number() OVER (PARTITION BY event_type
                          ORDER BY value DESC, event_id ASC) AS rank
FROM events
QUALIFY rank <= 3
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregate demo: per (event_type, weekday) with subtotals;
    decimal-exact sums, grouping-id exposed."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.withColumn("weekday", F.dayofweek("ts"))
        .rollup("event_type", "weekday")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("weekday").cast("string"), F.lit("ALL")).alias("weekday"),
            "n", "sum_value",
        )
    )


# NB: Spark dayofweek is 1-based (Sunday=1), DuckDB's 0-based (Sunday=0).
SQL_EVENTS_ROLLUP = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(dayofweek(ts) + 1 AS VARCHAR), 'ALL') AS weekday,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, dayofweek(ts) + 1)
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join demo: customers with no large (>300k) order."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    big = orders.where(F.col("o_totalprice") > 300000)
    without = cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_anti")
    return without.select("c_custkey", "c_name", "c_mktsegment")


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation demo: suppliers' nations INTERSECT customers' nations,
    EXCEPT nations of low-balance customers."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    supp = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    a = supp.select(F.col("s_nationkey").alias("nationkey")).distinct()
    b = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    c = (
        cust.where(F.col("c_acctbal") < -995)
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    return a.intersect(b).exceptAll(c).select("nationkey")


SQL_SET_OPS = """
SELECT s_nationkey AS nationkey FROM supplier
INTERSECT
SELECT c_nationkey FROM customer
EXCEPT
SELECT c_nationkey FROM customer WHERE c_acctbal < -995
"""


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation: per 6-hour window per
    event_type, count and decimal-exact value sum."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type", "n", "sum_value",
        )
    )


SQL_EVENTS_WINDOWED = """
SELECT CAST(time_bucket(INTERVAL 6 HOUR, ts) AS VARCHAR) AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_wikidata_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule core: P31/P279 superclass-chain canonicalization as an
    iterative self-join closure + nearest-anchor winner per qid."""
    from bfokg.operators.wikidata import (
        canonicalize_qids,
        wd_anchors_df,
        wikidata_claims_df,
    )

    return canonicalize_qids(wikidata_claims_df(spark), wd_anchors_df(spark))


def _sql_wikidata_canon() -> str:
    from bfokg.ontology import uri_for_label
    from bfokg.operators.wikidata import (
        CLAIM_CANON_CONFIDENCE,
        WD_BFO_ANCHORS,
        WD_P31,
        WD_P279_EDGES,
    )

    claims = ",\n    ".join(
        [f"({_q(e)}, 'P31', {_q(c)})" for e, cs in sorted(WD_P31.items()) for c in cs]
        + [f"({_q(c)}, 'P279', {_q(p)})" for c, p in WD_P279_EDGES]
    )
    anchors = ",\n    ".join(
        f"({_q(w)}, {_q(b)}, {_q(uri_for_label(b))})" for w, b in WD_BFO_ANCHORS
    )
    return f"""
WITH claims(qid, property, value_qid) AS (VALUES
    {claims}),
anchors(wd_class, bfo_label, class_uri) AS (VALUES
    {anchors}),
p279(child, parent) AS (
  SELECT qid, value_qid FROM claims WHERE property = 'P279'
),
nodes(node) AS (
  SELECT child FROM p279 UNION SELECT parent FROM p279
),
closure(descendant_uri, ancestor_uri, distance) AS (
  WITH RECURSIVE walk(descendant_uri, ancestor_uri, distance) AS (
    SELECT child, parent, 1 FROM p279
    UNION ALL
    SELECT w.descendant_uri, e.parent, w.distance + 1
    FROM walk w JOIN p279 e ON w.ancestor_uri = e.child
  )
  SELECT DISTINCT * FROM walk
  UNION ALL
  SELECT node, node, 0 FROM nodes
),
reach AS (
  SELECT c.qid, cl.ancestor_uri AS via_class, cl.distance
  FROM claims c JOIN closure cl ON c.value_qid = cl.descendant_uri
  WHERE c.property = 'P31'
),
anchored AS (
  SELECT r.qid, a.class_uri, a.bfo_label, r.via_class, r.distance,
         row_number() OVER (PARTITION BY r.qid
                            ORDER BY r.distance ASC, a.bfo_label ASC, r.via_class ASC) AS rn
  FROM reach r JOIN anchors a ON r.via_class = a.wd_class
)
SELECT qid, class_uri, bfo_label, via_class, distance,
       CAST({CLAIM_CANON_CONFIDENCE} AS DOUBLE) AS confidence
FROM anchored WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Rows-only queries (encoder/kernel-backed — no SQL oracle; pytest covers
# their semantics, the driver records a rows-only check)
# --------------------------------------------------------------------------

def q_semantic_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/M2/T1/P7 — semantic top-3 for every fixture entity."""
    from bfokg.operators.semantic import classify_semantic

    ents = with_entity_text(entities_df(spark, include_micro=True))
    return classify_semantic(ents, top_k=3)


def q_cascade_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 full engine — cascade over the 29+2 fixtures (encoder-backed)."""
    from bfokg.plans.pipeline import classify_entities

    return classify_entities(spark, entities_df(spark, include_micro=True))


def q_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 — hierarchical traversal; path flattened for stable schema."""
    from bfokg.operators.hierarchy import classify_hierarchical

    ents = with_entity_text(entities_df(spark))
    out = classify_hierarchical(ents)
    return out.select(
        "entity_id", "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"),
        "stop_reason", "depth",
        F.array_join(F.transform("path", lambda p: p["class_label"]), ">").alias("path_str"),
    )


def _sql_crc32_ctes(strs_cte: str) -> str:
    """Recursive-CTE zlib crc32 over ASCII strings (DuckDB has no crc32).

    Standard reflected CRC-32 (poly 0xEDB88320 = 3988292384): first build
    the 256-entry byte table (8 shift/xor steps per entry), then walk each
    string byte-by-byte. Expects a prior CTE ``{strs_cte}(s)`` of DISTINCT
    ASCII strings; emits ``crc32_out(s, crc)``. Verified == zlib.crc32 in
    tests/test_entry_and_streaming.py."""
    return f"""
crc_bits(i, step, crc) AS (
  SELECT i, 0, i::BIGINT FROM range(256) t(i)
  UNION ALL
  SELECT i, step + 1,
         CASE WHEN crc & 1 = 1 THEN xor(crc >> 1, 3988292384) ELSE crc >> 1 END
  FROM crc_bits WHERE step < 8
),
crc_table AS (SELECT i, crc FROM crc_bits WHERE step = 8),
crc_walk(s, pos, crc) AS (
  SELECT s, 0, 4294967295::BIGINT FROM {strs_cte}
  UNION ALL
  SELECT w.s, w.pos + 1, xor(w.crc >> 8, t.crc)
  FROM crc_walk w JOIN crc_table t
    ON t.i = xor(w.crc & 255, ascii(w.s[w.pos + 1]))
  WHERE w.pos < len(w.s)
),
crc32_out AS (
  SELECT s, xor(crc, 4294967295) AS crc FROM crc_walk WHERE pos = len(s)
)"""


def _sql_minhash_lsh() -> str:
    """DuckDB oracle for q_minhash_lsh — the FULL pipeline restated in SQL:
    normalize → 3-gram shingles → crc32 → 64 universal min-hashes (the
    (a, b) permutation constants are inlined from the same seeded
    generator the Spark kernel uses) → 16-band buckets → candidate pairs →
    est_jaccard = matching-position fraction ≥ 0.2."""
    from bfokg.operators.dedup import _MERSENNE, _perm_params

    a, b = _perm_params(64)
    params_values = ", ".join(
        f"({k}, {int(a[k])}, {int(b[k])})" for k in range(64)
    )
    return f"""
WITH RECURSIVE
docs_norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS norm
  FROM documents
),
toks AS (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM docs_norm),
sh_all AS (
  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS sh
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
  UNION ALL
  SELECT doc_id, norm AS sh FROM toks WHERE len(t) < 3
),
shingles AS (SELECT DISTINCT doc_id, sh FROM sh_all),
strs AS (SELECT DISTINCT sh AS s FROM shingles),
{_sql_crc32_ctes('strs')},
hv AS (
  SELECT sh.doc_id, c.crc % {_MERSENNE} AS h
  FROM shingles sh JOIN crc32_out c ON c.s = sh.sh
),
params(k, a, b) AS (VALUES {params_values}),
minh AS (
  SELECT hv.doc_id, p.k, min((p.a * hv.h + p.b) % {_MERSENNE}) AS mh
  FROM hv CROSS JOIN params p GROUP BY hv.doc_id, p.k
),
sig AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM minh GROUP BY doc_id),
banded AS (
  SELECT doc_id, i AS band, sig[i*4+1 : i*4+4] AS band_sig
  FROM sig, unnest(range(0, 16)) AS u(i)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         len(list_filter(range(1, 65), i -> sa.sig[i] = sb.sig[i])) / 64.0 AS ej
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(ej, 6) AS est_jaccard FROM est WHERE ej >= 0.2
"""


def _sql_simhash() -> str:
    """DuckDB oracle for q_simhash. The Spark side buckets by 16-bit blocks
    then verifies by exact popcount; by pigeonhole (4 blocks, ≤3 differing
    bits) that EQUALS the exact all-pairs Hamming ≤ 3 answer, which is what
    this oracle computes directly: per-token crc32 pair → 64 signed bit
    sums (duplicate tokens weighted by count) → fingerprint → all-pairs
    popcount of xor."""
    return f"""
WITH RECURSIVE
tok AS (
  SELECT doc_id, t AS token, count(*) AS cnt
  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(t)
  GROUP BY doc_id, t
),
strs AS (
  SELECT DISTINCT token AS s FROM tok
  UNION
  SELECT DISTINCT token || '#' AS s FROM tok
),
{_sql_crc32_ctes('strs')},
tok_h AS (
  SELECT t.doc_id, t.cnt, lo.crc AS lo, hi.crc AS hi
  FROM tok t
  JOIN crc32_out lo ON lo.s = t.token
  JOIN crc32_out hi ON hi.s = t.token || '#'
),
bits AS (
  SELECT doc_id, b.b,
         sum(cnt * (2 * (CASE WHEN b.b < 32 THEN (lo >> b.b) & 1
                              ELSE (hi >> (b.b - 32)) & 1 END) - 1)) AS acc
  FROM tok_h, unnest(range(0, 64)) AS b(b)
  GROUP BY doc_id, b.b
),
fp_raw AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS u
  FROM bits GROUP BY doc_id
),
fp AS (
  SELECT d.doc_id,
         CAST(CASE WHEN f.u IS NULL THEN 0::HUGEINT
                   WHEN f.u >= 9223372036854775808::HUGEINT
                   THEN f.u - 18446744073709551616::HUGEINT
                   ELSE f.u END AS BIGINT) AS h
  FROM documents d LEFT JOIN fp_raw f ON f.doc_id = d.doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 3
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (banded buckets, est. jaccard)."""
    from bfokg.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2).select(
        "doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified with EXACT n-gram Jaccard — the production
    dedup composition (banding keeps it linear; the exact verify touches
    candidates only). est prefilter 0.2 (= threshold 0.35 − 0.15 margin),
    exact threshold 0.35; the oracle replays both stages in DuckDB."""
    from bfokg.operators.dedup import lsh_jaccard_pairs

    return lsh_jaccard_pairs(_docs(spark, sf_dir), threshold=0.35).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _sql_lsh_jaccard() -> str:
    """DuckDB oracle for q_lsh_jaccard: the full minhash replay (est ≥ 0.2
    candidate set, identical to _sql_minhash_lsh) followed by the exact
    shingle-intersection jaccard restricted to those candidates, exact
    threshold 0.35."""
    return f"""
WITH RECURSIVE cand AS ({_sql_minhash_lsh()}),
n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(CASE
           WHEN len(toks) >= 3 THEN [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]
           ELSE [array_to_string(toks, ' ')] END)) AS shingle
  FROM n
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE i.n_inter * 1.0 / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.35
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive duplicate clusters (the keep/drop tail
    of the dedup pipeline): min-label propagation over the SAME MinHash
    pair set as q_minhash_lsh. The DuckDB oracle recomputes the pairs via
    the crc32 replay and walks reachability with a recursive CTE, so the
    component structure is hash-checked end-to-end."""
    from bfokg.operators.dedup import dedup_components, minhash_lsh_pairs
    from bfokg.util import attach_cleanup

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.2)
    comp = dedup_components(pairs)
    return attach_cleanup(comp, *getattr(pairs, "_bfokg_cached", ()))


def _sql_dedup_components() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_sql_minhash_lsh()}),
comp_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM comp_edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN comp_edges e ON r.dst = e.src
),
nodes AS (SELECT DISTINCT src AS doc_id FROM comp_edges)
SELECT n.doc_id, least(n.doc_id, min(r.dst)) AS component_id
FROM nodes n JOIN reach r ON r.src = n.doc_id
GROUP BY n.doc_id
"""


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus keep/drop decision (round 5): every document mapped to
    its duplicate-cluster keeper (the component min id; itself when it
    has no near-dup). Composes minhash_lsh_pairs → dedup_components →
    one left join back against the corpus — the last hop of the dedup
    pipeline, previously pinned only through `dedup_components`. The
    DuckDB oracle nests the recursive-CTE reachability inside a corpus
    left join."""
    from bfokg.operators.dedup import dedup_keep_list, minhash_lsh_pairs
    from bfokg.util import attach_cleanup

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, threshold=0.2)
    out = dedup_keep_list(docs, pairs)
    return attach_cleanup(out, *getattr(pairs, "_bfokg_cached", ()))


def _sql_dedup_keep_list() -> str:
    return f"""
WITH comp AS ({_sql_dedup_components()})
SELECT d.doc_id,
       coalesce(c.component_id, d.doc_id) AS keeper_id,
       (d.doc_id = coalesce(c.component_id, d.doc_id)) AS is_keeper
FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 of 64 bits)."""
    from bfokg.operators.dedup import simhash_near_dups

    return simhash_near_dups(_docs(spark, sf_dir))


def q_embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path of q_embedding_topk).

    Oracle-checked (VERDICT r2 item 5): the crc32 sign family makes the
    bucket assignment itself SQL-replayable — the DuckDB oracle rebuilds
    the ±1 projections from the recursive-CTE crc32 and reproduces the
    exact bucket join, so the check covers the LSH structure (who probes
    whom), not just the cosine math. Ranking is over the rounded cosine
    (round_to=4) with the vec_id tiebreak on both sides; self matches
    occupy their rank (usually 1) and are filtered after, exactly as the
    SQL does."""
    from bfokg.operators.similarity_search import lsh_topk

    embs = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(queries, embs, k=3, n_planes=6, hash_fn="crc32", round_to=4)
    return out.where(F.col("query_id") != F.col("vec_id")).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _sql_embedding_lsh_topk(n_planes: int = 6, seed: int = 42, table: int = 0) -> str:
    """DuckDB oracle for q_embedding_lsh_topk — the FULL LSH structure
    restated in SQL: crc32(f"lsh:{seed}:{table}:{plane}:{i}") % 2 picks the
    ±1 Rademacher signs (identical to Spark's F.crc32 of the same string),
    bit_p = (Σ v[i]·sign) > 0, bucket = Σ bit_p << p; then exact cosine
    top-3 within the query's bucket, ranked over round(cosine, 4) with the
    vec_id tiebreak, self filtered after ranking."""
    return f"""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
dims AS (SELECT DISTINCT i FROM e, unnest(range(len(emb))) AS u(i)),
pi AS (
  SELECT p.p, d.i, 'lsh:{seed}:{table}:' || p.p || ':' || d.i AS s
  FROM range({n_planes}) p(p), dims d
),
strs AS (SELECT DISTINCT s FROM pi),
{_sql_crc32_ctes('strs')},
signs AS (
  SELECT pi.p, list(CASE WHEN c.crc % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY pi.i) AS sv
  FROM pi JOIN crc32_out c ON c.s = pi.s
  GROUP BY pi.p
),
bucketed AS (
  SELECT e.vec_id, e.emb,
         sum(CASE WHEN list_dot_product(e.emb, s.sv) > 0
                  THEN (1 << s.p) ELSE 0 END) AS bucket
  FROM e CROSS JOIN signs s
  GROUP BY e.vec_id, e.emb
),
q AS (SELECT vec_id AS query_id, emb AS qvec, bucket FROM bucketed WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, b.vec_id,
         round(list_dot_product(q.qvec, b.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
  FROM q JOIN bucketed b ON b.bucket = q.bucket
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 3 AND vec_id <> query_id
"""


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the second scale path next to LSH): deterministic
    spherical-k-means centroids from the first 64 vectors, corpus assigned
    to cells via broadcast join, queries probe their 2 nearest of 8 cells.
    The DuckDB oracle recomputes the SAME centroids (shared _lloyd core on
    the same parquet sample) and replays cell assignment + probing
    exactly, so the IVF structure itself is hash-checked."""
    from bfokg.operators.similarity_search import (
        ivf_build, ivf_centroids, ivf_search,
    )

    embs = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = ivf_centroids(embs, n_centroids=8, sample=64)
    cells = ivf_build(embs, cents)  # build ONCE; ivf_search per query batch
    queries = embs.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_search(queries, cells, cents, k=3, nprobe=2, round_to=4)
    return out.where(F.col("query_id") != F.col("vec_id")).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def _sql_embedding_ivf_topk(n_centroids: int = 8, sample: int = 64,
                            nprobe: int = 2) -> str:
    """DuckDB oracle for q_embedding_ivf_topk: centroids recomputed with
    the SAME `_lloyd` numpy core from the same parquet sample (first 64
    vec_ids in seeded-hash order — zlib.crc32(str(id)) == Spark's
    crc32(cast(id as string)), tiebreak id — matching
    ivf_centroids' bias-free sampling, VERDICT r4) and inlined as VALUES;
    cell assignment (round(dot/norm, 9), tiebreak cell ASC) and nprobe
    probing replayed in SQL.

    The sample is read from ORACLE_SF_DIR (the dir the gate registers its
    DuckDB views from — tools/check_oracles.py exports the same env
    default), so the oracle's centroids always come from the SAME table
    the Spark query ran on (ADVICE r3 #1: a hardcoded sf0.01 path
    produced wrong-dataset centroids under any other ORACLE_SF_DIR)."""
    import pyarrow.parquet as pq

    from bfokg.operators.similarity_search import _lloyd

    sf_dir = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    ).to_pydict()
    from zlib import crc32 as _crc32

    order = sorted(
        range(len(tbl["vec_id"])),
        key=lambda i: (_crc32(str(tbl["vec_id"][i]).encode()), tbl["vec_id"][i]),
    )[:sample]
    cents = _lloyd([list(tbl["embedding"][i]) for i in order], n_centroids, 5)
    cent_values = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(cents)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cent(cell, cvec) AS (VALUES {cent_values}),
scored_cells AS (
  SELECT e.vec_id, e.emb, c.cell,
         round(list_dot_product(e.emb, c.cvec)
               / sqrt(list_dot_product(e.emb, e.emb)), 9) AS cdot
  FROM e CROSS JOIN cent c
),
ranked_cells AS (
  SELECT vec_id, emb, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, cell ASC) AS cr
  FROM scored_cells
),
corpus AS (SELECT vec_id, emb, cell FROM ranked_cells WHERE cr = 1),
q AS (SELECT vec_id AS query_id, emb AS qvec, cell
      FROM ranked_cells WHERE vec_id < 10 AND cr <= {nprobe}),
scored AS (
  SELECT DISTINCT q.query_id, c.vec_id,
         round(list_dot_product(q.qvec, c.emb)
               / (sqrt(list_dot_product(q.qvec, q.qvec))
                  * sqrt(list_dot_product(c.emb, c.emb))), 4) AS cosine
  FROM q JOIN corpus c ON c.cell = q.cell
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank
FROM ranked WHERE rank <= 3 AND vec_id <> query_id
"""


def q_embedding_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup dedup on the LSH-bucketed 100 TB path
    (dedup.embedding_near_dups(bucketed=True) composing
    similarity_search.lsh_bucket_candidates). The synthetic embeddings are
    near-random (max pairwise cosine ~0.51), so deterministic near-dups are
    derived first: vectors with vec_id < 50 get a perturbed copy (alternate
    dims ×1.02, new id +10000). The DuckDB oracle computes the EXACT
    all-pairs answer — green only while the bucket stage's recall is 1.0 on
    this table (also pinned in tests/test_corpus_ops.py)."""
    from bfokg.operators.dedup import embedding_near_dups

    embs = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = embs.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.zip_with(
            "embedding",
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda v, i: F.when(i % 2 == 0, v * 1.02).otherwise(v),
        ).alias("embedding"),
    )
    both = embs.unionByName(pert)
    # kernel bucketing (one BLAS matmul per batch); the oracle is the EXACT
    # all-pairs answer, so it checks recall
    pairs = embedding_near_dups(both, threshold=0.95, bucketed=True)
    return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


SQL_EMBEDDING_LSH_DUPS = """
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
pert AS (
  SELECT vec_id + 10000 AS vec_id,
         list_transform(range(1, len(emb) + 1),
                        i -> CASE WHEN (i - 1) % 2 = 0 THEN emb[i] * 1.02
                                  ELSE emb[i] END) AS emb
  FROM e0 WHERE vec_id < 50),
e AS (SELECT * FROM e0 UNION ALL SELECT * FROM pert)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95
"""


def q_zeroshot_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3-shaped scorer (hypothesis templating, softmax single-label)."""
    from bfokg.operators.zeroshot import classify_zeroshot

    ents = with_entity_text(entities_df(spark))
    return classify_zeroshot(ents, top_k=3).select(
        "entity_id", "class_uri", "class_label",
        F.round("confidence", 6).alias("confidence"), "rank",
    )


def q_kg_nodes_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline tail as a FULL oracle: graph nodes joined to the
    deterministic claims-path canonicalization (P31 → P279-closure →
    nearest BFO anchor). q_kg_nodes keeps the cascade/encoder-backed
    assignment (rows-only); this variant swaps in canonicalize_qids so the
    nodes_df join itself is hash-checked against DuckDB end to end."""
    from bfokg.operators.linking import alias_dict_df
    from bfokg.operators.triples import edges_df, nodes_df
    from bfokg.operators.wikidata import (
        canonicalize_qids,
        wd_anchors_df,
        wikidata_claims_df,
    )

    t = _transcripts(spark, sf_dir)
    edges = edges_df(t, alias_dict_df(spark))
    canon = canonicalize_qids(wikidata_claims_df(spark), wd_anchors_df(spark))
    assignments = canon.select(
        F.col("qid").alias("entity_id"),
        "class_uri",
        F.col("bfo_label").alias("class_label"),
        "confidence",
        F.lit("claims").alias("source"),
    )
    return nodes_df(edges, assignments).select(
        "qid", "bfo_class_uri", "bfo_label", "confidence", "source", "part"
    )


def _sql_kg_nodes_canon() -> str:
    from bfokg.operators.triples import triple_pattern

    path = _q(_oracle_transcripts_path())
    triple_rx = _q(triple_pattern())
    return f"""
WITH t AS (SELECT lower(text) AS lt FROM read_parquet({path})),
z AS (
  SELECT unnest(list_zip(regexp_extract_all(lt, {triple_rx}, 1),
                         regexp_extract_all(lt, {triple_rx}, 3))) AS trip
  FROM t),
alias_dict(alias, qid, label, prior) AS (VALUES
    {_alias_values()}),
best AS (
  SELECT alias, qid,
         row_number() OVER (PARTITION BY alias ORDER BY prior DESC, qid ASC) AS rn
  FROM alias_dict),
resolved AS (SELECT alias, qid FROM best WHERE rn = 1),
linkedp AS (
  SELECT s.qid AS sq, o.qid AS oq
  FROM z
  JOIN resolved s ON trip[1] = s.alias
  JOIN resolved o ON trip[2] = o.alias),
qids AS (SELECT DISTINCT sq AS qid FROM linkedp
         UNION SELECT DISTINCT oq FROM linkedp),
canon AS ({_sql_wikidata_canon()})
SELECT q.qid, c.class_uri AS bfo_class_uri, c.bfo_label, c.confidence,
       CASE WHEN c.qid IS NOT NULL THEN 'claims' END AS source,
       coalesce(c.bfo_label, 'unclassified') AS part
FROM qids q LEFT JOIN canon c ON q.qid = c.qid
"""


def _golden_values() -> str:
    from bfokg.ontology import uri_for_label

    return ",\n    ".join(
        f"({_q(e)}, {_q(gt)}, {_q(uri_for_label(gt))})"
        for e, _l, _d, _a, gt in _FIXTURES
    )


def q_eval_rule_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 evaluator math as an oracle: per-class hit@3 of the
    rule-based classifier against the 29 golden fixtures — the hit
    semi-join, per-entity dedup, and per-class aggregate all replayed in
    DuckDB."""
    from bfokg.evaluation.evaluator import per_class_accuracy
    from bfokg.fixtures import fixtures_df

    preds = q_rule_based(spark, sf_dir)
    golden = fixtures_df(spark).select(
        F.col("id").alias("entity_id"), "gt_bfo_label", "gt_bfo_uri"
    )
    return per_class_accuracy(preds, golden, top_k=3).select(
        "gt_bfo_label",
        F.round("accuracy", 6).alias("accuracy"),
        F.col("n").cast("long").alias("n"),
    )


def _sql_eval_rule_accuracy() -> str:
    return f"""
WITH preds AS ({SQL_RULE_BASED}),
golden(entity_id, gt_bfo_label, gt_bfo_uri) AS (VALUES
    {_golden_values()}),
hits AS (
  SELECT g.entity_id, g.gt_bfo_label,
         CASE WHEN EXISTS (
             SELECT 1 FROM preds p
             WHERE p.entity_id = g.entity_id
               AND p.class_uri = g.gt_bfo_uri AND p.rank <= 3)
              THEN 1 ELSE 0 END AS hit
  FROM golden g)
SELECT gt_bfo_label, round(avg(hit), 6) AS accuracy, count(*) AS n
FROM hits GROUP BY gt_bfo_label
"""


def q_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph nodes with BFO canonicalization (full pipeline tail)."""
    from bfokg.operators.linking import alias_dict_df
    from bfokg.operators.triples import edges_df, nodes_df
    from bfokg.plans.pipeline import classify_entities

    t = _transcripts(spark, sf_dir)
    edges = edges_df(t, alias_dict_df(spark))
    return nodes_df(edges, classify_entities(spark)).select(
        "qid", "bfo_class_uri", "bfo_label", "source"
    )


# --------------------------------------------------------------------------
# Driver contract
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction DAG on the sf0.001 transcripts."""
    import tempfile

    t = _transcripts(spark, "/root/testdata/sf0.001")
    from bfokg.plans.pipeline import run_pipeline

    out = tempfile.mkdtemp(prefix="bfokg_entry_")
    res = run_pipeline(spark, t, out)
    return res["edges"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order matters: the driver's CORRECTNESS artifact records at
    most 50 entries in registry order, so ALL oracle-backed queries come
    first (50 as of round 5 — dedup_keep_list, lsh_jaccard and doc_splits
    joined round 4's 47, filling the cap exactly) and the
    rows-only float32 production twins — each semantically pinned by a
    hash-checked float64 ``*_exact`` sibling above — are listed last
    (VERDICT r4 item 1).
    """
    return {
        # reference parity (SURVEY.md §2) — all oracle-backed
        "entity_text": q_entity_text,                  # P1/P5/P6
        "keyword_scores": q_keyword_scores,            # P3/P4
        "rule_based": q_rule_based,                    # J1/J2
        "bfo_closure": q_bfo_closure,                  # S4/J6 closure
        "parent_inference": q_parent_inference,        # C6
        "tiered_routes": q_tiered_routes,              # C4 routing
        "ensemble": q_ensemble,                        # A1/C2
        "hybrid_confidence": q_hybrid_confidence,      # A2/C3
        "cascade_trace": q_cascade_trace,              # C1
        "wikidata_canon": q_wikidata_canon,            # P31/P279 closure canon
        # transcripts KG pipeline (north_rule) — oracle-backed
        "transcripts_scan": q_transcripts_scan,
        "mentions": q_mentions,
        "linked_mentions": q_linked_mentions,
        "triples_raw": q_triples_raw,
        "edges": q_edges,
        "kg_nodes_canon": q_kg_nodes_canon,            # pipeline tail, oracle
        "eval_rule_accuracy": q_eval_rule_accuracy,    # A3/A4 evaluator oracle
        # training-data / corpus operators — oracle-backed
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,                  # crc32-replayed, oracle
        "lsh_jaccard": q_lsh_jaccard,                  # LSH→exact-verify, oracle
        "dedup_components": q_dedup_components,        # pairs→clusters, oracle
        "dedup_keep_list": q_dedup_keep_list,          # corpus keep/drop, oracle
        "simhash": q_simhash,                          # crc32-replayed, oracle
        "doc_stats": q_doc_stats,
        "doc_splits": q_doc_splits,                    # hash split + stratified sample, oracle
        "doc_semantic_exact": q_doc_semantic_exact,    # kernel math, oracle
        "semantic_matches_exact": q_semantic_matches_exact,  # top-3 kernel oracle
        "zeroshot_matches_exact": q_zeroshot_matches_exact,  # softmax scorer oracle
        "cascade_exact": q_cascade_exact,              # full cascade, oracle
        "hierarchical_exact": q_hierarchical_exact,    # recursive-CTE walk oracle
        "doc_hierarchy_exact": q_doc_hierarchy_exact,  # doc-scale walk, oracle
        "doc_cascade_exact": q_doc_cascade_exact,      # doc-scale cascade, oracle
        "embedding_topk": q_embedding_topk,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_lsh_topk": q_embedding_lsh_topk,    # crc32-replayed buckets
        "embedding_ivf_topk": q_embedding_ivf_topk,    # IVF cells, oracle
        "embedding_lsh_dups": q_embedding_lsh_dups,    # bucketed dedup path
        "multimodal_meta": q_multimodal_meta,
        "image_features": q_image_features,            # real PNM decode, oracle
        "audio_features": q_audio_features,            # real WAV PCM decode, oracle
        "video_features": q_video_features,            # real Y4M decode + frame sampling, oracle
        "image_resize": q_image_resize,                # NN resize, output bytes sha-checked
        # relational operator demos — oracle-backed
        "pricing_summary": q_pricing_summary,
        "customer_nation_revenue": q_customer_nation_revenue,
        "events_topn": q_events_topn,
        "events_windowed": q_events_windowed,
        "events_rollup": q_events_rollup,
        "customers_without_orders": q_customers_without_orders,
        "set_ops": q_set_ops,
        # rows-only float32 production twins (semantics pinned by the
        # hash-checked float64 *_exact oracles above) — keep LAST
        "semantic_matches": q_semantic_matches,        # M1/M2/T1/P7 (rows-only)
        "zeroshot_matches": q_zeroshot_matches,        # M3/P8/P9 (rows-only)
        "cascade_assignments": q_cascade_assignments,  # C1 full (rows-only)
        "hierarchical": q_hierarchical,                # C5 (rows-only)
        "kg_nodes": q_kg_nodes,                        # rows-only
        "doc_semantic": q_doc_semantic,                # rows-only (kernel)
        "doc_hierarchy": q_doc_hierarchy,              # rows-only (kernel)
        "doc_cascade": q_doc_cascade,                  # rows-only (SF-prop cascade)
    }


def oracle_sql() -> dict[str, str]:
    sqls = {
        "entity_text": SQL_ENTITY_TEXT,
        "keyword_scores": SQL_KEYWORD_SCORES,
        "rule_based": SQL_RULE_BASED,
        "bfo_closure": SQL_BFO_CLOSURE,
        "parent_inference": SQL_PARENT_INFERENCE,
        "tiered_routes": SQL_TIERED_ROUTES,
        "ensemble": SQL_ENSEMBLE,
        "hybrid_confidence": SQL_HYBRID,
        "cascade_trace": SQL_CASCADE_TRACE,
        "wikidata_canon": _sql_wikidata_canon(),
        "dedup_exact": SQL_DEDUP_EXACT,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_lsh": _sql_minhash_lsh(),
        "lsh_jaccard": _sql_lsh_jaccard(),
        "dedup_components": _sql_dedup_components(),
        "dedup_keep_list": _sql_dedup_keep_list(),
        "simhash": _sql_simhash(),
        "kg_nodes_canon": _sql_kg_nodes_canon(),
        "eval_rule_accuracy": _sql_eval_rule_accuracy(),
        "doc_semantic_exact": _sql_doc_semantic_exact(),
        "semantic_matches_exact": _sql_semantic_matches_exact(),
        "zeroshot_matches_exact": _sql_zeroshot_matches_exact(),
        "cascade_exact": _sql_cascade_exact(),
        "hierarchical_exact": _sql_hierarchical_exact(),
        "doc_hierarchy_exact": _sql_doc_hierarchy_exact(),
        "doc_cascade_exact": _sql_doc_cascade_exact(),
        "doc_stats": _sql_doc_stats(),
        "doc_splits": _sql_doc_splits(),
        "embedding_topk": SQL_EMBEDDING_TOPK,
        "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
        "embedding_lsh_topk": _sql_embedding_lsh_topk(),
        "embedding_lsh_dups": SQL_EMBEDDING_LSH_DUPS,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "image_features": SQL_IMAGE_FEATURES,
        "audio_features": SQL_AUDIO_FEATURES,
        "video_features": SQL_VIDEO_FEATURES,
        "image_resize": SQL_IMAGE_RESIZE,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "customer_nation_revenue": SQL_CUSTOMER_NATION_REVENUE,
        "events_topn": SQL_EVENTS_TOPN,
        "events_windowed": SQL_EVENTS_WINDOWED,
        "events_rollup": SQL_EVENTS_ROLLUP,
        "customers_without_orders": SQL_CUSTOMERS_WITHOUT_ORDERS,
        "set_ops": SQL_SET_OPS,
    }
    sqls.update(_sql_transcripts_pipeline())
    # The IVF oracle is the ONE entry that must read a parquet sample to
    # build its SQL (centroids are inlined VALUES). On a clean checkout
    # with no testdata yet, omit it — the query degrades to rows-only —
    # instead of making oracle_sql() raise (ADVICE r3 #1). Every other
    # entry is a pure string.
    try:
        sqls["embedding_ivf_topk"] = _sql_embedding_ivf_topk()
    except (FileNotFoundError, OSError) as e:
        import warnings

        warnings.warn(f"embedding_ivf_topk oracle skipped (no testdata): {e}")
    return sqls
