"""The flagship KG-construction DAG, checkpoint-resumable.

Every stage is one ``LineageLog.stage`` call: a committed warehouse
snapshot plus lineage rows, skipped by ``resume=True`` once committed.

  1. ``extract`` — ``extract_triples`` (JVM ``regexp_extract_all``) over
                   every turn → ``raw_triples``
  2. ``edges``   — link (broadcast) → dedup (window), partitioned by
                   predicate
  3. ``nodes``   — distinct qids × cascade, partitioned like the edges
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import TOP_K_DEFAULT
from ..fixtures import entities_df
from ..functions.text import with_entity_text
from ..ontology import bfo_classes_df
from ..operators.linking import alias_dict_df
from ..operators.rule_based import classify_rule_based, keyword_rules_df, p31_rules_df
from ..operators.semantic import classify_semantic
from ..operators.strategies import cascade
from ..operators.triples import dedup_triples, extract_triples, link_triples, nodes_df
from ..sources.warehouse import LineageLog


def _semantic_encoder(cfg):
    """Preset-selected encoder: the SentenceTransformer adapter when the
    library is importable (production path, model name from the preset —
    reference model_registry.py:45-69), else ``None`` so classify_semantic
    falls back to the deterministic corpus-grounded encoder. The dataflow
    is identical either way — only the closure-captured encoder changes."""
    try:
        import sentence_transformers  # noqa: F401  (import-gated)
    except ImportError:
        return None
    from ..functions.encoders import SentenceTransformerEncoder

    return SentenceTransformerEncoder(cfg.semantic_model, dim=cfg.encoder_dim)


def default_classifiers(spark: SparkSession, config=None):
    """C9 — config-gated classifier table (reference hybrid.py:54-95: the
    zeroshot stage only exists when a model is configured; finetuned is a
    disabled stub slot, configs/classification.yaml:55-57)."""
    from ..config import EngineConfig

    cfg = config or EngineConfig()
    classes = bfo_classes_df(spark)
    p31 = p31_rules_df(spark)
    kw = keyword_rules_df(spark)
    encoder = _semantic_encoder(cfg)
    clf = {
        "rule_based": lambda df, k: classify_rule_based(df, classes, p31, kw, top_k=k or TOP_K_DEFAULT),
        "semantic": lambda df, k: classify_semantic(df, encoder=encoder, top_k=k),
    }
    if cfg.zeroshot_enabled:
        from ..operators.zeroshot import classify_zeroshot

        clf["zeroshot"] = lambda df, k: classify_zeroshot(df, top_k=k)
    return clf


def compare_strategies(spark: SparkSession, entities: DataFrame,
                       strategies: list[str] | None = None) -> DataFrame:
    """C8 — run every strategy on the same entities (hybrid.py:609-633);
    one output DataFrame with a ``strategy`` column."""
    from ..operators.strategies import classify

    clf = default_classifiers(spark)
    names = strategies or ["cascade", "ensemble", "hybrid_confidence", "tiered"]
    out = None
    for name in names:
        part = classify(entities, clf, strategy=name).withColumn("strategy", F.lit(name))
        out = part if out is None else out.unionByName(part)
    return out


def classify_entities(
    spark: SparkSession,
    entities: DataFrame | None = None,
) -> DataFrame:
    """Entity → BFO assignment via the cascade strategy (rank-1 rows);
    ``entities`` defaults to the vendored fixtures. Lazy: no job runs
    until the caller's action."""
    ents = with_entity_text(entities if entities is not None else entities_df(spark))
    matches, _trace = cascade(ents, default_classifiers(spark))
    return matches.where(F.col("rank") == 1)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    resume: bool = False,
) -> dict:
    """Run the full DAG; returns {'edges': DataFrame, 'nodes': DataFrame,
    'edges_manifest': path, 'lineage': manifest|None, 'skipped': [stages]}."""
    log = LineageLog(spark)
    raw_dir = os.path.join(out_dir, "raw_triples")
    edges_dir = os.path.join(out_dir, "edges")
    nodes_dir = os.path.join(out_dir, "nodes")

    raw = log.stage("extract", raw_dir, extract_triples, resume=resume,
                    source=transcripts)
    edges = log.stage(
        "edges", edges_dir,
        lambda: dedup_triples(link_triples(raw, alias_dict_df(spark)))
        .withColumn("part", F.col("pred")),
        resume=resume, parents=[raw_dir], partition_by=["part"],
        extra={"dedup_key": "(subj_qid,pred,obj_qid)"},
    )
    nodes = log.stage(
        "nodes", nodes_dir,
        lambda: nodes_df(edges, classify_entities(spark)),
        resume=resume, parents=[edges_dir], partition_by=["part"],
    )
    return {
        "edges": edges,
        "nodes": nodes,
        "edges_manifest": os.path.join(edges_dir, "_MANIFEST.json"),
        "lineage": log.write(os.path.join(out_dir, "lineage")),
        "skipped": log.skipped,
    }
