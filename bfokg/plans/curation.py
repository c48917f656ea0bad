"""End-to-end corpus-curation DAG — the training-data twin of
``plans.pipeline.run_pipeline``: raw documents in, training-ready corpus
out. Every stage is one ``LineageLog.stage`` call: a committed warehouse
snapshot plus lineage rows, skipped by ``resume=True`` once committed.
No reference counterpart (the reference classifies a fixed 29-example
corpus).

  1. ``stats``     — textstats projection (tokens, lang-ID, quality,
                     duplicate-line fraction, fingerprint), partitioned
                     by ``lang_pred``
  2. ``pairs``     — MinHash+LSH near-dup pairs over quality-passing docs
  3. ``keep_list`` — pairs → connected components → per-doc
                     (keeper_id, is_keeper)
  4. ``corpus``    — keepers ∧ quality gate, deterministic
                     train/val/test ``hash_split`` + per-language
                     ``stratified_sample``, partitioned by ``split``
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.textstats import (
    dup_line_fraction_col,
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    token_count_col,
)
from ..operators.dedup import dedup_keep_list, minhash_lsh_pairs
from ..operators.sampling import hash_split, stratified_sample
from ..sources.warehouse import LineageLog


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    resume: bool = False,
    *,
    min_quality: float = 0.0,
    max_dup_line_frac: float | None = None,
    dup_threshold: float = 0.5,
    split_weights: dict[str, float] | None = None,
    lang_fractions: dict[str, float] | None = None,
    default_fraction: float = 1.0,
    redact_pii: bool = False,
    seed: int = 42,
) -> dict:
    """Run the curation DAG over ``docs`` (``doc_id``, ``text``).

    Returns ``{'corpus': DataFrame, 'corpus_manifest': path,
    'lineage': manifest|None, 'skipped': [stages]}``."""
    log = LineageLog(spark)
    # the quality gate shared by stages 2-4: composite score plus the
    # Gopher-style duplicate-line repetition cap when requested
    gate = F.col("quality") >= min_quality
    if max_dup_line_frac is not None:
        gate = gate & (F.col("dup_line_frac") <= max_dup_line_frac)

    stats_dir = os.path.join(out_dir, "doc_stats")
    pairs_dir = os.path.join(out_dir, "dup_pairs")
    keep_dir = os.path.join(out_dir, "keep_list")
    corpus_dir = os.path.join(out_dir, "corpus")

    stats = log.stage(
        "stats", stats_dir,
        lambda observed: observed.select(
            "doc_id",
            token_count_col("text").alias("n_tokens"),
            lang_id_col("text").alias("lang_pred"),
            quality_score_col("text").alias("quality"),
            dup_line_fraction_col("text").alias("dup_line_frac"),
            fingerprint_col("text").alias("fingerprint"),
        ),
        resume=resume, partition_by=["lang_pred"], source=docs,
    )
    eligible = docs.join(stats.where(gate).select("doc_id"), "doc_id")
    pairs = log.stage(
        "pairs", pairs_dir,
        lambda: minhash_lsh_pairs(eligible, threshold=dup_threshold),
        resume=resume, parents=[stats_dir], extra={"threshold": dup_threshold},
    )
    keep = log.stage("keep_list", keep_dir,
                     lambda: dedup_keep_list(eligible, pairs),
                     resume=resume, parents=[pairs_dir])

    def final_corpus():
        kept = (
            docs.join(stats, "doc_id")
            .join(keep.where(F.col("is_keeper")).select("doc_id"), "doc_id")
            .where(gate)
        )
        if redact_pii:
            from ..functions.textstats import redact_pii_col

            kept = kept.withColumn("text", redact_pii_col("text"))
        labeled = hash_split(kept, split_weights, seed=seed)
        return stratified_sample(
            labeled, lang_fractions or {}, "lang_pred",
            default_fraction=default_fraction, seed=seed,
        ).select("doc_id", "text", "n_tokens", "lang_pred", "quality",
                 "fingerprint", "split")

    corpus = log.stage(
        "corpus", corpus_dir, final_corpus,
        resume=resume, parents=[keep_dir, stats_dir], partition_by=["split"],
        extra={"min_quality": min_quality,
               "max_dup_line_frac": max_dup_line_frac,
               "default_fraction": default_fraction,
               "redact_pii": redact_pii},
    )
    return {
        "corpus": corpus,
        "corpus_manifest": os.path.join(corpus_dir, "_MANIFEST.json"),
        "lineage": log.write(os.path.join(out_dir, "lineage")),
        "skipped": log.skipped,
    }
