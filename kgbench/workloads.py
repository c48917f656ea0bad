"""The benchmark workloads, run in a closed loop (the next iteration starts
after the previous one committed its tables or consumed its result).

A workload prepares its seeded inputs and reference once per seed, then
``iterate`` runs the timed call and returns what the output check needs.
``isolated`` is the traced run's extra: each module's public function called
on its own, construction and action timed apart, with a ``noop``-sink
action at its boundary.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs, reference

KG_TURNS = 6_000
CORPUS_BASE_DOCS = 400


@dataclass
class Span:
    iteration: int
    group: str
    name: str
    phase: str          # "call" | "construct" | "action"
    top: bool           # part of the workload's own call (not an isolated one)
    start_ms: float
    end_ms: float

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class NoTrace:
    """Tracer stand-in for untraced iterations: spans cost nothing."""

    def span(self, name: str, phase: str, top: bool = True):
        return contextlib.nullcontext()


@dataclass
class Tracer:
    """Wraps each public call in its own Spark job group and records its
    wall-clock span; the event log attributes jobs back through the group."""

    spark: object
    iteration: int = 0
    spans: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, phase: str, top: bool = True):
        sc = self.spark.sparkContext
        group = f"kgbench-{self.iteration}-{len(self.spans)}"
        sc.setJobGroup(group, f"{name} [{phase}]", False)
        start = time.time() * 1000.0
        try:
            yield
        finally:
            end = time.time() * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(self.iteration, group, name, phase, top, start, end))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _isolated(tr, name: str, build):
    """Time ``build()`` (construction, including any jobs it launches) and
    the ``noop`` action on its result as two spans; return the result."""
    with tr.span(name, "construct", top=False):
        df = build()
    with tr.span(name, "action", top=False):
        noop(df)
    return df


def lineage_windows(out_dir: str) -> dict:
    """stage → (start_ms, end_ms) from the LineageLog rows a plan run
    committed under ``out_dir`` (one stage-level row per stage, part '*')."""
    root = os.path.join(out_dir, "lineage")
    (run_dir,) = [os.path.join(root, d) for d in os.listdir(root)]
    rows = reference.committed_rows(run_dir, ["stage", "part", "started_ts",
                                              "finished_ts"])
    return {s: (a.timestamp() * 1000.0, b.timestamp() * 1000.0)
            for s, p, a, b in rows if p == "*"}


class KgBuild:
    """The transcript side: ``run_pipeline`` into a fresh out dir, then
    ``extract_mentions`` → ``link_mentions`` of the same turns against the
    10,029-surface dictionary, consumed by a ``noop`` sink with all columns."""

    name = "kg_build"
    call = "plans.pipeline.run_pipeline"
    link_call = "linking.extract_mentions+link_mentions"
    # LineageLog stages of the call, reported as pipeline.<stage>_*
    stage_prefix, stages = "pipeline", ("extract", "edges", "nodes")

    def __init__(self, items: int = KG_TURNS):
        self.items = items  # transcript turns

    def prepare(self, cache_root: str, seed: int) -> None:
        def build(tmp):
            aliases = inputs.alias_dictionary(seed)
            transcripts = os.path.join(tmp, "transcripts")
            inputs.write_transcripts(transcripts, seed, self.items, aliases)
            cols = list(zip(*aliases))
            pq.write_table(pa.table({
                "alias": pa.array(cols[0], pa.string()),
                "qid": pa.array(cols[1], pa.string()),
                "label": pa.array(cols[2], pa.string()),
                "prior": pa.array(cols[3], pa.float64()),
            }), os.path.join(tmp, "aliases.parquet"))
            inputs.save_json(os.path.join(tmp, "expected.json"), {
                **reference.kg_reference(transcripts),
                "mentions": reference.linking_reference(transcripts, aliases),
            })

        d = inputs.cached(cache_root, f"kg_build-n{self.items}-s{seed}", build)
        self.transcripts = os.path.join(d, "transcripts")
        self.aliases = os.path.join(d, "aliases.parquet")
        self.expected = inputs.load_json(os.path.join(d, "expected.json"))

    def _surfaces(self) -> list[str]:
        return pq.read_table(self.aliases, columns=["alias"]).column(0).to_pylist()

    def iterate(self, spark, out_dir: str, tr=NoTrace()):
        from pyspark.sql import Observation, functions as F

        from bfokg.operators.linking import extract_mentions, link_mentions
        from bfokg.plans.pipeline import run_pipeline

        with tr.span(self.call, "call"):
            run_pipeline(spark, spark.read.parquet(self.transcripts), out_dir)

        obs = Observation("kgbench_linked")
        with tr.span(self.link_call, "construct"):
            mentions = extract_mentions(spark.read.parquet(self.transcripts),
                                        surfaces=self._surfaces())
            linked = link_mentions(mentions, spark.read.parquet(self.aliases))
            key = F.concat_ws("|", *[F.col(c).cast("string")
                                     for c in reference.MENTION_FIELDS])
            consumed = linked.observe(obs, F.count(F.lit(1)).alias("rows"),
                                      F.sum(F.crc32(key)).alias("crc32_sum"))
        with tr.span(self.link_call, "action"):
            noop(consumed)
        return out_dir, obs

    def output(self, handle) -> dict:
        out_dir, obs = handle
        got = obs.get
        return {**reference.kg_output(out_dir),
                "mentions": {"rows": int(got["rows"]),
                             "crc32_sum": int(got["crc32_sum"] or 0)}}

    def isolated(self, spark, tr, out_dir: str) -> None:
        from bfokg.api import Classifier
        from bfokg.fixtures import entities_df
        from bfokg.functions.text import with_entity_text
        from bfokg.ontology import bfo_classes_df, bfo_closure_df
        from bfokg.operators.linking import alias_dict_df, extract_mentions, link_mentions
        from bfokg.operators.rule_based import (
            classify_rule_based,
            keyword_rules_df,
            p31_rules_df,
        )
        from bfokg.operators.semantic import classify_semantic
        from bfokg.operators.strategies import cascade, infer_parents
        from bfokg.operators.triples import dedup_triples, extract_triples, link_triples
        from bfokg.plans.pipeline import default_classifiers
        from bfokg.sources.warehouse import read_table

        transcripts = spark.read.parquet(self.transcripts)
        raw = read_table(spark, os.path.join(out_dir, "raw_triples"))
        _isolated(tr, "triples.extract_triples", lambda: extract_triples(transcripts))
        linked = _isolated(tr, "triples.link_triples",
                           lambda: link_triples(raw, alias_dict_df(spark)))
        _isolated(tr, "triples.dedup_triples", lambda: dedup_triples(linked))

        surfaces = self._surfaces()
        mentions = _isolated(tr, "linking.extract_mentions",
                             lambda: extract_mentions(transcripts, surfaces=surfaces))
        # link over materialized mentions, so the action times linking alone
        staged = os.path.join(out_dir, "mentions")
        mentions.write.parquet(staged)
        _isolated(tr, "linking.link_mentions", lambda: link_mentions(
            spark.read.parquet(staged), spark.read.parquet(self.aliases)))

        # the node stage's classifier layer, on the same 29 driver-resident
        # fixtures run_pipeline classifies
        ents = with_entity_text(entities_df(spark))
        classes = bfo_classes_df(spark)
        _isolated(tr, "rule_based.classify_rule_based", lambda: classify_rule_based(
            ents, classes, p31_rules_df(spark), keyword_rules_df(spark), top_k=3))
        _isolated(tr, "semantic.classify_semantic",
                  lambda: classify_semantic(ents, top_k=3))
        matches = _isolated(tr, "strategies.cascade", lambda: cascade(
            ents, default_classifiers(spark), top_k=3)[0])
        local = spark.createDataFrame(matches.collect(), matches.schema)
        _isolated(tr, "strategies.infer_parents", lambda: infer_parents(
            local, bfo_closure_df(spark), bfo_classes=classes))
        clf = Classifier(spark)
        _isolated(tr, "api.Classifier.classify", lambda: clf.classify(
            entities_df(spark), strategy="cascade", top_k=3))


class CorpusCuration:
    name = "corpus_curation"
    call = "plans.curation.run_curation"
    stage_prefix, stages = "curation", ("stats", "pairs", "keep_list", "corpus")

    def __init__(self, base_docs: int = CORPUS_BASE_DOCS):
        self.base_docs = base_docs
        self.items = base_docs * inputs.DOC_COPIES  # documents

    def prepare(self, cache_root: str, seed: int) -> None:
        def build(tmp):
            clusters = inputs.write_corpus(os.path.join(tmp, "docs"), seed,
                                           self.base_docs)
            inputs.save_json(os.path.join(tmp, "expected.json"),
                             reference.curation_reference(clusters))

        d = inputs.cached(cache_root, f"corpus_curation-n{self.base_docs}-s{seed}", build)
        self.docs = os.path.join(d, "docs")
        self.expected = inputs.load_json(os.path.join(d, "expected.json"))

    def iterate(self, spark, out_dir: str, tr=NoTrace()):
        from bfokg.plans.curation import run_curation

        with tr.span(self.call, "call"):
            run_curation(spark, spark.read.parquet(self.docs), out_dir)
        return out_dir

    def output(self, handle) -> dict:
        return reference.curation_output(handle)

    def isolated(self, spark, tr, out_dir: str) -> None:
        from bfokg.operators.dedup import dedup_keep_list, minhash_lsh_pairs
        from bfokg.sources.warehouse import read_table
        from bfokg.util import release_intermediates

        docs = spark.read.parquet(self.docs)
        pairs = _isolated(tr, "dedup.minhash_lsh_pairs",
                          lambda: minhash_lsh_pairs(docs, threshold=0.5))
        release_intermediates(pairs)
        committed = read_table(spark, os.path.join(out_dir, "dup_pairs"))
        keep = _isolated(tr, "dedup.dedup_keep_list",
                         lambda: dedup_keep_list(docs, committed))
        release_intermediates(keep)


WORKLOADS = {w.name: w for w in (KgBuild, CorpusCuration)}
