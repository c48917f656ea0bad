"""Public API mirror of the reference classifier (SURVEY.md §3.3).

Reference usage (README.md:323-353):

    classifier = HybridClassifier(ontology, registry, config)
    result = classifier.classify(entity, strategy='cascade', top_k=3,
                                 hierarchical=True)

Our set-at-a-time mirror — same names, DataFrame-in / DataFrame-out:

    clf = Classifier(spark)                      # dims built once
    matches = clf.classify(entities_df, strategy="cascade", top_k=3)
    matches = clf.classify(entities_df, hierarchical=True)

Flat mode appends parent-inference rows (source='inferred') when
``infer_parent_classes`` is on, exactly like the reference's top-level
classify (hybrid.py:136-139: flat mode only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .config import EngineConfig
from .functions.text import with_entity_text
from .ontology import bfo_classes_df, bfo_closure_df


class Classifier:
    """Driver-side facade: builds the dimension tables and classifier
    callables once, then classifies arbitrary entity DataFrames."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None = None,
        preset: str | None = None,
    ):
        """``preset`` selects one of the reference's 5 model presets
        (configs/models.yaml:133-178) via ``EngineConfig.from_preset``;
        an explicit ``config`` wins over ``preset``."""
        from .plans.pipeline import default_classifiers

        self.spark = spark
        if config is not None:
            self.config = config
        elif preset is not None:
            self.config = EngineConfig.from_preset(preset)
        else:
            self.config = EngineConfig()
        self.classes = bfo_classes_df(spark)
        self.closure = bfo_closure_df(spark)
        self.classifiers = default_classifiers(spark, self.config)

    def classify(
        self,
        entities: DataFrame,
        strategy: str = "cascade",
        top_k: int | None = None,
        hierarchical: bool = False,
    ) -> DataFrame:
        """entities needs (id, label, description, aliases[, claims]);
        returns matches rows (+ inferred parents in flat mode)."""
        from .operators.hierarchy import classify_hierarchical
        from .operators.strategies import classify, infer_parents

        k = top_k or self.config.top_k
        ents = with_entity_text(entities) if "text" not in entities.columns else entities
        if hierarchical:
            # strategy is intentionally ignored in hierarchical mode, like
            # the reference (hybrid.py:332, 338-342) — scoring is semantic.
            return classify_hierarchical(ents, source=f"hierarchical_{strategy}")
        matches = classify(ents, self.classifiers, strategy=strategy, top_k=k)
        if self.config.infer_parent_classes:
            parents = infer_parents(matches, self.closure, bfo_classes=self.classes)
            matches = matches.unionByName(parents)
        return matches

    def compare_strategies(self, entities: DataFrame) -> DataFrame:
        from .plans.pipeline import compare_strategies

        ents = with_entity_text(entities) if "text" not in entities.columns else entities
        return compare_strategies(self.spark, ents)
