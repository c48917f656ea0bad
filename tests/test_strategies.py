"""Exact control-flow tests for C1-C4/C6 with injected deterministic
classifiers (no kernels) — semantics pinned by SURVEY.md §2.7."""

import pytest
from pyspark.sql import functions as F

from bfokg.operators.strategies import (
    cascade,
    classify,
    ensemble,
    hybrid_confidence,
    infer_parents,
    tiered,
)

URI = "http://purl.obolibrary.org/obo/"


def make_entities(spark, rows):
    return spark.createDataFrame(
        rows, "id string, label string, description string, aliases array<string>, text string"
    )


def fake_classifier(spark, rows):
    """rows: (entity_id, class_uri, class_label, confidence, source, rank)"""
    matches = spark.createDataFrame(
        rows,
        "entity_id string, class_uri string, class_label string, "
        "confidence double, source string, rank int",
    )

    def fn(df, k):
        return matches.join(
            df.select(F.col("id").alias("entity_id")), "entity_id", "left_semi"
        )

    return fn


def test_cascade_accept_continue_last_nonempty(spark):
    """e1: rule accepts (0.95 ≥ 0.90). e2: rule below threshold → semantic
    accepts. e3: rule empty, semantic below 0.55 → zeroshot below 0.70 →
    never accepted → LAST non-empty stage (zeroshot) wins."""
    ents = make_entities(
        spark,
        [("e1", "a", "d", [], "t"), ("e2", "a", "d", [], "t"), ("e3", "a", "d", [], "t")],
    )
    rule = fake_classifier(
        spark,
        [("e1", URI + "A", "A", 0.95, "rule_based", 1),
         ("e2", URI + "B", "B", 0.30, "rule_based", 1)],
    )
    semantic = fake_classifier(
        spark,
        [("e2", URI + "C", "C", 0.60, "semantic", 1),
         ("e3", URI + "D", "D", 0.40, "semantic", 1)],
    )
    zeroshot = fake_classifier(
        spark, [("e3", URI + "E", "E", 0.50, "zeroshot", 1)]
    )
    matches, trace = cascade(
        ents, {"rule_based": rule, "semantic": semantic, "zeroshot": zeroshot}
    )
    got = {(r.entity_id, r.class_label, r.source) for r in matches.collect()}
    assert got == {("e1", "A", "rule_based"), ("e2", "C", "semantic"), ("e3", "E", "zeroshot")}

    tr = {(r.entity_id, r.classifier): r.decision for r in trace.collect()}
    assert tr[("e1", "rule_based")] == "ACCEPTED"
    assert tr[("e2", "rule_based")] == "CONTINUE"
    assert tr[("e2", "semantic")] == "ACCEPTED"
    assert tr[("e3", "rule_based")] == "NO_RESULTS"
    assert tr[("e3", "semantic")] == "CONTINUE"
    assert tr[("e3", "zeroshot")] == "CONTINUE"
    assert ("e1", "semantic") not in tr  # accepted rows leave the cascade


def test_ensemble_weighted_sum(spark):
    """A1: conf(X) = 0.15*rule + 0.50*semantic (weights from config)."""
    ents = make_entities(spark, [("e1", "a", "d", [], "t")])
    rule = fake_classifier(spark, [("e1", URI + "X", "X", 0.8, "rule_based", 1)])
    semantic = fake_classifier(
        spark,
        [("e1", URI + "X", "X", 0.6, "semantic", 1),
         ("e1", URI + "Y", "Y", 0.9, "semantic", 2)],
    )
    out = ensemble(ents, {"rule_based": rule, "semantic": semantic})
    rows = {r.class_label: r for r in out.collect()}
    assert abs(rows["X"].confidence - (0.15 * 0.8 + 0.50 * 0.6)) < 1e-12
    assert abs(rows["Y"].confidence - 0.50 * 0.9) < 1e-12
    assert rows["Y"].rank == 1  # 0.45 > 0.42
    assert rows["X"].sources == ["rule_based", "semantic"]


def test_hybrid_confidence_boost_and_cap(spark):
    """A2: agreement (2 votes) → min(max+0.15, 1.0); single vote → base."""
    ents = make_entities(spark, [("e1", "a", "d", [], "t")])
    rule = fake_classifier(
        spark,
        [("e1", URI + "X", "X", 0.92, "rule_based", 1),
         ("e1", URI + "Z", "Z", 0.10, "rule_based", 2)],
    )
    semantic = fake_classifier(spark, [("e1", URI + "X", "X", 0.60, "semantic", 1)])
    out = hybrid_confidence(ents, {"rule_based": rule, "semantic": semantic})
    rows = {r.class_label: r for r in out.collect()}
    assert abs(rows["X"].confidence - min(0.92 + 0.15, 1.0)) < 1e-12  # capped at 1.0
    assert abs(rows["Z"].confidence - 0.10) < 1e-12


def test_tiered_routing(spark):
    """C4: ≥3 aliases → cascade; short desc → ensemble; else semantic
    retagged 'tiered'."""
    long_desc = "x" * 60
    ents = make_entities(
        spark,
        [("many", "a", long_desc, ["1", "2", "3"], "t"),
         ("short", "a", "short desc", [], "t"),
         ("plain", "a", long_desc, [], "t")],
    )
    rule = fake_classifier(
        spark, [("many", URI + "A", "A", 0.95, "rule_based", 1)]
    )
    semantic = fake_classifier(
        spark,
        [("many", URI + "A", "A", 0.9, "semantic", 1),
         ("short", URI + "B", "B", 0.9, "semantic", 1),
         ("plain", URI + "C", "C", 0.9, "semantic", 1)],
    )
    out = tiered(ents, {"rule_based": rule, "semantic": semantic})
    rows = {(r.entity_id): r for r in out.where(F.col("rank") == 1).collect()}
    assert rows["many"].source == "rule_based"   # via cascade, accepted at stage 0
    assert rows["short"].source == "ensemble"
    assert rows["plain"].source == "tiered"      # retagged semantic


def test_infer_parents_flat_decay(spark):
    """C6: ancestors at conf × 0.9 FLAT; already-matched classes skipped;
    first (best-ranked) writer wins on shared ancestors."""
    from bfokg.ontology import bfo_classes_df, bfo_closure_df, uri_for_label

    matches = spark.createDataFrame(
        [("e1", uri_for_label("Object"), "Object", 0.8, "semantic", 1),
         ("e1", uri_for_label("MaterialEntity"), "MaterialEntity", 0.7, "semantic", 2)],
        "entity_id string, class_uri string, class_label string, "
        "confidence double, source string, rank int",
    )
    out = infer_parents(matches, bfo_closure_df(spark), bfo_classes=bfo_classes_df(spark))
    rows = {r.class_label: r for r in out.collect()}
    # MaterialEntity already matched directly → NOT inferred
    assert "MaterialEntity" not in rows
    # IndependentContinuant inherited from Object (rank 1): 0.8*0.9, flat
    assert abs(rows["IndependentContinuant"].confidence - 0.72) < 1e-12
    assert abs(rows["Entity"].confidence - 0.72) < 1e-12  # flat, not 0.8*0.9^4
    assert all(r.source == "inferred" for r in rows.values())


def test_dispatch_unknown_raises(spark):
    ents = make_entities(spark, [("e1", "a", "d", [], "t")])
    with pytest.raises(ValueError):
        classify(ents, {}, strategy="bogus")


STAGE_NAMES = ["rule_based", "semantic", "zeroshot"]
# every cascade threshold appears, so ties at the threshold are exercised
CONFIDENCES = [0.0, 0.3, 0.55, 0.6, 0.7, 0.8, 0.9, 0.95, 1.0]


def _staged_reference(entity_ids, stage_scores, order, thresholds):
    """hybrid.py:376-446 one entity at a time: each stage sees the entity
    only while no earlier stage accepted it; a never-accepted entity keeps
    its last non-empty stage's matches."""
    matches, trace = [], []
    for e in entity_ids:
        last_nonempty = None
        for i, name in enumerate(order):
            thr = thresholds[name]
            rows = stage_scores[i].get(e, [])
            if not rows:
                trace.append((e, i, name, None, None, thr, "NO_RESULTS"))
                continue
            top = min(rows, key=lambda r: r[5])
            if top[3] >= thr:
                trace.append((e, i, name, top[2], top[3], thr, "ACCEPTED"))
                last_nonempty = rows
                break
            trace.append((e, i, name, top[2], top[3], thr, "CONTINUE"))
            last_nonempty = rows
        matches.extend(last_nonempty or [])
    return sorted(matches), sorted(trace, key=repr)


def _stage_rows(name, per_entity):
    """{entity: [confidence, ...]} → matches rows ranked by confidence."""
    out = {}
    for e, confs in per_entity.items():
        ranked = sorted(confs, reverse=True)
        out[e] = [(e, f"{URI}{name}_{j}", f"{name}_{j}", c, name, j + 1)
                  for j, c in enumerate(ranked)]
    return out


def test_cascade_matches_staged_reference_property(spark):
    """The one-plan cascade (matches AND trace) equals a pure-Python
    staged replay on generated stage scores: confidences exactly at the
    thresholds, stages returning nothing for some entities, entities no
    stage accepts or no stage scores, and an empty entity frame."""
    from hypothesis import example, given, settings, strategies as st

    from bfokg.config import CASCADE_THRESHOLDS
    from bfokg.util import local_df

    matches_schema = ("entity_id string, class_uri string, class_label string, "
                      "confidence double, source string, rank int")
    entity_ids = [f"e{i}" for i in range(5)]
    scores = st.dictionaries(
        st.sampled_from(entity_ids),
        st.lists(st.sampled_from(CONFIDENCES), min_size=1, max_size=3),
        max_size=5,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        n_entities=st.integers(0, 5),
        stage_scores=st.lists(scores, min_size=2, max_size=3),
    )
    # nothing accepted anywhere; e1 scored by no stage
    @example(n_entities=2, stage_scores=[{"e0": [0.3]}, {"e0": [0.5]}, {}])
    # accepted exactly at each threshold; a stage empty for e1
    @example(n_entities=3, stage_scores=[{"e0": [0.9, 0.9]}, {"e1": [0.55]},
                                         {"e2": [0.7], "e1": [1.0]}])
    @example(n_entities=0, stage_scores=[{"e0": [1.0]}, {"e0": [1.0]}])
    def check(n_entities, stage_scores):
        order = STAGE_NAMES[: len(stage_scores)]
        ids = entity_ids[:n_entities]
        ents = local_df(
            spark, [(e, "l", "d", [], "t") for e in ids],
            "id string, label string, description string, "
            "aliases array<string>, text string",
        )
        per_stage = [_stage_rows(n, s) for n, s in zip(order, stage_scores)]

        def fake(rows):
            frame = local_df(spark, [r for rs in rows.values() for r in rs],
                             matches_schema)
            return lambda df, k: frame.join(
                df.select(F.col("id").alias("entity_id")), "entity_id", "left_semi")

        clf = {n: fake(rows) for n, rows in zip(order, per_stage)}
        matches, trace = cascade(ents, clf)
        want_m, want_t = _staged_reference(ids, per_stage, order, CASCADE_THRESHOLDS)
        assert sorted(tuple(r) for r in matches.collect()) == want_m
        assert sorted((tuple(r) for r in trace.collect()), key=repr) == want_t

    check()
