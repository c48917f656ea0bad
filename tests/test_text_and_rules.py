"""Mirrors reference tests/test_basic.py:39-74 (entity text invariant,
predicates, rule-based classifier)."""

from pyspark.sql import functions as F

from bfokg.fixtures import entities_df, micro_entities_df
from bfokg.functions.text import (
    has_many_aliases_col,
    has_short_description_col,
    natural_label,
    with_entity_text,
    word_tokens_col,
)
from bfokg.ontology import bfo_classes_df, uri_for_label
from bfokg.operators.rule_based import (
    classify_rule_based,
    keyword_rules_df,
    keyword_scores,
    p31_rules_df,
)


def test_get_text_exact(spark):
    # PARITY-CRITICAL: "Marie Curie: Polish-French physicist and chemist
    # (1867-1934)" — format asserted at reference tests/test_basic.py:48
    df = with_entity_text(entities_df(spark))
    row = df.where(F.col("id") == "Q_SYNTH_1").first()
    assert row.text == "Marie Curie: Polish-French physicist and chemist (1867-1934)"


def test_predicates(spark):
    # reference test_basic.py:49-50: 1 alias → not many; 25-char desc → short
    df = micro_entities_df(spark).select(
        "id",
        has_many_aliases_col().alias("many"),
        has_short_description_col().alias("short"),
    )
    rows = {r.id: r for r in df.collect()}
    assert not rows["Q1"].many
    assert rows["Q1"].short  # "A human being" is < 50 chars
    many = (
        entities_df(spark)
        .select("id", has_many_aliases_col().alias("many"))
        .where(F.col("id") == "Q_SYNTH_4")
        .first()
    )
    assert not many.many  # 2 aliases


def test_word_tokens(spark):
    df = spark.createDataFrame(
        [("1", "Self-sufficient blue-green WAR, postwar colour.")], "id string, text string"
    )
    toks = set(df.select(word_tokens_col("text").alias("t")).first().t)
    assert "self-sufficient" in toks       # hyphen compound kept
    assert "blue" in toks and "green" in toks  # and split
    assert "war" in toks and "postwar" in toks
    assert "colour" in toks


def test_rule_based_micro_fixtures(spark):
    """test_basic.py:55-74: 'A human being' → MaterialEntity (via P31=Q5
    claim, conf 0.95); 'Armed conflict or event' → Process."""
    entities = with_entity_text(micro_entities_df(spark))
    out = classify_rule_based(
        entities, bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark)
    )
    rows = out.collect()
    q1 = [r for r in rows if r.entity_id == "Q1"]
    assert len(q1) == 1  # claim short-circuit suppresses keyword path
    assert q1[0].class_label == "MaterialEntity"
    assert q1[0].confidence == 0.95
    q2 = {r.class_label: r for r in rows if r.entity_id == "Q2"}
    assert "Process" in q2  # 'conflict or EVENT' hits Process keywords


def test_keyword_score_math(spark):
    """P4: score = |unique matched| / |class list|; conf = min(score*0.9, .95).
    'war' + 'event' → Process score 2/14."""
    entities = spark.createDataFrame(
        [("X", "War: Armed war and event and war")], "id string, text string"
    )
    out = keyword_scores(entities, keyword_rules_df(spark), bfo_classes_df(spark))
    row = out.where(F.col("class_label") == "Process").first()
    assert abs(row.score - 2 / 14) < 1e-12          # 'war' counted once
    assert abs(row.confidence - (2 / 14) * 0.9) < 1e-12


def test_claim_conf_and_rank(spark):
    entities = spark.createDataFrame(
        [("Y", "Thing: something", {"P31": ["Q999", "Q5"]})],
        "id string, text string, claims map<string,array<string>>",
    )
    out = classify_rule_based(
        entities, bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark)
    ).collect()
    assert len(out) == 1
    assert out[0].class_uri == uri_for_label("MaterialEntity")
    assert out[0].rank == 1


def test_natural_label():
    # P8 (zeroshot.py:68-97): definition-first-sentence vs CamelCase fallback
    assert natural_label("Quality", "a specifically dependent continuant. more") == (
        "a specifically dependent continuant"
    )
    assert natural_label("MaterialEntity", "independent continuant with matter") == (
        "a material entity"
    )
    assert natural_label("Object", None) == "an object"


def test_rule_based_driver_fold_matches_dataflow(spark):
    """Round-6 driver fold: LocalRelation inputs classify in Python (a
    LocalRelation result — the two rank windows, anti-join and union
    otherwise run as tiny jobs per call) and are row- and schema-identical
    to the dataflow path forced via RDD-backed copies of every input —
    on the fixtures and on generated entity frames with NULL and
    duplicate ids, NULL texts and claims, long ids and empty frames."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bfokg.functions.text import with_entity_text
    from bfokg.operators.rule_based import KEYWORD_RULES
    from bfokg.routing import _is_local
    from bfokg.util import local_df

    ents = with_entity_text(entities_df(spark, include_micro=True))
    dims = (bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark))
    folded = classify_rule_based(ents, *dims, top_k=3)
    assert "LocalTableScan" in folded._jdf.queryExecution().executedPlan().toString()

    rdd_copy = lambda df: spark.createDataFrame(df.collect(), df.schema)  # noqa: E731
    dataflow = classify_rule_based(rdd_copy(ents), *[rdd_copy(d) for d in dims], top_k=3)
    assert {tuple(r) for r in folded.collect()} == {tuple(r) for r in dataflow.collect()}
    assert folded.schema == dataflow.schema and folded.count() == 28

    schema = "id string, text string, claims map<string,array<string>>"
    words = sorted({w for kws in KEYWORD_RULES.values() for w in kws})[:12]
    words += ["Process", "self-sufficient", "well-known", "zzz"]
    entity = st.tuples(
        st.one_of(st.none(), st.sampled_from(["e1", "e2", "e3", "e4", "L" * 300])),
        st.one_of(st.none(), st.lists(st.sampled_from(words), max_size=5).map(" ".join)),
        st.one_of(st.none(), st.fixed_dictionaries({"P31": st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), st.sampled_from(["Q5", "Q6"])), max_size=3),
        )})),
    )

    # few, large examples: each one pays a dataflow run's fixed job cost
    @settings(max_examples=3, deadline=None)
    @given(st.lists(entity, max_size=24), st.sampled_from([1, 3]))
    def fold_matches_dataflow(rows, top_k):
        local = local_df(spark, rows, schema)
        assert not rows or _is_local(local)  # the fold route is taken
        fold = classify_rule_based(local, *dims, top_k=top_k)
        # an RDD-backed entity frame alone forces the dataflow path
        flow = classify_rule_based(
            spark.createDataFrame(rows, schema), *dims, top_k=top_k
        )
        assert Counter(map(tuple, fold.collect())) == Counter(map(tuple, flow.collect()))

    fold_matches_dataflow()


def test_rule_based_null_literal_claims_pruned(spark):
    """Round-6: a provably-null claims column (lit(None).cast(map) — the
    shape every doc-classification caller passes) statically truncates
    the claim branch so the optimizer prunes its subtree; rows AND schema
    (nullability included) stay identical to the dataflow over
    data-borne null claims, which the optimizer cannot prove null."""
    from pyspark.sql import functions as F

    texts = [("d1", "a process event and activity of war", None),
             ("d2", "an object person with color quality", None),
             ("d3", "xyzzy nothing matches here", None)]
    lit_claims = spark.createDataFrame(
        [(i, t) for i, t, _ in texts], "id string, text string"
    ).withColumn("claims", F.lit(None).cast("map<string,array<string>>"))
    data_claims = spark.createDataFrame(
        texts, "id string, text string, claims map<string,array<string>>"
    )
    dims = (bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark))
    pruned = classify_rule_based(lit_claims, *dims, top_k=3)
    dataflow = classify_rule_based(data_claims, *dims, top_k=3)
    assert "Generate" not in pruned._jdf.queryExecution().optimizedPlan().toString()
    assert {tuple(r) for r in pruned.collect()} == {tuple(r) for r in dataflow.collect()}
    assert pruned.schema == dataflow.schema
