"""P31/P279 superclass-chain canonicalization (north_rule core)."""

from pyspark.sql import functions as F

from bfokg.fixtures import fixtures_df
from bfokg.operators.wikidata import (
    canonicalize_qids,
    p279_closure,
    wd_anchors_df,
    wikidata_claims_df,
)


def test_p279_closure_walks_chains(spark):
    closure = p279_closure(wikidata_claims_df(spark))
    d = {
        (r.descendant_uri, r.ancestor_uri): r.distance
        for r in closure.collect()
    }
    assert d[("wd:human", "wd:organism")] == 3   # human→mammal→animal→organism
    assert d[("wd:human", "wd:human")] == 0      # self at distance 0
    assert ("wd:organism", "wd:human") not in d  # directed, upward only


def test_canonicalization_matches_fixture_ground_truth(spark):
    """Every fixture entity canonicalizes (via its synthetic P31/P279
    chain) to exactly its golden BFO label — the claim-path equivalent of
    the north_rule P/R ≥ 0.95 target (here 29/29 by construction)."""
    canon = canonicalize_qids(wikidata_claims_df(spark), wd_anchors_df(spark))
    joined = canon.join(
        fixtures_df(spark).select(F.col("id").alias("qid"), "gt_bfo_label"), "qid"
    )
    assert joined.count() == 29
    mismatches = joined.where(F.col("bfo_label") != F.col("gt_bfo_label")).collect()
    assert mismatches == []
    one_per_qid = canon.groupBy("qid").count().where(F.col("count") > 1).count()
    assert one_per_qid == 0


def test_canonicalize_driver_route_matches_dataflow(spark):
    """Round-6 driver fold: LocalRelation dims canonicalize in Python
    (LocalRelation result, zero Spark jobs in the consumer), and the
    result is row-identical to the dataflow path forced via RDD-backed
    copies of the same dims (createDataFrame defeats the LocalRelation
    detection, so the broadcast-join + winner-window plan runs) — on the
    fixture graph and on generated claims/anchors with NULL keys,
    duplicates, long ids and empty frames."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bfokg.routing import _is_local
    from bfokg.util import local_df

    local = canonicalize_qids(wikidata_claims_df(spark), wd_anchors_df(spark))
    assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()

    claims_rdd = spark.createDataFrame(
        wikidata_claims_df(spark).collect(),
        "qid string, property string, value_qid string",
    )
    anchors_rdd = spark.createDataFrame(
        wd_anchors_df(spark).collect(),
        "wd_class string, bfo_label string, class_uri string",
    )
    dataflow = canonicalize_qids(claims_rdd, anchors_rdd)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(local) == as_set(dataflow) and local.count() == 29

    claims_schema = "qid string, property string, value_qid string"
    anchors_schema = "wd_class string, bfo_label string, class_uri string"
    classes = ["c1", "c2", "c3", "c4", "L" * 300]
    node = st.one_of(st.none(), st.sampled_from(classes))
    claim = st.tuples(
        st.one_of(st.none(), st.sampled_from(["q1", "q2", "q3"])),
        st.sampled_from(["P31", "P279", None]),
        node,
    )
    # class_uri follows the label, so winner-window ties are identical rows
    anchor = st.tuples(
        node, st.one_of(st.none(), st.sampled_from(["Object", "Process"]))
    ).map(lambda a: (a[0], a[1], a[1] and "u:" + a[1]))

    # few, large examples: each one pays a dataflow run's fixed job cost
    @settings(max_examples=3, deadline=None)
    @given(st.lists(claim, max_size=16), st.lists(anchor, max_size=6))
    def fold_matches_dataflow(claim_rows, anchor_rows):
        as_bag = lambda df: Counter(map(tuple, df.collect()))  # noqa: E731
        claims = local_df(spark, claim_rows, claims_schema)
        anchors = local_df(spark, anchor_rows, anchors_schema)
        assert not claim_rows or _is_local(claims)  # the fold route is taken
        closure = p279_closure(claims)
        fold = canonicalize_qids(claims, anchors, closure)
        # RDD-backed claims alone force the dataflow path
        flow = canonicalize_qids(
            spark.createDataFrame(claim_rows, claims_schema), anchors, closure
        )
        assert as_bag(fold) == as_bag(flow)

    fold_matches_dataflow()


def test_nearest_anchor_wins(spark):
    """wd:color is 2 hops from wd:property; distance recorded, conf 0.95."""
    canon = {r.qid: r for r in canonicalize_qids(
        wikidata_claims_df(spark), wd_anchors_df(spark)).collect()}
    assert canon["Q_SYNTH_40"].via_class == "wd:property"
    assert canon["Q_SYNTH_40"].distance == 2
    assert canon["Q_SYNTH_25"].distance == 0   # P31 directly at the anchor
    assert canon["Q_SYNTH_25"].confidence == 0.95


def test_synthetic_p279_closure_exact(spark):
    """On the pure-tree variant (hub_pct=0) the iterative self-join closure
    must equal the analytically known ancestor chains {i//8, i//64, ...};
    the skewed variant only ADDS pairs and never exceeds the depth cap."""
    from bfokg.ontology import build_closure
    from bfokg.operators.wikidata import synthetic_p279_graph

    n, fanout = 3000, 8
    tree = synthetic_p279_graph(spark, n_nodes=n, fanout=fanout, hub_pct=0)
    got = {
        (r.descendant_uri, r.ancestor_uri, r.distance)
        for r in build_closure(tree, "child", "parent").collect()
    }
    expected = set()
    for i in range(1, n + 1):  # inclusive bound: Q1..Qn are all children
        a, d = i, 0
        while a > 0:
            a //= fanout
            d += 1
            expected.add((f"Q{i}", f"Q{a}", d))
            if a == 0:
                break
    assert got == expected

    skewed = synthetic_p279_graph(spark, n_nodes=n, fanout=fanout, hub_pct=20)
    sk = build_closure(skewed, "child", "parent")
    assert sk.count() >= len(expected)
    assert sk.agg({"distance": "max"}).first()[0] <= 12
    # skew is real: some hub ancestor has large fan-in
    top = (
        sk.groupBy("ancestor_uri").count().orderBy("count", ascending=False).first()
    )
    assert top["count"] >= n - 1  # Q0 is everyone's ancestor


def test_closure_matches_python_bfs_on_random_dags(spark):
    """build_closure == a driver-side BFS reference on seeded random DAGs
    (edges i→j only when j < i, so acyclic by construction). Checks pair
    set AND min-distance."""
    import random

    from bfokg.ontology import build_closure

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 40
        edges = sorted(
            {
                (f"N{i}", f"N{rng.randrange(i)}")
                for i in range(1, n)
                for _ in range(rng.randrange(3))
            }
        )
        if not edges:
            continue
        parents: dict[str, list[str]] = {}
        for c, p in edges:
            parents.setdefault(c, []).append(p)
        expected = {}
        for start in {c for c, _ in edges}:
            frontier, dist = [start], 0
            seen = {start}
            while frontier:
                dist += 1
                nxt = []
                for u in frontier:
                    for p in parents.get(u, []):
                        if (start, p) not in expected:
                            expected[(start, p)] = dist
                        if p not in seen:
                            seen.add(p)
                            nxt.append(p)
                frontier = nxt
        got = {
            (r.descendant_uri, r.ancestor_uri): r.distance
            for r in build_closure(
                spark.createDataFrame(edges, "child string, parent string"),
                "child", "parent",
            ).collect()
        }
        assert got == expected, f"seed={seed}"


def test_driver_closure_matches_loop(spark, tmp_path):
    """build_closure computes budget-sized edge sets driver-side as a
    LocalRelation; the result must be pair-and-distance identical to the
    distributed loop (forced by an explicit checkpoint_dir) — on the
    fixture claims graph, on a seeded random DAG, and on generated edge
    sets with NULL nodes, self-loops, cycles, duplicates, long ids and
    empty frames (all driven through a LocalRelation so the driver route
    is actually taken)."""
    import random
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bfokg.ontology import build_closure
    from bfokg.routing import _is_local
    from bfokg.util import local_df

    rng = random.Random(13)
    rand_edges = sorted(
        {(f"N{i}", f"N{rng.randrange(i)}") for i in range(1, 40)
         for _ in range(rng.randrange(3))}
    )
    p279 = wikidata_claims_df(spark).where(F.col("property") == "P279").select(
        F.col("qid").alias("child"), F.col("value_qid").alias("parent")
    )
    loop_dir = str(tmp_path)

    def closure_bag(edges, **kw):
        return Counter(map(tuple, build_closure(edges, "child", "parent", **kw).collect()))

    cases = [
        p279,
        local_df(spark, rand_edges, "child string, parent string"),
    ]
    for edges in cases:
        auto = closure_bag(edges)
        assert auto == closure_bag(edges, checkpoint_dir=loop_dir) and auto
    # routing: the tiny LocalRelation edge set must have taken the driver
    # path (plan is a LocalTableScan / local-relation scan, no joins)
    assert _is_local(build_closure(cases[1], "child", "parent"))

    node = st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d", "L" * 300]))
    graph = st.lists(st.tuples(node, node), max_size=6)

    # few examples, each a union of small disjoint graphs: the loop's
    # rounds follow the depth of one graph, not the size of the union
    @settings(max_examples=4, deadline=None)
    @given(st.lists(graph, max_size=4))
    def twin_matches_loop(graphs):
        rows = [tuple(v and f"{k}{v}" for v in e)
                for k, g in enumerate(graphs) for e in g]
        edges = local_df(spark, rows, "child string, parent string")
        assert not rows or _is_local(edges)
        assert closure_bag(edges) == closure_bag(edges, checkpoint_dir=loop_dir)

    twin_matches_loop()
