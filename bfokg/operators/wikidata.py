"""Wikidata P31/P279 superclass-chain canonicalization (north_rule core).

The reference fetches one entity live and checks only a literal P31→rule
dict ({'Q5': 'MaterialEntity'}, rule_based.py:29-37). At scale the
north_rule replaces that with a pre-materialized ``wikidata_claims`` edge
table (FIXTURES.md §2.6: qid, property, value_qid) and a TRANSITIVE walk:
follow an entity's P31 edges into the class graph, then P279 superclass
chains upward until a class with a known BFO anchor is reached; the
nearest anchor wins.

Spark design: the P279 closure is built once by the same iterative
DataFrame self-join as the BFO tree closure (``ontology.build_closure`` —
cycle-guarded, lineage-checkpointed, AQE-skew-aware at scale: hub classes
like 'entity' are exactly the skewed keys AQE's skew-join splits). The
per-entity canonicalization is then two broadcast-joinable hops:
explode(P31) ⋈ closure ⋈ anchors, with a deterministic
(distance ASC, bfo_label ASC, via ASC) winner per qid.

The claims table here is synthetic-deterministic (fixture entities → a
small vendored class graph); at production scale it is the full Wikidata
dump partitioned by qid, and nothing in the dataflow changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..fixtures import _FIXTURES
from ..ontology import build_closure, uri_for_label

# Synthetic Wikidata-ish class graph: (child_class, parent_class) P279 edges.
WD_P279_EDGES = [
    ("wd:human", "wd:mammal"),
    ("wd:mammal", "wd:animal"),
    ("wd:animal", "wd:organism"),
    ("wd:molecule", "wd:chemical_substance"),
    ("wd:chemical_substance", "wd:physical_object"),
    ("wd:tower", "wd:building"),
    ("wd:building", "wd:physical_object"),
    ("wd:machine", "wd:physical_object"),
    ("wd:war", "wd:armed_conflict"),
    ("wd:armed_conflict", "wd:occurrence"),
    ("wd:revolution", "wd:occurrence"),
    ("wd:biological_process", "wd:natural_process"),
    ("wd:natural_process", "wd:occurrence"),
    ("wd:sport_event", "wd:occurrence"),
    ("wd:color", "wd:visual_property"),
    ("wd:visual_property", "wd:property"),
    ("wd:physical_quantity", "wd:property"),
    ("wd:profession", "wd:social_position"),
    ("wd:social_position", "wd:position"),
    ("wd:continent", "wd:geographic_region"),
    ("wd:ocean", "wd:body_of_water"),
    ("wd:body_of_water", "wd:geographic_region"),
    ("wd:desert", "wd:geographic_region"),
    ("wd:geographic_point", "wd:geographic_region"),
]

# Anchors: wikidata class → BFO label (the scaled-up p31_rules dim).
WD_BFO_ANCHORS = [
    ("wd:organism", "MaterialEntity"),
    ("wd:physical_object", "MaterialEntity"),
    ("wd:occurrence", "Process"),
    ("wd:property", "Quality"),
    ("wd:position", "Role"),
    ("wd:geographic_region", "SpatialRegion"),
]

# Fixture entity → its P31 class(es) in the synthetic graph. Chosen so the
# transitive BFO anchor EQUALS the fixture's gt label (verified in tests).
WD_P31 = {
    "Q_SYNTH_1": ["wd:human"], "Q_SYNTH_2": ["wd:human"],
    "Q_SYNTH_3": ["wd:molecule"], "Q_SYNTH_4": ["wd:human"],
    "Q_SYNTH_5": ["wd:molecule"], "Q_SYNTH_6": ["wd:molecule"],
    "Q_SYNTH_7": ["wd:tower"], "Q_SYNTH_8": ["wd:machine"],
    "Q_SYNTH_20": ["wd:war"], "Q_SYNTH_21": ["wd:revolution"],
    "Q_SYNTH_22": ["wd:biological_process"], "Q_SYNTH_23": ["wd:biological_process"],
    "Q_SYNTH_24": ["wd:sport_event"], "Q_SYNTH_25": ["wd:occurrence"],
    "Q_SYNTH_26": ["wd:natural_process"],
    "Q_SYNTH_40": ["wd:color"], "Q_SYNTH_41": ["wd:physical_quantity"],
    "Q_SYNTH_42": ["wd:physical_quantity"], "Q_SYNTH_43": ["wd:color"],
    "Q_SYNTH_44": ["wd:visual_property"], "Q_SYNTH_45": ["wd:physical_quantity"],
    "Q_SYNTH_60": ["wd:profession"], "Q_SYNTH_61": ["wd:social_position"],
    "Q_SYNTH_62": ["wd:social_position"], "Q_SYNTH_63": ["wd:social_position"],
    "Q_SYNTH_80": ["wd:continent"], "Q_SYNTH_81": ["wd:ocean"],
    "Q_SYNTH_82": ["wd:desert"], "Q_SYNTH_83": ["wd:geographic_point"],
}

CLAIM_CANON_CONFIDENCE = 0.95  # claim-rule confidence (rule_based.py:106)


def wikidata_claims_df(spark: SparkSession) -> DataFrame:
    """(qid, property, value_qid) — P31 rows for the fixture entities plus
    P279 rows for the class graph."""
    from ..util import local_df

    rows = [(e, "P31", c) for e, classes in sorted(WD_P31.items()) for c in classes]
    rows += [(c, "P279", p) for c, p in WD_P279_EDGES]
    return local_df(spark, rows, "qid STRING, property STRING, value_qid STRING")


def wd_anchors_df(spark: SparkSession) -> DataFrame:
    from ..util import local_df

    return local_df(
        spark,
        [(w, b, uri_for_label(b)) for w, b in WD_BFO_ANCHORS],
        "wd_class STRING, bfo_label STRING, class_uri STRING",
    )


def _nulls_first(v):
    """Sort key ordering None before every value (Spark's ASC default)."""
    return (v is not None, v)


def p279_closure(claims: DataFrame) -> DataFrame:
    """Transitive superclass closure of the P279 subgraph, distance 0
    included (a class anchors itself). Iterative self-join; at Wikidata
    scale this loop runs over a persisted, bucketed edge table with AQE
    skew-join handling the hub-class fan-in."""
    edges = claims.where(F.col("property") == "P279").select(
        F.col("qid").alias("child"), F.col("value_qid").alias("parent")
    )
    walked = build_closure(edges)
    from bfokg import routing
    from bfokg.util import attach_cleanup, local_df

    # driver-resident edges whose closure also took the driver BFS (the
    # vendored fixture graph): add the reflexive rows in Python and return
    # ONE LocalRelation, so downstream broadcast joins need no job
    edge_rows = routing.local_rows(edges)
    walked_rows = routing.local_rows(walked) if edge_rows is not None else None
    if walked_rows is not None:
        node_t = edges.schema["child"].dataType.simpleString()
        nodes = sorted({v for r in edge_rows for v in (r.child, r.parent)},
                       key=_nulls_first)
        return local_df(
            edges.sparkSession,
            [tuple(r) for r in walked_rows] + [(n, n, 0) for n in nodes],
            f"descendant_uri {node_t}, ancestor_uri {node_t}, distance int",
        )
    self_rows = (
        edges.select(F.col("child").alias("node"))
        .unionByName(edges.select(F.col("parent").alias("node")))
        .distinct()
        .select(
            F.col("node").alias("descendant_uri"),
            F.col("node").alias("ancestor_uri"),
            F.lit(0).alias("distance"),
        )
    )
    # propagate build_closure's persisted-frame handle through the union
    # so callers' release_intermediates() can actually unpersist it
    return attach_cleanup(
        walked.unionByName(self_rows), *getattr(walked, "_bfokg_cached", ())
    )


def canonicalize_qids(
    claims: DataFrame,
    anchors: DataFrame,
    closure: DataFrame | None = None,
) -> DataFrame:
    """qid → BFO class via the nearest P279 ancestor with a known anchor.

    Returns (qid, class_uri, bfo_label, via_class, distance, confidence).
    Winner per qid: min distance, then bfo_label ASC, then via_class ASC
    (fully deterministic). All dims broadcast; the only shuffle is the
    winner window keyed by qid.

    When claims, anchors AND the closure are all driver-resident
    (LocalRelations within the session budget, ``routing.local_rows`` —
    the vendored fixture dims plus the driver-BFS closure always are),
    the whole canonicalization folds to Python and returns a
    LocalRelation: the dataflow form plans two broadcast builds plus a
    winner-window Exchange whose jobs are pure fixed cost for a bounded
    claims graph. Identical winner rule (min distance, bfo_label ASC
    NULLS FIRST, via_class ASC — Python tuple order; UTF-8 byte order
    preserves code-point order so string comparisons agree with Spark)
    and NULL join keys never match; any other input keeps the dataflow.
    """
    if closure is None:
        closure = p279_closure(claims)

    from bfokg import routing
    from bfokg.util import local_df

    claims_rows = routing.local_rows(claims)
    if claims_rows is not None:
        anchors_rows = routing.local_rows(anchors)
        closure_rows = routing.local_rows(closure)
        if anchors_rows is not None and closure_rows is not None:
            # NULL join keys never match, as in the broadcast joins
            by_desc: dict = {}
            for r in closure_rows:
                if r.descendant_uri is not None:
                    by_desc.setdefault(r.descendant_uri, []).append(
                        (r.ancestor_uri, r.distance)
                    )
            by_wd: dict = {}
            for r in anchors_rows:
                if r.wd_class is not None:
                    by_wd.setdefault(r.wd_class, []).append(
                        (r.bfo_label, r.class_uri)
                    )
            best: dict = {}
            for r in claims_rows:
                if r.property != "P31":
                    continue
                for via, dist in by_desc.get(r.value_qid, ()):
                    for bfo_label, class_uri in by_wd.get(via, ()):
                        # the window's order; ASC puts a NULL label first
                        key = (dist, _nulls_first(bfo_label), via)
                        cur = best.get(r.qid)
                        if cur is None or key < cur[0]:
                            best[r.qid] = (key, (class_uri, bfo_label, via, dist))
            qid_t = claims.schema["qid"].dataType.simpleString()
            uri_t = anchors.schema["class_uri"].dataType.simpleString()
            lbl_t = anchors.schema["bfo_label"].dataType.simpleString()
            via_t = anchors.schema["wd_class"].dataType.simpleString()
            return local_df(
                claims.sparkSession,
                [(q, *winner, CLAIM_CANON_CONFIDENCE) for q, (_key, winner) in
                 sorted(best.items(), key=lambda kv: _nulls_first(kv[0]))],
                f"qid {qid_t}, class_uri {uri_t}, bfo_label {lbl_t}, "
                f"via_class {via_t}, distance int, confidence double",
            )

    p31 = claims.where(F.col("property") == "P31").select(
        "qid", F.col("value_qid").alias("p31_class")
    )
    reach = p31.join(
        F.broadcast(closure),
        p31["p31_class"] == closure["descendant_uri"],
    ).select("qid", F.col("ancestor_uri").alias("via_class"), "distance")
    anchored = reach.join(
        F.broadcast(anchors), reach["via_class"] == anchors["wd_class"]
    )
    w = Window.partitionBy("qid").orderBy(
        F.asc("distance"), F.asc("bfo_label"), F.asc("via_class")
    )
    return (
        anchored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qid", "class_uri", "bfo_label", "via_class", "distance",
            F.lit(CLAIM_CANON_CONFIDENCE).alias("confidence"),
        )
    )


def synthetic_p279_graph(
    spark: SparkSession,
    n_nodes: int = 1_000_000,
    fanout: int = 8,
    hub_classes: int = 100,
    hub_pct: int = 20,
) -> DataFrame:
    """Deterministic Wikidata-shaped P279 benchmark graph, generated
    entirely Spark-side (spark.range + hash — no driver loop, no RNG).

    Shape mirrors the real P279 subgraph the north_rule targets:
    - a ``fanout``-ary tree over Q1..Qn (parent = Q(i // fanout)) giving
      depth ≈ log_fanout(n) ≈ the 4-7 levels of real taxonomies;
    - ``hub_pct``% of nodes carry a second P279 edge into one of
      ``hub_classes`` near-root classes — the hub fan-in skew (everything
      is a subclass of 'entity'/'artificial entity'…) that AQE skew-join
      handling exists for.

    DAG by construction: both parent indices are strictly smaller than the
    child index (extra edges only on id >= hub_classes).
    """
    # inclusive upper bound: Q1..Q{n_nodes} child nodes plus the Q0 root,
    # so an "8M-node" run really covers 8M non-root nodes
    nodes = spark.range(1, n_nodes + 1)
    tree = nodes.select(
        F.concat(F.lit("Q"), F.col("id")).alias("child"),
        F.concat(F.lit("Q"), (F.col("id") / fanout).cast("long")).alias("parent"),
    )
    extra = nodes.where(
        (F.col("id") >= hub_classes)
        & (F.pmod(F.abs(F.xxhash64("id")), F.lit(100)) < hub_pct)
    ).select(
        F.concat(F.lit("Q"), F.col("id")).alias("child"),
        F.concat(
            F.lit("Q"), F.pmod(F.abs(F.xxhash64("id", F.lit(1))), F.lit(hub_classes))
        ).alias("parent"),
    )
    return (
        tree.unionByName(extra)
        .where(F.col("child") != F.col("parent"))
        .dropDuplicates(["child", "parent"])
    )
