"""BFO 2020 ontology as Spark dimension tables.

The reference parses ``ontologies/bfo-2020.ttl`` with rdflib into an
in-memory class tree (reference ARCHITECTURE.md:200-230; the TTL itself is
gitignored there). We vendor the 35-node class tree exactly as drawn at
reference README.md:691-727 (README says "36 core classes"; the drawn tree
has 35 named nodes incl. root — SURVEY.md §1.4 says treat the drawn tree as
canonical and never hard-assert the count). URIs are the public OBO PURLs
for BFO 2020; definitions/examples paraphrase the public BFO 2020
specification (they feed ``get_text_for_embedding`` — README.md:667-683).

Spark design: a 35-row broadcastable ``bfo_classes`` dim + a precomputed
``bfo_closure`` (descendant, ancestor, distance) built by iterative
DataFrame self-join — the same machinery that scales to the Wikidata
P31/P279 superclass-chain closure at 10^12 rows (SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

OBO = "http://purl.obolibrary.org/obo/"

# (obo_id, CamelCase label, parent label, definition, examples)
# Tree shape: reference README.md:691-727. IDs: public BFO 2020 OBO IDs.
_BFO_TREE = [
    ("BFO_0000001", "Entity", None,
     "anything that exists, has existed, or will exist",
     ["a photon", "the second world war", "your body mass index"]),
    ("BFO_0000002", "Continuant", "Entity",
     "an entity that persists, endures, or continues to exist through time while maintaining its identity",
     ["a person", "a quality", "a spatial region"]),
    ("BFO_0000004", "IndependentContinuant", "Continuant",
     "a continuant which is such that there is no entity it specifically or generically depends on",
     ["an atom", "a molecule", "an organism", "a table"]),
    ("BFO_0000040", "MaterialEntity", "IndependentContinuant",
     "an independent continuant that has some portion of matter as part; physical object, substance or thing",
     ["organism", "fish tank", "planet", "laptop", "valve", "person", "molecule", "cell", "building", "device",
      "a scientist such as a physicist or a chemist", "homo sapiens", "an iron lattice tower", "a protein", "a computer"]),
    ("BFO_0000030", "Object", "MaterialEntity",
     "a material entity which manifests causal unity and is of a type instances of which are maximal relative to the corresponding unity criterion",
     ["a person", "a car", "an organism", "a molecule of water", "a human being"]),
    ("BFO_0000027", "ObjectAggregate", "MaterialEntity",
     "a material entity consisting exactly of a plurality of objects as member parts",
     ["a population of bacteria", "a collection of coins", "a flock of geese"]),
    ("BFO_0000024", "FiatObjectPart", "MaterialEntity",
     "a material entity that is a proper part of an object and is demarcated by fiat rather than physical discontinuity",
     ["the upper half of a tree", "the Northern hemisphere", "your arm"]),
    ("BFO_0000141", "ImmaterialEntity", "IndependentContinuant",
     "an independent continuant that contains no material entities as parts",
     ["a site", "a fiat boundary", "a hole"]),
    ("BFO_0000140", "ContinuantFiatBoundary", "ImmaterialEntity",
     "an immaterial entity that is of zero, one or two dimensions and does not include a spatial region as part",
     ["the equator", "the border between two countries"]),
    ("BFO_0000147", "FiatPoint", "ContinuantFiatBoundary",
     "a zero-dimensional continuant fiat boundary that consists of a single point",
     ["the North Pole", "the summit of a mountain", "the geographic center of a country"]),
    ("BFO_0000142", "FiatLine", "ContinuantFiatBoundary",
     "a one-dimensional continuant fiat boundary that is continuous",
     ["the equator", "a meridian of longitude", "the boundary line of a property"]),
    ("BFO_0000146", "FiatSurface", "ContinuantFiatBoundary",
     "a two-dimensional continuant fiat boundary that is self-connected",
     ["the surface of the Earth", "the plane of the ecliptic"]),
    ("BFO_0000029", "Site", "ImmaterialEntity",
     "a three-dimensional immaterial entity whose boundaries coincide with material entities or have locations determined in relation to material entities",
     ["the interior of a room", "a fish tank's interior", "an environmental niche"]),
    ("BFO_0000020", "SpecificallyDependentContinuant", "Continuant",
     "a continuant that inheres in or is borne by other entities; it depends on a specific bearer",
     ["the color of a tomato", "the role of a teacher", "the mass of a stone"]),
    ("BFO_0000019", "Quality", "SpecificallyDependentContinuant",
     "a specifically dependent continuant that is exhibited if it inheres in an entity at all; a property, characteristic or attribute such as color, shape, mass, temperature or density",
     ["the color blue", "the temperature of water", "the mass of a planet", "the shape of a leaf", "the density of gold", "brightness", "size", "the visual perception of color"]),
    ("BFO_0000145", "RelationalQuality", "Quality",
     "a quality that inheres in two or more entities; it exists by virtue of a relation between its bearers",
     ["a marriage bond", "the ownership relation between a person and a car"]),
    ("BFO_0000017", "RealizableEntity", "SpecificallyDependentContinuant",
     "a specifically dependent continuant that is realized in processes of a correlated type",
     ["the role of a judge", "the disposition of glass to break", "the function of a heart"]),
    ("BFO_0000016", "Disposition", "RealizableEntity",
     "a realizable entity whose realization occurs when the bearer is in some special physical circumstances, in virtue of the bearer's physical makeup",
     ["the fragility of a vase", "the solubility of salt", "the flammability of gasoline"]),
    ("BFO_0000034", "Function", "RealizableEntity",
     "a disposition that exists in virtue of the bearer's physical makeup which the bearer possesses because it came into being to realize it; a purpose or activity natural to a thing",
     ["the function of a heart to pump blood", "the purpose of a hammer to drive nails", "the function of an enzyme to catalyze reactions"]),
    ("BFO_0000023", "Role", "RealizableEntity",
     "a realizable entity that exists because its bearer is in some special physical, social, or institutional circumstances; a position, status, occupation or capacity such as teacher, president or catalyst",
     ["the role of a teacher", "the role of a president", "the role of a catalyst in a reaction", "the occupation of a doctor", "the position of a chief executive",
      "an educator or an instructor", "a leader of a country", "the profession of a teacher", "a purpose or capacity natural to a person or thing"]),
    ("BFO_0000031", "GenericallyDependentContinuant", "Continuant",
     "a continuant that generically depends on one or more other entities; it can migrate between bearers, like information",
     ["the pdf file on your laptop", "the novel in its many copies", "a genome sequence"]),
    ("BFO_0000006", "SpatialRegion", "Continuant",
     "a continuant that is a region of space; a location, place, area, zone, territory or geographic region such as a continent, ocean, desert or point on Earth",
     ["a continent", "an ocean region", "a desert area", "the region occupied by Europe", "the space inside a room", "a territory", "a zone"]),
    ("BFO_0000028", "ThreeDimensionalSpatialRegion", "SpatialRegion",
     "a spatial region that is of three dimensions; a volume of space",
     ["the interior volume of a balloon", "the region occupied by the Pacific Ocean"]),
    ("BFO_0000009", "TwoDimensionalSpatialRegion", "SpatialRegion",
     "a spatial region that is of two dimensions; an area of space",
     ["the surface area of a sphere", "a plane region"]),
    ("BFO_0000026", "OneDimensionalSpatialRegion", "SpatialRegion",
     "a spatial region that is of one dimension; a line of space",
     ["an edge of a cube-shaped portion of space", "a line region"]),
    ("BFO_0000003", "Occurrent", "Entity",
     "an entity that unfolds itself in time or is the start or end of such an entity",
     ["a process", "the beginning of a process", "a temporal region"]),
    ("BFO_0000015", "Process", "Occurrent",
     "an occurrent that has temporal proper parts and depends on some material entity; an event, activity, action, happening, war, revolution, development, growth, change or transformation unfolding in time",
     ["a war", "a revolution", "the process of cell division", "photosynthesis", "the Olympic Games as an event", "a ceremony", "evolution", "industrialization", "a competition", "the life of an organism", "a global war"]),
    ("BFO_0000182", "History", "Process",
     "a process that is the sum of the totality of processes taking place in the spatiotemporal region occupied by a material entity",
     ["the life history of an organism", "the history of a nation"]),
    ("BFO_0000035", "ProcessBoundary", "Process",
     "a temporal part of a process that has no proper temporal parts; the instantaneous boundary of a process",
     ["the moment a finger-snap completes", "the start of a war"]),
    ("BFO_0000011", "SpatiotemporalRegion", "Occurrent",
     "an occurrent that is part of spacetime",
     ["the spacetime region occupied by a human life", "the region swept by an orbiting planet"]),
    ("BFO_0000008", "TemporalRegion", "Occurrent",
     "an occurrent over which processes can unfold; a region of time",
     ["the year 1945", "the duration of a concert"]),
    ("BFO_0000038", "OneDimensionalTemporalRegion", "TemporalRegion",
     "a temporal region that is an extended part of time; an interval with nonzero duration",
     ["the 20th century", "the temporal region during which a process occurs"]),
    ("BFO_0000202", "TemporalInterval", "OneDimensionalTemporalRegion",
     "a one-dimensional temporal region that is continuous, without gaps or breaks",
     ["the interval from 1939 to 1945", "one hour"]),
    ("BFO_0000148", "ZeroDimensionalTemporalRegion", "TemporalRegion",
     "a temporal region that is a whole consisting of one or more separated temporal instants",
     ["the moment of midnight", "the instant a race starts"]),
    ("BFO_0000203", "TemporalInstant", "ZeroDimensionalTemporalRegion",
     "a zero-dimensional temporal region that has no proper temporal parts; a single point in time",
     ["midnight on New Year's Eve", "the instant of the photo finish"]),
]

_LABEL_TO_URI = {label: OBO + obo_id for obo_id, label, _, _, _ in _BFO_TREE}

BFO_CLASSES_SCHEMA = StructType(
    [
        StructField("class_uri", StringType(), False),
        StructField("curie", StringType(), True),
        StructField("label", StringType(), False),
        StructField("definition", StringType(), True),
        StructField("examples", ArrayType(StringType()), True),
        StructField("parent_uri", StringType(), True),
        StructField("depth", IntegerType(), True),
        StructField("is_leaf", BooleanType(), True),
    ]
)

CLOSURE_SCHEMA = StructType(
    [
        StructField("descendant_uri", StringType(), False),
        StructField("ancestor_uri", StringType(), False),
        StructField("distance", IntegerType(), False),
    ]
)

ROOT_URI = OBO + "BFO_0000001"


def uri_for_label(label: str) -> str:
    return _LABEL_TO_URI[label]


def resolve_uri(uri_or_curie: str) -> str:
    """Accept full OBO URI or 'bfo:Label' CURIE (reference get_class accepts
    both — hybrid.py:176-177, tests/test_basic.py:28,31)."""
    if uri_or_curie.startswith("bfo:"):
        return _LABEL_TO_URI[uri_or_curie[4:]]
    return uri_or_curie


def _rows():
    parents = {label: parent for _, label, parent, _, _ in _BFO_TREE}
    children = {}
    for _, label, parent, _, _ in _BFO_TREE:
        if parent is not None:
            children.setdefault(parent, []).append(label)

    def depth_of(label):
        d = 0
        while parents[label] is not None:
            label = parents[label]
            d += 1
        return d

    rows = []
    for obo_id, label, parent, definition, examples in _BFO_TREE:
        rows.append(
            (
                OBO + obo_id,
                "bfo:" + label,
                label,
                definition,
                examples,
                _LABEL_TO_URI[parent] if parent else None,
                depth_of(label),
                label not in children,
            )
        )
    return rows


def bfo_classes_df(spark: SparkSession) -> DataFrame:
    """The 35-row class dimension. Always broadcast at join sites.
    LocalRelation (util.local_df) so broadcast builds need no Spark job."""
    from .util import local_df

    return local_df(spark, _rows(), BFO_CLASSES_SCHEMA)


def _warn_not_exhausted(max_iterations: int, stacklevel: int) -> None:
    import warnings

    warnings.warn(
        f"build_closure hit max_iterations={max_iterations} with a "
        f"non-empty frontier: transitive paths longer than "
        f"{max_iterations + 1} edges are missing from the closure. "
        f"Raise max_iterations to cover the graph's depth.",
        RuntimeWarning,
        stacklevel=stacklevel + 1,
    )


def _driver_closure(spark, rows, schema, max_iterations: int) -> DataFrame:
    """``build_closure``'s driver twin: the same level-by-level BFS over the
    collected (child, parent) ``rows`` (frontier ⋈ direct edges, first
    occurrence of a pair = min distance, same iteration cap and warning),
    returned as a LocalRelation. Pinned against the loop in tests."""
    from .util import local_df

    direct: dict = {}
    for c, p in rows:
        if c is not None and p is not None and c != p:  # SQL: NULL != x drops
            direct.setdefault(c, set()).add(p)
    closure = {
        (c, p): 1 for c, parents in direct.items() for p in parents
    }
    frontier = dict(closure)
    for _i in range(max_iterations):
        stepped = {}
        for (d, a), dist in frontier.items():
            for p in direct.get(a, ()):
                if d != p and (d, p) not in closure and (d, p) not in stepped:
                    stepped[(d, p)] = dist + 1
        if not stepped:
            break
        closure.update(stepped)
        frontier = stepped
    else:
        _warn_not_exhausted(max_iterations, stacklevel=3)
    child_t, parent_t = (f.dataType.simpleString() for f in schema.fields)
    return local_df(
        spark,
        [(d, a, dist) for (d, a), dist in
         sorted(closure.items(), key=lambda kv: (str(kv[0][0]), str(kv[0][1])))],
        f"descendant_uri {child_t}, ancestor_uri {parent_t}, distance int",
    )


def build_closure(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    max_iterations: int = 12,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive closure of a (child, parent) edge set — the BFO tree and
    the Wikidata P31/P279 chains — as (descendant_uri, ancestor_uri,
    distance) with distance >= 1 and the MINIMUM distance per pair
    (the reference's recursive ``get_ancestors``, ARCHITECTURE.md:214-223).
    Self-edges are dropped; cycles are bounded by ``max_iterations``, and
    a still-growing frontier at the cap raises a ``RuntimeWarning`` (pairs
    beyond ``max_iterations + 1`` hops are missing).

    Routing (``bfokg.routing``): without ``checkpoint_dir``, an edge set
    whose size estimate fits the session budget is collected with the
    bounded ``driver_rows`` (a row cap on the executors, then a byte
    count) and walked by the driver BFS twin (returns a LocalRelation).
    Everything else — an estimate over budget,
    a collect that passes it, or an explicit ``checkpoint_dir`` — runs the
    distributed loop: each round joins the frontier to the pre-shuffled
    direct edges, anti-joins the accumulated closure, and writes the new
    pairs to parquet under a unique ``bfokg_closure_<uuid>`` subdir of
    ``checkpoint_dir`` (``util.resolve_scratch_dir`` ladder), so the plan
    never accretes round history. The result carries a
    ``release_intermediates`` handle for the persisted edge table.
    Design history: BENCH/CLOSURE.md.
    """
    import os

    from . import routing
    from .util import attach_cleanup, resolve_scratch_dir

    spark = edges.sparkSession
    if checkpoint_dir is None and routing.fits(edges):
        pairs = edges.select(child_col, parent_col)
        rows = routing.driver_rows(pairs)
        if rows is not None:
            return _driver_closure(spark, rows, pairs.schema, max_iterations)
    checkpoint_dir = resolve_scratch_dir(
        spark, "bfokg_closure", explicit=checkpoint_dir
    )
    n_part = spark.sparkContext.defaultParallelism
    # the static side of every round's join, pre-shuffled and sorted by
    # its key once: each round then exchanges only the frontier
    direct = (
        edges.select(
            F.col(child_col).alias("descendant_uri"),
            F.col(parent_col).alias("ancestor_uri"),
            F.lit(1).alias("distance"),
        )
        .where(F.col("descendant_uri") != F.col("ancestor_uri"))
        .dropDuplicates(["descendant_uri", "ancestor_uri"])
        .repartition(n_part, "descendant_uri")
        .sortWithinPartitions("descendant_uri")
        .persist()
    )
    closure = direct
    frontier = direct
    for i in range(max_iterations):
        stepped = (
            frontier.alias("f")
            .join(direct.alias("d"), F.col("f.ancestor_uri") == F.col("d.descendant_uri"))
            .select(
                F.col("f.descendant_uri").alias("descendant_uri"),
                F.col("d.ancestor_uri").alias("ancestor_uri"),
                (F.col("f.distance") + F.col("d.distance")).alias("distance"),
            )
            .where(F.col("descendant_uri") != F.col("ancestor_uri"))
        )
        new_pairs = stepped.join(
            closure.select("descendant_uri", "ancestor_uri"),
            ["descendant_uri", "ancestor_uri"],
            "left_anti",
        ).dropDuplicates(["descendant_uri", "ancestor_uri"])
        round_path = os.path.join(checkpoint_dir, f"round_{i:02d}")
        new_pairs.write.mode("overwrite").parquet(round_path)
        new_pairs = spark.read.parquet(round_path)
        if new_pairs.isEmpty():
            break
        # plain union of written parts — persisting the cumulative union
        # would store each level's rows once per later level
        closure = closure.unionByName(new_pairs)
        frontier = new_pairs
    else:
        _warn_not_exhausted(max_iterations, stacklevel=2)
    return attach_cleanup(closure, direct)


def closure_rows() -> list[tuple[str, str, int]]:
    """Driver-side transitive closure of the 35-node static tree.

    The tree is static vendored data, so its closure is too — no reason to
    run Spark jobs for 100 rows. ``build_closure`` (above) is the
    distributed equivalent used for the billion-edge Wikidata P31/P279
    graph; test_ontology proves the two agree on this tree.
    """
    parents = {
        OBO + obo_id: _LABEL_TO_URI[parent] if parent else None
        for obo_id, _label, parent, _d, _e in _BFO_TREE
    }
    rows = []
    for uri in parents:
        anc, dist = parents[uri], 1
        while anc is not None:
            rows.append((uri, anc, dist))
            anc, dist = parents[anc], dist + 1
    return rows


def bfo_closure_df(spark: SparkSession) -> DataFrame:
    """Transitive ancestor closure of the BFO tree (≤7 levels)."""
    from .util import local_df

    return local_df(spark, closure_rows(), CLOSURE_SCHEMA)
