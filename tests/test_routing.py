"""bfokg.routing: the one budget every driver-vs-dataflow decision reads."""

from collections import Counter
from contextlib import contextmanager

from pyspark.sql import functions as F

from bfokg.ontology import bfo_classes_df, build_closure
from bfokg.operators.dedup import dedup_components
from bfokg.operators.rule_based import (
    classify_rule_based,
    keyword_rules_df,
    p31_rules_df,
)
from bfokg.operators.triples import link_triples
from bfokg.operators.wikidata import canonicalize_qids, p279_closure
from bfokg.routing import _is_local, budget, driver_rows, fits, local_rows
from bfokg.util import local_df

KEY = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def session_budget(spark, value):
    old = spark.conf.get(KEY)
    spark.conf.set(KEY, str(value))
    try:
        yield
    finally:
        spark.conf.set(KEY, old)


def bag(df):
    return Counter(map(tuple, df.collect()))


def estimate(df):
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_budget_is_sparks_parsed_threshold(spark):
    small = local_df(spark, [(1,)], "x long")
    with session_budget(spark, "10MB"):
        assert budget(spark) == 10 << 20
        assert fits(small) and local_rows(small) == driver_rows(small) == [(1,)]
    with session_budget(spark, -1):
        assert budget(spark) == -1
        assert not fits(small) and fits(small, limit=64)
        assert driver_rows(small) is None and local_rows(small) is None
    # an RDD-backed plan has no usable estimate and never fits
    assert not fits(spark.createDataFrame([(1,)], "x long"))
    # every value counts at least 8 bytes, so empty strings cannot get
    # round the row cap
    blanks = spark.createDataFrame([("", "")] * 50, "a string, b string")
    with session_budget(spark, 799):
        assert driver_rows(blanks) is None
    with session_budget(spark, 800):
        assert driver_rows(blanks) == [("", "")] * 50


def test_driver_rows_stop_pulling_at_the_byte_budget(spark, tmp_path, monkeypatch):
    """The byte count, not only the row cap, decides: with 300-byte
    string ids, an edge table just over the budget (and well under the
    row cap) sends dedup_components and build_closure to their loops,
    and a counting wrapper around the row iterator shows Python stopped
    at the row that crossed the budget instead of keeping the table."""
    ids = ["L" * 296 + f"{k:04d}" for k in range(40)]
    row_bytes = 600  # two 300-byte ids
    links = [(ids[2 * k], ids[2 * k + 1]) for k in range(20)]

    pulled = []
    cls = type(spark.range(1))
    original = cls.toLocalIterator

    def counting(self, *args, **kwargs):
        pulled.append(0)
        for row in original(self, *args, **kwargs):
            pulled[-1] += 1
            yield row

    monkeypatch.setattr(cls, "toLocalIterator", counting)

    # components: 40 undirected edges = 24,000 B against a 21,000 B budget
    pairs = spark.createDataFrame(links, "doc_a string, doc_b string")
    with session_budget(spark, 40 * row_bytes - 3000):
        comp = dedup_components(pairs)
    assert pulled == [21_000 // row_bytes + 1]  # stopped at the crossing row
    assert not _is_local(comp)  # the durable loop ran
    assert bag(comp) == Counter([(a, a) for a, _ in links] + [(b, a) for a, b in links])

    # closure: a parquet edge table estimates its compressed size, which
    # fits the budget, while its 12,000 UTF-8 bytes do not
    path = str(tmp_path / "edges")
    spark.createDataFrame(links, "child string, parent string").write.parquet(path)
    edges = spark.read.parquet(path)
    limit = 20 * row_bytes - 1800
    assert estimate(edges) <= limit
    pulled.clear()
    with session_budget(spark, limit):
        closure = build_closure(edges)
    assert pulled == [limit // row_bytes + 1]
    assert not _is_local(closure)
    assert bag(closure) == Counter((a, b, 1) for a, b in links)


def test_budget_boundary_flips_routes(spark):
    """At a budget equal to what a gate reads — the edge table's estimate
    for build_closure, the undirected edge table's bytes for
    dedup_components — the driver twin runs; one byte less flips it to
    the loop with identical rows. At -1 every budget-gated route takes
    its dataflow path (MinHash's storage gate has its own 64 MB limit)."""
    edges = local_df(spark, [(f"n{i}", f"n{i + 1}") for i in range(2)],
                     "child string, parent string")
    with session_budget(spark, estimate(edges)):
        at = build_closure(edges)
    with session_budget(spark, estimate(edges) - 1):
        below = build_closure(edges)
    assert _is_local(at) and not _is_local(below)
    assert bag(at) == bag(below) and len(bag(at)) == 3

    pairs = spark.createDataFrame([(0, i) for i in range(1, 5)], "doc_a long, doc_b long")
    edge_bytes = 8 * 16  # 8 undirected int64 edges
    with session_budget(spark, edge_bytes):
        at = dedup_components(pairs)
    with session_budget(spark, edge_bytes - 1):
        below = dedup_components(pairs)
    assert _is_local(at) and not _is_local(below)
    assert bag(at) == bag(below) == Counter((i, 0) for i in range(5))

    claims = local_df(spark, [("q1", "P31", "c1"), ("c1", "P279", "c2")],
                      "qid string, property string, value_qid string")
    anchors = local_df(spark, [("c2", "Object", "u:Object")],
                       "wd_class string, bfo_label string, class_uri string")
    ents = local_df(spark, [("e1", "a war and a person", None)],
                    "id string, text string, claims map<string,array<string>>")
    dims = (bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark))
    alias = local_df(spark, [("a", "Q1", "a", 0.5)],
                     "alias string, qid string, label string, prior double")
    raw = spark.createDataFrame(
        [("c", 0, None, "a", "related_to", "a")],
        "conv_id string, turn_idx int, ts timestamp, subj_mention string, "
        "pred string, obj_mention string",
    )
    folded_closure = p279_closure(claims)
    folded = [folded_closure, classify_rule_based(ents, *dims),
              canonicalize_qids(claims, anchors, folded_closure)]
    assert all(_is_local(df) for df in folded)
    with session_budget(spark, -1):
        flow_closure = p279_closure(claims)
        flow = [flow_closure, classify_rule_based(ents, *dims),
                canonicalize_qids(claims, anchors, flow_closure)]
        linked = link_triples(raw, alias)
        assert not any(_is_local(df) for df in flow)
        assert "Window" in linked._jdf.queryExecution().optimizedPlan().toString()
    assert [bag(df) for df in flow] == [bag(df) for df in folded]
    assert bag(flow[2].select("qid", "distance")) == Counter([("q1", 1)])
    assert bag(linked.select(F.col("subj_qid"))) == Counter([("Q1",)])
