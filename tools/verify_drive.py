"""End-to-end verify drive (the /verify skill's flows 1-5, one script).

Drives the library through a real SparkSession: classifier kernels,
strategies, the resumable pipeline with snapshot skip, the driver
contract, presets/SBERT slot, hierarchy walk, Aho-Corasick mentions,
real image decode, and the new oracle queries. Prints one OK line per
flow and VERIFY_DRIVE_ALL_OK at the end.

    env PYTHONPATH=/root/repo python tools/verify_drive.py   (~3 min)
"""
import os, sys, tempfile, time  # noqa: E401

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F
from bfokg.session import get_spark

spark = get_spark(app_name="verify-drive", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

# --- flow 1: classifiers end-to-end on micro fixtures ---
from bfokg.fixtures import micro_entities_df, entities_df
from bfokg.functions.text import with_entity_text
from bfokg.ontology import bfo_classes_df
from bfokg.operators.rule_based import classify_rule_based, keyword_rules_df, p31_rules_df
from bfokg.operators.semantic import classify_semantic

micro = with_entity_text(micro_entities_df(spark))
rb = classify_rule_based(micro, bfo_classes_df(spark), p31_rules_df(spark), keyword_rules_df(spark)).collect()
q1 = [r for r in rb if r.entity_id == "Q1"]
assert len(q1) == 1 and q1[0].class_label == "MaterialEntity" and q1[0].confidence == 0.95, q1
q2 = [r for r in rb if r.entity_id == "Q2"]
assert any(r.class_label == "Process" for r in q2), q2
sem = classify_semantic(micro, top_k=3).collect()
assert len(sem) == len(micro.collect()) * 3
print("flow1 OK: rule short-circuit + semantic top-k")

# --- flow 2: strategies on full fixtures ---
from bfokg.operators.strategies import cascade, ensemble, hybrid_confidence, tiered, infer_parents
from bfokg.plans.pipeline import default_classifiers
from bfokg.ontology import bfo_closure_df
from bfokg.util import release_intermediates

ents = with_entity_text(entities_df(spark, include_micro=True))
clf = default_classifiers(spark)
m, trace = cascade(ents, clf)
tr = trace.collect()
decs = {r.decision for r in tr}
assert decs <= {"ACCEPTED", "CONTINUE", "NO_RESULTS"} and "ACCEPTED" in decs, decs
ens = ensemble(ents, clf).collect(); assert len(ens) > 0
hy = hybrid_confidence(ents, clf).collect()
boosted = [r for r in hy if r.votes >= 2]; assert boosted, "no agreement boost rows"
ti = tiered(ents, clf); n_ti = ti.count(); assert n_ti > 0; release_intermediates(ti)
par = infer_parents(m, bfo_closure_df(spark), bfo_classes=bfo_classes_df(spark)).collect()
assert par and all(r.source == "inferred" for r in par)
print(f"flow2 OK: cascade({len(tr)} trace rows) ensemble({len(ens)}) hybrid(boost {len(boosted)}) tiered({n_ti}) parents({len(par)})")

# --- flow 3: flagship pipeline with resume ---
import os
from bfokg.datagen import generate_transcripts
from bfokg.plans.pipeline import run_pipeline
ddir = generate_transcripts(0.001)
t = spark.read.parquet(ddir)
out = tempfile.mkdtemp(prefix="verify_kg_")
res = run_pipeline(spark, t, out)
ne, nn = res["edges"].count(), res["nodes"].count()
assert ne > 0 and nn > 0 and res["skipped"] == []
assert os.path.exists(os.path.join(out, "edges", "_MANIFEST.json"))
res2 = run_pipeline(spark, t, out, resume=True)
assert set(res2["skipped"]) == {"extract", "edges", "nodes"}, res2["skipped"]
print(f"flow3 OK: edges={ne} nodes={nn}, resume skipped all stages")

# --- flow 4: driver contract ---
import __spark_entry__ as entry
df = entry.entry(spark)
n = df.count(); assert n > 0
qs, osql = entry.queries(), entry.oracle_sql()
assert set(osql) <= set(qs), set(osql) - set(qs)
print(f"flow4 OK: entry() -> {n} rows; {len(qs)} queries, {len(osql)} oracles")

# --- new round-2 surfaces: preset + CLI module import + bucketed dedup ---
from bfokg.api import Classifier
c = Classifier(spark, preset="production")
assert "zeroshot" in c.classifiers
out = c.classify(with_entity_text(entities_df(spark)).limit(3), strategy="ensemble")
assert out.count() > 0
print("round2 OK: preset classifier classify() works")

# hierarchical with subtree smoothing + AC mention path
from bfokg.operators.hierarchy import classify_hierarchical
h = classify_hierarchical(with_entity_text(entities_df(spark)).limit(5)).collect()
assert len(h) == 5 and all(r.rank == 1 for r in h)
from bfokg.operators.linking import _mentions_aho, _mentions_sql, alias_rows
surfaces = [r[0] for r in alias_rows()]
n_aho = _mentions_aho(t, surfaces).count()
n_sql = _mentions_sql(t, surfaces).count()
assert n_aho == n_sql and n_aho > 0, (n_aho, n_sql)
print(f"round2b OK: hierarchy walk {len(h)} rows, aho mentions == sql ({n_aho})")

# real multimodal decode + new oracle queries under the driver contract
from bfokg.operators.multimodal import extract_image_features
pgm = spark.createDataFrame([(1, b"P5 2 2 255\n\x00\x40\x80\xff", "image/x-portable-graymap")],
                            "doc_id long, payload binary, mime string")
r = extract_image_features(pgm).first()
assert r.decode_ok and (r.width, r.height) == (2, 2), r
q3 = entry.queries()
for name in ("kg_nodes_canon", "eval_rule_accuracy", "image_features"):
    cnt = q3[name](spark, "/root/testdata/sf0.001").count()
    assert cnt > 0, name
print("round2c OK: real PNM decode + 3 new oracle queries run")

# round-5 surface: repetition stats
from bfokg.operators.repetition import top_ngram_stats
docs5 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
rep = top_ngram_stats(docs5.limit(50))
assert rep.count() > 0 and rep.where(F.col("top_ngram_frac") > 1).count() == 0
print("round5 OK: top_ngram_stats bounded")
print("VERIFY_DRIVE_ALL_OK")
spark.stop()
