"""Accuracy report over the reference's 29 golden fixtures → BENCH/EVAL.md.

Mirrors the reference's scripts/evaluate.py (SURVEY.md §3.2): hit@k per
individual classifier and per strategy (A3), per-class breakdown for the
best strategy (A4), and the claims-path P/R the north_rule gates on (A6).

    env PYTHONPATH=/root/repo python tools/eval_report.py
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    from pyspark.sql import functions as F

    from bfokg.evaluation.evaluator import accuracy, per_class_accuracy
    from bfokg.fixtures import fixtures_df
    from bfokg.functions.text import with_entity_text
    from bfokg.operators.hierarchy import classify_hierarchical
    from bfokg.operators.strategies import classify, infer_parents
    from bfokg.ontology import bfo_closure_df
    from bfokg.plans.pipeline import default_classifiers
    from bfokg.session import get_spark

    spark = get_spark(app_name="eval-report", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    fixtures = fixtures_df(spark)
    ents = with_entity_text(fixtures).persist()
    golden = fixtures.select(
        F.col("id").alias("entity_id"), "gt_bfo_uri", "gt_bfo_label"
    ).persist()
    classifiers = default_classifiers(spark)
    closure = bfo_closure_df(spark)

    def acc_row(preds, k, include_parents=False):
        r = accuracy(preds, golden, top_k=k, include_parents=include_parents).first()
        return f"{r['correct']}/{r['total']} ({r['accuracy']:.3f})"

    lines = [
        "# BENCH/EVAL — accuracy on the reference's 29 golden fixtures",
        "",
        f"Generated by `tools/eval_report.py` at "
        f"{datetime.now(timezone.utc).isoformat()}. Correctness metric is the",
        "reference's own: hit@k = ground-truth URI ∈ top-k predictions",
        "(evaluator.py:60-74). Deterministic HashingEncoder semantic kernel —",
        "no model downloads (SURVEY.md §7.0).",
        "",
        "| surface | hit@1 | hit@3 |",
        "|---|---|---|",
    ]

    surfaces: list[tuple[str, object]] = [
        (f"classifier:{name}", lambda e, k, _n=name: classifiers[_n](e, k))
        for name in classifiers
    ]
    surfaces += [
        (f"strategy:{s}", lambda e, k, _s=s: classify(e, classifiers, strategy=_s, top_k=k))
        for s in ("cascade", "ensemble", "hybrid_confidence", "tiered")
    ]
    def cascade_with_parents(e, k):
        m = classify(e, classifiers, strategy="cascade", top_k=k)
        cols = ["entity_id", "class_uri", "confidence", "source", "rank"]
        return m.select(*cols).unionByName(infer_parents(m, closure).select(*cols))

    surfaces.append(("strategy:cascade+parent-credit", cascade_with_parents))

    best = None
    for label, fn in surfaces:
        inc = label.endswith("parent-credit")
        p1 = fn(ents, 1)
        p3 = fn(ents, 3)
        h1, h3 = acc_row(p1, 1, inc), acc_row(p3, 3, inc)
        lines.append(f"| {label} | {h1} | {h3} |")
        print(label, h1, h3)
        if label == "strategy:cascade":
            best = p3

    # hierarchical: single-node result; the reference-faithful credit is
    # "gt class visited on the walk" (path analog of parent credit)
    hier = classify_hierarchical(ents)
    hscore = (
        hier.join(golden, "entity_id")
        .select(
            F.exists(
                "path", lambda p: p["class_uri"] == F.col("gt_bfo_uri")
            ).cast("int").alias("hit")
        )
        .agg(F.sum("hit").alias("c"), F.count("*").alias("t"))
        .first()
    )
    exact = (
        hier.join(golden, "entity_id")
        .where(F.col("class_uri") == F.col("gt_bfo_uri"))
        .count()
    )
    lines.append(
        f"| hierarchical (exact stop-node / gt-on-path) | {exact}/{hscore['t']} | "
        f"{hscore['c']}/{hscore['t']} ({hscore['c']/hscore['t']:.3f}) |"
    )
    lines += [
        "",
        "Hierarchical floor: gt-on-path ≥ 20/29 (pinned in",
        "tests/test_hierarchy_and_eval.py::test_hierarchical_gt_on_path_floor).",
        "The walk scores children against subtree-aggregated class vectors",
        "(semantic.class_index(subtree_smoothing=True)): an internal node's",
        "vector is the L2-normalized sum of its subtree's vectors, giving the",
        "lexical encoder the 'anything below me' generalization SBERT gets",
        "from pretraining. Stop rules / thresholds are reference semantics",
        "(the walk is pinned against its DuckDB replay in",
        "tests/test_hierarchy_and_eval.py::test_hierarchical_exact_matches_duckdb_oracle).",
        "Exact-stop stays low",
        "by construction — the walk often (correctly) descends PAST the",
        "mid-level gt label into a more specific subclass, which mirrors the",
        "reference's own hierarchical fragility on mid-level labels.",
    ]
    print("hierarchical", exact, hscore["c"], "/", hscore["t"])

    lines += ["", "## Per-class breakdown (cascade, hit@3)", "",
              "| ground-truth class | accuracy | n |", "|---|---|---|"]
    for r in per_class_accuracy(best, golden, top_k=3).collect():
        lines.append(f"| {r['gt_bfo_label']} | {r['accuracy']:.3f} | {r['n']} |")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCH", "EVAL.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote", out)


if __name__ == "__main__":
    main()
