"""Dump formatted physical plans of the headline queries → BENCH/PLANS.md.

What to look for (and what the committed output shows):
- parquet scans carry PushedFilters / narrow ReadSchema (pruning works),
- small dims join as BroadcastHashJoin, never shuffle,
- WholeStageCodegen spans cover the column-expression pipelines,
- the only exchanges are the semantically required ones (top-k windows,
  dedup window, final aggregates).

    env PYTHONPATH=/root/repo python tools/explain_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")

PLAN_QUERIES = [
    "edges",
    "rule_based",
    "pricing_summary",
    "customer_nation_revenue",
    "wikidata_canon",
    "embedding_topk",
    "embedding_lsh_dups",
    "embedding_ivf_topk",
    "dedup_exact",
    "minhash_lsh",
    "lsh_jaccard",
    "doc_splits",
    "doc_stats",
    "doc_cascade",
]


def main():
    import __spark_entry__ as entrymod
    from bfokg.session import get_spark

    spark = get_spark(app_name="explain", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = ["# Physical plans (explain formatted) — headline queries\n"]
    for name in PLAN_QUERIES:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCH", "PLANS.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
