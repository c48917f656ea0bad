"""Benchmark harness — one JSON line on stdout.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The flagship number is
the KG-construction dataflow (transcripts → extract → link → dedup →
edges) measured as wall seconds and derived triples/sec; the rest are the
operator-level headline queries.

    env PYTHONPATH=/root/repo python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# best-of-N per query (VERDICT r3 item 5: single runs swing ±130% under
# this box's bursty external load; best-of-2 + recorded loadavg makes the
# artifact self-adjudicating)
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def _loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []

BENCH_QUERIES = [
    "mentions",
    "edges",
    "wikidata_canon",
    "cascade_assignments",
    "hierarchical",
    "dedup_exact",
    "minhash_lsh",
    "dedup_components",
    "doc_stats",
    "doc_semantic",
    "doc_hierarchy",
    "doc_cascade",
    "embedding_topk",
    "embedding_lsh_dups",
    "embedding_ivf_topk",
    "image_features",
    "audio_features",
    "video_features",
    "pricing_summary",
    "customer_nation_revenue",
    "events_topn",
]


def main():
    import __spark_entry__ as entrymod
    from bfokg.datagen import generate_transcripts, sf_from_dir, sf_to_n_turns
    from bfokg.session import get_spark

    sf = sf_from_dir(SF_DIR)
    generate_transcripts(sf)  # idempotent; excluded from timing
    spark = get_spark(app_name="bfokg-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    # warm the JVM/Python workers once (tiny job, not timed)
    spark.range(1000).count()

    from bfokg.util import release_intermediates

    load_before = _loadavg()
    for name in BENCH_QUERIES:
        best = None
        for _ in range(N_RUNS):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            counts[name] = df.count()
            dt = time.time() - t0
            # release operator caches after the consuming action (outside
            # the timed window): queries are independent, so any block left
            # cached is dead weight that skews later queries' memory
            # headroom — and releasing between repeats keeps each repeat a
            # cold, comparable run
            release_intermediates(df)
            spark.catalog.clearCache()
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    n_turns = sf_to_n_turns(sf)
    edges_sec = timings["edges"]
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extra": {
            "cpus": int(CPUS),
            "timing": f"best_of_{N_RUNS}",
            "loadavg_before": load_before,
            "row_counts": counts,
            "n_turns": n_turns,
            "turns_per_sec": round(n_turns / edges_sec, 1) if edges_sec else None,
            "triples_per_sec": round(counts["edges"] / edges_sec, 1) if edges_sec else None,
        },
    }

    # sf1.0 leg (VERDICT r2 item 10): the sf0.1 rows are fixed-cost-
    # dominated for half the queries; one 600k-turn row per round makes
    # round-over-round comparison less noise-prone. Transcript-backed
    # queries only (documents/embeddings parquet exist at sf<=0.1).
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        generate_transcripts(1.0)  # idempotent; excluded from timing
        sf1_dir = "/root/testdata/sf1.0"  # only sf matters for these queries
        sf1 = {}
        for name in ("mentions", "edges"):
            t0 = time.time()
            n = qs[name](spark, sf1_dir).count()
            sf1[name] = round(time.time() - t0, 3)
            sf1[f"{name}_rows"] = n
        sf1_turns = sf_to_n_turns(1.0)
        sf1["n_turns"] = sf1_turns
        sf1["turns_per_sec"] = round(sf1_turns / sf1["edges"], 1) if sf1["edges"] else None

        # corpus comparator (VERDICT r3 item 5): one big CORPUS query next
        # to the transcript rows — the sf0.1 documents table amplified ×32
        # in-session (~160k distinct docs, per-copy token suffixes so no
        # cross-copy dup pairs), through the full MinHash+LSH dedup
        from pyspark.sql import functions as F

        from bfokg.operators.dedup import minhash_lsh_pairs

        base_docs = spark.read.parquet(
            os.path.join(SF_DIR, "documents.parquet")
        ).select("doc_id", "text")
        copies = spark.range(32).select(F.col("id").alias("copy"))
        suffixed = F.array_join(
            F.transform(
                F.split("text", " "),
                lambda t: F.concat(t, F.lit("_"), F.col("copy").cast("string")),
            ),
            " ",
        )
        docs32 = (
            base_docs.crossJoin(copies)
            .select((F.col("doc_id") * 32 + F.col("copy")).alias("doc_id"),
                    suffixed.alias("text"))
            .repartition(int(CPUS)).persist()
        )
        n_docs32 = docs32.count()  # materialize outside the timed window
        best = None
        for _ in range(N_RUNS):
            t0 = time.time()
            pairs = minhash_lsh_pairs(docs32, threshold=0.5)
            n_pairs = pairs.count()
            dt = time.time() - t0
            release_intermediates(pairs)
            best = dt if best is None else min(best, dt)
        docs32.unpersist()
        sf1["minhash_docs_x32"] = round(best, 3)
        sf1["minhash_docs_x32_docs"] = n_docs32
        sf1["minhash_docs_x32_pairs"] = n_pairs
        sf1["minhash_docs_per_sec"] = round(n_docs32 / best, 1)

        # classifier-family comparator (VERDICT r4 item 7): the cascade
        # kernel family (rule_based keyword stage → semantic TF-IDF on the
        # residue) over the sf0.1 documents amplified ×32 VERBATIM — ids
        # disambiguated, text unchanged, because classification is per-doc
        # (a copy costs exactly what a distinct doc costs) and the
        # token-suffixed dedup amplification would blind the keyword and
        # vocab kernels. One stable ~160k-doc round-over-round row for the
        # mapInPandas kernel family next to the shuffle-family rows above.
        from bfokg.operators.strategies import cascade
        from bfokg.plans.pipeline import default_classifiers

        docs32c = (
            base_docs.crossJoin(copies)
            .select(
                (F.col("doc_id") * 32 + F.col("copy")).cast("string").alias("id"),
                "text",
                F.lit(None).cast("map<string,array<string>>").alias("claims"),
            )
            .repartition(int(CPUS)).persist()
        )
        n_docs_c = docs32c.count()  # materialize outside the timed window
        best_c = None
        for _ in range(N_RUNS):
            t0 = time.time()
            matches, _trace = cascade(docs32c, default_classifiers(spark), top_k=3)
            n_top1 = matches.where(F.col("rank") == 1).count()
            dt = time.time() - t0
            best_c = dt if best_c is None else min(best_c, dt)
        docs32c.unpersist()
        sf1["doc_cascade_x32"] = round(best_c, 3)
        sf1["doc_cascade_x32_docs"] = n_docs_c
        sf1["doc_cascade_x32_rows"] = n_top1
        sf1["doc_cascade_docs_per_sec"] = round(n_docs_c / best_c, 1)
        result["extra"]["sf1"] = sf1

    result["extra"]["loadavg_after"] = _loadavg()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
