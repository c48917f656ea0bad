"""Deduplication operators for large-scale text corpora.

No reference counterpart (the reference dedups only via tiny ``set()``
membership, SURVEY.md §2.4) — these are the training-data-pipeline
operators a 100 TB corpus engine needs. All are DataFrame compositions;
Python runs only in the Arrow-batched numpy kernels (MinHash, SimHash,
embedding-LSH bucketing).

Scale notes per operator:
- exact:        one hash-aggregate on a normalized key. Map-side partial
                aggregation makes this shuffle |distinct| not |rows|.
- ngram_jaccard: explode shingles → self-join on shingle → per-pair
                intersection counts → filter. The shingle join is the
                classic quadratic blowup; at scale it MUST be preceded by
                the MinHash/LSH candidate filter below (here it doubles as
                the exact oracle for small inputs).
- minhash_lsh:  shingle → k permuted min-hashes → band buckets →
                candidates join only within buckets → verify with exact
                jaccard. Linear in corpus size for bounded bucket sizes;
                banding parameters tune the recall/cost tradeoff.
- simhash:      64-bit signed-projection fingerprint; near-dups share
                fingerprints within small Hamming distance; bucket by
                rotated prefixes.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..util import attach_cleanup

# ---------------------------------------------------------------- exact --


def normalize_text_col(col):
    """Lowercase, collapse whitespace, strip punctuation — the usual
    exact-dup normalization."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of identical normalized text; keeper = min id.
    Returns (keeper_id, n_dups, doc_ids)."""
    return (
        docs.select(F.col(id_col), normalize_text_col(F.col(text_col)).alias("norm"))
        .groupBy("norm")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
        .drop("norm")
    )


def dedup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup PAIRS → transitive duplicate CLUSTERS:
    (doc_id, component_id) where component_id = min doc id reachable
    through the pair graph (A~B, B~C ⇒ {A,B,C} is ONE cluster even though
    (A,C) was never emitted). Nodes appearing in no pair are their own
    singleton components and are NOT emitted (``dedup_keep_list`` joins
    back against the corpus for a full keep-list).

    Routing (``bfokg.routing``): without ``checkpoint_dir``, the undirected
    edges stream off the pair plan through the bounded ``driver_rows`` (a
    row cap on the executors, then a byte count); a table within the
    session budget resolves by driver union-find with no scratch written. One that passes the budget, or an
    explicit ``checkpoint_dir`` (a request for durable scratch), runs the
    distributed loop. No estimate gate precedes the collect, because lazy
    MinHash pair plans estimate 1e20–1e24 B for tens to hundreds of pairs
    (a gate would send every bench query to the loop) while
    ``run_curation`` commits its pairs first (a 26 KB estimate) and so
    runs the pair plan once (BENCH/DEDUP.md).

    The loop is iterative min-label propagation: each round unions the
    labels with the edge-joined neighbour labels and takes the per-node
    min, so rounds = cluster diameter (``max_iter`` guards, raising on
    non-convergence). The edge table and every round ≥ 1 are written to
    parquet under a unique per-run subdir of ``checkpoint_dir`` (explicit
    arg → session checkpoint dir → a temp dir on local masters; a
    multi-node master with neither raises), so the plan never accretes
    round history and the state survives executor loss. Superseded
    rounds are deleted as soon as they are consumed; the returned frame
    carries a ``release_intermediates`` handle for the rest. Convergence
    rides each round's write: an exact decimal(38,0) Σcomponent_id
    (labels only decrease, so an unchanged sum ⟺ no label changed);
    non-integral ids (strings) use a join probe instead. Both routes are
    pinned output-identical in tests."""
    from .. import routing
    from ..util import PathCleanup, resolve_scratch_dir

    spark = pairs.sparkSession
    edges = _undirected_edges(pairs, id_a, id_b)
    if checkpoint_dir is None:
        rows = routing.driver_rows(edges)
        if rows is not None:
            return _driver_components_rows(spark, rows, edges.schema["src"].dataType)
    checkpoint_dir = resolve_scratch_dir(
        spark, "bfokg_components", explicit=checkpoint_dir
    )
    try:
        edges, _ = _write_round(edges, os.path.join(checkpoint_dir, "edges"))
        labels = _dedup_components_loop(edges, max_iter, checkpoint_dir)
        return attach_cleanup(labels, PathCleanup(checkpoint_dir, spark))
    except BaseException:
        # failed runs (non-convergence, mid-loop write/job failure) must
        # not leak the per-run scratch on shared checkpoint storage —
        # only the local tempfile branch has an atexit safety net
        PathCleanup(checkpoint_dir, spark).unpersist()
        raise


def _undirected_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Distinct (src, dst) edges in both directions; a pair with a NULL id
    links nothing and is dropped."""
    edges_ab = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    return edges_ab.unionByName(
        edges_ab.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _write_round(df: DataFrame, path: str, probe=None):
    """Write ``df`` durably to ``path`` and read it back. ``probe``'s
    exact decimal(38,0) sum rides the write itself via ``df.observe``, so
    convergence costs no extra scan. Returns (read-back frame, observed sum)."""
    from pyspark.sql import Observation

    obs = None
    if probe is not None:
        obs = Observation()
        df = df.observe(obs, F.sum(probe.cast("decimal(38,0)")).alias("s"))
    df.write.mode("overwrite").parquet(path)
    observed = obs.get["s"] if obs is not None else None
    return df.sparkSession.read.parquet(path), observed


def _driver_components_rows(spark, rows, src_type) -> DataFrame:
    """``dedup_components``' driver-side twin: the budget-bounded
    undirected edge rows are resolved by union-find (path-halving), then
    each component is canonicalized to its min member id.
    Output-identical to the min-label-propagation loop by construction —
    both emit (doc_id, component_id = min id reachable through the pair
    graph) over exactly the nodes that appear in a pair — and pinned
    against the loop in tests (int and string ids; Python's str ordering
    and Spark's UTF8String ordering agree because UTF-8 byte order
    preserves code-point order). Small results return as a true
    LocalRelation so a downstream join (``dedup_keep_list``) can
    broadcast them without a build job; above that the plain
    createDataFrame path avoids rendering a megabyte VALUES clause."""
    from pyspark.sql import types as T

    from ..util import local_df

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    members: dict = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    out = []
    for group in members.values():
        keeper = min(group)
        out.extend((node, keeper) for node in group)
    schema = T.StructType([
        T.StructField("doc_id", src_type),
        T.StructField("component_id", src_type),
    ])
    if len(out) > 20000:
        return spark.createDataFrame(out, schema)
    return local_df(spark, out, schema)


def _dedup_components_loop(edges: DataFrame, max_iter: int,
                           checkpoint_dir: str) -> DataFrame:
    """The min-label-propagation loop over the durably written undirected
    edge table; each round ≥ 1 is written under ``checkpoint_dir``."""
    from ..util import PathCleanup

    spark = edges.sparkSession
    integral_ids = edges.schema["src"].dataType.typeName() in (
        "byte", "short", "integer", "long"
    )
    probe = F.col("component_id") if integral_ids else None

    # round 0 is NOT materialized: the initial label table is a pure
    # function of the durably-written edges table (distinct src, label =
    # own id), so losing an executor recomputes it from edges
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
    )
    prev_path = None

    def _changed_join(new: DataFrame, old: DataFrame) -> bool:
        # non-integral ids (strings) have no exact monotone sum — fall
        # back to the join probe for them
        return bool(
            new.alias("n")
            .join(old.alias("o"), "doc_id")
            .where(F.col("n.component_id") != F.col("o.component_id"))
            .limit(1)
            .count()
        )

    prev_sum = None
    if integral_ids:
        # decimal(38,0) keeps the sum exact at 10^9 nodes × int64 ids
        prev_sum = labels.agg(
            F.sum(F.col("component_id").cast("decimal(38,0)"))
        ).first()[0]
    for i in range(1, max_iter + 1):
        # one propagation round = min over {own label} ∪ {neighbor labels}:
        # UNION the label table with the edge-joined neighbor labels and
        # take one hash-aggregate min per node (one exchange per round;
        # the map-side partial min shrinks the union before it shuffles)
        propagated = edges.join(labels, edges.dst == labels.doc_id).select(
            F.col("src").alias("doc_id"), "component_id"
        )
        new_path = os.path.join(checkpoint_dir, f"round_{i:02d}")
        new_labels, new_sum = _write_round(
            labels.unionByName(propagated)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id")),
            new_path,
            probe=probe,
        )
        if integral_ids:
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = not _changed_join(new_labels, labels)
        # round i-1 is no longer referenced by any future plan — release
        # it now; only edges + the final round remain for the handle
        if prev_path is not None:
            PathCleanup(prev_path, spark).unpersist()
        labels, prev_path = new_labels, new_path
        if converged:
            return labels
    raise RuntimeError(
        f"dedup_components did not converge in {max_iter} rounds "
        "(pair graph diameter exceeds max_iter — raise it)"
    )


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    **component_kwargs,
) -> DataFrame:
    """(doc_id, keeper_id, is_keeper) over the FULL corpus: every doc
    maps to its component's min id (itself when it has no near-dup).
    ``docs.where(F.col("is_keeper"))`` is the deduplicated corpus;
    non-keepers are the drop set. One broadcast-or-shuffle left join of
    the corpus against the (small) component table. Extra keyword args
    (``checkpoint_dir``, ``max_iter``) pass through to
    ``dedup_components``."""
    comp = dedup_components(pairs, id_a, id_b, **component_kwargs)
    out = docs.select(F.col(id_col).alias("doc_id")).join(comp, "doc_id", "left")
    out = out.select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("keeper_id"),
    ).withColumn("is_keeper", F.col("doc_id") == F.col("keeper_id"))
    # propagate the component table's scratch-dir handle so
    # release_intermediates works through the composition
    return attach_cleanup(out, *getattr(comp, "_bfokg_cached", ()))


# -------------------------------------------------------- ngram jaccard --


def shingles_df(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc — built-ins only:
    tokenize → sliding window via transform over indices → explode.
    regexp_extract_all, not split (round 6): regexp_* expressions cache
    their compiled pattern, StringSplit recompiles per call. Same token
    sequence (norm is space-collapsed and trimmed, so split fields ==
    non-space runs; the empty-text corner lands in the same
    single-shingle branch either way)."""
    toks = F.regexp_extract_all(
        normalize_text_col(F.col(text_col)), F.lit("[^ ]+"), F.lit(0)
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    # when fewer than n tokens, use the full text as the single shingle
    grams = F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.array_join(toks, " "))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold."""
    sh = shingles_df(docs, n, id_col, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_shingles", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_shingles", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_jaccard_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    est_threshold: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH-bucketed candidates verified with EXACT n-gram Jaccard — the
    production composition ``ngram_jaccard_pairs``'s docstring mandates at
    scale but the module previously never provided as one operator:
    ``minhash_lsh_pairs`` generates candidates (linear in corpus size for
    bounded buckets), then the exact shingle-intersection verify runs ONLY
    on those candidate pairs, never all pairs.

    ``est_threshold`` (default ``max(threshold - 0.15, 0)``) prefilters
    candidates on the minhash ESTIMATE before the exact verify: at k=64
    hashes the estimator's stddev is sqrt(j(1-j)/k) ≈ 0.06 near the
    interesting range, so a ~2.5σ margin keeps pairs whose true jaccard
    clears ``threshold`` from being dropped on estimator noise, while
    discarding the bulk of clearly-sub-threshold candidates before they
    touch the shingle join. Overall recall remains bounded by banding
    (1 − (1 − s^r)^b), as for any LSH pipeline; precision is exact.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and exact
    jaccard ≥ threshold.

    Shuffle shape at scale: banding/candidates as in ``minhash_lsh_pairs``
    (including its size-routed signature storage); the verify explodes each candidate pair by doc_a's
    shingles and inner-joins on (doc_b, shingle) to count the shared ones
    — |candidates| × avg-shingles rows, independent of corpus size. The
    result carries the upstream scratch cleanup handle
    (``release_intermediates`` when done)."""
    if est_threshold is None:
        est_threshold = max(threshold - 0.15, 0.0)
    cand_raw = minhash_lsh_pairs(
        docs, num_hashes, bands, n, est_threshold, id_col, text_col
    )
    cand = cand_raw.select("doc_a", "doc_b")
    sh = shingles_df(docs, n, id_col, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    inter = (
        cand
        .join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
              ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_shingles").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_shingles").alias("size_b")), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return attach_cleanup(out, *getattr(cand_raw, "_bfokg_cached", ()))


# -------------------------------------------------------------- minhash --

# 2^31-1 keeps every a*h + b product under 2^60 — no int64 overflow in the
# vectorized numpy universal hashing below (a < 2^29, h < 2^31).
_MERSENNE = (1 << 31) - 1
_A_MAX = 1 << 29

# minhash_lsh_pairs' signature-storage crossover (also the fan-out gate of
# minhash_signatures): inputs estimated under this stay on the
# memory persist (the write+read round trip dominates); above it — or with
# no usable estimate — the scratch-parquet table wins (640k-doc A/B in
# BENCH/DEDUP.md: 2× on the banding scan). 64 MB is conservative: every
# measured parquet-wins corpus is far above it, every measured
# memory-wins corpus far below.
_SIG_MEMORY_MAX_BYTES = 64 << 20


def _perm_params(k: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _A_MAX, size=k, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=k, dtype=np.int64)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """(doc_id, signature ARRAY<INT>) via one Arrow-batched kernel:
    shingle → crc32 → k universal-hash mins, vectorized per doc.

    Two DELIBERATE scalar-vs-vector calls, both measured (VERDICT r2 item
    4 asked for full vectorization; the measurements said no):
    - per-shingle ``zlib.crc32`` C calls beat the bit-identical vectorized
      numpy table-gather char loop 3× (BENCH/DEDUP.md records the
      rejected kernel — short strings are C-call-bound);
    - the per-DOC k×|sh| universal-hash matrix beats a batched
      all-docs-at-once ``minimum.reduceat`` variant: the small per-doc
      temporaries stay in the allocator pool / CPU cache, while the
      batched 50 MB temporaries thrash mmap across 32 parallel workers
      (measured 4.3 s vs 14.6 s for 640k docs at local[32]).
    Signatures are int32 — every min-hash < 2^31-1 — halving the
    signature table's cache + shuffle bytes at corpus scale.

    FAN-OUT (round 6): a small corpus in one single-row-group parquet file
    scans as ONE task, so the (CPU-heavy) kernel runs serially no matter
    how many cores exist — a round-robin repartition to default
    parallelism ahead of the kernel costs a sub-MB exchange and measured
    0.67 s → 0.48 s on the 5k-doc leg. Gated on the optimizer's size
    estimate: a big or unknown-size input (the at-scale case — many row
    groups, naturally parallel) is left untouched."""
    from zlib import crc32

    from .. import routing

    if routing.fits(docs, limit=_SIG_MEMORY_MAX_BYTES):
        docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)

    a, b = _perm_params(num_hashes, seed)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        ws = _re.compile(r"\s+")
        for pdf in batches:
            sigs = []
            for text in pdf[text_col].fillna(""):
                norm = ws.sub(" ", _re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip()
                toks = norm.split(" ")
                if len(toks) >= n:
                    sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                else:
                    sh = {norm}
                hv = np.array([crc32(s.encode()) % _MERSENNE for s in sh], dtype=np.int64)
                # k × |sh| universal hashing, min per row (all < 2^60, no overflow)
                m = (np.outer(a, hv) + b[:, None]) % _MERSENNE
                sigs.append(m.min(axis=1).astype(np.int32))
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "signature": sigs})

    return docs.select(id_col, text_col).mapInPandas(
        kernel, "doc_id long, signature array<int>"
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + LSH banding candidate generation, verified with estimated
    jaccard = matching-minhash fraction. Returns (doc_a, doc_b, est_jaccard).

    Signature storage (the table is consumed 3×: banding + both verify
    joins) is size-routed: an input whose estimate fits
    ``_SIG_MEMORY_MAX_BYTES`` (``routing.fits``) persists it in memory,
    where the write+read round trip would be pure fixed cost; anything
    larger or of unknown size writes it to a scratch PARQUET dir (the
    configured Spark checkpoint dir, else a temp dir on local masters;
    the memory persist when neither exists). Parquet wins for big inputs
    because Spark's in-memory columnar cache stores array columns via
    generic object serialization, and decoding it CONTENDS across threads
    (measured on the 640k-doc leg: banding off the memory cache 13.9 s @8
    / 13.5 s @32 — negative scaling — vs 8.3 s / 6.6 s off parquet's
    vectorized reader, BENCH/DEDUP.md). The returned frame's cleanup
    handle DELETES the scratch dir — release only when done with it.

    Shuffle shape (the scale story — every byte here multiplies at 10^9
    docs, all MEASURED on the 640k-doc scaling leg, tools/
    dedup_scaling_bench.py):
    - signatures are int32 (every min-hash < 2^31-1) — half the
      cache/shuffle bytes of the naive long array;
    - bucket ids hash the band-signature array directly (xxhash64 over
      array<int>) — no per-row JSON serialization;
    - candidate pairs are deduped AFTER the threshold filter, not before:
      banding yields only ~3% duplicate pairs (18.3M raw → 17.7M
      distinct measured), so a pre-verify distinct is a full extra
      shuffle of the candidate set to save 3% of the verify work — the
      post-threshold survivor set is ~1000× smaller;
    - the signature table is persisted and the verify joins keep the
      candidate side narrow (doc_id pairs only). Two rejected variants,
      both measured slower end-to-end: forcing a doc_id repartition of
      the signature table (+52% wall at local[8] — it only adds an
      exchange; AQE already plans the joins fine), and carrying the full
      signatures through the banding exchange to verify inline in the
      self-join (single-shuffle on paper, but +9% wall at local[32] —
      the wide-row exchange costs more than the narrow candidate
      re-shuffle it saves)."""
    from .. import routing
    from ..util import PathCleanup, resolve_scratch_dir

    spark = docs.sparkSession
    sigs_raw = minhash_signatures(docs, num_hashes, n, id_col, text_col)
    store_dir = None
    if not routing.fits(docs, limit=_SIG_MEMORY_MAX_BYTES):
        # require=False: with no executor-visible scratch available the
        # operator falls back to the memory persist
        store_dir = resolve_scratch_dir(spark, "bfokg_sigs", require=False)
    if store_dir is not None:
        # DOCUMENTED EXCEPTION to the plan-building-only operator contract
        # (test_no_jobs_at_operator_construction): parquet-backed signature
        # storage runs its materializing write HERE, at construction — the
        # storage choice is the operator's whole point (measured 2.1×
        # faster reads than the block cache for array columns) and Spark
        # offers no defer-until-first-action hook for a parquet sink.
        sigs_raw.write.mode("overwrite").parquet(store_dir)
        sigs = spark.read.parquet(store_dir)
        cleanup = PathCleanup(store_dir, spark)
    else:
        sigs = sigs_raw.persist()
        cleanup = sigs
    return attach_cleanup(
        _lsh_pairs_from_sigs(sigs, num_hashes, bands, threshold), cleanup
    )


def _lsh_pairs_from_sigs(
    sigs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """The banding → candidate join → estimated-jaccard verify tail of
    ``minhash_lsh_pairs``, taking an already-materialized signature table
    (doc_id, signature). Split out so the phase probes
    (tools/dedup_phase_probes_parquet.py) can time signature build and
    banding/verify separately on the exact shipped dataflow."""
    rows_per_band = num_hashes // bands
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice("signature", i * rows_per_band + 1, rows_per_band),
            )
        ).alias("band", "band_sig"),
    ).select("doc_id", "band", F.xxhash64(F.col("band"), F.col("band_sig")).alias("bucket"))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
            / F.lit(num_hashes),
        )
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


# -------------------------------------------------------------- simhash --


def simhash_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
               bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprints (Arrow-batched numpy kernel).

    Per-token ``zlib.crc32`` C calls + a per-doc vectorized bit expansion —
    the measured-fastest shape (see ``minhash_signatures``' docstring and
    BENCH/DEDUP.md: both the vectorized-hash and the
    batch-all-docs ``reduceat`` variants lost to small cache-resident
    per-doc temporaries under 32 parallel workers)."""
    from zlib import crc32

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        word = _re.compile(r"[a-z0-9]+")
        shifts = np.arange(bits, dtype=np.uint64)
        for pdf in batches:
            out = []
            for text in pdf[text_col].fillna(""):
                toks = word.findall(text.lower())
                if not toks:
                    out.append(0)
                    continue
                # one vectorized bit-expansion over ALL tokens at once —
                # the per-token Python loop only pays the (C-fast) crc32
                # calls; the 64-wide sign/sum math is a single numpy pass
                hs = np.fromiter(
                    (crc32(t.encode()) | (crc32((t + "#").encode()) << 32) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                tok_bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                # acc = Σ (bit*2 - 1) = 2·Σbit − n_toks, identical per-bit sums
                acc = 2 * tok_bits.sum(axis=0, dtype=np.int64) - len(toks)
                fp = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
                # reinterpret the uint64 bit pattern as two's-complement int64
                out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].values, "simhash": pd.array(out, dtype="int64")}
            )

    return docs.select(id_col, text_col).mapInPandas(kernel, "doc_id long, simhash long")


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      id_col: str = "doc_id", text_col: str = "text",
                      preflight: str = "warn",
                      max_candidate_ratio: float = 32.0) -> DataFrame:
    """Candidate pairs by identical 16-bit prefix in any of 4 rotations
    (any pair within Hamming ≤ 3 of 64 bits shares at least one of 4
    16-bit blocks by pigeonhole), verified by exact popcount.

    A pair colliding in k blocks appears k times in the candidate join;
    dedup runs AFTER the ``bit_count`` verify, not before — the verify is
    a cheap per-row expression while a pre-verify ``.distinct()`` shuffles
    the full wide candidate set (two int64 hashes per row) to remove the
    few multi-block collisions. Same measured lesson as the MinHash path
    (BENCH/DEDUP.md: pre-verify distinct shuffled 18.3M rows to drop 3%
    dups); VERDICT r3 item 3.

    SCALE CAVEAT (measured, BENCH/DEDUP.md §SimHash): on vocabulary-skewed
    / templated corpora the simhash bit signs are corpus-correlated and
    the 16-bit blocks carry almost no entropy — 80k synthetic docs landed
    in only 206 distinct buckets (max bucket 5,000), making the blocking
    near-quadratic. A 100 TB run hitting that blowup should die in
    seconds, not hours, so a PRE-FLIGHT GUARD (one small aggregate over
    the bucket histogram, cost O(|blocks|) with map-side combine) runs
    before the candidate join: it computes the exact candidate-pair count
    Σ c·(c−1)/2 the blocking would emit and compares it to
    ``max_candidate_ratio`` × n_docs. ``preflight="warn"`` (default)
    emits a ``UserWarning`` with the histogram stats and proceeds;
    ``"strict"`` raises ``ValueError`` instead — the right setting for
    unattended cluster jobs; ``"off"`` skips the aggregate (and its eager
    job) entirely. When the guard trips, MinHash+LSH (content banding) is
    the right dedup operator for that corpus."""
    if preflight not in ("warn", "strict", "off"):
        raise ValueError(f"preflight must be warn|strict|off, got {preflight!r}")
    fp = simhash_df(docs, id_col, text_col).persist()
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * 16).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("block_idx", "block"),
    )
    if preflight != "off":
        stats = (
            blocks.groupBy("block_idx", "block")
            .agg(F.count("*").alias("c"))
            .agg(
                (F.sum(F.col("c") * (F.col("c") - 1)) / 2).alias("cand_pairs"),
                F.max("c").alias("max_bucket"),
                F.count("*").alias("n_buckets"),
                (F.sum("c") / 4).alias("n_docs"),
            )
            .first()
        )
        if stats.n_docs and stats.cand_pairs > max_candidate_ratio * stats.n_docs:
            msg = (
                "simhash_near_dups pre-flight: degenerate bucket histogram — "
                f"{int(stats.n_buckets)} buckets over {int(stats.n_docs)} docs "
                f"(max bucket {int(stats.max_bucket)}) would emit "
                f"{int(stats.cand_pairs)} candidate pairs "
                f"({stats.cand_pairs / stats.n_docs:.1f}x docs, limit "
                f"{max_candidate_ratio}x). The corpus is too low-entropy for "
                "simhash 16-bit blocking (templated / vocabulary-skewed "
                "text); use minhash_lsh_pairs instead, or raise "
                "max_candidate_ratio if the blowup is intended."
            )
            if preflight == "strict":
                fp.unpersist()
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)
    cand = (
        blocks.alias("x")
        .join(blocks.alias("y"), ["block_idx", "block"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("h_a"),
            F.col("y.simhash").alias("h_b"),
        )
    )
    out = (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return attach_cleanup(out, fp)


# ----------------------------------------------- embedding near-dup ------


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucketed: bool = False,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-duplicate pairs (id_a < id_b, cosine ≥ ``threshold``)
    over an embedding column; the cosine verify is JVM built-ins
    (F.aggregate/zip_with dot products).

    ``bucketed=False`` (default) is exact all-pairs — quadratic, the
    small-input oracle. ``bucketed=True`` is the scale path: candidate
    pairs come from ``similarity_search.lsh_bucket_candidates`` (numpy
    signed-projection LSH, shuffle O(n·n_tables)) and only candidates pay
    the exact-cosine verify. Same output contract; recall < 1 in theory but
    ≈ 1 for genuinely-near pairs with the default table count."""
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x))
    e = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm.alias("norm"),
    )
    a = e.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"), F.col("norm").alias("norm_a"))
    b = e.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"), F.col("norm").alias("norm_b"))
    if bucketed:
        from .similarity_search import lsh_bucket_candidates

        cand = lsh_bucket_candidates(
            embeddings, n_planes=n_planes, n_tables=n_tables,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
        pairs = cand.join(a, "id_a").join(b, "id_b")
        cleanup = getattr(cand, "_bfokg_cached", ())
    else:
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        cleanup = ()
    dot = F.aggregate(
        F.zip_with("vec_a", "vec_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return attach_cleanup(
        pairs.withColumn("cosine", dot / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine"),
        *cleanup,
    )
