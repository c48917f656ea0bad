"""Dedup family, similarity search, text stats, multimodal plumbing."""

from pyspark.sql import functions as F

from bfokg.functions.textstats import (
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    token_count_col,
)
from bfokg.operators.dedup import (
    dedup_exact,
    embedding_near_dups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from bfokg.operators.similarity_search import brute_force_topk, lsh_topk


def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy dog!"),   # exact dup mod norm
        (3, "the quick brown fox jumps over the lazy cat"),    # near dup
        (4, "completely different text about spark engines and distributed joins"),
        (5, "der schnelle braune fuchs springt und das ist ein test von der sache"),
        (6, "le chat est dans la maison et les oiseaux sont pour le jardin"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark):
    out = dedup_exact(docs(spark)).collect()
    assert len(out) == 1
    assert out[0].keeper_id == 1 and out[0].doc_ids == [1, 2]


def test_ngram_jaccard(spark):
    out = {(r.doc_a, r.doc_b): r.jaccard for r in
           ngram_jaccard_pairs(docs(spark), n=3, threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0            # identical after normalization
    assert 0.5 <= out[(1, 3)] < 1.0      # near dup: shares most shingles
    assert (1, 4) not in out


def test_minhash_recall_vs_exact(spark):
    d = docs(spark)
    exact = {(r.doc_a, r.doc_b) for r in
             ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()}
    est = {(r.doc_a, r.doc_b) for r in
           minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.35).collect()}
    # LSH must recover all high-jaccard pairs on this tiny corpus
    assert exact <= est
    # and not hallucinate unrelated ones
    assert (1, 4) not in est and (4, 5) not in est


def test_lsh_jaccard_pairs_exact_values(spark):
    """The composed LSH→exact-verify operator must emit exactly the pairs
    the all-pairs exact operator emits at the same threshold (banding
    recovers every high-jaccard pair on this tiny corpus), with the TRUE
    jaccard value — the estimate is only a prefilter, never the output."""
    from bfokg.operators.dedup import lsh_jaccard_pairs
    from bfokg.util import release_intermediates

    d = docs(spark)
    exact = {(r.doc_a, r.doc_b): r.jaccard for r in
             ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()}
    out = lsh_jaccard_pairs(d, num_hashes=64, bands=16, n=3, threshold=0.5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert got == exact
    # upstream signature scratch handle propagated through the composition
    assert getattr(out, "_bfokg_cached", ())
    release_intermediates(out)


def test_simhash_fingerprints_match_scalar_reference(spark):
    """The vectorized numpy kernel must produce bit-identical fingerprints
    to the straightforward per-token accumulation (the pre-vectorization
    implementation, restated here as the oracle)."""
    import re
    from zlib import crc32

    import numpy as np

    from bfokg.operators.dedup import simhash_df

    def scalar_simhash(text, bits=64):
        word = re.compile(r"[a-z0-9]+")
        shifts = np.arange(bits, dtype=np.uint64)
        acc = np.zeros(bits, dtype=np.int64)
        for t in word.findall(text.lower()):
            h = np.uint64(crc32(t.encode()) | (crc32((t + "#").encode()) << 32))
            acc += ((h >> shifts) & np.uint64(1)).astype(np.int64) * 2 - 1
        fp = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    d = docs(spark)
    got = {r.doc_id: r.simhash for r in simhash_df(d).collect()}
    want = {r.doc_id: scalar_simhash(r.text) for r in d.collect()}
    assert got == want
    # empty text → fingerprint 0
    empty = spark.createDataFrame([(99, "")], "doc_id long, text string")
    assert simhash_df(empty).first().simhash == 0


def test_simhash_near_dups(spark):
    out = {(r.doc_a, r.doc_b): r.hamming for r in
           simhash_near_dups(docs(spark), max_hamming=8).collect()}
    assert (1, 2) in out and out[(1, 2)] == 0  # identical token stream
    assert (1, 4) not in out


def test_simhash_preflight_guard_trips_on_templated_corpus(spark):
    """VERDICT r4 item 3: the measured degeneracy (templated corpus →
    near-entropy-free 16-bit blocks → near-quadratic candidate join) must
    be caught by the pre-flight bucket-histogram aggregate in SECONDS,
    before the candidate join runs. 400 docs stamped from one template
    collapse into a handful of buckets → candidate pairs ≫ 32×docs."""
    import warnings

    import pytest

    from bfokg.operators.dedup import simhash_near_dups

    template = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua enim "
        "ad minim veniam quis"
    )  # 24 shared tokens dominate the 1 unique token -> blocks near-constant
    templated = spark.createDataFrame(
        [(i, f"{template} id{i}") for i in range(400)],
        "doc_id long, text string",
    )
    # strict → die immediately with the histogram in the message
    with pytest.raises(ValueError, match="degenerate bucket histogram"):
        simhash_near_dups(templated, preflight="strict")
    # default warn → UserWarning, plan still constructed and runnable
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        simhash_near_dups(templated)
    assert any("minhash_lsh_pairs" in str(w.message) for w in caught)
    # off → no aggregate, no warning
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        simhash_near_dups(templated, preflight="off")
    assert not any("bucket histogram" in str(w.message) for w in caught)
    # a healthy corpus passes the guard silently
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        simhash_near_dups(docs(spark), preflight="strict", max_hamming=8)
    assert not any("bucket histogram" in str(w.message) for w in caught)


def embs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk(spark):
    e = embs(spark)
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(q, e, k=3).collect()
    assert [r.vec_id for r in out] == [0, 1, 2]  # self, near, orthogonal
    assert out[0].cosine > 0.999999


def test_lsh_topk_recovers_near_neighbor(spark):
    e = embs(spark)
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(q, e, k=3, n_planes=4).collect()
    ids = [r.vec_id for r in out]
    assert 1 in ids            # the near neighbor shares every bucket bit
    assert 4 not in ids        # the antipode never shares the bucket


def test_embedding_near_dups(spark):
    out = {(r.id_a, r.id_b) for r in embedding_near_dups(embs(spark), 0.95).collect()}
    assert (0, 1) in out and (2, 3) in out and (0, 4) not in out


def clustered_embs(spark, n_clusters=12, per_cluster=4, dim=16,
                   null_row=False):
    """Deterministic clustered vectors: near-dups within a cluster (tiny
    perturbations of a shared base), near-orthogonal across clusters.
    ``null_row`` appends one row with a NULL embedding."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(n_clusters):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        for j in range(per_cluster):
            v = base + 0.01 * j * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    if null_row:
        rows.append((vid, None))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_lsh_bucket_recall(spark):
    """The bucketed (scale) path must recover every exact near-dup pair —
    the same recall pin as test_minhash_recall_vs_exact. Deterministic:
    the projection planes are seeded, so this is a fixed property of the
    data, not a per-run coin flip. A NULL embedding is no near-dup of
    anything on either path (the bucketing kernel must skip it, not
    crash)."""
    e = clustered_embs(spark, null_row=True)
    exact = {(r.id_a, r.id_b) for r in embedding_near_dups(e, 0.95).collect()}
    assert len(exact) > 10          # the fixture really has near-dups
    buck = {(r.id_a, r.id_b) for r in
            embedding_near_dups(e, 0.95, bucketed=True).collect()}
    assert exact <= buck  # recall: no exact pair missed
    assert buck <= exact  # verify stage kills false candidates


def test_lsh_bucket_candidates_prunes(spark):
    """Candidate generation must not degenerate to all-pairs on clustered
    data — cross-cluster pairs are mostly pruned."""
    from bfokg.operators.similarity_search import lsh_bucket_candidates

    e = clustered_embs(spark)
    n = e.count()
    cand = lsh_bucket_candidates(e).count()
    assert cand < n * (n - 1) // 2 * 0.5


def test_lsh_topk_multi_probe_improves_recall(spark):
    """Multi-probe (Hamming-1 neighbor buckets) must find at least as many
    true nearest neighbors as single-probe, and its candidate pool is a
    superset (with k == corpus size the returned pair set must contain
    every single-probe pair). Deterministic: seeded buckets."""
    e = clustered_embs(spark)
    q = e.withColumnRenamed("vec_id", "query_id")
    n = e.count()

    def pairs(multi):
        out = lsh_topk(q.select(F.col("query_id"), "embedding"), e, k=n,
                       n_planes=8, multi_probe=multi)
        return {(r.query_id, r.vec_id) for r in out.collect()}

    single, multi = pairs(False), pairs(True)
    assert single <= multi
    assert len(multi) > len(single)   # probing neighbors really adds pairs

    # recall@1 of the true nearest (excluding self) via brute force
    bf = {(r.query_id, r.vec_id)
          for r in brute_force_topk(q, e, k=2).collect() if r.query_id != r.vec_id}

    def top1_hits(multi):
        out = lsh_topk(q.select("query_id", "embedding"), e, k=2,
                       n_planes=8, multi_probe=multi)
        got = {(r.query_id, r.vec_id) for r in out.collect() if r.query_id != r.vec_id}
        return len(bf & got)

    assert top1_hits(True) >= top1_hits(False)


def test_no_jobs_at_operator_construction(spark):
    """Operator CONSTRUCTION must be plan-building only — no Spark job may
    launch until an action runs (VERDICT r1 item 8). Pinned via job-group
    tracking: any job triggered inside the block would inherit the group.

    ONE documented exception: minhash_lsh_pairs on an input estimated over
    64 MB (or of unknown size) runs its signature-table parquet write at
    construction — the scratch materialization IS the operator's storage
    decision (see the comment at dedup.py's write site); smaller inputs
    keep the lazy memory persist."""
    from bfokg.operators.similarity_search import lsh_bucket_candidates, lsh_topk
    from bfokg.operators.strategies import tiered

    e = clustered_embs(spark)
    q = e.where(F.col("vec_id") < 2).select(F.col("vec_id").alias("query_id"), "embedding")
    ents = spark.createDataFrame(
        [("e1", "lbl", "desc", ["a", "b", "c", "d"], "t"),
         ("e2", "lbl", "x" * 60, [], "t")],
        "id string, label string, description string, aliases array<string>, text string",
    )
    matches = spark.createDataFrame(
        [("e1", "u", "U", 0.9, "semantic", 1)],
        "entity_id string, class_uri string, class_label string, "
        "confidence double, source string, rank int",
    )
    fake = lambda df, k: matches.join(  # noqa: E731
        df.select(F.col("id").alias("entity_id")), "entity_id", "left_semi"
    )
    sc = spark.sparkContext
    sc.setJobGroup("construction-probe", "no jobs expected")
    try:
        lsh_topk(q, e, k=3)
        lsh_bucket_candidates(e)
        embedding_near_dups(e, bucketed=True)
        tiered(ents, {"rule_based": fake, "semantic": fake, "zeroshot": fake})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("construction-probe") == []


def test_path_cleanup_deletes_through_hadoop_fs(spark, tmp_path):
    """ADVICE r3 #4: scratch signature dirs under a scheme-qualified
    checkpoint dir must be deleted through the Hadoop FileSystem API —
    shutil.rmtree on an hdfs://-style URI silently no-ops. Pinned with a
    file:-scheme URI (rmtree would also miss it: the literal local path
    'file:/…' does not exist)."""
    from bfokg.util import PathCleanup

    scratch = tmp_path / "bfokg_sigs_test"
    scratch.mkdir()
    (scratch / "part-0.parquet").write_bytes(b"x")
    uri = "file:" + str(scratch)
    PathCleanup(uri, spark).unpersist()
    assert not scratch.exists()


def test_path_cleanup_bare_local_path(spark, tmp_path):
    """Bare (scheme-less) paths must be deleted through the SAME
    resolution Spark's writes used — the session's Hadoop configuration —
    because on a cluster (or under an inherited remote fs.defaultFS,
    ADVICE r4 #2) the parquet scratch lives on the default FS, not the
    driver's disk; a driver-only rmtree would leak it there. The local
    directory is cleared as well (covers the tempfile-created dir when a
    remote default FS redirected the writes). And a dead/unreachable JVM
    must still fall back to a local delete rather than fail."""
    from bfokg.util import PathCleanup

    # live session, bare path: deleted (Hadoop default FS == local here)
    scratch = tmp_path / "bfokg_bare_scratch"
    scratch.mkdir()
    (scratch / "part-0.parquet").write_bytes(b"x")
    PathCleanup(str(scratch), spark).unpersist()
    assert not scratch.exists()

    # dead JVM: best-effort local fallback still removes the dir
    class _DeadJvm:
        @property
        def _jvm(self):
            raise RuntimeError("simulated unreachable JVM")

    scratch2 = tmp_path / "bfokg_bare_scratch2"
    scratch2.mkdir()
    (scratch2 / "part-0.parquet").write_bytes(b"x")
    PathCleanup(str(scratch2), _DeadJvm()).unpersist()
    assert not scratch2.exists()


def test_dedup_components_and_keep_list(spark):
    """Pairs → transitive clusters (min-label propagation): a 5-node CHAIN
    (diameter 4, forcing multiple propagation rounds) collapses to one
    component rooted at its min id even though most pairs were never
    emitted; disjoint clusters stay disjoint; the keep-list covers the
    full corpus with singletons as their own keepers."""
    from bfokg.operators.dedup import dedup_components, dedup_keep_list

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5 (emitted as adjacent pairs only) + cluster {10,11}
        [(2, 1), (2, 3), (4, 3), (4, 5), (10, 11)],
        "doc_a long, doc_b long",
    )
    comp = {r.doc_id: r.component_id for r in dedup_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]],
                                 "doc_id long")
    keep = {r.doc_id: (r.keeper_id, r.is_keeper)
            for r in dedup_keep_list(docs, pairs).collect()}
    assert keep[99] == (99, True)         # singleton: its own keeper
    assert keep[1] == (1, True) and keep[5] == (1, False)
    assert keep[10] == (10, True) and keep[11] == (10, False)
    assert sum(1 for _, (k, is_k) in keep.items() if is_k) == 3

    # string ids: the exact-sum convergence probe only applies to integral
    # ids — strings exercise the join-probe fallback and lexicographic min
    s_pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("d", "c"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    s_comp = {r.doc_id: r.component_id
              for r in dedup_components(s_pairs).collect()}
    assert s_comp == {"a": "a", "b": "a", "c": "a", "d": "a",
                      "x": "x", "y": "x"}



def test_dedup_components_explicit_checkpoint_dir_survives_release(spark, tmp_path):
    """An explicit checkpoint_dir is a caller-owned location (often a
    shared checkpoint ROOT): the per-run scratch must live in a unique
    subdir so release_intermediates deletes only the run's own files,
    never the caller's directory."""
    import os

    from bfokg.operators.dedup import dedup_components
    from bfokg.util import release_intermediates

    root = tmp_path / "shared_ckpt_root"
    root.mkdir()
    (root / "precious.txt").write_text("caller data")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    comp = dedup_components(pairs, checkpoint_dir=str(root))
    got = {r.doc_id: r.component_id for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert any(d.startswith("bfokg_components_") for d in os.listdir(root))
    release_intermediates(comp)
    assert (root / "precious.txt").exists()          # caller's root intact
    assert not any(d.startswith("bfokg_components_")  # run scratch gone
                   for d in os.listdir(root))


def test_hash_split_and_stratified_sample(spark):
    """Membership must equal the zlib crc32 replay row-for-row, survive
    repartitioning unchanged (the property Spark's randomSplit lacks),
    approximate the requested proportions, and downsample per stratum
    independently of the split assignment."""
    import zlib
    from collections import Counter

    from bfokg.operators.sampling import BUCKETS, hash_split, stratified_sample

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = hash_split(df, weights).collect()
    for r in out:
        b = zlib.crc32(f"split:42:{r.doc_id}".encode()) % BUCKETS
        expected = "train" if b < 800000 else ("val" if b < 900000 else "test")
        assert r.split == expected
    counts = Counter(r.split for r in out)
    assert abs(counts["train"] / n - 0.8) < 0.04
    assert abs(counts["val"] / n - 0.1) < 0.03
    # repartitioning must not move a single row between splits
    again = {r.doc_id: r.split for r in hash_split(df.repartition(7), weights).collect()}
    assert again == {r.doc_id: r.split for r in out}
    # degenerate single split labels everything
    assert {r.split for r in hash_split(df, {"all": 1.0}).collect()} == {"all"}

    samp = stratified_sample(df, {"0": 0.2}, "grp", default_fraction=0.7).collect()
    for r in samp:
        b = zlib.crc32(f"sample:42:{r.doc_id}".encode()) % BUCKETS
        assert b < (200000 if r.grp == "0" else 700000)
    kept = Counter(r.grp for r in samp)
    per_grp = Counter((r.grp for r in df.collect()))
    assert abs(kept["0"] / per_grp["0"] - 0.2) < 0.05
    assert abs(kept["1"] / per_grp["1"] - 0.7) < 0.05

    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, {"train": 0.5, "val": 0.4})
    with _pytest.raises(ValueError):
        stratified_sample(df, {"0": 1.5}, "grp")


def test_textstats(spark):
    d = docs(spark).select(
        "doc_id",
        token_count_col("text").alias("n_tok"),
        lang_id_col("text").alias("lang"),
        F.round(quality_score_col("text"), 6).alias("quality"),
        fingerprint_col("text").alias("fp"),
    )
    rows = {r.doc_id: r for r in d.collect()}
    assert rows[1].n_tok == 9
    assert rows[1].lang == "en"
    assert rows[5].lang == "de"
    assert rows[6].lang == "fr"
    assert 0.0 <= rows[1].quality <= 1.0
    assert rows[1].fp == rows[2].fp      # same normalized content
    assert rows[1].fp != rows[3].fp


def test_repetition_and_boilerplate_stats(spark):
    """Gopher-style repetition signals + URL/e-mail counts, hand-computed.

    doc 1: lines (trimmed, non-empty) = header, body one, header, header
           → dup_line_frac = 1 − 2/4 = 0.5
    doc 2: bigrams = the cat | cat the | the cat | cat sat → top 2/4 = 0.5
    doc 3: one token → zero bigrams → NO row from top_ngram_stats
    """
    from bfokg.functions.textstats import (
        dup_line_fraction_col,
        email_count_col,
        url_count_col,
        word_ngrams_col,
    )
    from bfokg.operators.repetition import top_ngram_stats

    rows = [
        (1, "header\nbody one\nheader\n\n  header  \n"),
        (2, "the cat the cat sat"),
        (3, "one"),
        (4, ""),
        (5, "see https://x.y/z and http://a.b then mail a@b.cc please"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            dup_line_fraction_col("text").alias("dlf"),
            url_count_col("text").alias("urls"),
            email_count_col("text").alias("emails"),
            word_ngrams_col("text", 2).alias("bi"),
            word_ngrams_col("text", 3).alias("tri"),
        ).collect()
    }
    assert got[1].dlf == 0.5
    assert got[2].dlf == 0.0 and got[4].dlf == 0.0
    assert got[5].urls == 2 and got[5].emails == 1
    assert got[1].urls == 0 and got[1].emails == 0
    assert got[2].bi == ["the cat", "cat the", "the cat", "cat sat"]
    assert got[2].tri == ["the cat the", "cat the cat", "the cat sat"]
    assert got[3].bi == [] and got[4].bi == []  # short docs: guarded empty

    rep = {r.doc_id: r for r in top_ngram_stats(df, n=2).collect()}
    assert rep[2].n_ngrams == 4 and rep[2].top_ngram_frac == 0.5
    assert 3 not in rep and 4 not in rep  # <n tokens → no row (left-join side)
    tri = {r.doc_id: r for r in top_ngram_stats(df, n=3).collect()}
    assert tri[2].n_ngrams == 3 and abs(tri[2].top_ngram_frac - 1 / 3) < 1e-12


def test_redact_pii_matches_duckdb(spark):
    """redact_pii_col: hand pins + cross-engine pin — the same three
    patterns replayed with DuckDB regexp_replace(…, 'g') must produce
    byte-identical redacted text (Java regex vs RE2 portability)."""
    import duckdb

    from bfokg.functions.textstats import (
        EMAIL_RE,
        IPV4_RE,
        URL_RE,
        redact_pii_col,
    )

    rows = [
        (1, "visit https://u:p@ex.com/a?b=1 or mail bob.smith+x@ex-ample.co.uk"),
        (2, "server at 10.0.255.3 port 80; version 1.2.3.4.5 is not an ip? "),
        (3, "plain text, no pii at all"),
        (4, ""),
        (5, "HTTP://CAPS.example notawebsite http://ok.io/x. a@b.cc."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.red
        for r in df.select("doc_id", redact_pii_col("text").alias("red")).collect()
    }
    assert got[1] == "visit <URL> or mail <EMAIL>"
    assert "<IP>" in got[2] and "10.0.255.3" not in got[2]
    assert got[3] == rows[2][1] and got[4] == ""
    # uppercase scheme is NOT matched (https? is case-sensitive both engines)
    assert got[5].startswith("HTTP://CAPS.example notawebsite <URL>")

    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]))
    duck = {
        d: r
        for d, r in con.sql(
            f"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
                  '{URL_RE}', '<URL>', 'g'),
                  '{EMAIL_RE}', '<EMAIL>', 'g'),
                  '{IPV4_RE.replace("'", "''")}', '<IP>', 'g') FROM t"""
        ).fetchall()
    }
    assert got == duck


def test_curation_redact_pii_flag(spark, tmp_path):
    from bfokg.plans.curation import run_curation

    docs = spark.createDataFrame(
        [(i, f"doc {i} text mail-{i}@ex.com see https://ex.com/{i} fine") for i in range(40)],
        "doc_id long, text string",
    )
    res = run_curation(spark, docs, str(tmp_path / "cur"), redact_pii=True)
    texts = [r.text for r in res["corpus"].select("text").collect()]
    assert texts and all("@ex.com" not in t and "https://" not in t for t in texts)
    assert all("<EMAIL>" in t and "<URL>" in t for t in texts)


def test_curation_dup_line_gate(spark, tmp_path):
    """max_dup_line_frac drops templated docs (high duplicate-line
    fraction) from the final corpus while clean docs survive."""
    from bfokg.plans.curation import run_curation

    import random

    rng = random.Random(9)
    vocab = [f"word{k}" for k in range(400)]
    clean = [
        (i, " ".join(rng.sample(vocab, 25)) + f"\nline two {i}")
        for i in range(30)
    ]
    templated = [(100 + i, "same line\n" * 20 + f"tail {i}") for i in range(5)]
    docs = spark.createDataFrame(clean + templated, "doc_id long, text string")
    res = run_curation(spark, docs, str(tmp_path / "curg"),
                       max_dup_line_frac=0.5)
    ids = {r.doc_id for r in res["corpus"].select("doc_id").collect()}
    assert not any(i >= 100 for i in ids)          # templated docs gated out
    assert len(ids) > 20                           # clean docs survive
    # stats table carries the signal for audit
    from bfokg.sources.warehouse import read_table
    st = read_table(spark, str(tmp_path / "curg" / "doc_stats"))
    high = {r.doc_id for r in st.where("dup_line_frac > 0.5").collect()}
    assert high == {100 + i for i in range(5)}


def _bmp_bytes(arr):
    """Minimal uncompressed 24-bit BMP encoder (test-side golden source).
    arr: uint8 [h, w, 3] in RGB."""
    import numpy as np
    import struct

    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    img = bytearray()
    for row in arr[::-1]:                 # BMP stores bottom-up
        for px in row:
            img += bytes([px[2], px[1], px[0]])  # BGR
        img += b"\x00" * (stride - w * 3)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(img), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
    return bytes(header + dib + img)


def test_multimodal_decode_real_formats(spark):
    """BMP and PGM payloads decode for REAL (numpy byte-layout parsers);
    corrupt payloads and unsupported formats degrade to decode_ok=false."""
    import numpy as np

    from bfokg.operators.multimodal import extract_image_features, with_payload_meta

    rgb = np.zeros((4, 5, 3), dtype=np.uint8)
    rgb[:, :, 0] = 255                       # pure red
    bmp = _bmp_bytes(rgb)
    gray = bytes(range(16))
    pgm = b"P5 4 4 255\n" + gray
    rows = [
        (1, bmp, "image/bmp"),
        (2, pgm, "image/x-portable-graymap"),
        (3, b"not an image at all", "image/png"),
        (4, b"\x00\x01\x02", "video/mp4"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    meta = with_payload_meta(d)
    r1 = meta.where(F.col("doc_id") == 1).first()
    assert r1.n_bytes == len(bmp) and len(r1.payload_sha) == 64
    feats = {r.doc_id: r for r in extract_image_features(meta).collect()}
    b = feats[1]
    assert b.decode_ok and (b.width, b.height, b.n_channels) == (5, 4, 3)
    assert abs(b.mean_luma - 0.299) < 1e-9   # pure red → BT.601 luma 0.299
    g = feats[2]
    assert g.decode_ok and (g.width, g.height, g.n_channels) == (4, 4, 1)
    assert abs(g.mean_luma - (sum(range(16)) / 16) / 255.0) < 1e-9
    assert not feats[3].decode_ok            # corrupt payload degrades
    assert not feats[4].decode_ok            # unsupported format degrades


def _wav_bytes(samples, rate=44100, bits=16, channels=1):
    """Minimal PCM WAV encoder (test-side golden source). samples: list of
    ints — int16 for bits=16, uint8 for bits=8, interleaved if stereo."""
    import struct

    if bits == 16:
        data = b"".join(struct.pack("<h", s) for s in samples)
    else:
        data = bytes(samples)
    block = channels * bits // 8
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                   rate * block, block, bits)
           + b"data" + struct.pack("<I", len(data)))
    return hdr + data


def test_audio_decode_real_wav(spark):
    """WAV PCM payloads decode for REAL (numpy RIFF parser): 16-bit mono,
    8-bit, and stereo frame counting; corrupt payloads degrade."""
    import math

    from bfokg.operators.multimodal import extract_audio_features

    full = 32768
    mono16 = _wav_bytes([0, full // 2, -full // 2, 0], rate=8000)
    eight = _wav_bytes([128, 255, 0, 128], rate=4000, bits=8)
    stereo = _wav_bytes([100, -100] * 6, rate=16000, channels=2)
    rows = [
        (1, mono16, "audio/wav"),
        (2, eight, "audio/wav"),
        (3, stereo, "audio/wav"),
        (4, b"RIFFnope", "audio/wav"),
        (5, b"\x00\x01", "video/mp4"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    feats = {r.doc_id: r for r in extract_audio_features(d).collect()}
    m = feats[1]
    assert m.decode_ok and m.sample_rate == 8000 and m.n_channels == 1
    assert m.n_samples == 4 and abs(m.duration_sec - 4 / 8000) < 1e-12
    assert abs(m.rms - math.sqrt((0 + 0.25 + 0.25 + 0) / 4)) < 1e-9
    assert abs(m.peak - 0.5) < 1e-9
    e = feats[2]
    assert e.decode_ok and e.sample_rate == 4000 and e.n_samples == 4
    assert abs(e.peak - 1.0) < 1e-9                # sample 0 → (0-128)/128 = -1.0
    s = feats[3]
    assert s.decode_ok and s.n_channels == 2 and s.n_samples == 6  # frames, not samples
    assert not feats[4].decode_ok
    assert not feats[5].decode_ok


def test_image_resize_nearest_neighbor(spark):
    """resize_pnm picks floor(i·in/out) pixels and re-encodes byte-exact:
    4×4→2×2 PGM keeps indices {0,2,8,10}; upscale 2×2→4×4 repeats each
    pixel 2×2; P6 keeps channel triples together; corrupt → degrade."""
    from bfokg.operators.multimodal import resize_images, resize_pnm

    pgm = b"P5 4 4 255\n" + bytes(range(16))
    assert resize_pnm(pgm, 2, 2) == b"P5 2 2 255\n" + bytes([0, 2, 8, 10])
    up = resize_pnm(b"P5 2 2 255\n" + bytes([1, 2, 3, 4]), 4, 4)
    assert up == b"P5 4 4 255\n" + bytes(
        [1, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4])
    ppm = b"P6 2 1 255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert resize_pnm(ppm, 1, 1) == b"P6 1 1 255\n" + bytes([10, 20, 30])

    d = spark.createDataFrame(
        [(1, pgm, "image/x-pgm"), (2, b"nope", "image/x-pgm")],
        "doc_id long, payload binary, mime string",
    )
    rows = {r.doc_id: r for r in resize_images(d, 2, 2).collect()}
    assert bytes(rows[1].payload) == b"P5 2 2 255\n" + bytes([0, 2, 8, 10])
    assert rows[1].decode_ok and not rows[2].decode_ok


def test_dedup_components_random_graphs_match_union_find(spark):
    """dedup_components == a reference union-find on seeded random pair
    graphs (varied density, incl. self-loop-free multi-edges and isolated
    chains) — the label-propagation loop's convergence and min-id
    semantics hold beyond hand-built shapes."""
    import random

    from bfokg.operators.dedup import dedup_components
    from tests.test_kernel_properties import _uf_components

    for seed, n_nodes, n_edges in [(1, 20, 8), (2, 30, 30), (3, 12, 40)]:
        rng = random.Random(seed)
        edges = []
        while len(edges) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.append((a, b))
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id: r.component_id
               for r in dedup_components(pairs).collect()}
        assert got == _uf_components(edges), (seed, edges)


def test_video_decode_real_y4m(spark):
    """Y4M payloads decode for REAL (numpy YUV4MPEG2 parser): header
    parse, C444 and C420 plane sizes, every-k-th frame sampling with
    known luma values, truncated-frame and non-Y4M poison pills."""
    from bfokg.operators.multimodal import _decode_y4m, extract_video_features

    def y4m(cs, frames, w=2, h=2):
        sizes = {"444": 3 * w * h, "420": w * h + (w * h) // 2}
        head = f"YUV4MPEG2 W{w} H{h} F10:1 Ip A1:1 C{cs}\n".encode()
        body = b"".join(
            b"FRAME\n" + bytes([y] * (w * h))
            + bytes([128] * (sizes[cs] - w * h))
            for y in frames
        )
        return head + body

    # frames with Y = 0, 100, 200 → step 2 samples frames 0 and 2
    p = y4m("444", [0, 100, 200])
    d = _decode_y4m(p, frame_step=2)
    assert (d["width"], d["height"], d["fps"], d["n_frames"]) == (2, 2, 10.0, 3)
    assert abs(d["duration_sec"] - 0.3) < 1e-12
    assert d["n_sampled"] == 2
    assert abs(d["mean_luma"] - (0 + 200) / 2 / 255.0) < 1e-12
    # frame_step=1 samples every frame
    assert abs(_decode_y4m(p, 1)["mean_luma"] - 100 / 255.0) < 1e-12
    # C420 plane size honored
    assert _decode_y4m(y4m("420", [50, 50]), 1)["n_frames"] == 2

    rows = [
        (1, p, "video/x-yuv4mpeg"),
        (2, p[:-3], "video/x-yuv4mpeg"),   # truncated last frame
        (3, b"not video", "video/mp4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, mime string")
    feats = {r.doc_id: r for r in extract_video_features(df).collect()}
    assert feats[1].decode_ok and feats[1].n_frames == 3
    assert not feats[2].decode_ok
    assert not feats[3].decode_ok


def test_lsh_topk_multi_probe_radius2(spark):
    """Hamming-2 multi-probe: pair sets are nested supersets as the probe
    radius grows (r0 ⊆ r1 ⊆ r2 with k == corpus size), recall@1 of the
    true nearest neighbor is monotone in the radius, and bool True still
    means radius 1 (back-compat)."""
    e = clustered_embs(spark)
    q = e.withColumnRenamed("vec_id", "query_id")
    n = e.count()

    def pairs(radius):
        out = lsh_topk(q.select("query_id", "embedding"), e, k=n,
                       n_planes=8, multi_probe=radius)
        return {(r.query_id, r.vec_id) for r in out.collect()}

    p0, p1, p2 = pairs(0), pairs(1), pairs(2)
    assert p0 <= p1 <= p2
    assert len(p2) > len(p1)        # radius 2 really probes new buckets
    assert pairs(True) == p1        # bool back-compat

    bf = {(r.query_id, r.vec_id)
          for r in brute_force_topk(q, e, k=2).collect() if r.query_id != r.vec_id}

    def top1_hits(radius):
        out = lsh_topk(q.select("query_id", "embedding"), e, k=2,
                       n_planes=8, multi_probe=radius)
        got = {(r.query_id, r.vec_id) for r in out.collect() if r.query_id != r.vec_id}
        return len(bf & got)

    h0, h1, h2 = top1_hits(0), top1_hits(1), top1_hits(2)
    assert h0 <= h1 <= h2


def test_kernel_buckets_id_types_and_ragged(spark):
    """The bucketing kernel takes any id column type (output id type
    follows the input schema), and a ragged batch raises a clear error
    instead of a numpy shape crash."""
    import pytest

    from bfokg.operators.similarity_search import lsh_bucket_candidates

    rows = [(f"doc-{i}", [float(i), 1.0, 0.5, -1.0]) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = lsh_bucket_candidates(e, n_planes=2, n_tables=2)
    assert dict(out.dtypes) == {"id_a": "string", "id_b": "string"}
    assert out.count() > 0  # 4-bucket space over 20 vectors must collide

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        lsh_bucket_candidates(ragged).count()


def test_ivf_topk_recall_and_degeneracy(spark):
    """IVF ANN: deterministic centroids from a bounded sample; recall@1 is
    monotone in nprobe, and nprobe == n_centroids probes every cell so the
    result EQUALS brute force (same k, same tiebreak)."""
    from bfokg.operators.similarity_search import ivf_centroids, ivf_topk

    e = clustered_embs(spark)
    q = e.withColumnRenamed("vec_id", "query_id")
    cents = ivf_centroids(e, n_centroids=8, sample=48)
    assert len(cents) == 8 and all(abs(sum(x * x for x in c) - 1) < 1e-9 for c in cents)
    # determinism: same table → same centroids
    assert cents == ivf_centroids(e, n_centroids=8, sample=48)

    bf = {(r.query_id, r.vec_id, r.rank)
          for r in brute_force_topk(q, e, k=3).collect()}

    def hits(nprobe):
        out = ivf_topk(q.select("query_id", "embedding"), e, cents, k=3, nprobe=nprobe)
        return {(r.query_id, r.vec_id, r.rank) for r in out.collect()}

    h1, h2, h8 = hits(1), hits(2), hits(8)
    assert len(h1 & bf) <= len(h2 & bf) <= len(h8 & bf)
    assert h8 == bf                      # all cells probed == exact
    assert len(h1 & bf) > 0              # probing the home cell finds neighbors


def test_ivf_build_reuse_no_corpus_rescan(spark):
    """VERDICT r3 item 6: the split ivf_build → ivf_search API. The cells
    table is built and materialized ONCE; subsequent query batches search
    it without touching the corpus — pinned via an accumulator that counts
    every corpus row scanned. Also: build+search ≡ the one-shot ivf_topk."""
    from bfokg.operators.similarity_search import (
        ivf_build, ivf_centroids, ivf_search, ivf_topk,
    )

    base = clustered_embs(spark)
    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    corpus = base.mapInPandas(counting, base.schema)
    cents = ivf_centroids(base, n_centroids=4, sample=32)
    cells = ivf_build(corpus, cents).persist()
    cells.count()  # materialize the index (the ONE corpus scan)
    scans_after_build = acc.value
    assert scans_after_build > 0

    all_q = base.withColumnRenamed("vec_id", "query_id")
    got = set()
    for lo, hi in ((0, 2), (2, 4)):  # two separate query batches
        q = all_q.where((F.col("query_id") >= lo) & (F.col("query_id") < hi))
        out = ivf_search(q.select("query_id", "embedding"), cells, cents,
                         k=3, nprobe=2)
        got |= {(r.query_id, r.vec_id, r.rank) for r in out.collect()}
    assert acc.value == scans_after_build, "ivf_search re-scanned the corpus"

    q4 = all_q.where(F.col("query_id") < 4).select("query_id", "embedding")
    oneshot = {(r.query_id, r.vec_id, r.rank)
               for r in ivf_topk(q4, base, cents, k=3, nprobe=2).collect()}
    assert got == oneshot
    cells.unpersist()


def test_ivf_cells_table_partition_pruning(spark, tmp_path):
    """The 100 TB IVF shape: ivf_build_table commits the cells table
    PARTITIONED BY cell (per-cell inverted-list lengths in the manifest
    for free), and ivf_search's probe join — an equi-join on the
    partition column — gets DYNAMIC PARTITION PRUNING injected into the
    scan, so a query batch reads ~nprobe/n_centroids of the index.
    Results equal the in-memory build."""
    from bfokg.operators.similarity_search import (
        ivf_build, ivf_build_table, ivf_centroids, ivf_search,
    )
    from bfokg.sources.warehouse import read_table

    base = clustered_embs(spark)
    cents = ivf_centroids(base, n_centroids=8, sample=48)
    manifest = ivf_build_table(base, cents, str(tmp_path / "ivf_cells"))
    assert set(manifest["partition_rows"]) <= {f"cell={i}" for i in range(8)}
    assert sum(manifest["partition_rows"].values()) == base.count()

    cells_t = read_table(spark, str(tmp_path / "ivf_cells"))
    q = base.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_search(q, cells_t, cents, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan  # the cells scan is probe-pruned

    mem = ivf_search(q, ivf_build(base, cents), cents, k=3, nprobe=2)
    assert ({tuple(r) for r in out.collect()}
            == {tuple(r) for r in mem.collect()})


def test_sampling_guards_and_null_ids(spark):
    """ADVICE r5 fixes: hash_split rejects out-of-range weights;
    stratified_sample keeps NULL-id rows (bucket coalesced to 0) instead
    of silently dropping them, consistent with hash_split routing NULL
    ids into its last split."""
    import pytest as _pytest

    from bfokg.operators.sampling import hash_split, stratified_sample

    docs = spark.createDataFrame(
        [(1, "en"), (2, "de"), (None, "en"), (None, "de")],
        "doc_id long, lang string",
    )
    with _pytest.raises(ValueError, match="not in \\[0, 1\\]"):
        hash_split(docs, {"a": -0.5, "b": 1.5})
    # NULL ids: kept for any fraction > 0 (bucket 0 < threshold)...
    out = stratified_sample(docs, {"en": 0.5}, "lang", default_fraction=0.9)
    null_rows = out.where(F.col("doc_id").isNull())
    assert null_rows.count() == 2
    # ...and dropped at fraction 0 like any other row of that stratum
    none_kept = stratified_sample(docs, {"en": 0.0, "de": 0.0}, "lang")
    assert none_kept.count() == 0
    # hash_split still labels NULL ids (last split) — the two operators
    # now agree that NULL-id rows survive the curation chain
    labeled = hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert labeled.where(F.col("doc_id").isNull()).count() == 2


def test_components_auto_materialization_routing(spark, tmp_path):
    """Without checkpoint_dir a broadcast-small edge table is resolved by
    driver union-find (LocalRelation result, no scratch — no cleanup
    handle), while an explicit checkpoint_dir keeps fully durable parquet
    rounds. Results identical across routes."""
    import os

    from bfokg.operators.dedup import dedup_components
    from bfokg.util import release_intermediates

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    expected = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                (20, 20), (21, 20), (22, 20), (23, 20)}

    out_auto = dedup_components(pairs)  # no checkpoint_dir → union-find
    rows_auto = {(r.doc_id, r.component_id) for r in out_auto.collect()}
    scratch = [h.path for h in getattr(out_auto, "_bfokg_cached", ())
               if hasattr(h, "path")]
    assert not scratch, "driver route must release its scratch eagerly"
    assert "LocalTableScan" in out_auto._jdf.queryExecution().executedPlan().toString(), \
        "small-graph components should come back as a LocalRelation"

    out_auto_dir = dedup_components(pairs, checkpoint_dir=str(tmp_path))
    rows_dir = {(r.doc_id, r.component_id) for r in out_auto_dir.collect()}
    sub2 = [h.path for h in getattr(out_auto_dir, "_bfokg_cached", ())
            if hasattr(h, "path")][0]
    assert any(n.startswith("round_") for n in os.listdir(sub2)), \
        "an explicit checkpoint_dir keeps durable rounds"
    release_intermediates(out_auto_dir)

    assert rows_auto == rows_dir == expected


def test_components_probe_clip_falls_through_to_loop(spark, monkeypatch):
    """When the bounded driver collect clips (edge table over the session
    budget), dedup_components must fall through to the durable loop and
    still produce identical components. Pinned by shrinking the budget so
    a 60-edge graph over four partitions exceeds it: the streamed plan
    carries the row cap (64 // 16 + 1 = 5 rows) as a CollectLimit, which
    cuts every partition on the executors, so no whole partition is
    shipped to the driver."""
    from bfokg.operators.dedup import dedup_components

    streamed = []
    cls = type(spark.range(1))
    original = cls.toLocalIterator

    def recording(self, *args, **kwargs):
        streamed.append(self._jdf.queryExecution().executedPlan().toString())
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "toLocalIterator", recording)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    ).repartition(4)
    expected = {(i, 0) for i in range(31)}
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "64")
        out = dedup_components(pairs)  # collect clips at 5 rows → loop
        rows = {(r.doc_id, r.component_id) for r in out.collect()}
        from bfokg.util import release_intermediates

        release_intermediates(out)
    finally:
        spark.conf.set(key, old)
    assert len(streamed) == 1 and "CollectLimit 5" in streamed[0]
    assert rows == expected


def test_components_driver_matches_loop(spark, tmp_path):
    """The driver union-find route is output-identical to the distributed
    min-label-propagation loop — pinned on a seeded random graph (long
    ids), on string ids (which also exercise the loop's join-probe
    fallback), and on generated pair lists with NULL ids, self-pairs,
    duplicates, long string ids and empty frames; the same equivalence
    pattern as test_driver_closure_matches_loop."""
    import random
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bfokg.operators.dedup import dedup_components
    from bfokg.routing import _is_local

    rng = random.Random(406)
    pairs_rows = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    pairs_rows = [(a, b) for a, b in pairs_rows if a != b]
    pairs = spark.createDataFrame(pairs_rows, "doc_a long, doc_b long")
    driver = {(r.doc_id, r.component_id)
              for r in dedup_components(pairs).collect()}
    loop = {(r.doc_id, r.component_id)
            for r in dedup_components(pairs, checkpoint_dir=str(tmp_path)).collect()}
    assert driver == loop and driver

    s_pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("d", "c"), ("x", "y"), ("é", "z")],
        "doc_a string, doc_b string",
    )
    s_driver = {(r.doc_id, r.component_id)
                for r in dedup_components(s_pairs).collect()}
    s_loop = {(r.doc_id, r.component_id)
              for r in dedup_components(s_pairs, checkpoint_dir=str(tmp_path)).collect()}
    assert s_driver == s_loop
    assert ("é", "z") in s_driver  # non-ASCII min agrees across engines

    long_ids = st.one_of(st.none(), st.integers(0, 5))
    str_ids = st.one_of(st.none(), st.sampled_from(["a", "b", "é", "L" * 300 + "x",
                                                    "L" * 300 + "y"]))
    graph = lambda ids: st.lists(st.tuples(ids, ids), max_size=6)  # noqa: E731
    # few examples, each a union of small disjoint graphs: the loop's
    # rounds follow the diameter of one graph, not the size of the union
    cases = st.one_of(
        st.tuples(st.just("long"), st.lists(graph(long_ids), max_size=4)),
        st.tuples(st.just("string"), st.lists(graph(str_ids), max_size=4)),
    )

    @settings(max_examples=3, deadline=None)
    @given(cases)
    def driver_matches_loop(case):
        id_type, graphs = case
        tag = (lambda k, v: v + 10 * k) if id_type == "long" else (lambda k, v: f"{k}{v}")
        rows = [tuple(None if v is None else tag(k, v) for v in e)
                for k, g in enumerate(graphs) for e in g]
        pairs = spark.createDataFrame(rows, f"doc_a {id_type}, doc_b {id_type}")
        out = dedup_components(pairs)
        linked = any(a is not None and b is not None for a, b in rows)
        assert _is_local(out) or not linked  # the driver route is taken
        loop = dedup_components(pairs, checkpoint_dir=str(tmp_path))
        assert Counter(map(tuple, out.collect())) == Counter(map(tuple, loop.collect()))

    driver_matches_loop()
