"""Driver-contract smoke (entry/queries/oracle_sql) + streaming variant."""

import os
import sys
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bfokg.datagen import generate_transcripts  # noqa: E402


def test_oracle_keys_subset_of_queries():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle is nonempty SQL
    assert all(s.strip().upper().startswith(("SELECT", "WITH")) for s in oracles.values())


def test_sql_crc32_matches_zlib():
    """The oracles' recursive-CTE crc32 (``_sql_crc32_ctes``, DuckDB only)
    equals zlib.crc32 on ASCII strings, including the empty string, a
    single character and a 300-character walk."""
    import duckdb

    strs = ["", "a", "Q42#", "hello world",
            "the quick brown fox jumps over the lazy dog",
            ("abcdefghij0123456789 #" * 14)[:300]]
    values = ", ".join("('" + s + "')" for s in strs)
    rows = duckdb.sql(
        f"WITH RECURSIVE strs(s) AS (VALUES {values}),"
        f"{entrymod._sql_crc32_ctes('strs')} SELECT s, crc FROM crc32_out"
    ).fetchall()
    assert dict(rows) == {s: zlib.crc32(s.encode()) for s in strs}


def test_entry_returns_edges(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"subj_qid", "pred", "obj_qid"} <= set(df.columns)


def test_streaming_edges_match_batch(spark):
    """The streaming pipeline (availableNow drain) finds the same distinct
    (s,p,o) set as the batch dedup."""
    from bfokg.operators.linking import alias_dict_df
    from bfokg.operators.triples import dedup_triples, extract_triples, link_triples
    from bfokg.streaming.stream_pipeline import run_stream_to_memory

    src = generate_transcripts(0.001)
    batch = spark.read.parquet(src)
    expected = {
        (r.subj_qid, r.pred, r.obj_qid)
        for r in dedup_triples(
            link_triples(extract_triples(batch), alias_dict_df(spark))
        ).collect()
    }
    run_stream_to_memory(spark, src, name="edges_stream_test")
    got = {
        (r.subj_qid, r.pred, r.obj_qid)
        for r in spark.sql(
            "SELECT DISTINCT subj_qid, pred, obj_qid FROM edges_stream_test"
        ).collect()
    }
    assert got == expected


def test_streaming_triple_dedup_within_watermark(spark, tmp_path):
    """Streaming triple-dedup semantics (dropDuplicatesWithinWatermark,
    SURVEY §2.8's optional slot; VERDICT r3 item 8): a duplicate
    (subj_qid, pred, obj_qid) arriving in a LATER micro-batch is dropped
    while its key's state lives inside the watermark horizon, and emitted
    again once the watermark has evicted the state — the standard
    streaming relaxation of the batch global keep-first. The DISTINCT
    emitted set still equals the batch dedup over the same files."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bfokg.operators.linking import alias_dict_df
    from bfokg.operators.triples import dedup_triples, extract_triples, link_triples
    from bfokg.streaming.stream_pipeline import run_stream_to_memory

    base = datetime(2026, 1, 1, 12, 0, 0)
    T = "albert einstein is related to french revolution"
    V = "marie curie is located in europe"

    def table(rows):  # (conv_id, text, minute)
        return pa.table({
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([0] * len(rows), pa.int32()),
            "role": pa.array(["user"] * len(rows), pa.string()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "tool": pa.array([""] * len(rows), pa.string()),
            "ts": pa.array([base + timedelta(minutes=r[2]) for r in rows],
                           pa.timestamp("us")),
        })

    W = "dna is part of human"
    src = tmp_path / "dedup_stream_src"
    src.mkdir()
    # batch 0: triple T at minute 0
    # batch 1: duplicate T at minute 5 (inside the 10-min horizon → DROPPED)
    #          + fresh triple V at minute 30 (watermark after batch: 20,
    #          past T's state retention bound)
    # batch 2: fresh triple W at minute 45 — state CLEANUP runs with this
    #          batch (eviction lags the watermark advance by one batch,
    #          same as the windowed test): T's state is removed
    # batch 3: duplicate T at minute 50 — state evicted → EMITTED again
    pq.write_table(table([("c1", T, 0)]), src / "00.parquet")
    pq.write_table(table([("c2", T, 5), ("c2b", V, 30)]), src / "01.parquet")
    pq.write_table(table([("c3", W, 45)]), src / "02.parquet")
    pq.write_table(table([("c4", T, 50)]), src / "03.parquet")
    files = ["00.parquet", "01.parquet", "02.parquet", "03.parquet"]
    for i, f in enumerate(files):
        os.utime(src / f, (1000000000 + i * 100,) * 2)

    run_stream_to_memory(spark, str(src), name="dedup_stream_test",
                         watermark="10 minutes", max_files_per_trigger=1)
    rows = spark.sql(
        "SELECT subj_qid, pred, obj_qid FROM dedup_stream_test"
    ).collect()
    keys = [(r.subj_qid, r.pred, r.obj_qid) for r in rows]
    t_key = [k for k in keys if k[1] == "related_to"]
    assert len(t_key) == 2, keys  # batch-0 emit + re-emit after eviction
    assert len([k for k in keys if k[1] == "located_in"]) == 1, keys
    assert len([k for k in keys if k[1] == "part_of"]) == 1, keys
    # inside-watermark dup was dropped: 6 input rows → 4 emitted
    assert len(keys) == 4

    batch_keys = {
        (r.subj_qid, r.pred, r.obj_qid)
        for r in dedup_triples(
            link_triples(extract_triples(spark.read.parquet(str(src))),
                         alias_dict_df(spark))
        ).collect()
    }
    assert set(keys) == batch_keys  # distinct stream set == batch dedup
