"""Output checks: order-independent digests of each workload's result and
the references they are compared with.

References never run the code under test. ``kg_build``'s edges and nodes
are checked against the repo's DuckDB oracle SQL (the edge dataflow and the
cascade) replayed over the benchmark's own parquet, and its linked mentions
against a word-boundary dictionary matcher written here; ``corpus_curation``
against the near-duplicate clusters the generator planted.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import zlib

import pyarrow.parquet as pq

MENTION_FIELDS = ("conv_id", "turn_idx", "mention", "mention_pos", "qid")


def digest(rows) -> dict:
    """Order-independent digest of a multiset of tuples."""
    lines = sorted(json.dumps(list(r), default=str) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return {"rows": len(lines), "sha256": h}


def mention_key(conv_id, turn_idx, mention, mention_pos, qid) -> str:
    """The string whose crc32 the Spark side sums (``concat_ws('|', ...)``)."""
    return f"{conv_id}|{turn_idx}|{mention}|{mention_pos}|{qid}"


def crc_digest(keys) -> dict:
    """Multiset digest that Spark can compute in the consuming action:
    the row count and the sum of crc32 over each row's key string."""
    n = total = 0
    for k in keys:
        n += 1
        total += zlib.crc32(k.encode())
    return {"rows": n, "crc32_sum": total}


def committed_rows(table_dir: str, columns: list[str]) -> list[tuple]:
    """Rows of a warehouse table's committed snapshot, read with pyarrow."""
    with open(os.path.join(table_dir, "_MANIFEST.json")) as f:
        data_dir = json.load(f)["data_dir"]
    t = pq.read_table(data_dir, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


# ------------------------------------------------------------- kg_build --

def kg_reference(transcripts_dir: str) -> dict:
    """Edge rows and node → BFO label rows from the repo's DuckDB oracle
    SQL, run over the workload's transcript files."""
    import duckdb

    import __spark_entry__ as se

    glob_path = os.path.join(transcripts_dir, "*.parquet")
    original = se._oracle_transcripts_path
    se._oracle_transcripts_path = lambda: glob_path
    try:
        edges_sql = se._sql_transcripts_pipeline()["edges"]
    finally:
        se._oracle_transcripts_path = original
    con = duckdb.connect()
    try:
        edges = con.execute(edges_sql).fetchall()
        labels = dict(
            (r[0], r[2]) for r in con.execute(se._sql_cascade_exact()).fetchall()
        )
    finally:
        con.close()
    qids = {e[0] for e in edges} | {e[2] for e in edges}
    nodes = [(q, labels.get(q)) for q in qids]
    return {"edges": digest(edges), "nodes": digest(nodes)}


def kg_output(out_dir: str) -> dict:
    edges = committed_rows(os.path.join(out_dir, "edges"),
                           ["subj_qid", "pred", "obj_qid", "conv_id", "turn_idx"])
    nodes = committed_rows(os.path.join(out_dir, "nodes"), ["qid", "bfo_label"])
    return {"edges": digest(edges), "nodes": digest(nodes)}


# ------------------------------------------------------- linked mentions --

_WORD_RUN = re.compile(r"[^\W]+")


def _word_runs(s: str) -> list[tuple[int, int]]:
    """(start, end) of each maximal run of word characters."""
    return [m.span() for m in _WORD_RUN.finditer(s)]


def match_surfaces(text: str, surfaces: set[str], heads: set[str],
                   max_words: int) -> list[str]:
    """Leftmost-longest, non-overlapping dictionary matches anchored on
    word/non-word transitions at both ends, for surfaces that start and end
    with a word character. ``heads`` holds each surface's first word;
    candidates span at most ``max_words`` word runs."""
    runs = _word_runs(text)
    out = []
    pos = 0
    for k, (s, e0) in enumerate(runs):
        if s < pos or text[s:e0] not in heads:
            continue
        for _s, e in reversed(runs[k:k + max_words]):
            if text[s:e] in surfaces:
                out.append(text[s:e])
                pos = e
                break
    return out


def best_qid(aliases: list) -> dict[str, str]:
    """alias → qid with the highest prior, ties to the smallest qid."""
    best: dict[str, tuple] = {}
    for alias, qid, _label, prior in aliases:
        key = (-prior, qid)
        if alias not in best or key < best[alias]:
            best[alias] = key
    return {a: k[1] for a, k in best.items()}


def linking_reference(transcripts_dir: str, aliases: list) -> dict:
    surfaces = {a for a, *_ in aliases}
    heads = {s[slice(*_word_runs(s)[0])] for s in surfaces}
    max_words = max(len(_word_runs(s)) for s in surfaces)
    resolve = best_qid(aliases)
    keys = []
    for path in sorted(glob.glob(os.path.join(transcripts_dir, "*.parquet"))):
        t = pq.read_table(path, columns=["conv_id", "turn_idx", "text"])
        for conv_id, turn_idx, text in zip(*(c.to_pylist() for c in t.columns)):
            for pos, m in enumerate(match_surfaces((text or "").lower(), surfaces,
                                                   heads, max_words)):
                keys.append(mention_key(conv_id, turn_idx, m, pos, resolve[m]))
    return crc_digest(keys)


# ------------------------------------------------------- corpus_curation --

def curation_reference(clusters: list[list[int]]) -> dict:
    return digest((min(c),) for c in clusters)


def curation_output(out_dir: str) -> dict:
    return digest((r[0],) for r in
                  committed_rows(os.path.join(out_dir, "corpus"), ["doc_id"]))
