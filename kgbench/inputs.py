"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``. bfokg receives only
the parquet files written here; the planted truth (alias dictionary,
near-duplicate clusters) is kept next to them for the reference checks.

Inputs are cached per seed under the checkout's ``.kgbench/inputs`` and
written atomically (a ``_DONE`` marker is the last file), so generation runs
once per seed and never inside a timed window.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from bfokg.datagen import (
    _ASSISTANT_TEMPLATES,
    _FILLER,
    _TOOLS,
    _USER_TEMPLATES,
    BASE_TS,
    RELATION_PREDICATES,
    ROLES_CYCLE,
)
from bfokg.fixtures import _FIXTURES

TURNS_PER_FILE = 2_000
TURNS_PER_CONV = 6
# Fixture surfaces (57) + synthetic distractors = the dictionary size
# kg_build's mention linking scans with.
ALIAS_SURFACES = 10_029
# Share of user turns that carry one planted distractor mention.
DISTRACTOR_TURN_FRAC = 0.3
# One distractor surface in this many is ambiguous: a second, lower-prior
# qid shares it, so the linker's (prior DESC, qid ASC) tie-break is live.
AMBIGUOUS_EVERY = 10

DOC_COPIES = 8
DOC_VOCAB = 4_000
DUP_CLUSTER_FRAC = 0.25

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _fixture_surfaces() -> list[tuple[str, str, float]]:
    """(surface, qid, prior) for the 29 fixtures: labels 1.0, aliases 0.8."""
    rows = []
    for eid, label, _desc, aliases, _gt in _FIXTURES:
        rows.append((label.lower(), eid, 1.0))
        rows.extend((a.lower(), eid, 0.8) for a in aliases)
    return rows


def _pseudo_word(rng: np.random.RandomState, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi + 1)
    return "".join(_SYLLABLES[i] for i in rng.randint(len(_SYLLABLES), size=n))


def alias_dictionary(seed: int) -> list[tuple[str, str, str, float]]:
    """(alias, qid, label, prior) rows: the fixture aliases plus seeded
    two-word distractor surfaces that never collide with a fixture surface."""
    rng = np.random.RandomState(seed + 1_000)
    fixture = _fixture_surfaces()
    taken = {s for s, _q, _p in fixture}
    labels = {eid: label for eid, label, *_ in _FIXTURES}
    rows = [(s, q, labels[q], p) for s, q, p in fixture]
    n_distractors = ALIAS_SURFACES - len(taken)
    i = 0
    while i < n_distractors:
        surface = f"{_pseudo_word(rng, 2, 3)} {_pseudo_word(rng, 2, 4)}"
        if surface in taken:
            continue
        taken.add(surface)
        qid = f"Q_BENCH_{seed}_{i}"
        prior = float(rng.randint(50, 100)) / 100.0
        rows.append((surface, qid, surface.title(), prior))
        if i % AMBIGUOUS_EVERY == 0:
            rows.append((surface, f"Q_BENCH_{seed}_{i}_alt", surface.title(),
                         prior / 2))
        i += 1
    return rows


def _transcript_tables(seed: int, n_turns: int, distractors: list[str]):
    """Yield one arrow table per part file, following bfokg.datagen's
    closed grammar (anchor entity per conversation, relation sentence per
    assistant turn, mention-free filler) plus planted distractor mentions."""
    rng = np.random.RandomState(seed)
    n_fix = len(_FIXTURES)
    n_convs = n_turns // TURNS_PER_CONV
    convs_per_file = TURNS_PER_FILE // TURNS_PER_CONV

    def filler(lo, hi):
        return " ".join(_FILLER[rng.randint(len(_FILLER))]
                        for _ in range(rng.randint(lo, hi + 1)))

    for start in range(0, n_convs, convs_per_file):
        cols = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
        for c in range(start, min(start + convs_per_file, n_convs)):
            anchor = rng.randint(n_fix)
            eid, label, desc, aliases, _gt = _FIXTURES[anchor]
            for t in range(TURNS_PER_CONV):
                role = ROLES_CYCLE[t % len(ROLES_CYCLE)]
                tool = _TOOLS[rng.randint(len(_TOOLS))] if role == "tool" else None
                if role == "user":
                    forms = [label, *aliases]
                    m = forms[rng.randint(len(forms))]
                    text = (_USER_TEMPLATES[rng.randint(len(_USER_TEMPLATES))]
                            .format(m=m) + " " + filler(1, 2))
                    if rng.rand() < DISTRACTOR_TURN_FRAC:
                        d = distractors[rng.randint(len(distractors))]
                        text += f" I also read about {d.title()} there."
                elif role == "assistant":
                    other = _FIXTURES[rng.randint(n_fix)][1]
                    _pid, tmpl = RELATION_PREDICATES[rng.randint(len(RELATION_PREDICATES))]
                    rel = tmpl.format(s=label, o=other)
                    text = (_ASSISTANT_TEMPLATES[rng.randint(len(_ASSISTANT_TEMPLATES))]
                            .format(m=label, d=desc, rel=rel) + " " + filler(3, 6))
                else:
                    text = f"result: {label} [ok] " + filler(0, 1)
                cols["conv_id"].append(f"conv_{seed}_{c:07d}")
                cols["turn_idx"].append(t)
                cols["role"].append(role)
                cols["text"].append(text)
                cols["tool"].append(tool)
                cols["ts"].append(BASE_TS + timedelta(seconds=c * 60 + t))
        yield pa.table({
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
        })


def write_transcripts(out_dir: str, seed: int, n_turns: int,
                      aliases: list[tuple[str, str, str, float]]) -> None:
    os.makedirs(out_dir)
    distractors = sorted({a for a, q, _l, _p in aliases if q.startswith("Q_BENCH_")})
    for i, table in enumerate(_transcript_tables(seed, n_turns, distractors)):
        pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def corpus_docs(seed: int, n_base: int) -> tuple[list[tuple[int, str]], list[list[int]]]:
    """(doc_id, text) rows and the planted near-duplicate clusters.

    The base corpus draws pseudo-words from a seeded vocabulary, so unrelated
    documents share almost no 3-shingles. A quarter of the base documents
    get one to three variants that differ in a single word (3-shingle Jaccard
    about 0.9). The corpus is the base ×``DOC_COPIES`` with a per-copy token
    suffix, so copies share no shingles and each copy keeps exactly the base
    clusters. Every cluster, singletons included, has one keeper: its
    smallest doc_id."""
    rng = np.random.RandomState(seed + 2_000)
    vocab = sorted({_pseudo_word(rng, 2, 4) for _ in range(DOC_VOCAB)})
    base: list[list[str]] = []
    clusters: list[list[int]] = []
    while len(base) < n_base:
        words = [vocab[i] for i in rng.randint(len(vocab), size=rng.randint(40, 81))]
        members = [len(base)]
        base.append(words)
        if rng.rand() < DUP_CLUSTER_FRAC:
            for _ in range(rng.randint(1, 4)):
                if len(base) >= n_base:
                    break
                variant = list(words)
                variant[rng.randint(len(variant))] = vocab[rng.randint(len(vocab))]
                members.append(len(base))
                base.append(variant)
        clusters.append(members)
    rows = []
    all_clusters = []
    for k in range(DOC_COPIES):
        suffix = "q" + "abcdefgh"[k]
        offset = k * n_base
        rows.extend((offset + i, " ".join(w + suffix for w in words))
                    for i, words in enumerate(base))
        all_clusters.extend([offset + m for m in members] for members in clusters)
    return rows, all_clusters


def write_corpus(out_dir: str, seed: int, n_base: int) -> list[list[int]]:
    rows, clusters = corpus_docs(seed, n_base)
    os.makedirs(out_dir)
    per_file = max(1, len(rows) // 4)
    for i in range(0, len(rows), per_file):
        chunk = rows[i:i + per_file]
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in chunk], pa.int64()),
            "text": pa.array([r[1] for r in chunk], pa.string()),
        }), os.path.join(out_dir, f"part-{i // per_file:05d}.parquet"))
    return clusters


def cached(cache_root: str, key: str, build) -> str:
    """Return ``cache_root/key``, building it with ``build(tmp_dir)`` first
    when it is absent. The directory is renamed into place only after
    ``build`` returns, so a killed run never leaves a half-written input."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(key + "\n")
    os.rename(tmp, final)
    return final


def save_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def load_json(path: str):
    with open(path) as f:
        return json.load(f)
