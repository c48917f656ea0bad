"""Deterministic synthetic transcripts generator (input_hint shape).

BASELINE.json input_hint: Iceberg table of multi-turn conversation/agent
transcripts ``(conv_id STRING, turn_idx INT, role STRING, text STRING,
tool STRING, ts TIMESTAMP)``. No external data exists for this shape, so we
synthesize it deterministically (numpy RandomState(42)) at small scale for
tests/benches — the driver's TPC-H-ish tables stay untouched.

Mentions planted in turn text are drawn from the 29 reference fixture
entities (FIXTURES.md §4) so expected mentions, links, triples and BFO
assignments are derivable exactly. Relation sentences follow a closed
grammar (``RELATION_PREDICATES``) so (subj, pred, obj) ground truth is
known by construction.

The generator writes plain parquet with pyarrow (no Spark needed) and is
idempotent — an existing output dir is reused, which also lets the DuckDB
oracle read the very same bytes the Spark queries read.
"""

from __future__ import annotations

import os
import tempfile
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .fixtures import _FIXTURES

SEED = 42


def _default_data_root() -> str:
    """Repo-local ./data next to the package — unless the package is
    imported from a --py-files zip (``__file__`` inside an archive), where
    mkdir would fail; fall back to a stable tmp dir. Overridable via
    BFOKG_DATA_ROOT either way (on a real cluster: a shared filesystem
    or object-store path)."""
    env = os.environ.get("BFOKG_DATA_ROOT")
    if env:
        return env
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(pkg_parent):
        return os.path.join(pkg_parent, "data")
    return os.path.join(tempfile.gettempdir(), "bfokg_data")


DATA_ROOT = _default_data_root()

# closed relation grammar: (predicate_id, sentence template)
RELATION_PREDICATES = [
    ("related_to", "{s} is related to {o}."),
    ("located_in", "{s} is located in {o}."),
    ("part_of", "{s} is part of {o}."),
    ("studied_by", "{s} was studied by {o}."),
    ("influenced", "{s} influenced {o}."),
]

_USER_TEMPLATES = [
    "Tell me about {m}.",
    "What do you know about {m}?",
    "Can you explain {m} please?",
    "I was reading about {m} yesterday.",
]

_ASSISTANT_TEMPLATES = [
    "{m} is {d}. {rel}",
    "Sure — {m} refers to {d}. {rel}",
    "{m}: {d}. {rel}",
]

_TOOLS = [None, None, None, "search", "lookup", None]

# Realistic turn bodies: real conversation turns run hundreds of chars, not
# one template sentence. Filler is mention-free and predicate-free so it
# never changes the expected mention/triple sets — it only gives each turn
# the text mass the extraction kernel would face in production.
_FILLER = [
    "Let me think through the broader context here before answering in more detail.",
    "There are several angles worth considering, and the sources disagree on some points.",
    "From a historical standpoint the topic has been revisited many times by scholars.",
    "The available evidence supports a few competing interpretations worth weighing carefully.",
    "In practical terms, the consequences show up across many different domains of inquiry.",
    "A careful reader will notice subtle assumptions baked into the usual framing of this.",
    "It helps to separate the well-established facts from the more speculative claims.",
    "Methodologically, the measurements involved carry significant uncertainty ranges.",
    "The terminology itself shifted over the decades, which confuses casual summaries.",
    "Comparable cases offer useful contrast, though no analogy is ever perfect.",
    "Reasonable experts continue to debate the finer points in the current literature.",
    "Summing up requires balancing depth against clarity for a general audience.",
]


def _filler(rng: np.random.RandomState, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi + 1)
    return " ".join(_FILLER[rng.randint(len(_FILLER))] for _ in range(n))

ROLES_CYCLE = ["user", "assistant", "assistant", "user", "assistant", "tool"]

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)


def sf_to_n_turns(sf: float) -> int:
    """Scale factor → turn count, mirroring TESTDATA.md tiers
    (sf0.001→600, sf0.01→6k, sf0.1→60k)."""
    return max(60, int(round(sf * 600_000)))


def transcripts_path(sf: float) -> str:
    return os.path.join(DATA_ROOT, "transcripts", f"sf{sf:g}")


def _entity_surface(rng: np.random.RandomState, idx: int) -> str:
    """Label or one of its aliases, picked deterministically."""
    eid, label, _desc, aliases, _gt = _FIXTURES[idx]
    forms = [label] + list(aliases)
    return forms[rng.randint(len(forms))]


# Multi-file output so the Spark scan parallelizes. 2k turns/file (round
# 6, guide §2.5 "input skew: fix at the source" / §6 file layout): with
# the default openCostInBytes packing, each of these small files is its
# own scan task, so file count == scan parallelism for the regex-heavy
# extraction path — 12k/file gave sf0.1 only 5 tasks on 32 cores (the
# kernel ran 6× under-parallel); 2k/file gives 30. At sf1.0 the ~300
# files pack ~9 per split (bytes/core ≈ 38 MB > the 4 MB charged size),
# landing at ~34 tasks — file count stops mattering once the table is
# big enough, which is exactly the right asymptote. Rows are identical
# at any file size (one continuous rng stream; files are just slices).
TURNS_PER_FILE = 2_000


def generate_transcripts(sf: float, overwrite: bool = False) -> str:
    """Generate (if absent) and return the parquet directory for ``sf``.

    Output is split into ~TURNS_PER_FILE-turn part files — a single small
    parquet file is one scan task no matter how many cores the cluster
    has; real transcript tables are many files/row groups."""
    out_dir = transcripts_path(sf)
    done_marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(done_marker) and not overwrite:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(out_dir):
        if name.endswith(".parquet"):
            os.remove(os.path.join(out_dir, name))

    rng = np.random.RandomState(SEED)
    n_turns = sf_to_n_turns(sf)
    turns_per_conv = 6
    n_convs = max(1, n_turns // turns_per_conv)
    convs_per_file = max(1, TURNS_PER_FILE // turns_per_conv)

    n_fix = len(_FIXTURES)
    file_idx = 0
    c = 0
    while c < n_convs:
        conv_ids, turn_idxs, roles, texts, tools, tss = [], [], [], [], [], []
        for c in range(c, min(c + convs_per_file, n_convs)):
            conv_id = f"conv_{c:08d}"
            # each conversation is "about" one anchor entity
            anchor = rng.randint(n_fix)
            for t in range(turns_per_conv):
                role = ROLES_CYCLE[t % len(ROLES_CYCLE)]
                tool = _TOOLS[rng.randint(len(_TOOLS))] if role == "tool" else None
                if role == "user":
                    m = _entity_surface(rng, anchor)
                    text = (
                        _USER_TEMPLATES[rng.randint(len(_USER_TEMPLATES))].format(m=m)
                        + " " + _filler(rng, 1, 2)
                    )
                elif role == "assistant":
                    eid, label, desc, _aliases, _gt = _FIXTURES[anchor]
                    other = rng.randint(n_fix)
                    pred_i = rng.randint(len(RELATION_PREDICATES))
                    _pid, tmpl = RELATION_PREDICATES[pred_i]
                    rel = tmpl.format(s=label, o=_FIXTURES[other][1])
                    text = (
                        _ASSISTANT_TEMPLATES[
                            rng.randint(len(_ASSISTANT_TEMPLATES))
                        ].format(m=label, d=desc, rel=rel)
                        + " " + _filler(rng, 3, 6)
                    )
                else:  # tool turn: structured-ish output, still mentions the anchor
                    text = f"result: {_FIXTURES[anchor][1]} [ok] " + _filler(rng, 0, 1)
                conv_ids.append(conv_id)
                turn_idxs.append(t)
                roles.append(role)
                texts.append(text)
                tools.append(tool)
                tss.append(BASE_TS + timedelta(seconds=int(c) * 60 + t))
        c += 1
        table = pa.table(
            {
                "conv_id": pa.array(conv_ids, pa.string()),
                "turn_idx": pa.array(turn_idxs, pa.int32()),
                "role": pa.array(roles, pa.string()),
                "text": pa.array(texts, pa.string()),
                "tool": pa.array(tools, pa.string()),
                "ts": pa.array(tss, pa.timestamp("us", tz="UTC")),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"part-{file_idx:05d}.parquet"))
        file_idx += 1
    with open(done_marker, "w") as f:
        f.write(f"sf={sf} files={file_idx} turns={n_turns}\n")
    return out_dir


def amplify_transcripts(spark, sf: float, factor: int, overwrite: bool = False) -> str:
    """Spark-side input amplification for the scaling bench: replicate the
    sf table ``factor`` times with distinct conv_ids (so every row is a
    real distinct turn) and write a multi-file parquet copy. One-time,
    idempotent — Python-loop generation of 10M rows would take minutes;
    Spark writes it in seconds."""
    from pyspark.sql import functions as F

    out_dir = os.path.join(DATA_ROOT, "transcripts", f"sf{sf:g}x{factor}")
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker) and not overwrite:
        return out_dir
    base = spark.read.parquet(generate_transcripts(sf))
    big = (
        base.crossJoin(spark.range(factor).withColumnRenamed("id", "rep"))
        .withColumn("conv_id", F.concat_ws("#", "conv_id", "rep"))
        .drop("rep")
        .repartition(64)
    )
    big.write.mode("overwrite").parquet(out_dir)
    with open(marker, "w") as f:
        f.write(f"sf={sf} factor={factor}\n")
    return out_dir


def sf_from_dir(sf_dir: str) -> float:
    """'/root/testdata/sf0.01' → 0.01 (defaults to 0.01 when unparseable)."""
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01
