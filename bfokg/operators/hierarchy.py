"""Hierarchical top-down classification (SURVEY.md §2.7 C5).

Reference: src/classifiers/hybrid.py:150-315. Per entity: start at the BFO
root (BFO_0000001, confidence 1.0 — hybrid.py:176-186); each level, score
the current node's children with the SEMANTIC classifier (the ``strategy``
argument is explicitly ignored — hybrid.py:332, 338-342) and either descend
into the best child or stop with a reason:

- LEAF_NODE         current node has no children (hybrid.py:204-212)
- NO_CHILD_MATCH    no child received a score (hybrid.py:222-230)
- LOW_CONFIDENCE    best child conf < min_confidence 0.50 (hybrid.py:241-251)
- CONFIDENCE_DROP   cur_conf − child_conf > adaptive threshold
                    (depth ≤ 1 → 0.50, else 0.15 — hybrid.py:253-277)

Spark design: the whole walk runs inside ONE ``mapInPandas`` pass. Per
Arrow batch the texts are encoded once, scored against every class (the
reference's top_k=50-then-filter at hybrid.py:345), and each row descends
the static 35-node tree (``ontology._BFO_TREE``, depth ≤ 7) with no
cross-row coordination — zero shuffles at any scale. Pinned against the
DuckDB recursive-CTE replay (``hierarchical_exact`` in
``__spark_entry__.oracle_sql``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..config import (
    HIER_CONFIDENCE_DROP,
    HIER_MAX_DEPTH,
    HIER_MIN_CONFIDENCE,
    HIER_SHALLOW_DEPTH,
    HIER_SHALLOW_DROP,
)
from ..ontology import OBO, ROOT_URI, _BFO_TREE
from .semantic import class_index, default_class_encoder

PATH_STRUCT = "array<struct<class_uri:string,class_label:string,confidence:double,decision:string,depth:int>>"

HIER_SCHEMA = (
    "entity_id string, class_uri string, class_label string, "
    "confidence double, source string, rank int, stop_reason string, "
    f"depth int, path {PATH_STRUCT}"
)


def _tree_children_by_uri() -> dict[str, list[str]]:
    """parent_uri → child uris sorted ASC (the argmax tiebreak order)."""
    uri_of_label = {label: OBO + oid for oid, label, _, _, _ in _BFO_TREE}
    children: dict[str, list[str]] = {}
    for oid, _label, parent, _d, _e in _BFO_TREE:
        if parent is not None:
            children.setdefault(uri_of_label[parent], []).append(OBO + oid)
    return {k: sorted(v) for k, v in children.items()}


def classify_hierarchical(
    entities: DataFrame,
    *,
    encoder=None,
    min_confidence: float = HIER_MIN_CONFIDENCE,
    drop_threshold: float = HIER_CONFIDENCE_DROP,
    max_depth: int = HIER_MAX_DEPTH,
    source: str = "hierarchical_semantic",
    subtree_smoothing: bool = True,
) -> DataFrame:
    """Returns one row per entity:
    (entity_id, class_uri, class_label, confidence, source, rank=1,
    stop_reason, depth, path). ``entities`` needs (id, text).

    Per Arrow batch: encode all texts once (batched — the reference never
    batched, ARCHITECTURE.md:284-286), build the dense [n, n_classes]
    confidence matrix, then descend level-synchronously: rows standing at
    the same node share one numpy slice/argmax. Children column lists are
    uri-ASC so argmax's first-max rule IS the (conf DESC, uri ASC) tiebreak."""
    enc = encoder or default_class_encoder()
    uris, labels, matrix = class_index(enc, subtree_smoothing)
    col_of = {u: i for i, u in enumerate(uris)}
    label_of = dict(zip(uris, labels))
    children_cols = {
        col_of[p]: np.array([col_of[c] for c in cs], dtype=np.int64)
        for p, cs in _tree_children_by_uri().items()
    }
    root_col = col_of[ROOT_URI]
    min_conf = float(min_confidence)
    drop = float(drop_threshold)
    shallow_depth = int(HIER_SHALLOW_DEPTH)
    shallow_drop = float(HIER_SHALLOW_DROP)

    def walk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            n = len(pdf)
            vecs = enc.encode(pdf["text"].fillna("").tolist())
            conf = ((vecs @ matrix.T) + 1.0) / 2.0  # P7, float64
            cur = np.full(n, root_col, dtype=np.int64)
            cur_conf = np.ones(n, dtype=np.float64)
            depth = np.zeros(n, dtype=np.int64)
            stop = np.full(n, None, dtype=object)
            paths: list[list[dict]] = [
                [{"class_uri": ROOT_URI, "class_label": "Entity",
                  "confidence": 1.0, "decision": "START", "depth": 0}]
                for _ in range(n)
            ]
            for _level in range(max_depth):
                alive = np.where(stop == None)[0]  # noqa: E711
                if alive.size == 0:
                    break
                for node in np.unique(cur[alive]):
                    rows = alive[cur[alive] == node]
                    ch = children_cols.get(int(node))
                    if ch is None or ch.size == 0:
                        stop[rows] = "LEAF_NODE"
                        continue
                    sub = conf[np.ix_(rows, ch)]
                    best_pos = sub.argmax(axis=1)  # first max = uri ASC tie
                    best_col = ch[best_pos]
                    best_conf = sub[np.arange(rows.size), best_pos]
                    adaptive = np.where(
                        depth[rows] <= shallow_depth, shallow_drop, drop
                    )
                    low = best_conf < min_conf
                    dropped = (cur_conf[rows] - best_conf > adaptive) & ~low
                    descend = ~low & ~dropped
                    stop[rows[low]] = "LOW_CONFIDENCE"
                    stop[rows[dropped]] = "CONFIDENCE_DROP"
                    d_rows = rows[descend]
                    cur[d_rows] = best_col[descend]
                    cur_conf[d_rows] = best_conf[descend]
                    depth[d_rows] += 1
                    for r, c, bc in zip(
                        d_rows, best_col[descend], best_conf[descend]
                    ):
                        u = uris[c]
                        paths[r].append(
                            {"class_uri": u, "class_label": label_of[u],
                             "confidence": float(bc), "decision": "DESCEND",
                             "depth": int(depth[r])}
                        )
            stop[stop == None] = "MAX_DEPTH"  # noqa: E711
            yield pd.DataFrame(
                {
                    "entity_id": pdf["id"].to_numpy(),
                    "class_uri": uris[cur],
                    "class_label": labels[cur],
                    "confidence": cur_conf,
                    "source": source,
                    "rank": np.ones(n, dtype=np.int32),
                    "stop_reason": stop,
                    "depth": depth.astype(np.int32),
                    "path": paths,
                }
            )

    return entities.select("id", "text").mapInPandas(walk_batches, HIER_SCHEMA)
