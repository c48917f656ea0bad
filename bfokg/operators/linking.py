"""Mention detection + entity linking (north_rule axis).

- Mention detection is one pass over turn text, routed by dictionary
  size: a JVM ``regexp_extract_all`` alternation (longest surface form
  first) for small dictionaries, an Arrow-batched Aho-Corasick kernel
  beyond ``AUTO_SQL_MAX_SURFACES``. Both emit identical rows.
- Linking resolves each surface form once (``best_alias``: max prior,
  then smallest qid) and BROADCAST hash joins the mentions against that
  resolution.

Reference counterpart: none — the reference fetches one entity at a time
from the Wikidata API (SURVEY.md §2.1 S1); the north_rule replaces that
with pre-materialized alias/claims dims and set-at-a-time joins.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..fixtures import _FIXTURES

MENTIONS_SCHEMA = (
    "conv_id string, turn_idx int, role string, ts timestamp, "
    "mention string, mention_pos int"
)


def alias_rows() -> list[tuple[str, str, str, float]]:
    """(alias_lower, qid, canonical_label, prior). Labels get prior 1.0,
    aliases 0.8 — so an ambiguous surface form ('catalyst' is both the
    label of Q_SYNTH_61 and an alias of Q_SYNTH_6) resolves to the label
    bearer deterministically."""
    rows = []
    for eid, label, _desc, aliases, _gt in _FIXTURES:
        rows.append((label.lower(), eid, label, 1.0))
        for a in aliases:
            rows.append((a.lower(), eid, label, 0.8))
    return rows


def alias_dict_df(spark: SparkSession) -> DataFrame:
    from ..util import local_df

    return local_df(
        spark, alias_rows(), "alias STRING, qid STRING, label STRING, prior DOUBLE"
    )


def surface_alternation(surfaces: list[str] | None = None) -> str:
    """Bare alternation over all known surface forms, longest first so
    'Sahara Desert' wins over 'Sahara'."""
    if surfaces is None:
        surfaces = [r[0] for r in alias_rows()]
    ordered = sorted(set(surfaces), key=lambda s: (-len(s), s))
    return "|".join(re.escape(s) for s in ordered)


def surface_pattern(surfaces: list[str] | None = None) -> str:
    """Word-boundary-anchored single-group alternation (case-insensitive
    use)."""
    return r"\b(" + surface_alternation(surfaces) + r")\b"


class AhoCorasick:
    """Driver-built Aho-Corasick automaton over lowercase surface forms.

    The alternation-regex scan is O(|text| × |dict|) in the worst case —
    fine for the fixture dictionary, a wall at a real Wikidata alias dict
    (millions of surface forms, where the regex cannot even be compiled).
    This automaton is O(|text| + matches) per row regardless of dictionary
    size. Pure-python dict-trie: picklable, built once on the driver,
    captured into the kernel closure (at production dictionary sizes swap
    in the C `pyahocorasick` build behind the same search contract).

    ``search(text)`` reproduces the regex path's semantics exactly:
    case-insensitive (callers pass lowered text), word-boundary anchored
    on both sides (true ``\\b`` semantics — a boundary is a word/non-word
    TRANSITION, so patterns with non-word edge chars like ``-foo`` or
    ``foo'`` anchor correctly too), greedy leftmost-longest,
    non-overlapping.
    """

    def __init__(self, patterns: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        out: list[list[int]] = [[]]
        for p in set(patterns):
            state = 0
            for ch in p:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    out.append([])
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            out[state].append(len(p))
        # failure links by BFS; merge output sets along fail chains
        from collections import deque

        self.fail = [0] * len(self.goto)
        q = deque(self.goto[0].values())
        while q:
            s = q.popleft()
            for ch, t in self.goto[s].items():
                q.append(t)
                f = self.fail[s]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[t] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != t else 0
                out[t] = out[t] + out[self.fail[t]]
        self.out = [sorted(set(o), reverse=True) for o in out]  # longest first

    @staticmethod
    def _is_word(ch: str) -> bool:
        return ch.isalnum() or ch == "_"

    def search(self, text: str) -> list[tuple[int, str]]:
        """Greedy leftmost-longest non-overlapping matches with word
        boundaries; returns [(start, matched_text)]."""
        goto, fail, out = self.goto, self.fail, self.out
        is_word = self._is_word
        n = len(text)
        raw: list[tuple[int, int]] = []  # (start, end), all boundary-valid
        state = 0
        for j, ch in enumerate(text):
            while state and ch not in goto[state]:
                state = fail[state]
            state = goto[state].get(ch, 0)
            if out[state]:
                end = j + 1
                # \b after the match: boundary = word/non-word transition
                # between the match's LAST char (== ch for every pattern
                # ending here) and the next char; at end-of-string the
                # boundary exists only when the last char is a word char.
                last_w = is_word(ch)
                if not (last_w if end == n else (is_word(text[end]) != last_w)):
                    continue
                for length in out[state]:
                    start = end - length
                    first_w = is_word(text[start])
                    if not (
                        first_w if start == 0 else (is_word(text[start - 1]) != first_w)
                    ):
                        continue
                    raw.append((start, end))
        raw.sort(key=lambda m: (m[0], -(m[1] - m[0])))
        picked: list[tuple[int, str]] = []
        pos = 0
        for start, end in raw:
            if start >= pos:
                picked.append((start, text[start:end]))
                pos = end
        return picked


# Measured crossover (BENCH/MENTIONS.md, sf1 = 600k turns, local[32]):
# the JVM alternation's scan cost grows ~linearly with dictionary size
# (≈10-15 ms/surface per 600k turns; 16.8 s at 1k surfaces, 103 s at
# 10k, DNF at 100k) while the Aho-Corasick kernel stays flat at ~2 s —
# the curves cross at ≈100 surfaces, and extract_mentions switches
# there. A real Wikidata alias dict (millions of surfaces, SURVEY.md
# §2.3) always lands on the automaton side.
AUTO_SQL_MAX_SURFACES = 100


def _mentions_sql(transcripts: DataFrame, surfaces: list[str]) -> DataFrame:
    """JVM ``regexp_extract_all`` + ``posexplode``, no Python."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.posexplode(
            F.regexp_extract_all(
                F.lower("text"), F.lit(surface_pattern(surfaces)), F.lit(1)
            )
        ).alias("mention_pos", "mention"),
    ).select("conv_id", "turn_idx", "role", "ts", "mention", "mention_pos")


def _mentions_aho(transcripts: DataFrame, surfaces: list[str]) -> DataFrame:
    """Arrow-batched Aho-Corasick kernel, O(|text|) per row independent of
    dictionary size."""
    ac = AhoCorasick(surfaces)

    def scan_ac(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hits = [ac.search((t or "").lower()) for t in pdf["text"]]
            counts = [len(h) for h in hits]
            idx = pdf.index.repeat(counts)
            out = pdf.loc[idx, ["conv_id", "turn_idx", "role", "ts"]].reset_index(drop=True)
            out["mention"] = [m for row in hits for _s, m in row]
            out["mention_pos"] = [p for c in counts for p in range(c)]
            yield out

    return transcripts.select(
        "conv_id", "turn_idx", "role", "ts", "text"
    ).mapInPandas(scan_ac, MENTIONS_SCHEMA)


def extract_mentions(
    transcripts: DataFrame, surfaces: list[str] | None = None
) -> DataFrame:
    """Text → exploded (mention, position) rows: greedy leftmost-longest,
    non-overlapping, word-boundary matches of the lowercased surfaces
    (default: the fixture alias dictionary).

    Up to ``AUTO_SQL_MAX_SURFACES`` distinct surfaces the JVM alternation
    scans; beyond, the Aho-Corasick kernel does."""
    if surfaces is None:
        surfaces = [r[0] for r in alias_rows()]
    if len(set(surfaces)) <= AUTO_SQL_MAX_SURFACES:
        return _mentions_sql(transcripts, surfaces)
    return _mentions_aho(transcripts, surfaces)


def best_alias(alias_dict: DataFrame) -> DataFrame:
    """One row per non-NULL ``alias`` of ``alias_dict``, with every dict
    column: the row first by ``prior DESC NULLS LAST, qid ASC NULLS FIRST``.

    A driver-resident dict (``routing.local_rows``) is folded in Python and
    returned as a LocalRelation; any other dict is ranked by a
    ``row_number`` window."""
    from .. import routing

    dict_rows = routing.local_rows(alias_dict)
    if dict_rows is None:
        w = Window.partitionBy("alias").orderBy(F.desc("prior"), F.asc("qid"))
        return (
            alias_dict.where(F.col("alias").isNotNull())
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
    from ..util import local_df

    best: dict = {}
    for r in dict_rows:
        if r.alias is None:
            continue
        key = (r.prior is None, -(r.prior or 0.0), r.qid is not None, r.qid or "")
        cur = best.get(r.alias)
        if cur is None or key < cur[0]:
            best[r.alias] = (key, r)
    return local_df(
        alias_dict.sparkSession,
        [best[a][1] for a in sorted(best)],
        alias_dict.schema,
    )


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """Mentions × ``best_alias(alias_dict)`` → one row per mention row,
    carrying its surface form's QID and the dict's other columns, by a
    broadcast hash join on the alias."""
    return (
        mentions.withColumnRenamed("mention", "alias")
        .join(F.broadcast(best_alias(alias_dict)), "alias")
        .withColumnRenamed("alias", "mention")
    )
