"""Mention detection + entity linking (north_rule axis).

- Mention detection is one pass over turn text, routed by dictionary
  size: a JVM ``regexp_extract_all`` alternation (longest surface form
  first) for small dictionaries, an Arrow-batched Aho-Corasick kernel
  beyond ``AUTO_SQL_MAX_SURFACES``. Both emit identical rows.
- Linking is a BROADCAST hash join of exploded mentions against the alias
  dictionary (tiny dim); candidate scoring picks the max-prior QID with a
  deterministic (prior DESC, qid ASC) tiebreak.
- For skewed surface forms at scale (one alias appearing in a large share
  of turns), ``link_mentions(..., salt_buckets=N)`` switches to a salted
  repartition join: the mention side gets a random-but-deterministic salt
  (hash of conv_id/turn_idx), the dim side is exploded ×N, so one hot key
  spreads over N reducers (AQE skew-join also covers this when thresholds
  trip; the explicit salt is for the pathological head alias).

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
# the curves cross at ≈100 surfaces, and "auto" switches impl there. A
# real Wikidata alias dict (millions of surfaces, SURVEY.md §2.3) always
# lands on the automaton side.
AUTO_SQL_MAX_SURFACES = 100


def extract_mentions(
    transcripts: DataFrame,
    surfaces: list[str] | None = None,
    impl: str = "auto",
) -> DataFrame:
    """Text → exploded (mention, position) rows: greedy leftmost-longest,
    non-overlapping, word-boundary matches of the lowercased surfaces.

    ``impl="auto"`` (default) picks by dictionary size: ``"sql"`` up to
    ``AUTO_SQL_MAX_SURFACES`` surfaces, ``"aho"`` beyond.
    ``impl="sql"``: JVM ``regexp_extract_all`` + ``posexplode``, no Python.
    ``impl="aho"``: Arrow-batched Aho-Corasick kernel, O(|text|) per row
    independent of dictionary size. Any other value raises ValueError."""
    if impl not in ("auto", "sql", "aho"):
        raise ValueError(f"impl must be auto|sql|aho, got {impl!r}")
    if impl == "auto":
        n_surfaces = len(set(surfaces)) if surfaces is not None else len(
            {r[0] for r in alias_rows()}
        )
        impl = "sql" if n_surfaces <= AUTO_SQL_MAX_SURFACES else "aho"
    if impl == "aho":
        ac = AhoCorasick([r[0] for r in alias_rows()] if surfaces is None
                         else list(surfaces))

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

    pattern = surface_pattern(surfaces)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.posexplode(
            F.regexp_extract_all(F.lower("text"), F.lit(pattern), F.lit(1))
        ).alias("mention_pos", "mention"),
    ).select("conv_id", "turn_idx", "role", "ts", "mention", "mention_pos")


def link_mentions(
    mentions: DataFrame,
    alias_dict: DataFrame,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Mentions × alias dict → best QID per mention occurrence.

    Default: broadcast hash join (dim is tiny). ``salt_buckets=N`` forces
    the salted repartition join used when the dim outgrows broadcast and a
    head alias skews a shuffle join.

    Strategy matrix MEASURED on a 50%-hub-alias distribution (8M rows,
    local[32], BENCH/SKEW.md): broadcast 1.75 s, salted ×32 1.52 s, AQE
    skew-join 1.49 s WHEN its split fires but 2.67 s at the stock
    threshold (the hub key's rows compress so well the compressed-size
    skew detection never triggers), plain shuffle 2.96 s. Winning
    default: broadcast while the dim fits; ``salt_buckets≈cores`` for
    skew you KNOW about (the salt needs no size estimates, which
    compression can defeat); AQE skew-join as the safety net for skew you
    did not anticipate.
    """
    m = mentions.withColumnRenamed("mention", "alias")
    if salt_buckets:
        m = m.withColumn(
            "salt", F.pmod(F.xxhash64("conv_id", "turn_idx", "mention_pos"), F.lit(salt_buckets))
        )
        dim = alias_dict.withColumn(
            "salt", F.explode(F.array([F.lit(i) for i in range(salt_buckets)]))
        )
        joined = m.repartition("alias", "salt").join(dim, ["alias", "salt"]).drop("salt")
    else:
        joined = m.join(F.broadcast(alias_dict), "alias")
    best = Window.partitionBy("conv_id", "turn_idx", "alias", "mention_pos").orderBy(
        F.desc("prior"), F.asc("qid")
    )
    return (
        joined.withColumn("cand_rank", F.row_number().over(best))
        .where(F.col("cand_rank") == 1)
        .drop("cand_rank")
        .withColumnRenamed("alias", "mention")
    )
