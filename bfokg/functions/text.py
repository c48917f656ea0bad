"""Scalar text functions (SURVEY.md §2.2 P1-P2, P5-P6, P8).

All are built-in Spark column expressions — JVM-side, whole-stage-codegen
eligible; no Python in these paths.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from ..config import MANY_ALIASES_MIN, SHORT_DESCRIPTION_MAX


def entity_text_col(label: str = "label", description: str = "description") -> Column:
    """P1 — EXACT parity invariant: ``get_text() = f"{label}: {description}"``
    (reference tests/test_basic.py:48; used by every classifier)."""
    return F.concat(F.col(label), F.lit(": "), F.coalesce(F.col(description), F.lit("")))


def with_entity_text(df: DataFrame) -> DataFrame:
    return df.withColumn("text", entity_text_col())


def has_many_aliases_col(aliases: str = "aliases") -> Column:
    """P5 — len(aliases) >= 3 (ARCHITECTURE.md:188-191; tiered routing)."""
    return F.coalesce(F.size(aliases) >= MANY_ALIASES_MIN, F.lit(False))


def has_short_description_col(description: str = "description") -> Column:
    """P6 — len(description) < 50 (README.md:540; tiered routing)."""
    return F.coalesce(F.length(description) < SHORT_DESCRIPTION_MAX, F.lit(True))


# word tokens for keyword matching: \b-equivalent token sets.
# Keywords are alnum words or single-hyphen compounds ('self-sufficient',
# rule_based.py:67-69). Union of a hyphen-splitting and a hyphen-keeping
# tokenization reproduces regex word-boundary semantics for those shapes
# ('blue-green' matches \bblue\b AND keyword 'blue-green' stays matchable).
_TOKEN_SPLIT = r"[^a-z0-9_]+"
_TOKEN_SPLIT_KEEP_HYPHEN = r"[^a-z0-9_\-]+"


def word_tokens_col(text_col) -> Column:
    """P3 support — distinct lowercase word tokens of ``text_col``.

    TOKEN SET (order is not part of the contract; the only consumer is the
    order-insensitive ``array_intersect`` scoring): the union of the
    hyphen-splitting and hyphen-keeping tokenizations, exactly as before
    round 6 — only the evaluation changed, twice over:
    1. ``regexp_extract_all`` instead of ``split``: Spark's regexp_*
       expressions CACHE the compiled pattern per operator, while
       ``StringSplit`` recompiles its regex on every call
       (``UTF8String.split`` → ``Pattern.compile`` per row) — measured
       6.4 s → 0.2 s for one tokenization pass over 160k docs;
    2. texts with no '-' skip the second pass entirely (their two token
       sets are provably equal — every maximal ``[a-z0-9_]`` run lies
       inside a maximal ``[a-z0-9_-]`` run)."""
    col = text_col if isinstance(text_col, Column) else F.col(text_col)
    lower = F.lower(col)
    hyphen = F.array_distinct(
        F.regexp_extract_all(lower, F.lit(r"[a-z0-9_\-]+"), F.lit(0))
    )
    plain = F.array_distinct(
        F.regexp_extract_all(lower, F.lit(r"[a-z0-9_]+"), F.lit(0))
    )
    return F.when(
        lower.contains("-"), F.array_union(hyphen, plain)
    ).otherwise(hyphen)


def natural_label(label: str, definition: str | None) -> str:
    """P8 — zero-shot natural-label generation (reference zeroshot.py:68-97):
    first sentence of the definition if it starts with 'a ' / 'an '; else
    CamelCase → spaced lowercase with an indefinite article.

    Driver-side only (applied to the 35-row class dim)."""
    if definition:
        first = definition.split(".")[0].strip()
        if first.lower().startswith(("a ", "an ")):
            return first
    spaced = re.sub(r"(?<!^)([A-Z])", r" \1", label).lower()
    article = "an" if spaced[:1] in "aeiou" else "a"
    return f"{article} {spaced}"
