"""Keyed temporal operators Spark lacks natively: the as-of join (union +
keyed-window trick) and gap-based sessionization.

No reference counterpart (the reference has no temporal data at all);
this serves the transcripts/events side of the engine: "attach to each
turn the most recent preceding event of the same conversation/user"
is the canonical enrichment step for sessionized training data, and
doing it with an inequality theta-join is a cross-product disaster at
scale.

Scale shape: ONE shuffle, both sides hash-partitioned together on the
``by`` keys, then a single linear window scan per key (no sort-merge
inequality join, no per-key Python). Cost is O((|L|+|R|) log) for the
per-partition sort. The ``by`` keys are mandatory: a global (un-keyed)
as-of is a single ordered sequence — one partition, no parallelism —
so both operators refuse it rather than silently serializing. Skew:
per-key window state is one row (the running last right payload), so
even a hub key costs only its own sort.

Verification: pytest compares against DuckDB's native ASOF JOIN
bit-for-bit (both directions, tolerance, composite keys, ties) — the
same oracle-grade evidence the driver queries get, in-test because the
driver's 50-entry artifact is deliberately kept at exactly the 50
oracle-backed queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    by: list[str] | str | None = None,
    gap: Column | str = "INTERVAL 30 MINUTES",
    tiebreak: list[str] | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: rows of the same ``by`` keys whose
    timestamps are within ``gap`` of the previous row share a session;
    a strictly-larger gap starts a new one. ``session_id`` =
    ``"<by…>#<per-key session ordinal>"`` — deterministic, replayable.

    Two keyed windows: lag → new-session flag → running sum.
    ONE shuffle on the ``by`` keys, linear per-key scan. ``tiebreak``
    columns order equal timestamps deterministically (e.g. ``turn_idx``
    for transcripts); without them, equal-``ts`` rows within a key make
    lag order engine-dependent."""
    if not by:
        raise ValueError("sessionize requires by-keys (see asof_join)")
    by = [by] if isinstance(by, str) else list(by)
    if "_sess_new" in df.columns or session_col in df.columns:
        raise ValueError(
            f"column collision: {'_sess_new' if '_sess_new' in df.columns else session_col}"
        )
    if isinstance(gap, str):
        gap = F.expr(gap)
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*by).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    flagged = df.withColumn(
        "_sess_new",
        F.when(prev.isNull() | (F.col(ts_col) > prev + gap), 1).otherwise(0),
    )
    seq = F.sum("_sess_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sid = F.concat_ws(
        "#", *[F.col(c).cast("string") for c in by], seq.cast("string")
    )
    return flagged.withColumn(session_col, sid).drop("_sess_new")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: list[str] | str | None = None,
    direction: str = "backward",
    tolerance: Column | str | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus the payload of the single
    ``right`` row with the largest ``on`` ≤ left's (``direction=
    "backward"``, inclusive — pandas ``merge_asof`` / DuckDB ``ASOF
    JOIN`` semantics) or smallest ``on`` ≥ left's (``"forward"``) within
    the same ``by`` keys. Unmatched left rows keep nulls.

    ``right`` must be unique per (``by``, ``on``) — among equal
    timestamps there is no well-defined "latest"; pre-aggregate first.
    ``tolerance``: an INTERVAL expression (e.g. ``F.expr("INTERVAL 5
    MINUTES")`` or the string ``"INTERVAL 5 MINUTES"``); matches farther
    than that from the left timestamp are nulled (the row is kept).

    Right payload columns (everything except ``by`` + ``on``) come back
    suffixed; the matched right timestamp as ``{on}{suffix}``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction!r}")
    if not by:
        raise ValueError(
            "asof_join requires by-keys: a global as-of is a single ordered "
            "sequence (one partition, zero parallelism); time-bucket the "
            "input and carry per-bucket maxima instead"
        )
    by = [by] if isinstance(by, str) else list(by)
    if isinstance(tolerance, str):
        tolerance = F.expr(tolerance)

    clash = [c for c in left.columns + right.columns if c.startswith("_asof_")]
    if clash:
        raise ValueError(f"_asof_* column names are reserved: {clash}")
    payload_cols = [c for c in right.columns if c not in by and c != on]
    out_clash = [c for c in [on] + payload_cols if f"{c}{suffix}" in left.columns]
    if out_clash:
        raise ValueError(
            f"output columns would shadow left columns: "
            f"{[f'{c}{suffix}' for c in out_clash]} — pass a different suffix"
        )
    payload = F.struct(
        F.col(on).alias(on), *[F.col(c).alias(c) for c in payload_cols]
    )
    # markers order equal timestamps so the right row is INSIDE the frame:
    # backward (frame ...current): right first; forward (current...): right last
    r_mark = 0 if direction == "backward" else 1
    r = right.select(
        *by, F.col(on).alias("_asof_ts"), payload.alias("_asof_payload"),
        F.lit(r_mark).alias("_asof_side"),
    )
    l = left.select(
        "*", F.col(on).alias("_asof_ts"),
        F.lit(None).cast(r.schema["_asof_payload"].dataType).alias("_asof_payload"),
        F.lit(1 - r_mark).alias("_asof_side"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)

    w = Window.partitionBy(*by).orderBy("_asof_ts", "_asof_side")
    if direction == "backward":
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        match = F.last("_asof_payload", ignorenulls=True).over(w)
    else:
        w = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        match = F.first("_asof_payload", ignorenulls=True).over(w)

    out = unioned.withColumn("_asof_match", match).where(
        F.col("_asof_side") == (1 - r_mark)
    )
    if tolerance is not None:
        gap_ok = (
            F.col("_asof_match")[on] >= F.col("_asof_ts") - tolerance
            if direction == "backward"
            else F.col("_asof_match")[on] <= F.col("_asof_ts") + tolerance
        )
        out = out.withColumn(
            "_asof_match", F.when(gap_ok, F.col("_asof_match"))
        )
    result = out.select(
        *left.columns,
        F.col("_asof_match")[on].alias(f"{on}{suffix}"),
        *[F.col("_asof_match")[c].alias(f"{c}{suffix}") for c in payload_cols],
    )
    return result
