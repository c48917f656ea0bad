"""The one size model behind every driver-vs-dataflow decision.

Several operators keep a hand-written Python twin of their dataflow for
bounded inputs (rule_based, linking.best_alias, canonicalize, the closure
BFS, union-find). This module is the only place that reads the session budget
or the optimizer's size estimate, so every twin is chosen by the same
rule:

- the budget is Spark's own broadcast threshold
  (``spark.sql.autoBroadcastJoinThreshold``), parsed by Spark; a value
  <= 0 disables every driver route;
- a plan *fits* when its optimized-plan size estimate is within a limit
  (the budget by default); unknown-size sources (RDD scans) estimate
  huge and never fit;
- rows come to the driver only through ``driver_rows``. A plan is
  first capped on the executors to the most rows that can fit (every
  value counts at least 8 bytes), so at most about the budget ever
  reaches the driver; the capped rows then stream, and the collect gives
  up once their counted bytes pass the budget. The count is UTF-8 bytes
  for strings and 8 for other scalars, so a row of values much wider
  than that (long binaries, huge strings) can still ship more than the
  budget within the row cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def budget(spark) -> int:
    """The session's driver budget in bytes: Spark's parsed
    ``autoBroadcastJoinThreshold`` ("10MB" and "10485760" both work)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def _optimized(df: DataFrame):
    return df._jdf.queryExecution().optimizedPlan()


def _is_local(df: DataFrame) -> bool:
    return _optimized(df).getClass().getSimpleName() == "LocalRelation"


def fits(df: DataFrame, limit: int | None = None) -> bool:
    """True when the optimizer's size estimate for ``df`` is within
    ``limit`` bytes (default: the session budget). Planning only; no job."""
    if limit is None:
        limit = budget(df.sparkSession)
    return 0 < limit and int(_optimized(df).stats().sizeInBytes()) <= limit


def _nbytes(v) -> int:
    """A value's driver footprint, never under 8 bytes: UTF-8 bytes for
    strings, summed over containers (a Row is a tuple), 8 for anything
    else. The floor lets ``driver_rows`` turn the byte budget into a row
    cap (empty strings cannot get round it)."""
    if isinstance(v, str):
        n = len(v.encode("utf-8"))
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
    elif isinstance(v, dict):
        n = sum(_nbytes(k) + _nbytes(x) for k, x in v.items())
    elif isinstance(v, (list, tuple)):
        n = sum(_nbytes(x) for x in v)
    else:
        n = 8
    return max(n, 8)


def driver_rows(df: DataFrame) -> list | None:
    """``df``'s rows on the driver, or None once their running byte count
    (``_nbytes``) passes the budget. A ``LocalRelation`` is already in
    driver memory and collects without a job. Any other plan is first
    limited to ``budget // (8 * columns) + 1`` rows — one more than can
    fit, since every value counts at least 8 bytes — so each partition is
    cut on the executors and at most that many rows reach the driver, in
    one job; they then stream (``toLocalIterator``) through the byte
    count."""
    limit = budget(df.sparkSession)
    if limit <= 0:
        return None
    local = _is_local(df)
    if not local:
        df = df.limit(limit // (8 * max(len(df.columns), 1)) + 1)
    rows, used = [], 0
    for row in df.collect() if local else df.toLocalIterator():
        used += _nbytes(row)
        if used > limit:
            return None
        rows.append(row)
    return rows


def local_rows(df: DataFrame) -> list | None:
    """``df``'s rows when its optimized plan is a ``LocalRelation``
    (collecting costs no Spark job) and they fit the budget, else None."""
    return driver_rows(df) if _is_local(df) else None
