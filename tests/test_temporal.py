"""asof_join vs DuckDB's native ASOF JOIN — exact multiset equality;
sessionize vs the same two-window SQL in DuckDB and Spark's session_window.

In-test oracle (not a driver query: the driver's 50-entry artifact is
kept at exactly the 50 oracle-backed queries), same evidence grade —
DuckDB implements the reference semantics natively.
"""

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from bfokg.operators.temporal import asof_join

BASE = dt.datetime(2026, 1, 1)


def _frames(seed=7, n_left=300, n_right=200, users=5):
    rng = np.random.default_rng(seed)
    # unique (user, ts) on the right: sample offsets without replacement
    left = pd.DataFrame(
        {
            "user_id": rng.integers(1, users + 1, n_left),
            "ts": [BASE + dt.timedelta(seconds=int(s))
                   for s in rng.integers(0, 5000, n_left)],
            "turn": np.arange(n_left),
        }
    )
    offs = rng.choice(5000, size=n_right, replace=False)
    right = pd.DataFrame(
        {
            "user_id": rng.integers(1, users + 1, n_right),
            "ts": [BASE + dt.timedelta(seconds=int(s)) for s in offs],
            "value": rng.random(n_right).round(6),
        }
    )
    # force a few exact-tie timestamps to pin inclusivity
    right.loc[0, ["user_id", "ts"]] = [left.loc[0, "user_id"], left.loc[0, "ts"]]
    right.loc[1, "value"] = 0.5
    return left, right


def _duck_asof(left, right, direction, tolerance_s=None):
    con = duckdb.connect()
    con.register("l", left)
    con.register("r", right)
    cmp = "l.ts >= r.ts" if direction == "backward" else "l.ts <= r.ts"
    q = f"""
    SELECT l.user_id, l.ts, l.turn, r.ts AS ts_right, r.value AS value_right
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND {cmp}
    """
    out = con.sql(q).df()
    if tolerance_s is not None:
        gap = (out["ts"] - out["ts_right"]).abs() > pd.Timedelta(seconds=tolerance_s)
        out.loc[gap, ["ts_right", "value_right"]] = [pd.NaT, np.nan]
    return out


def _as_set(df):
    def norm(v):
        if v is None or (isinstance(v, float) and np.isnan(v)) or pd.isna(v):
            return None
        if isinstance(v, (pd.Timestamp, dt.datetime)):
            return pd.Timestamp(v).to_pydatetime()
        return v

    return sorted(
        tuple(norm(v) for v in row)
        for row in df[["user_id", "ts", "turn", "ts_right", "value_right"]]
        .itertuples(index=False)
    )


@pytest.mark.parametrize("direction,seed", [
    ("backward", 7), ("forward", 7), ("backward", 41), ("forward", 41),
])
def test_asof_join_matches_duckdb(spark, direction, seed):
    left, right = _frames(seed=seed)
    # uniqueness precondition for well-defined ties
    assert not right.duplicated(["user_id", "ts"]).any()
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="ts",
        by="user_id",
        direction=direction,
    ).toPandas()
    want = _duck_asof(left, right, direction)
    assert _as_set(got) == _as_set(want)
    # the planted exact-tie timestamp must match (inclusive semantics)
    tie = got[got.turn == 0].iloc[0]
    assert tie.ts_right == tie.ts


def test_asof_join_empty_right(spark):
    left, _ = _frames()
    empty = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    got = asof_join(
        spark.createDataFrame(left), empty, on="ts", by="user_id"
    ).toPandas()
    assert len(got) == len(left) and got.value_right.isna().all()


def test_asof_join_tolerance_and_unmatched(spark):
    left, right = _frames(seed=11)
    got = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        on="ts",
        by="user_id",
        direction="backward",
        tolerance="INTERVAL 90 SECONDS",
    ).toPandas()
    want = _duck_asof(left, right, "backward", tolerance_s=90)
    assert _as_set(got) == _as_set(want)
    assert got.ts_right.isna().any()            # tolerance actually nulls some
    assert len(got) == len(left)                # left join: every row kept


def test_sessionize_matches_duckdb(spark):
    """sessionize vs the identical two-window SQL in DuckDB, plus hand
    pins: a gap exactly equal to the threshold does NOT split."""
    from bfokg.operators.temporal import sessionize

    left, _ = _frames(seed=23, n_left=400)
    left = left.drop_duplicates(["user_id", "ts"])  # deterministic lag order
    got = sessionize(
        spark.createDataFrame(left), ts_col="ts", by="user_id",
        gap="INTERVAL 5 MINUTES",
    ).toPandas()
    con = duckdb.connect()
    con.register("t", left)
    want = con.sql(
        """
        SELECT user_id, ts, turn,
               user_id::VARCHAR || '#' ||
               sum(CASE WHEN prev IS NULL OR ts > prev + INTERVAL 5 MINUTES
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING)::VARCHAR AS session_id
        FROM (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
              FROM t)
        """
    ).df()
    key = ["user_id", "ts", "turn"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert list(g.session_id) == list(w.session_id)
    assert g.session_id.nunique() > left.user_id.nunique()  # gaps actually split

    # boundary pin: gap == threshold stays in-session; gap+1s splits
    b = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": [BASE, BASE + dt.timedelta(minutes=5),
                   BASE + dt.timedelta(minutes=10, seconds=1)],
            "turn": [0, 1, 2],
        }
    )
    sb = sessionize(
        spark.createDataFrame(b), by="user_id", gap="INTERVAL 5 MINUTES"
    ).toPandas().sort_values("turn")
    assert list(sb.session_id) == ["1#1", "1#1", "1#2"]


def test_sessionize_parity_with_spark_session_window(spark):
    """Cross-check against Spark's built-in session_window: per-session
    (user, first-event ts, row count) multisets must be identical.
    Timestamps carry random sub-second microseconds, so exact-gap
    boundaries (where the two definitions could differ) have measure
    zero."""
    from pyspark.sql import functions as F

    from bfokg.operators.temporal import sessionize

    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {
            "user_id": rng.integers(1, 6, 400),
            "ts": [BASE + dt.timedelta(seconds=float(s))
                   for s in rng.uniform(0, 50_000, 400)],
        }
    )
    df = spark.createDataFrame(pdf)
    ours = (
        sessionize(df, by="user_id", gap="INTERVAL 5 MINUTES")
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.count(F.lit(1)).alias("n"))
    )
    theirs = df.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    a = sorted((r.user_id, r.start, r.n) for r in ours.collect())
    b = sorted((r.user_id, r.w.start, r.n) for r in theirs.collect())
    assert a == b and len(a) > 10


def test_temporal_ops_repartition_invariant(spark):
    """Cluster layout must never change results: the same inputs through
    arbitrary repartitioning produce identical rows (sessionize ids,
    asof matches)."""
    from bfokg.operators.temporal import sessionize

    left, right = _frames(seed=37)
    left = left.drop_duplicates(["user_id", "ts"])
    df, dr = spark.createDataFrame(left), spark.createDataFrame(right)

    s1 = sessionize(df, by="user_id", gap="INTERVAL 5 MINUTES").toPandas()
    s2 = sessionize(df.repartition(7), by="user_id",
                    gap="INTERVAL 5 MINUTES").toPandas()
    key = lambda d: sorted(map(tuple, d[["user_id", "ts", "session_id"]].values))  # noqa: E731
    assert key(s1) == key(s2)

    a1 = asof_join(df, dr, on="ts", by="user_id").toPandas()
    a2 = asof_join(df.repartition(5), dr.repartition(3), on="ts",
                   by="user_id").toPandas()
    assert _as_set(a1) == _as_set(a2)


def test_asof_join_refuses_global(spark):
    left, right = _frames()
    with pytest.raises(ValueError, match="by-keys"):
        asof_join(spark.createDataFrame(left), spark.createDataFrame(right),
                  on="ts", by=None)
