"""Small shared utilities."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _sql_literal(v, dtype) -> str:
    """Render one python value as a Spark SQL literal of ``dtype``."""
    if v is None:
        return f"CAST(NULL AS {dtype.simpleString()})"
    if isinstance(dtype, T.StringType):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return f"CAST({int(v)} AS {dtype.simpleString()})"
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # repr() is the shortest round-trip decimal; both Python and the
        # JVM parse it back to the identical IEEE value
        return f"CAST('{v!r}' AS {dtype.simpleString()})"
    if isinstance(dtype, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dtype, T.TimestampType):
        # the same epoch microseconds createDataFrame would store: exact,
        # and independent of the session time zone
        return f"timestamp_micros({dtype.toInternal(v)})"
    if isinstance(dtype, T.ArrayType):
        if len(v) == 0:
            return f"CAST(array() AS {dtype.simpleString()})"
        return "array(" + ",".join(_sql_literal(x, dtype.elementType) for x in v) + ")"
    if isinstance(dtype, T.MapType):
        items = list(v.items())
        if not items:
            return f"CAST(map() AS {dtype.simpleString()})"
        parts = []
        for k, val in items:
            parts.append(_sql_literal(k, dtype.keyType))
            parts.append(_sql_literal(val, dtype.valueType))
        return "map(" + ",".join(parts) + ")"
    raise TypeError(f"local_df: unsupported literal type {dtype}")


def local_df(spark, rows, schema) -> DataFrame:
    """Bounded driver-local rows as a true ``LocalRelation`` (rendered as
    ``SELECT ... FROM VALUES``) instead of a parallelized RDD scan.

    Why it matters (guide §2.4/§3.1): a ``createDataFrame`` dim is an RDD
    scan with ``defaultParallelism`` partitions and UNKNOWN size stats —
    every ``F.broadcast(dim)`` build is then a real many-task Spark job,
    and the planner can never pick a broadcast join on its own. A
    LocalRelation broadcasts straight from driver memory (no job), carries
    exact size stats, and constant-folds through projections/filters
    (``ConvertToLocalRelation``). Only for BOUNDED vendored dims (fixture
    tables, rule dims, centroid tables — tens to hundreds of rows); real
    data keeps ``createDataFrame``/parquet paths.
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    names = ", ".join(f.name for f in schema.fields)
    if not rows:
        empty = spark.createDataFrame([], schema)
        return empty
    vals = ",\n".join(
        "(" + ",".join(
            _sql_literal(row[i], f.dataType) for i, f in enumerate(schema.fields)
        ) + ")"
        for row in rows
    )
    return spark.sql(f"SELECT * FROM VALUES\n{vals}\nAS t({names})")


def attach_cleanup(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach a ``release_intermediates()`` handle to an operator's output.

    Several operators persist intermediates (MinHash signatures, SimHash
    fingerprints, routing tables, closure frontiers) that the returned
    lazy DataFrame still depends on — they cannot be unpersisted inside the
    operator without recomputing the cached work at action time. Long-lived
    sessions that call such operators repeatedly should release the cache
    once the consuming action has completed::

        pairs = minhash_lsh_pairs(docs)
        pairs.write.parquet(out)
        release_intermediates(pairs)

    Composing operators propagate handles by passing the upstream result's
    cached frames along.
    """
    existing = getattr(result, "_bfokg_cached", ())
    result._bfokg_cached = tuple(existing) + tuple(cached)
    return result


class PathCleanup:
    """A cleanup handle for operators that materialize intermediates to
    a scratch parquet path instead of the block cache (arrays decode much
    faster off parquet's vectorized reader than off the generic-object
    columnar cache — see dedup.minhash_lsh_pairs). Releasing DELETES the
    files: unlike unpersisting a cached frame (which merely recomputes on
    re-use), a released parquet-backed result must not be consumed again.

    The governing invariant: DELETE THROUGH THE SAME RESOLUTION THE
    WRITES USED. Spark resolves every ``df.write.parquet(path)`` —
    scheme-qualified or bare — against the session's Hadoop
    configuration (fs.defaultFS for bare paths), so deletion goes
    through the Hadoop FileSystem API with that same configuration
    whenever the session is alive. A driver-local ``shutil.rmtree``
    alone silently no-ops on ``hdfs://``/``s3a://`` scratch and leaks
    the signature table on shared storage (ADVICE r3 #4) — and the same
    leak applies to a BARE path on a cluster, which Spark wrote to the
    default FS, not the driver's disk. For bare paths the Hadoop delete
    is followed by a best-effort local ``rmtree``: when an inherited
    remote fs.defaultFS redirected the writes (ADVICE r4 #2's
    local-master corner), the tempfile-created LOCAL directory would
    otherwise linger after the remote data — which is exactly where our
    writes landed, so removing it is correct — is gone; on an ordinary
    local session the Hadoop delete already removed everything and the
    extra rmtree is a no-op. ``shutil`` remains the fallback for dead
    sessions / unreachable filesystems.
    """

    _SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")

    def __init__(self, path: str, spark=None):
        self.path = path
        self.spark = spark

    def unpersist(self, blocking: bool = False):
        import shutil

        local_path = re.sub(r"^file:(//)?", "", self.path)
        if self.spark is not None:
            try:
                jvm = self.spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(self.path)
                fs = jpath.getFileSystem(
                    self.spark._jsc.hadoopConfiguration()
                )
                fs.delete(jpath, True)
                if not self._SCHEME.match(self.path):
                    # bare path: also clear the driver-local dir in case a
                    # remote default FS redirected the writes (the local
                    # tempdir creation is the one driver-side artifact)
                    shutil.rmtree(local_path, ignore_errors=True)
                return
            except Exception:
                pass  # dead JVM / unreachable FS → best-effort local delete
        shutil.rmtree(local_path, ignore_errors=True)


def release_intermediates(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist every intermediate attached via ``attach_cleanup``.
    Returns the number of frames released. Safe to call twice."""
    cached = getattr(df, "_bfokg_cached", ())
    n = 0
    for frame in cached:
        try:
            frame.unpersist(blocking)
            n += 1
        except Exception:
            pass
    df._bfokg_cached = ()
    return n


def resolve_scratch_dir(spark, prefix: str, explicit: str | None = None,
                        require: bool = True) -> str | None:
    """Resolve a per-run scratch directory for parquet-materialized
    intermediates (iterative-loop checkpoints, signature tables) — the
    ONE implementation of the resolution ladder previously triplicated
    across ``ontology.build_closure``, ``dedup.minhash_lsh_pairs`` and
    ``dedup.dedup_components``:

    1. ``explicit`` caller path → a unique ``<prefix>_<uuid>`` SUBDIR
       under it (never the caller's dir itself: the cleanup handle
       deletes the whole scratch dir, and a caller passing a shared
       checkpoint ROOT must not lose it; the uuid also keeps concurrent
       runs from colliding);
    2. the session's configured Spark checkpoint dir → same unique
       subdir under it (executor-visible on a real cluster);
    3. local masters → a ``tempfile`` dir removed at interpreter exit;
    4. multi-node master with none of the above: raise (``require=True``
       — the scratch MUST be on storage every executor can read) or
       return None (``require=False`` — caller falls back to a
       non-parquet strategy, e.g. a memory persist).
    """
    import atexit
    import os
    import shutil
    import tempfile
    import uuid

    if explicit is not None:
        return os.path.join(explicit, f"{prefix}_{uuid.uuid4().hex[:8]}")
    configured = None
    try:
        configured = spark.sparkContext.getCheckpointDir()
    except Exception:
        pass
    if configured:
        return os.path.join(configured, f"{prefix}_{uuid.uuid4().hex[:8]}")
    if spark.conf.get("spark.master", "local").startswith("local"):
        scratch = tempfile.mkdtemp(prefix=f"{prefix}_")
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
        return scratch
    if not require:
        return None
    raise ValueError(
        f"{prefix}: no scratch dir available — on a multi-node master the "
        "parquet-materialized intermediates must live on storage every "
        "executor can read (call sc.setCheckpointDir or pass an explicit "
        "directory)"
    )
