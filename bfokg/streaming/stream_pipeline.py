"""Structured Streaming variant of the triple pipeline.

The reference is batch-only (SURVEY.md §2.8 — streaming listed as future
work, ARCHITECTURE.md:717-720), and the north_rule's incremental story is
Iceberg snapshot resume. This module is the optional streaming slot: the
SAME extraction/linking operators run under ``readStream`` — mapInPandas
and broadcast joins are streaming-safe — with late-data handling via a
watermark and ``dropDuplicatesWithinWatermark`` standing in for the batch
dedup window (the batch window's "keep first by (ts, conv_id, turn_idx)"
becomes "keep first seen within the watermark horizon", the standard
streaming relaxation of a global keep-first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.linking import alias_dict_df
from ..operators.triples import extract_triples, link_triples


def stream_edges(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Build the streaming edge DataFrame from a parquet file source with
    the transcripts schema. Caller attaches the sink (writeStream)."""
    reader = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    transcripts = reader.parquet(source_dir)
    linked = link_triples(extract_triples(transcripts), alias_dict_df(spark))
    return (
        linked.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["subj_qid", "pred", "obj_qid"])
    )


def run_stream_to_memory(
    spark: SparkSession,
    source_dir: str,
    name: str = "edges_stream",
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
):
    """Drain the stream with an availableNow trigger into an in-memory
    table (test/debug sink); returns the query after it finishes."""
    q = (
        stream_edges(spark, source_dir, watermark, max_files_per_trigger)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
