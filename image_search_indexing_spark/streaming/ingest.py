"""Streaming ingest: span documents arriving as files → live extraction.

The reference is pure batch (SURVEY.md §2.7) and the frontier loop is
deliberately iterative-batch (round checkpoints must be bit-replayable).
This module is the *ingest-side* streaming complement: new document
files land in a directory (the "fetcher output" in a live deployment),
and Structured Streaming keeps extraction + per-host discovery counters
continuously up to date. The same extraction expressions are reused, so
batch and streaming semantics cannot drift.

Sinks: ``memory`` for tests, parquet-append for real use (exactly-once
via checkpointLocation). Late data handled by event-time watermark on
the page fetch timestamp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier.datagen import SPANS_SCHEMA
from ..frontier.extract import extract_refs_streaming

FULL_SCHEMA = SPANS_SCHEMA + ", base_url string, fetch_ts string"


def read_document_stream(spark: SparkSession, path: str, max_files: int = 8) -> DataFrame:
    """File-source stream of interleaved documents (doc_id, spans, envelope)."""
    return (
        spark.readStream.schema(FULL_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def streaming_refs(stream: DataFrame) -> DataFrame:
    """Extraction over the stream — same semantics as batch, window-free
    plan (streaming forbids non-time windows; equality with the batch
    extractor is asserted in tests/test_streaming_multimodal.py)."""
    return extract_refs_streaming(stream).where(F.col("drop_reason").isNull())


def host_discovery_counts(refs: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window per-host discovered-URL counts."""
    return (
        refs.withWatermark("page_ts", watermark)
        .groupBy(F.window("page_ts", "1 hour").alias("win"), F.col("host"))
        .agg(F.count("*").alias("n_refs"), F.approx_count_distinct("url_hash").alias("n_urls"))
        .select("win.start", "win.end", "host", "n_refs", "n_urls")
    )


def _drain_to_memory(stream: DataFrame, query_name: str) -> DataFrame:
    """Run a streaming frame to completion into the in-memory table
    ``query_name`` (append mode) and return that table — the harness the
    ``run_*`` drivers share."""
    q = stream.writeStream.outputMode("append").format("memory").queryName(query_name).start()
    q.processAllAvailable()
    q.stop()
    return stream.sparkSession.sql(f"SELECT * FROM {query_name}")


def run_to_memory(spark: SparkSession, src_path: str, query_name: str = "refs_live"):
    """Drive the stream synchronously to completion (test/demo harness)."""
    return _drain_to_memory(streaming_refs(read_document_stream(spark, src_path)), query_name)
