"""Streaming URL-seen dedup: state-store-backed first-occurrence filter.

The batch frontier keeps the seen set exact via bucket-partitioned tables
+ Bloom routing (``frontier/seen.py``). The streaming complement uses
Structured Streaming's keyed state store: ``dropDuplicatesWithinWatermark``
on the URL hash emits only the first occurrence of each URL, and evicts a
key's state once it ages past the event-time watermark — bounded state (the
streaming analog of re-crawl invalidation windows). Plain ``dropDuplicates``
would NOT bound state here: Spark only evicts dedup state when the
event-time column is part of the dedup key subset, and keying on
(url_hash, page_ts) would change the semantics.

For exact long-horizon semantics the batch path remains authoritative;
this operator serves the live-ingest view (e.g. "new URLs discovered in
the last 24h, deduped") where bounded state is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def first_occurrence_urls(refs: DataFrame, watermark: str = "24 hours") -> DataFrame:
    """First sighting of each url_hash within the watermark horizon.

    ``refs`` is a *streaming* frame from ``streaming.ingest.streaming_refs``
    (must carry ``url_hash`` and event-time ``page_ts``). State for a
    url_hash is dropped once the watermark passes its first sighting, so
    long-running streams hold only the horizon's keys.
    """
    return refs.withWatermark("page_ts", watermark).dropDuplicatesWithinWatermark(["url_hash"])


def run_streaming_seen(spark, src_path: str, query_name: str = "seen_live"):
    """Drive the streaming dedup synchronously (test/demo harness)."""
    from .ingest import _drain_to_memory, read_document_stream, streaming_refs

    refs = streaming_refs(read_document_stream(spark, src_path))
    return _drain_to_memory(first_occurrence_urls(refs), query_name)
