"""Stateful streaming politeness: per-host cumulative fetch budget.

The batch scheduler (``frontier/politeness.py``) re-ranks the whole queue
every round; the streaming complement enforces the per-host budget
*incrementally* with the keyed state store (``applyInPandasWithState``):
each host's group keeps a single counter of URLs already emitted, so a
host that exhausts its budget in batch 3 emits nothing in batch 4 — state
carries across micro-batches without re-reading history.

This is the engine's custom stateful operator (SURVEY.md §2.7: the
reference has no streaming; the north rule's politeness semantics are the
engine addition). Determinism inside a micro-batch: a host's rows are
taken in (page_ts, length(ref_url), ref_url) order — batch politeness's
crawl order without its leading priority, which streamed refs do not
carry. Across micro-batches, arrival order governs — the live-scheduling
semantic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

OUT_SCHEMA = (
    "host string, url_hash string, ref_url string, kind string, "
    "page_ts timestamp, queue_pos int"
)
STATE_SCHEMA = "used int"


def stateful_host_budget(refs: DataFrame, budget: int = 5) -> DataFrame:
    """At most ``budget`` URLs per host over the stream's lifetime.

    ``refs`` is a streaming frame carrying at least
    (host, url_hash, ref_url, kind, page_ts). Output rows gain a
    cumulative 1-based ``queue_pos`` per host.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def take_within_budget(key, pdf_iter, state: GroupState):
        used = state.get[0] if state.exists else 0
        rows = pd.concat(list(pdf_iter), ignore_index=True)
        if used >= budget or rows.empty:
            state.update((int(used),))
            return
        rows["__len"] = rows["ref_url"].str.len()
        rows = rows.sort_values(["page_ts", "__len", "ref_url"], kind="mergesort")
        # one emission per distinct URL within the batch (first sighting)
        rows = rows.drop_duplicates(subset=["url_hash"], keep="first")
        take = rows.iloc[: budget - used].copy()
        take["queue_pos"] = range(used + 1, used + 1 + len(take))
        state.update((int(used + len(take)),))
        yield take[["host", "url_hash", "ref_url", "kind", "page_ts", "queue_pos"]]

    return refs.groupBy("host").applyInPandasWithState(
        take_within_budget,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_budget(
    spark, src_path: str, budget: int = 5, query_name: str = "budget_live"
):
    """Drive the stateful budget synchronously (test/demo harness)."""
    from .ingest import _drain_to_memory, read_document_stream, streaming_refs

    refs = streaming_refs(read_document_stream(spark, src_path, max_files=1))
    return _drain_to_memory(stateful_host_budget(refs, budget=budget), query_name)
