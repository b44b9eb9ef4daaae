"""Flagship end-to-end query: one frontier scheduling round over the
testdata ``documents`` table, through the REAL engine path.

Pipeline (all engine code, no shortcuts):
documents → derive interleaved spans (``frontier/docspans.py``) →
``media_refs`` (kind dispatch, gates, canonicalize/SURT, hash) →
deterministic per-URL champion dedup (A5-A7 order) → per-host politeness
top-k (one host window, partial top-k before its exchange) → fetch batch.

Because the span derivation is closed-form arithmetic, the whole chain has
a compact ANSI-SQL equivalent (see ``__spark_entry__.oracle_sql``): the
DuckDB oracle reproduces the exact fetch batch — an end-to-end correctness
gate over extraction + canonicalization + dedup + scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier import docspans
from ..frontier.extract import media_refs
from ..frontier.politeness import schedule_round
from ..frontier.rounds import CAND_COLS, _dedup_candidates
from ..frontier.seen import bucket_of


def frontier_schedule(spark: SparkSession, sf_dir: str, default_priority: int = 9) -> DataFrame:
    from ..functions import urls as U

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # spans + page envelope derived in ONE projection → one scan of the
    # table (a separate docmeta join would plan a self-join = second scan)
    combined = docspans.interleaved_from_documents(docs)
    refs = media_refs(combined, meta=None).where(F.col("drop_reason").isNull())
    cand = (
        refs.withColumn("priority", F.lit(default_priority).cast("int"))
        .withColumn("bucket", bucket_of(F.col("url_hash"), 32))
        .select(*CAND_COLS)
    )
    # surt/host are recomputed post-dedup — the shuffle carries no
    # derivable strings (same contract as the round driver)
    champions = (
        _dedup_candidates(cand)
        .withColumn("surt", U.surt(F.col("ref_url")))
        .withColumn("host", U.url_host(F.col("ref_url")))
    )
    sched = schedule_round(champions, docspans.politeness_from_hosts(spark))
    return sched.select(
        "url_hash",
        "ref_url",
        "surt",
        "host",
        "kind",
        "page_ts",
        "doc_id",
        F.col("queue_pos").cast("int").alias("queue_pos"),
        F.col("fetch_delay_ms").cast("long").alias("fetch_delay_ms"),
    )
