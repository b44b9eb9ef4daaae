"""Derive the interleaved spans table from the flat ``documents`` testdata.

The testdata ``sf*/documents.parquet`` is flat (doc_id:bigint, text, lang,
source, n_chars); the engine's input_hint shape is (doc_id:string,
spans:array<struct<kind,text,media_ref,offset>>). This module derives
spans **deterministically with closed-form arithmetic** on ``doc_id`` so
that the *entire* frontier pipeline over them (extraction → canonicalize →
dedup → politeness schedule) has a compact ANSI-SQL equivalent the DuckDB
oracle can run — an end-to-end correctness gate.

``interleaved_from_documents`` is the one derivation: spans and the page
envelope (base_url, fetch_ts) come out of one projection over one scan,
and every plan over the testdata (frontier_schedule, the indexer, the
caption guard) extracts from it with ``meta=None``.

Derivation (all integer arithmetic, no RNG):

- ``n_refs   = 1 + doc_id % 4``  media spans per doc
- ref ``i``:  ``img_id = (doc_id*7 + i*13) % 500``  (a popular pool → real
  cross-doc duplicates for the seen-set/dedup path)
- ``host_id = img_id % 40``, host = ``site<hid>`` + tld by ``hid % 3``
  (.pt/.com/.org), url = ``http://www.<host>/img/<img_id>.<png|jpg>``
  (ext by ``img_id % 2``), kind by ``i % 3`` → img/a/css
- text spans interleave at even offsets (substrings of the doc text);
  media spans sit at odd offsets — exercising the caption neighbor scan
- page: base_url = ``http://www.site<doc_id%40><tld>/page/<doc_id>.html``,
  fetch_ts = 2016-01-01 + (doc_id % 365) days + (doc_id % 86400) seconds
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import spread

N_HOSTS = 40
POOL = 500


def _tld(hid: Column) -> Column:
    return F.when(hid % 3 == 0, ".pt").when(hid % 3 == 1, ".com").otherwise(".org")


def _host(hid: Column) -> Column:
    return F.concat(F.lit("site"), hid.cast("string"), _tld(hid))


def interleaved_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id bigint, text, ...) → (doc_id string, spans array,
    base_url, fetch_ts): spans and page envelope in ONE projection, so
    extraction with ``meta=None`` reads the table once."""
    # rename the numeric id first: the output re-uses the name `doc_id` for
    # the string form, and Catalyst projection collapse must not see both.
    # spread(): everything up to the first exchange would otherwise inherit
    # the 1-row-group documents scan's single task (see session.spread)
    docs = spread(docs.select(F.col("doc_id").alias("__did"), "text"))
    did = F.col("__did")
    n_refs = (did % 4 + 1).cast("int")

    def media_span(i: Column) -> Column:
        img_id = (did * 7 + i * 13) % POOL
        hid = img_id % N_HOSTS
        ext = F.when(img_id % 2 == 0, ".png").otherwise(".jpg")
        url = F.concat(
            F.lit("http://www."), _host(hid), F.lit("/img/"), img_id.cast("string"), ext
        )
        kind = F.when(i % 3 == 0, "img").when(i % 3 == 1, "a").otherwise("css")
        return F.struct(
            kind.alias("kind"),
            F.lit(None).cast("string").alias("text"),
            url.alias("media_ref"),
            (i * 2 + 1).cast("int").alias("offset"),
        )

    def text_span(i: Column) -> Column:
        return F.struct(
            F.lit("text").alias("kind"),
            F.substring(F.col("text"), (i * 37 + 1).cast("int"), 30).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            (i * 2).cast("int").alias("offset"),
        )

    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_refs - F.lit(1)),
            lambda i: F.array(text_span(i), media_span(i)),
        )
    )
    hid = did % N_HOSTS
    base = F.concat(
        F.lit("http://www."), _host(hid), F.lit("/page/"), did.cast("string"), F.lit(".html")
    )
    secs = (did % 365) * 86400 + (did % 86400)
    ts = F.timestamp_seconds(F.unix_timestamp(F.lit("2016-01-01 00:00:00")) + secs)
    doc_id_str = F.concat(F.lit("doc-"), F.lpad(did.cast("string"), 9, "0"))
    return docs.select(
        doc_id_str.alias("doc_id"),
        spans.alias("spans"),
        base.alias("base_url"),
        F.date_format(ts, "yyyyMMddHHmmss").alias("fetch_ts"),
    )


def politeness_from_hosts(spark) -> DataFrame:
    """Deterministic per-host budgets over the derived host universe."""
    hid = F.col("id")
    return spark.range(0, N_HOSTS).select(
        _host(hid).alias("host"),
        (F.lit(3) + (hid % 8)).cast("int").alias("max_fetch_per_round"),
        (F.lit(500) + (hid % 5) * 250).cast("long").alias("crawl_delay_ms"),
    )
