"""Outlink / media-ref extraction from interleaved span sequences.

Re-expresses the reference's HTML extraction pipeline
(``processors/ImageInformationExtractor.java``) over the input_hint span
model ``spans: array<struct<kind,text,media_ref,offset>>``:

- MIME/kind dispatch (P1, ``:191-236``)        → ``kind IN (img,a,css)``
  filter, applied before any URL work
- per-page image cap (P4, ``:71,531-535``)     → ``F.slice`` before explode
- <a>-extension gate (P3, ``:43,653-664``)     → extension ``isin`` filter
- CSS-vs-parsed anti-join (J4, ``:596-613``)   → per-(doc,url) window mark
  in batch, ``array_contains`` over the doc's parsed URLs in streaming
- inline data:image → ``hash:`` URL (F8, ``:247-271``) → ``md5`` + prefix
- >10000-char URL drop + count (``:64,483-492``)
- caption = nearest non-empty text span by offset (F11, ``:672-816``):
  an immediate neighbor (|Δoffset| = 1) wins outright (parent-walk analog,
  ties toward the earlier span); otherwise the nearest non-empty text on
  both sides joined by ``'\\n'`` (sibling-fallback analog, ``:758-788``),
  then the 250-char head+tail trim (``:779-794``).
- per-page caption budget (X5 guard, ``:501-520``): the reference abandons
  caption extraction for the REMAINDER of a page once it OOMs or exceeds
  ``EXTRACT_CAPTION_TIMEOUT_SECS`` (``malformedPageForCaptions``); the
  deterministic Spark analog is a running caption-length budget per page —
  once prior media spans' captions total more than the budget, every later
  media span on that page gets the reference's empty-string caption and a
  ``caption_truncated`` mark (the counter analog of the skip).

One core builds every media-ref row: ``_capped_docs`` → ``_explode`` →
media filter → ``_ref_url`` → ``_with_ref_columns`` (ext, drop_reason,
SURT, hash, host, page_ts). ``with_url_hash`` is the one derivation of
SURT and hash from ``ref_url``; the round driver calls it too, after its
queue's exchanges, so none of them ships the hash. The entry points
differ only around the core:

- ``media_refs``: the core (``REF_COLS``).
- ``extract_refs_frontier``: the core with the round's counters riding
  as ``observe`` metrics on the same pass. Its J4 window rides the
  round's bucket exchange (``_refs`` with ``n_buckets``; it carries the
  bucket, not the hash), which the champion dedup and the Bloom probe
  then reuse.
- ``extract_refs``: the caption-context windows before the media filter,
  then the core, then the indexer's text features and the caption guard.
- ``extract_refs_streaming``: the core with the window-free J4 check.

Everything is built-in Column expressions — single scan, no UDFs, no
shuffle except the window exchanges (partition key ``doc_id``, or
``bucket`` in the round), which at 100 TB stay healthy because doc_id and
the URLs are high-cardinality and spans/doc are capped (P4). Media rows
dropped by a gate carry a ``drop_reason`` instead of disappearing, so the
round driver can emit the reference's counters (A12) from the same scan;
valid rows are ``drop_reason IS NULL``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import urls as U
from .seen import bucket_of

# ImageInformationExtractor.java:43 IMAGE_FILE_EXTENSIONS
IMAGE_FILE_EXTENSIONS = ["jpg", "jpeg", "png", "tif", "tiff", "gif", "svg", "webp", "bmp", "ico"]
MAX_IMAGE_IN_HTML = 10_000  # ImageInformationExtractor.java:71
MAX_URL_LENGTH = 10_000  # ImageInformationExtractor.java:64 MAX_IMAGE_FIELD_SIZE
MEDIA_KINDS = ("img", "a", "css")
REF_COLS = [
    "doc_id", "kind", "span_idx", "offset", "ref_url", "surt",
    "url_hash", "host", "ext", "page_ts", "drop_reason",
]


def _capped_docs(docs: DataFrame, spans_cap: int) -> DataFrame:
    """Per-doc frame with spans capped at ``spans_cap`` (P4) and the raw
    span count kept for the EXCEDED/NOT_PARSED counters."""
    extra = [c for c in ("base_url", "fetch_ts") if c in docs.columns]
    return docs.select(
        "doc_id", *extra,
        F.slice("spans", 1, spans_cap).alias("spans"), F.size("spans").alias("n_spans_raw"),
    )


def _explode(capped: DataFrame, meta: DataFrame | None) -> DataFrame:
    """One row per span of ``capped``, with its other columns kept.

    ``meta=None`` means the docs already carry base_url/fetch_ts
    (pre-joined single-scan input, e.g. docspans.interleaved_from_documents,
    or a stream); otherwise docmeta joins on doc_id (broadcast when small;
    at scale both sides are co-partitioned on doc_id by the writer)."""
    df = capped.join(meta, "doc_id") if meta is not None else capped
    keep = [c for c in df.columns if c != "spans"]
    return df.select(*keep, F.posexplode("spans").alias("span_idx", "span")).select(
        *keep, "span_idx",
        *[F.col(f"span.{f}").alias(f) for f in ("kind", "text", "media_ref", "offset")],
    )


def explode_spans(docs: DataFrame, meta: DataFrame | None, spans_cap: int = MAX_IMAGE_IN_HTML) -> DataFrame:
    """documents ⋈ docmeta → one row per span, with per-doc caption context.

    Returns every span (text and media) with ``prev_text``/``next_text``:
    the nearest non-empty text span before and after it by offset."""
    exploded = _explode(_capped_docs(docs, spans_cap), meta)
    is_text = (F.col("kind") == "text") & (F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
    txt = F.when(is_text, F.struct(F.col("offset"), F.trim("text").alias("text")))
    w = Window.partitionBy("doc_id").orderBy("offset")
    prev_t = F.last(txt, ignorenulls=True).over(w.rowsBetween(Window.unboundedPreceding, -1))
    next_t = F.first(txt, ignorenulls=True).over(w.rowsBetween(1, Window.unboundedFollowing))
    return exploded.withColumn("prev_text", prev_t).withColumn("next_text", next_t)


def _ref_url(base: Column, media_ref: Column) -> Column:
    """Resolved ref URL; F8: inline data:image → synthetic ``hash:`` URL
    keyed by the md5 of the data URL."""
    return F.when(
        media_ref.startswith("data:"), F.concat(F.lit("hash:"), F.md5(media_ref))
    ).otherwise(U.resolve_url(base, media_ref))


def _media(spans: DataFrame) -> DataFrame:
    """P1: media spans only, with their ref URL. Text spans leave here,
    before any URL work or exchange."""
    return spans.where(F.col("kind").isin(*MEDIA_KINDS)).withColumn(
        "ref_url", _ref_url(F.col("base_url"), F.col("media_ref"))
    )


def _ref_empty(media_ref: Column) -> Column:
    return media_ref.isNull() | (F.trim(media_ref) == "")


def with_url_hash(df: DataFrame) -> DataFrame:
    """``df`` with ``surt`` and ``url_hash`` (the md5 hex of the SURT, the
    seen-set and dedup key) derived from its ``ref_url``.

    The one derivation of the key. The extraction core calls it on every
    media row (the round's bucket path twice: for the bucket before its
    exchange, and after it), and the round driver after each other
    exchange its queue crosses (the pending rows' bucket exchange, the
    politeness host exchange): the 32-char hash is the costliest column of
    those exchanges, and one ``md5(surt)`` costs about 9 µs of core time
    per row."""
    return df.withColumn("surt", U.surt(F.col("ref_url"))).withColumn(
        "url_hash", U.url_hash(F.col("surt"))
    )


def _derived() -> dict[str, Column]:
    """``_with_ref_columns``' caller-supplied inputs, computed on the media
    rows themselves: the empty_ref gate and page_ts."""
    return {
        "ref_empty": _ref_empty(F.col("media_ref")),
        "page_ts": U.parse_archive_ts(F.col("fetch_ts")),
    }


def _with_ref_columns(
    media: DataFrame,
    css_dup: Column,
    max_url_length: int,
    ref_empty: Column,
    page_ts: Column,
) -> DataFrame:
    """The shared ref columns over media rows: ext, drop_reason (null =
    valid), surt, url_hash (``with_url_hash``), host, page_ts. ``css_dup``
    is the J4 mark: the row is css and an img/a span of the same doc parsed
    the same URL. ``ref_empty`` and ``page_ts`` are the caller's: the
    derivations of ``_derived``, or the round's columns carried through its
    bucket exchange (``_refs``)."""
    ext = U.url_ext(F.col("ref_url"))
    drop_reason = (
        F.when(ref_empty, F.lit("empty_ref"))
        .when(F.length("ref_url") > max_url_length, F.lit("url_too_long"))
        .when((F.col("kind") == "a") & ~ext.isin(IMAGE_FILE_EXTENSIONS), F.lit("a_not_image"))
        .when(css_dup, F.lit("css_already_parsed"))
    )
    return (
        with_url_hash(media.withColumn("ext", ext).withColumn("drop_reason", drop_reason))
        .withColumn("host", U.url_host(F.col("ref_url")))
        .withColumn("page_ts", page_ts)
    )


def _refs(spans: DataFrame, max_url_length: int, n_buckets: int | None = None) -> DataFrame:
    """Batch core over exploded spans: J4 as a per-(doc, url) window.

    An array-HOF variant (css check via array_contains, no window) was
    benched 60% SLOWER in batch — Spark evaluates lambda HOFs interpreted
    (no codegen). The window plan stays inside whole-stage codegen except
    its one exchange, which carries media rows only.

    With ``n_buckets`` (the round driver), the window rides the round's
    bucket exchange: the media rows get ``bucket =
    pmod(xxhash64(url_hash), n_buckets)``, are reduced to the columns
    needed downstream (media_ref to its empty_ref gate, fetch_ts to
    page_ts; url_hash itself is not shipped, ``_with_ref_columns`` derives
    it again from ref_url after the exchange) and repartitioned by
    ``bucket``, and the window partitions by (bucket, doc_id, ref_url):
    the same groups, as bucket is a function of ref_url. The output keeps
    that ``bucket`` attribute, so the champion dedup and the Bloom probe
    after it need no exchange of their own. ``n_buckets`` sets the bucket
    values, not the exchange's width: that is
    ``spark.sql.shuffle.partitions`` (``repartition("bucket")``), and AQE
    may coalesce it to the data's size; a bucket never spans two
    partitions either way."""
    media = _media(spans)
    keys = ["doc_id", "ref_url"]
    cols = _derived()
    if n_buckets is not None:
        media = with_url_hash(media).select(
            "doc_id", "kind", "span_idx", "offset", "ref_url",
            cols["ref_empty"].alias("ref_empty"),
            cols["page_ts"].alias("page_ts"),
            bucket_of(F.col("url_hash"), n_buckets).alias("bucket"),
        ).repartition("bucket")
        keys = ["bucket", *keys]
        cols = {name: F.col(name) for name in cols}
    parsed = F.max(F.when(F.col("kind").isin("img", "a"), 1).otherwise(0)).over(
        Window.partitionBy(*keys)
    )
    css_dup = (F.col("kind") == "css") & (parsed == 1)
    return _with_ref_columns(media, css_dup, max_url_length, **cols)


def media_refs(
    docs: DataFrame,
    meta: DataFrame | None,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
) -> DataFrame:
    """Media-ref rows (``REF_COLS``): canonical URL, SURT, hash, host,
    ext, page_ts and ``drop_reason``: 'empty_ref', 'url_too_long',
    'a_not_image' (P3), 'css_already_parsed' (J4); null = valid."""
    return _refs(_explode(_capped_docs(docs, spans_cap), meta), max_url_length).select(*REF_COLS)


def _caption() -> Column:
    """Nearest-non-empty-text caption with sibling fallback (F11 analog)."""
    off = F.col("offset")
    pd_ = off - F.col("prev_text.offset")
    nd = F.col("next_text.offset") - off
    prev_txt = F.col("prev_text.text")
    next_txt = F.col("next_text.text")
    adjacent_prev = F.col("prev_text").isNotNull() & (pd_ == 1)
    adjacent_next = F.col("next_text").isNotNull() & (nd == 1)
    joined = TX.java_trim(
        F.concat_ws("\n", *[F.coalesce(c, F.lit("")) for c in (prev_txt, next_txt)])
    )
    cap = (
        F.when(adjacent_prev, prev_txt)  # tie (both adjacent) → earlier span
        .when(adjacent_next, next_txt)
        .otherwise(joined)
    )
    return TX.trim_caption(cap)


def extract_refs(
    docs: DataFrame,
    meta: DataFrame | None,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
    caption_page_budget: int | None = None,
) -> DataFrame:
    """``media_refs`` plus the indexer's text features: page URL/SURT/host,
    caption, alt text and URL/filename tokens.

    ``caption_page_budget``: deterministic analog of the reference's
    per-page caption guard (``ImageInformationExtractor.java:501-520`` —
    after an OOM or >EXTRACT_CAPTION_TIMEOUT_SECS of caption work,
    ``malformedPageForCaptions`` blanks every later caption on the page).
    Here the "work" proxy is the running total of caption characters
    already produced for PRIOR media spans of the page, in span order: once
    that exceeds the budget, later media spans get caption ``''`` and
    ``caption_truncated = true``. ``None`` (default) disables the guard —
    the reference's budget is wall-clock/heap, which fixtures never hit.
    """
    # the caption neighbors need the text spans, so their windows run
    # before the core's media filter
    out = _refs(explode_spans(docs, meta, spans_cap), max_url_length)
    out = out.withColumn("caption", _caption())
    guard_cols: list[str] = []
    if caption_page_budget is not None:
        # X5 caption guard: prior media spans' caption chars, page order.
        # The doc_id exchange of the neighbor windows already clusters the
        # J4 window and this one → no extra shuffle, one local re-sort.
        w_budget = (
            Window.partitionBy("doc_id")
            .orderBy("span_idx")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cost = F.coalesce(F.length("caption"), F.lit(0))
        prior = F.coalesce(F.sum(cost).over(w_budget), F.lit(0))
        out = out.withColumn("caption_truncated", prior > F.lit(caption_page_budget))
        out = out.withColumn(
            "caption", F.when(F.col("caption_truncated"), F.lit("")).otherwise(F.col("caption"))
        )
        guard_cols = ["caption_truncated"]
    # a media span's `text` field carries the tag's alt/title attribute
    # (the span model's F12 attribute scavenging); empty → NULL, matching
    # the reference's absent-attribute behavior (PageImageData.java:397-399
    # keys page records on title+ALT+caption)
    alt_trim = TX.java_trim(F.coalesce(F.col("text"), F.lit("")))
    return out.select(
        *REF_COLS[:-1],
        F.col("base_url").alias("page_url"),
        "caption",
        F.when(alt_trim != "", alt_trim).alias("img_alt"),
        U.surt(F.col("base_url")).alias("page_surt"),
        U.url_host(F.col("base_url")).alias("page_host"),
        U.url_tokens(F.col("ref_url")).alias("img_src_tokens"),
        U.filename_tokens(F.col("ref_url")).alias("img_filename_tokens"),
        U.url_tokens(F.col("base_url")).alias("page_url_tokens"),
        *guard_cols,
        "drop_reason",
    )


def extract_refs_frontier(
    docs: DataFrame,
    meta: DataFrame,
    n_buckets: int,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
):
    """``media_refs`` with the round's counters as ``observe`` metrics.

    The J4 window rides the round's bucket exchange (see ``_refs``), and
    ``refs`` also carries that ``bucket`` column, hash-partitioned by it
    (``spark.sql.shuffle.partitions`` wide, which AQE may coalesce).

    Returns ``(refs, obs_docs, obs_spans, obs_media)``. All counters ride
    as observation metrics on the single extraction pass — no persist, no
    separate counting actions. Read the observations after the first
    action over ``refs``:

        not_media = obs_spans['spans_total'] - obs_media['media_total']

    ``obs_docs`` carries the reference's page-level counters
    (ImageIndexerWithDupsJob.java:120-139): ``pages`` (PAGES),
    ``pages_with_media`` (PAGES_WITH_IMAGES), ``pages_span_capped``
    (IMAGES_IN_HTML_EXCEDED) and ``spans_not_parsed``
    (IMAGES_IN_HTML_NOT_PARSED — spans beyond the P4 cap).
    """
    obs_docs, obs_spans, obs_media = Observation(), Observation(), Observation()
    media_kinds = F.array(*[F.lit(k) for k in MEDIA_KINDS])
    capped = _capped_docs(docs, spans_cap).observe(
        obs_docs,
        F.count(F.lit(1)).alias("pages"),
        # spans.kind projects the struct field out of the array (codegen'd);
        # arrays_overlap avoids an interpreted lambda HOF on the hot path
        F.count(F.when(F.arrays_overlap(F.col("spans.kind"), media_kinds), 1)).alias(
            "pages_with_media"
        ),
        F.count(F.when(F.col("n_spans_raw") > spans_cap, 1)).alias("pages_span_capped"),
        F.sum(F.greatest(F.col("n_spans_raw") - spans_cap, F.lit(0))).alias("spans_not_parsed"),
    )
    spans = _explode(capped, meta).observe(obs_spans, F.count(F.lit(1)).alias("spans_total"))
    refs = _refs(spans, max_url_length, n_buckets).select(*REF_COLS, "bucket")
    reason = lambda r: F.count(F.when(F.col("drop_reason") == r, 1)).alias(r)
    valid = F.col("drop_reason").isNull()
    # per-branch + base64 counters mirror the reference's extraction enums
    # (ImageIndexerWithDupsJob.java:70-151: IMAGES_IN_HTML_TOTAL / _BASE64,
    # link/css branch counts) — data: URLs were rewritten to hash: above
    branch = lambda k: F.count(F.when(valid & (F.col("kind") == k), 1)).alias(f"valid_{k}")
    refs = refs.observe(
        obs_media,
        F.count(F.lit(1)).alias("media_total"),
        F.count(F.when(valid, 1)).alias("valid_ref"),
        *[branch(k) for k in MEDIA_KINDS],
        F.count(F.when(valid & F.col("ref_url").startswith("hash:"), 1)).alias("data_url_refs"),
        *[reason(r) for r in ("empty_ref", "url_too_long", "a_not_image", "css_already_parsed")],
    )
    return refs, obs_docs, obs_spans, obs_media


def extract_refs_streaming(
    stream: DataFrame,
    spans_cap: int = MAX_IMAGE_IN_HTML,
    max_url_length: int = MAX_URL_LENGTH,
) -> DataFrame:
    """``media_refs`` for a stream (no non-time windows allowed there).

    The J4 css-vs-parsed check runs against the doc's parsed img/a URLs,
    collected from the span array before the explode (a doc's spans arrive
    in one row, so the check is local — exactly the reference's per-page
    in-memory check, ImageInformationExtractor.java:596-613).
    Interpreted-HOF cost is acceptable on the incremental path.

    ``stream`` columns: doc_id, spans, base_url, fetch_ts.
    """
    parsed = F.transform(
        F.filter("spans", lambda s: s["kind"].isin("img", "a") & s["media_ref"].isNotNull()),
        lambda s: _ref_url(F.col("base_url"), s["media_ref"]),
    )
    capped = _capped_docs(stream, spans_cap).withColumn("__parsed", parsed)
    css_dup = (F.col("kind") == "css") & F.array_contains("__parsed", F.col("ref_url"))
    media = _media(_explode(capped, None))
    return _with_ref_columns(media, css_dup, max_url_length, **_derived()).select(*REF_COLS)
