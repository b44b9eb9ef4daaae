"""The reference's full image-indexing pipeline as one DataFrame plan.

Re-expresses both chained MapReduce jobs (SURVEY.md §3.1):

JOB 1 — ``ImageIndexerWithDupsJob`` (group by SURT):
- image captures deduped by content digest, timestamps accumulated sorted
  (A3: ``FullImageMetadata.java:195-218``, ``ImageData.java:255-282``)
- page records deduped by image-metadata string, oldest-page champion +
  newest timestamp (A4/A6: ``PageImageData.java:397-425``)
- oldest-champion tie-breaks (A5-A7): min by (ts, shorter URL, smaller
  hash) — here ``min_by(struct(...), struct(ts, length(url), url))``
- nearest-capture assignment (J2: ``FullImageMetadata.java:295-320``):
  each page record takes the capture whose timestamp is closest to the
  page timestamp, ties to the floor — ``operators/asof.asof_nearest``
- re-key by digest (A8: ``ImageIndexerWithDupsJob.java:287-303``): the
  nearest-capture join assigns each page its capture's digest, which IS
  the reference's "pages whose timestamp ∈ the digest's timestamps" (J3)
- caps (A10: 500 meta / ``MAXIMUM_META``) via ``slice`` for parity

JOB 2 — ``DupDigestMergerJob`` (group by digest):
- FULL: one output row per surviving page record with its image fields
  (``DupDigestMergerJob.java:188-195``)
- COMPACT: one row per digest; lists of distinct non-empty titles/alts/
  captions ordered by the page-metadata string, TreeMap-style
  (A11/O3: ``MultiPageImageData.java:166-219``)

Content digests: without image bytes the digest models "identical content
served from different URLs" deterministically as ``md5('content:' + url
path)`` — two hosts serving ``/img/7.png`` share a digest, exercising the
digest-rekey/merge path exactly like SHA-256 of bytes does in the
reference (``utils/ImageParse.java:116-124``). The media plans
(``build_records_media``, ``indexer_full_media``,
``indexer_compact_media``) attach (url, payload) binary rows instead:
captures joined to real bytes take ``sha2(payload, 256)`` as their
digest (F3), get decoded dimensions + sniffed MIME attached (F9), and
pass the P2 size gates (``attach_media_meta``) — so identical bytes at
different URLs/SURTs merge under one digest, the reference's actual
dedup case (``DupDigestMergerJob.java:151-174``). ``media_counters``
counts the same decode pre-gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..frontier import docspans
from ..frontier.extract import extract_refs
from ..functions import urls as U
from ..operators.asof import asof_nearest

MAXIMUM_META = 500  # FullImageMetadata.java:22

_EXT_MIME = {
    "jpg": "image/jpeg", "jpeg": "image/jpeg", "png": "image/png",
    "gif": "image/gif", "bmp": "image/bmp", "webp": "image/webp",
    "ico": "image/x-icon", "tif": "image/tiff", "tiff": "image/tiff",
    "svg": "image/svg+xml",
}


def content_digest(ref_url) -> "F.Column":
    path = F.regexp_replace(ref_url, r"^(?:https?:)?//[^/]*", "")
    return F.md5(F.concat(F.lit("content:"), path))


def _join_media(frame: DataFrame, media_df: DataFrame) -> DataFrame:
    """``frame`` left-joined on ``img_url`` to its (url, payload) bytes:
    the SHA-256 content digest (``__content_digest``), header-parsed
    dimensions and magic-byte MIME (NULL without a payload), plus the
    MIME the URL's extension reports."""
    from ..operators import multimodal as MM

    meta = MM.decode_image_meta(
        media_df.select(F.col("url").alias("img_url"), "payload")
    ).select(
        "img_url",
        F.sha2("payload", 256).alias("__content_digest"),
        "width",
        "height",
        "mime_detected",
    )
    reported = F.element_at(
        F.create_map(*[F.lit(x) for kv in _EXT_MIME.items() for x in kv]),
        U.url_ext(F.col("img_url")),
    )
    return frame.join(meta, "img_url", "left").withColumn("mime_reported", reported)


def _mime_mismatch() -> "F.Column":
    """Detected and reported MIME both known and different (counter
    analog of ``ImageInformationExtractor.java:290-306``)."""
    detected, reported = F.col("mime_detected"), F.col("mime_reported")
    return detected.isNotNull() & reported.isNotNull() & (detected != reported)


def attach_media_meta(captures: DataFrame, media_df: DataFrame) -> DataFrame:
    """F3 + P2 + F9 over real (url, payload) bytes: SHA-256 content
    digest, header-parsed dimensions, magic-byte MIME (``_join_media``)
    and the reported-vs-detected mismatch flag. Captures with
    no matching payload keep their path digest and pass the gates (gates
    apply only to images with bytes). Captures WITH a payload that fails
    to parse (unknown container / malformed header) are DROPPED — the
    reference's ``ImageParse.java`` returns null for unreadable bytes and
    the image is skipped. ``media_counters`` counts the same pass."""
    from ..operators import multimodal as MM

    # no payload (left-join miss → mime_detected NULL) passes untouched;
    # payload present requires parsed dims within the P2 gates
    joined = _join_media(captures, media_df).withColumn("mime_mismatch", _mime_mismatch())
    gated = joined.where(
        F.col("mime_detected").isNull() | (F.col("width").isNotNull() & MM.p2_gates()[2])
    )
    return gated.withColumn(
        "digest", F.coalesce("__content_digest", F.col("digest"))
    ).drop("__content_digest")


def _valid_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid media refs with the indexer's text features, extracted from
    one scan of the testdata ``documents`` table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    refs = extract_refs(docspans.interleaved_from_documents(docs), None)
    return refs.where(F.col("drop_reason").isNull())


def build_records(spark: SparkSession, sf_dir: str):
    """(captures, page_records) from the interleaved corpus, without
    image bytes (``build_records_media`` attaches them)."""
    return records_from_refs(_valid_refs(spark, sf_dir))


def records_from_refs(refs: DataFrame, media_df: DataFrame | None = None):
    """(captures, page_records) from an already-extracted valid-refs
    frame; a ``media_df`` of (url, payload) rows attaches real bytes
    (``attach_media_meta``)."""
    captures = refs.select(
        "surt",
        content_digest(F.col("ref_url")).alias("digest"),
        F.col("page_ts").alias("capture_ts"),
        F.col("ref_url").alias("img_url"),
        F.col("url_hash").alias("img_url_hash"),
        F.col("img_filename_tokens").alias("img_title"),
    )
    if media_df is not None:
        captures = attach_media_meta(captures, media_df)
    else:
        captures = (
            captures.withColumn("width", F.lit(None).cast("int"))
            .withColumn("height", F.lit(None).cast("int"))
            .withColumn("mime_detected", F.lit(None).cast("string"))
        )
    pages = refs.select(
        "surt",
        F.col("page_url"),
        F.col("page_surt"),
        F.col("page_host"),
        F.col("page_ts"),
        F.col("caption"),
        F.col("img_filename_tokens").alias("img_title"),
        F.col("img_alt"),
        F.col("img_src_tokens"),
        F.col("page_url_tokens"),
        F.col("kind").alias("tag_found_in"),
    ).withColumn(
        "metadata_str",
        F.concat_ws("\n", F.coalesce("img_title", F.lit("")),
                    F.coalesce("img_alt", F.lit("")), F.coalesce("caption", F.lit(""))),
    )
    return captures, pages


def images_per_surt(captures: DataFrame) -> DataFrame:
    """A3/A7: one row per (surt, digest) with sorted timestamps + champion."""
    champ_ord = F.struct(F.col("capture_ts"), F.length("img_url"), F.col("img_url_hash"))
    return captures.groupBy("surt", "digest").agg(
        F.slice(F.array_sort(F.collect_list("capture_ts")), 1, MAXIMUM_META).alias("timestamps"),
        F.min_by(
            F.struct("img_url", "img_title", "img_url_hash", "width", "height", "mime_detected"),
            champ_ord,
        ).alias("champion"),
        F.min("capture_ts").alias("first_capture_ts"),
        F.max("capture_ts").alias("last_capture_ts"),
        F.count("*").alias("n_captures"),
    )


def pages_deduped(pages: DataFrame) -> DataFrame:
    """A4/A6: per (surt, metadata_str) keep the oldest page, newest ts."""
    champ_ord = F.struct(F.col("page_ts"), F.length("page_url"), F.col("page_url"))
    return pages.groupBy("surt", "metadata_str").agg(
        F.min_by(
            F.struct(
                "page_url", "page_surt", "page_host", "page_ts", "caption",
                "img_title", "img_alt", "img_src_tokens", "page_url_tokens", "tag_found_in",
            ),
            champ_ord,
        ).alias("p"),
        F.max("page_ts").alias("page_ts_newest"),
        F.count("*").alias("n_metadata_changes"),
    ).select("surt", "metadata_str", "page_ts_newest", "n_metadata_changes", "p.*")


def assign_captures(pages_d: DataFrame, captures: DataFrame) -> DataFrame:
    """J2: nearest capture per page record (per surt), ties to floor.

    The assigned capture carries its digest — the A8 digest re-key."""
    caps = captures.select(
        "surt", "capture_ts", "digest", F.col("img_url").alias("assigned_img_url")
    ).dropDuplicates(["surt", "capture_ts", "digest", "assigned_img_url"])
    # unique (surt, ts) for determinism: earliest-URL capture at equal ts
    caps = caps.groupBy("surt", "capture_ts").agg(
        F.min_by(F.struct("digest", "assigned_img_url"),
                 F.struct(F.length("assigned_img_url"), F.col("assigned_img_url"))).alias("c")
    ).select("surt", "capture_ts", "c.digest", "c.assigned_img_url")
    return asof_nearest(
        pages_d, caps, key="surt", left_ts="page_ts", right_ts="capture_ts",
        payload=["digest", "assigned_img_url"],
    )


def indexer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL output: one row per page record with its assigned image.

    Output parity with the reference serializer
    (``MultiPageImageDataSerializer.java:45-55``): imgWidth/imgHeight/mime
    ride as ``img_width``/``img_height``/``img_mime`` — NULL here, and
    populated over real bytes by ``indexer_full_media``."""
    return full_from_records(*build_records(spark, sf_dir))


def full_from_records(captures: DataFrame, pages: DataFrame) -> DataFrame:
    imgs = images_per_surt(captures)
    assigned = assign_captures(pages_deduped(pages), captures)
    out = assigned.join(imgs, ["surt", "digest"], "left")
    return out.select(
        "surt",
        "digest",
        "assigned_img_url",
        F.col("champion.img_title").alias("img_title_champion"),
        F.col("champion.width").alias("img_width"),
        F.col("champion.height").alias("img_height"),
        F.col("champion.mime_detected").alias("img_mime"),
        "timestamps",
        "n_captures",
        "page_url",
        "page_host",
        "page_ts",
        "page_ts_newest",
        "caption",
        "img_title",
        "img_alt",
        "img_src_tokens",
        "page_url_tokens",
        "tag_found_in",
        "n_metadata_changes",
    )


def indexer_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACT output: one row per digest with metadata lists (A11/O3).

    Lists are ordered by the page metadata string (the reference's TreeMap
    iteration order) and deduped; empties dropped
    (MultiPageImageData.java:200-212)."""
    return compact_from_records(*build_records(spark, sf_dir))


def compact_from_records(captures: DataFrame, pages: DataFrame) -> DataFrame:
    imgs = images_per_surt(captures)
    assigned = assign_captures(pages_deduped(pages), captures)

    nonempty = lambda xs: F.filter(xs, lambda x: x.isNotNull() & (x != ""))
    per_digest_pages = assigned.groupBy("digest").agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct("metadata_str", "img_title", "img_alt", "caption",
                                        "page_url", "page_ts"))
            ),
            1,
            MAXIMUM_META,
        ).alias("recs"),
        F.count("*").alias("n_page_records"),
    )
    lists = per_digest_pages.select(
        "digest",
        "n_page_records",
        nonempty(F.array_distinct(F.transform("recs", lambda r: r["img_title"]))).alias("titles"),
        nonempty(F.array_distinct(F.transform("recs", lambda r: r["img_alt"]))).alias("alts"),
        nonempty(F.array_distinct(F.transform("recs", lambda r: r["caption"]))).alias("captions"),
        F.element_at("recs", 1)["page_url"].alias("first_page_url"),
        F.element_at("recs", 1)["page_ts"].alias("first_page_ts"),
    )
    # one image champion per digest: lowest (surt, first ts, url) — the
    # firstKey() of the digest-merged TreeMap (DupDigestMergerJob.java:198-204)
    img_champ = imgs.groupBy("digest").agg(
        F.min_by(
            F.struct("surt", "champion", "timestamps", "n_captures"),
            F.struct(F.col("surt"), F.col("first_capture_ts")),
        ).alias("img"),
        F.sum("n_captures").alias("total_captures"),
        F.slice(F.array_sort(F.flatten(F.collect_list("timestamps"))), 1, MAXIMUM_META).alias(
            "all_timestamps"
        ),
    )
    return img_champ.join(lists, "digest", "left").select(
        "digest",
        F.col("img.surt").alias("surt"),
        F.col("img.champion.img_url").alias("img_url"),
        "all_timestamps",
        "total_captures",
        "n_page_records",
        "titles",
        "alts",
        "captions",
        "first_page_url",
        "first_page_ts",
    )


def counters_from_records(
    captures: DataFrame, pages: DataFrame, full: DataFrame
) -> DataFrame:
    """Job-level counter parity, long format ``(counter, value)``.

    Mirrors the merge job's COUNTERS (``DupDigestMergerJob.java:67-90``:
    RECORDS_IN / RECORDS_OUT / RECORDS_WITH(OUT)_METADATA /
    URL_IMAGES_PAGESALL / URL_IMAGESALL_PAGES / URL_IMAGES_PAGES) and job
    1's REDUCE_COUNTERS (``ImageIndexerWithDupsJob.java:141-151``,
    URL_IMAGES_PAGES_MULIPLE_DIGEST), computed from the same frames the
    FULL plan consumes — each input is scanned once into a 1-row aggregate
    and the scalars are unpivoted driver-free."""
    caps_agg = captures.agg(
        F.count("*").alias("url_imagesall_pages"),
        F.countDistinct("digest").alias("records_in"),
        F.countDistinct("surt").alias("url_images_pages"),
    )
    multi = (
        captures.groupBy("surt")
        .agg(F.countDistinct("digest").alias("nd"))
        .agg(F.count(F.when(F.col("nd") > 1, 1)).alias("url_images_pages_multiple_digest"))
    )
    pages_agg = pages.agg(F.count("*").alias("url_images_pagesall"))
    full_agg = full.agg(
        F.count("*").alias("records_out_full"),
        F.countDistinct(
            F.when(F.col("page_url").isNotNull(), F.col("digest"))
        ).alias("records_with_metadata"),
    )
    wide = (
        caps_agg.crossJoin(multi)
        .crossJoin(pages_agg)
        .crossJoin(full_agg)
        .withColumn(
            "records_without_metadata",
            F.col("records_in") - F.col("records_with_metadata"),
        )
    )
    return (
        wide.unpivot([], wide.columns, "counter", "value")
        .select("counter", F.col("value").cast("long").alias("value"))
        .orderBy("counter")
    )


def indexer_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    captures, pages = build_records(spark, sf_dir)
    full = full_from_records(captures, pages)
    return counters_from_records(captures, pages, full)


# ---------------------------------------------------------------------------
# media (byte) mode: the F3/F9/P2 real-bytes path over the synthetic corpus
# ---------------------------------------------------------------------------


def build_records_media(spark: SparkSession, sf_dir: str):
    """(captures, page_records) with the deterministic closed-form media
    table attached (``sources/mediagen.py``): captures carry SHA-256
    byte digests, parsed dimensions and sniffed MIME; the P2 gates drop
    tiny/huge/unparseable payloads. The corpus construction guarantees
    cross-SURT digest merges (content keyed coarser than the URL)."""
    from ..sources.mediagen import synthetic_media

    refs = _valid_refs(spark, sf_dir)
    media = synthetic_media(refs.select(F.col("ref_url").alias("url")))
    return records_from_refs(refs, media)


def indexer_full_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL output over real payload bytes. Page records whose SURT lost
    every capture to the P2/parse gates have no image to attach (the
    reference emits nothing for a page group without image data) and are
    dropped; surviving rows carry non-NULL parsed ``img_width``/
    ``img_height``/``img_mime`` wherever the capture had bytes."""
    out = full_from_records(*build_records_media(spark, sf_dir))
    return out.where(F.col("digest").isNotNull())


def indexer_compact_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACT output over real payload bytes: grouping is by the SHA-256
    BYTE digest, so identical payloads served from different hosts/SURTs
    merge into one row (the A9 digest-merge the reference's job 2 exists
    for) with page metadata lists drawn from every merged SURT."""
    return compact_from_records(*build_records_media(spark, sf_dir))


def media_counters(refs: DataFrame, media_df: DataFrame) -> DataFrame:
    """Parse-stage image counters, long format ``(counter, value)``: the
    IMAGE_COUNTERS family of ``ImageIndexerWithDupsJob.java:70-98`` over
    each valid ref's (url, payload) bytes, computed PRE-GATE from the
    actual decode results — ``images_decoded`` (IMAGES_IN_WARC_TOTAL with
    bytes), ``images_too_small`` / ``images_too_large`` (P2 gates),
    ``images_mime_invalid`` (no known magic — MIME_INVALID) and
    ``images_mime_wrong`` (detected ≠ reported — MIME_WRONG), plus the
    payload, gate-pass and no-payload totals."""
    from ..operators import multimodal as MM

    joined = _join_media(refs.select(F.col("ref_url").alias("img_url")), media_df)
    has_payload = F.col("mime_detected").isNotNull()
    decoded = F.col("width").isNotNull()
    invalid = F.col("mime_detected") == "application/octet-stream"
    too_small, too_large, passed = MM.p2_gates()
    wide = joined.agg(
        F.count(F.when(has_payload, 1)).alias("images_with_payload"),
        F.count(F.when(decoded, 1)).alias("images_decoded"),
        F.count(F.when(decoded & too_small, 1)).alias("images_too_small"),
        F.count(F.when(decoded & too_large, 1)).alias("images_too_large"),
        F.count(F.when(invalid, 1)).alias("images_mime_invalid"),
        # wrong = detected a KNOWN type that differs from reported (the
        # reference's invalid/wrong branches are disjoint)
        F.count(F.when(_mime_mismatch() & ~invalid, 1)).alias("images_mime_wrong"),
        F.count(F.when(decoded & passed, 1)).alias("images_gate_passed"),
        F.count(F.when(~has_payload, 1)).alias("captures_without_payload"),
    )
    return (
        wide.unpivot([], wide.columns, "counter", "value")
        .select("counter", F.col("value").cast("long").alias("value"))
        .orderBy("counter")
    )


def media_parse_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``media_counters`` over the testdata corpus and its deterministic
    media table, so the DuckDB oracle's closed-form expectations check
    the decoder end-to-end."""
    from ..sources.mediagen import synthetic_media

    refs = _valid_refs(spark, sf_dir)
    return media_counters(refs, synthetic_media(refs.select(F.col("ref_url").alias("url"))))


def to_jsonl(df: DataFrame, path: str, field_order: list[str] | None = None) -> None:
    """Reference's final sink: one JSON object per line (S7,
    DupDigestMergerJob.java:285-299).

    Field order is PINNED: the reference string-compares golden JSONL
    (FullPipelineTest.java:84-105) against a Gson serializer with a fixed
    field sequence (MultiPageImageDataSerializer.java:26-76), so key order
    is part of the output contract — ``to_json(struct(...))`` preserves the
    struct's field order exactly, unlike ``df.write.json``'s schema order
    being an accident of the plan."""
    cols = field_order or df.columns
    line = F.to_json(F.struct(*[F.col(c) for c in cols]))
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def jsonl_lines(df: DataFrame, field_order: list[str] | None = None) -> list[str]:
    """The sink's lines, sorted — the golden-comparable form (sorting makes
    the comparison partition-count invariant where the reference used a
    single reducer)."""
    cols = field_order or df.columns
    line = F.to_json(F.struct(*[F.col(c) for c in cols]))
    return sorted(r["value"] for r in df.select(line.alias("value")).collect())
