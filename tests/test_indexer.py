"""Caption semantics pins + indexer pipeline invariants.

Mirrors the reference's CaptionExtractTest (three scenarios: parent-walk
adjacent caption, sibling fallback, >250-char trim —
``CaptionExtractTest.java:47-154``) re-encoded as span sequences per
FIXTURES.md §1, plus invariants of the two-job indexer plan.
"""

import pytest
from pyspark.sql import functions as F

from image_search_indexing_spark.frontier.extract import extract_refs

SPANS_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)
META_SCHEMA = "doc_id string, base_url string, fetch_ts string"


def _run(spark, spans_rows):
    docs = spark.createDataFrame(spans_rows, SPANS_SCHEMA)
    meta = spark.createDataFrame(
        [(r[0], "http://www.iol.pt/multimedia/page.html", "20160701120000") for r in spans_rows],
        META_SCHEMA,
    )
    refs = extract_refs(docs, meta).where(F.col("drop_reason").isNull())
    return {r["doc_id"]: r for r in refs.collect()}


def _t(text, off):
    return ("text", text, None, off)


def _img(url, off):
    return ("img", None, url, off)


def test_caption_adjacent(spark):
    """An immediately-adjacent non-empty text span wins (parent-walk analog);
    ties (both neighbors adjacent) go to the earlier span."""
    rows = [
        ("d1", [_t("Image 1 This is caption 1", 0), _img("/m/a.jpg", 1), _t("Page 2", 2)]),
        ("d2", [_img("/m/b.jpg", 0), _t("caption after", 1)]),
    ]
    out = _run(spark, rows)
    assert out["d1"]["caption"] == "Image 1 This is caption 1"
    assert out["d2"]["caption"] == "caption after"
    # SURT pin, CaptionExtractTest.java:47 style
    assert out["d1"]["surt"] == "(pt,iol,)/m/a.jpg"


def test_caption_sibling_fallback(spark):
    """Empty adjacent neighbors → nearest non-empty text both sides joined
    by newline (getImgCaptionSibling, ImageInformationExtractor.java:758-788)."""
    rows = [
        (
            "d1",
            [
                _t("before text", 0),
                _t("  ", 1),  # empty neighbor
                _img("/m/c.jpg", 2),
                _t("", 3),  # empty neighbor
                _t("after text", 4),
            ],
        ),
        ("d2", [_t(" ", 0), _img("/m/d.jpg", 1)]),  # nothing non-empty anywhere
    ]
    out = _run(spark, rows)
    assert out["d1"]["caption"] == "before text\nafter text"
    assert out["d2"]["caption"] == ""


def test_caption_trim_250(spark):
    """>250-char caption → head+tail word-aligned trim
    (trimCaption, ImageInformationExtractor.java:779-794)."""
    long_text = " ".join(f"w{i:03d}" for i in range(80))  # 479 chars
    rows = [("d1", [_t(long_text, 0), _img("/m/e.jpg", 1)])]
    out = _run(spark, rows)
    got = out["d1"]["caption"]
    s = long_text
    ls = s[:125].rfind(" ")
    ls = 125 if ls == -1 else ls
    ts = (len(s) - 125) + s[len(s) - 125 :].find(" ")
    expected = (s[:ls].strip() + "\n" + s[ts:].strip()).strip()
    assert got == expected
    assert len(got) <= 252


def test_caption_nearest_wins(spark):
    """Non-adjacent: the closer non-empty side alone is NOT chosen — both
    sides join (sibling semantics) since neither is adjacent."""
    rows = [("d1", [_t("far before", 0), _t(" ", 1), _img("/m/f.jpg", 2), _t(" ", 3), _t("far after", 4)])]
    out = _run(spark, rows)
    assert out["d1"]["caption"] == "far before\nfar after"


def test_caption_page_budget_guard(spark):
    """X5 caption guard (ImageInformationExtractor.java:501-520): once the
    page's PRIOR media spans have produced more caption chars than the
    budget, later media spans get the reference's empty caption (the
    malformedPageForCaptions skip) — earlier spans are untouched, text
    spans never charge the budget, and the guard is off by default."""
    rows = [
        (
            "d1",
            [
                _t("aaaaaaaaaa", 0),       # 10 chars → caption of img#1
                _img("/m/1.jpg", 1),        # prior cost 0  → kept
                _t("bbbbbbbbbbbb", 2),     # 12 chars → caption of img#2
                _img("/m/2.jpg", 3),        # prior cost 10 → kept (≤ 15)
                _img("/m/3.jpg", 5),        # prior cost 22 → BLANKED (> 15)
            ],
        ),
        # under budget throughout: nothing blanked
        ("d2", [_t("tiny", 0), _img("/m/4.jpg", 1), _img("/m/5.jpg", 3)]),
    ]
    docs = spark.createDataFrame(rows, SPANS_SCHEMA)
    meta = spark.createDataFrame(
        [(r[0], "http://www.iol.pt/multimedia/page.html", "20160701120000") for r in rows],
        META_SCHEMA,
    )
    refs = extract_refs(docs, meta, caption_page_budget=15).where(
        F.col("drop_reason").isNull()
    )
    out = {(r["doc_id"], r["ref_url"].rsplit("/", 1)[-1]): r for r in refs.collect()}
    assert out[("d1", "1.jpg")]["caption"] == "aaaaaaaaaa"
    assert not out[("d1", "1.jpg")]["caption_truncated"]
    assert out[("d1", "2.jpg")]["caption"] == "bbbbbbbbbbbb"
    assert not out[("d1", "2.jpg")]["caption_truncated"]
    assert out[("d1", "3.jpg")]["caption"] == ""
    assert out[("d1", "3.jpg")]["caption_truncated"]
    # d2: cumulative media caption cost stays ≤ 15 → untouched
    assert out[("d2", "4.jpg")]["caption"] == "tiny"
    assert out[("d2", "5.jpg")]["caption"] == "tiny"
    assert not any(r["caption_truncated"] for k, r in out.items() if k[0] == "d2")
    # default (no budget): no guard column, captions intact
    plain = extract_refs(docs, meta).where(F.col("drop_reason").isNull())
    assert "caption_truncated" not in plain.columns
    assert {r["caption"] for r in plain.collect() if r["doc_id"] == "d1"} == {
        "aaaaaaaaaa", "bbbbbbbbbbbb",
    }


def test_indexer_full_and_compact(spark):
    from image_search_indexing_spark.plans.indexer import indexer_compact, indexer_full

    sf = "/root/testdata/sf0.001"
    full = indexer_full(spark, sf)
    compact = indexer_compact(spark, sf)
    frows = full.collect()
    crows = compact.collect()
    assert len(frows) > 0 and len(crows) > 0

    # every page record carries an assigned capture that exists in its
    # image's timestamp list (J3: FullImageMetadata.java:124-128)
    bad = full.where(
        F.col("digest").isNotNull() & ~F.array_contains(F.col("timestamps"), F.col("page_ts"))
    )
    # nearest-capture ts must be IN the digest's list; page_ts equals it in
    # this closed world (capture ts == observing page's ts)
    assert bad.count() == 0

    # COMPACT: one row per digest; dedup across hosts occurred (some digest
    # has >1 distinct capture count)
    assert compact.select("digest").distinct().count() == len(crows)
    assert compact.where(F.col("total_captures") > F.size("all_timestamps") - 1000).count() >= 0
    assert compact.where(F.col("total_captures") > 1).count() > 0

    # timestamps sorted (O1/O2 determinism)
    unsorted = compact.where(
        F.col("all_timestamps") != F.array_sort("all_timestamps")
    ).count()
    assert unsorted == 0


def test_indexer_partition_invariance(spark):
    from image_search_indexing_spark.plans.indexer import indexer_compact

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    rows_a = {r["digest"]: r for r in indexer_compact(spark, sf).collect()}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows_b = {r["digest"]: r for r in indexer_compact(spark, sf).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows_a.keys() == rows_b.keys()
    for k in rows_a:
        assert rows_a[k] == rows_b[k], k


def _refs(spark, spans_rows, base="http://www.iol.pt/multimedia/page.html"):
    docs = spark.createDataFrame(spans_rows, SPANS_SCHEMA)
    meta = spark.createDataFrame(
        [(r[0], base, "20160701120000") for r in spans_rows], META_SCHEMA
    )
    return extract_refs(docs, meta).where(F.col("drop_reason").isNull())


def test_alt_is_part_of_metadata_key(spark):
    """Reference keys page records on title+ALT+caption
    (PageImageData.java:397-399): same title/caption but different alt →
    distinct page records; identical alts merge."""
    from image_search_indexing_spark.plans.indexer import (
        compact_from_records,
        full_from_records,
        records_from_refs,
    )

    rows = [
        ("d1", [_t("cap", 0), ("img", "Alt A", "/m/k.jpg", 1)]),
        ("d2", [_t("cap", 0), ("img", "Alt B", "/m/k.jpg", 1)]),
        ("d3", [_t("cap", 0), ("img", "Alt B", "/m/k.jpg", 1)]),
    ]
    captures, pages = records_from_refs(_refs(spark, rows))
    full = full_from_records(captures, pages).collect()
    assert len(full) == 2  # Alt A and Alt B page records, Alt B deduped
    by_alt = {r["img_alt"]: r for r in full}
    assert set(by_alt) == {"Alt A", "Alt B"}
    assert by_alt["Alt B"]["n_metadata_changes"] == 2
    compact = compact_from_records(captures, pages).collect()
    assert len(compact) == 1
    assert compact[0]["alts"] == ["Alt A", "Alt B"]


def _gif(w: int, h: int, tag: bytes = b"x") -> bytes:
    """A real GIF87a header (little-endian u16 logical screen dims)."""
    return b"GIF87a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + tag


def _png(w: int, h: int) -> bytes:
    """A real PNG signature + IHDR chunk (big-endian u32 dims)."""
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
    )


def test_media_digest_merges_across_surts(spark):
    """F3 + A9: identical bytes served from two different URLs/SURTs share
    one SHA-256 digest and merge in the compact (digest-keyed) output —
    the reference's actual dedup case (DupDigestMergerJob.java:151-174)."""
    import hashlib

    from image_search_indexing_spark.plans.indexer import (
        compact_from_records,
        full_from_records,
        records_from_refs,
    )

    url_a = "http://www.hosta.pt/x/one.jpg"
    url_b = "http://www.hostb.org/y/two.jpg"
    rows = [
        ("d1", [_t("cap one", 0), _img(url_a, 1)]),
        ("d2", [_t("cap two", 0), _img(url_b, 1)]),
    ]
    good = _gif(640, 480)
    media = spark.createDataFrame(
        [(url_a, bytearray(good)), (url_b, bytearray(good))], "url string, payload binary"
    )
    captures, pages = records_from_refs(_refs(spark, rows), media)
    compact = compact_from_records(captures, pages).collect()
    assert len(compact) == 1  # one digest despite two SURTs
    row = compact[0]
    assert row["digest"] == hashlib.sha256(good).hexdigest()
    assert row["total_captures"] == 2
    assert row["surt"] == "(org,hostb,)/y/two.jpg"  # lowest-surt champion
    assert sorted(row["captions"]) == ["cap one", "cap two"]

    full = full_from_records(captures, pages).collect()
    # dims parsed from the REAL GIF header bytes
    assert all(r["img_width"] == 640 and r["img_height"] == 480 for r in full)
    # without media bytes the two URLs keep distinct path digests
    cap2, pg2 = records_from_refs(_refs(spark, rows))
    assert len(compact_from_records(cap2, pg2).collect()) == 2


def test_media_size_gates_and_mime_mismatch(spark):
    """P2 gates drop undersized decoded images; F9 flags reported-vs-
    detected MIME mismatches (ImageInformationExtractor.java:290-326)."""
    from image_search_indexing_spark.plans.indexer import records_from_refs

    url = "http://www.hosta.pt/x/tiny.jpg"
    rows = [("d1", [_t("cap", 0), _img(url, 1)])]
    tiny = _gif(20, 20)
    media = spark.createDataFrame([(url, bytearray(tiny))], "url string, payload binary")
    captures, _ = records_from_refs(_refs(spark, rows), media)
    assert captures.count() == 0  # gated out

    good = _gif(100, 80)
    media2 = spark.createDataFrame([(url, bytearray(good))], "url string, payload binary")
    cap2, _ = records_from_refs(_refs(spark, rows), media2)
    r = cap2.collect()[0]
    # GIF magic at a .jpg URL → detected image/gif vs reported image/jpeg
    assert r["mime_detected"] == "image/gif"
    assert r["mime_reported"] == "image/jpeg"
    assert r["mime_mismatch"] is True

    # payload present but unparseable (no known container) → dropped, like
    # ImageParse returning null for unreadable bytes
    junk = spark.createDataFrame([(url, bytearray(b"junk-bytes"))], "url string, payload binary")
    cap3, _ = records_from_refs(_refs(spark, rows), junk)
    assert cap3.count() == 0


def test_media_thumbnails_ride_the_capture_pass(spark):
    """imgSrcBase64 parity (ImageDataSerializer.java:46): the captures'
    own media frame through ``decode_image_meta(thumbnails=True)`` gives
    each surviving capture a REAL ≤200×200 PNG thumbnail whose source
    dims are the capture's width/height; gif keeps its ORIGINAL bytes.
    The capture rows themselves carry no thumbnail column (no indexer
    output selects one)."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        decode_image_meta,
        decode_png,
        encode_png,
    )
    from image_search_indexing_spark.plans.indexer import records_from_refs

    url_png = "http://www.hosta.pt/x/real.png"
    url_gif = "http://www.hosta.pt/x/anim.gif"
    y, x = np.mgrid[0:300, 0:400]
    img = np.stack([x % 256, y % 256, (x + 2 * y) % 256], axis=2).astype(np.uint8)
    gif_bytes = _gif(120, 90)
    rows = [
        ("d1", [_t("cap", 0), _img(url_png, 1)]),
        ("d2", [_t("cap", 0), _img(url_gif, 1)]),
    ]
    media = spark.createDataFrame(
        [(url_png, bytearray(encode_png(img))), (url_gif, bytearray(gif_bytes))],
        "url string, payload binary",
    )
    captures, _ = records_from_refs(_refs(spark, rows), media)
    assert "img_src_base64" not in captures.columns
    caps = {r["img_url"]: r for r in captures.collect()}
    thumbs = {r["url"]: r for r in decode_image_meta(media, thumbnails=True).collect()}
    assert set(caps) == set(thumbs) == {url_png, url_gif}
    for url in caps:
        assert (caps[url]["width"], caps[url]["height"]) == (
            thumbs[url]["width"],
            thumbs[url]["height"],
        )
    thumb = decode_png(bytes(thumbs[url_png]["thumb"]))
    assert thumb.shape == (150, 200, 3)  # 400x300 → reference aspect box
    # gif: ORIGINAL bytes pass through untouched (ImageParse.java:131-134)
    assert bytes(thumbs[url_gif]["thumb"]) == gif_bytes


def test_media_counters_core(spark):
    """IMAGE_COUNTERS parity (ImageIndexerWithDupsJob.java:70-98): the
    parse-stage counters the ``indexer_media_counters`` query reads —
    too-small gate hits, octet-stream = MIME_INVALID, known-but-different
    magic = MIME_WRONG — over four hand-built payloads."""
    from image_search_indexing_spark.plans.indexer import media_counters

    url_small = "http://www.hosta.pt/x/tiny.jpg"
    url_good = "http://www.hosta.pt/x/good.gif"
    url_png = "http://www.hosta.pt/x/fake.jpg"  # png magic, .jpg name
    url_junk = "http://www.hosta.pt/x/junk.jpg"  # no known magic
    url_none = "http://www.hosta.pt/x/none.jpg"  # no payload row
    rows = [
        ("d1", [_t("cap", 0), _img(url_small, 1)]),
        ("d2", [_t("cap", 0), _img(url_good, 1)]),
        ("d3", [_t("cap", 0), _img(url_png, 1)]),
        ("d4", [_t("cap", 0), _img(url_junk, 1)]),
        ("d5", [_t("cap", 0), _img(url_none, 1)]),
    ]
    media = spark.createDataFrame(
        [
            (url_small, bytearray(_gif(20, 20))),
            (url_good, bytearray(_gif(100, 80))),
            (url_png, bytearray(_png(300, 200))),
            (url_junk, bytearray(b"junk-bytes")),
        ],
        "url string, payload binary",
    )
    got = {r["counter"]: r["value"] for r in media_counters(_refs(spark, rows), media).collect()}
    assert got == {
        "images_with_payload": 4,
        "images_decoded": 3,  # junk has no parseable header
        "images_too_small": 1,
        "images_too_large": 0,
        "images_mime_invalid": 1,  # junk: no magic → octet-stream
        "images_mime_wrong": 2,  # png + tiny-gif bytes at .jpg URLs
        "images_gate_passed": 2,  # good + png; tiny gated, junk unparseable
        "captures_without_payload": 1,
    }


def test_indexer_counters_long_format(spark):
    """counters_from_records: merge-job counter algebra over a corpus with
    a cross-surt shared digest (2 surts, 1 digest) plus a singleton."""
    import hashlib

    from image_search_indexing_spark.plans.indexer import (
        counters_from_records,
        full_from_records,
        records_from_refs,
    )

    url_a = "http://www.hosta.pt/x/one.jpg"
    url_b = "http://www.hostb.org/y/two.jpg"
    url_c = "http://www.hostc.com/z/three.jpg"
    rows = [
        ("d1", [_t("cap one", 0), _img(url_a, 1)]),
        ("d2", [_t("cap two", 0), _img(url_b, 1)]),
        ("d3", [_t("cap three", 0), _img(url_c, 1)]),
    ]
    good = _gif(640, 480)
    media = spark.createDataFrame(
        [(url_a, bytearray(good)), (url_b, bytearray(good))], "url string, payload binary"
    )
    captures, pages = records_from_refs(_refs(spark, rows), media)
    full = full_from_records(captures, pages)
    got = {r["counter"]: r["value"] for r in counters_from_records(captures, pages, full).collect()}
    assert got["url_imagesall_pages"] == 3
    assert got["url_images_pagesall"] == 3
    assert got["records_in"] == 2  # a+b share the byte digest, c has its own
    assert got["url_images_pages"] == 3
    assert got["url_images_pages_multiple_digest"] == 0
    assert got["records_out_full"] == 3
    assert got["records_with_metadata"] == 2
    assert got["records_without_metadata"] == 0
