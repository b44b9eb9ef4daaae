"""One extraction core behind three entry points.

``extract_refs`` (indexer), ``extract_refs_frontier`` (round driver, with
observed counters) and ``extract_refs_streaming`` must emit the same
media rows with the same ``drop_reason`` for every gate; non-media spans
never become rows. Plus two plan pins: text spans never cross the J4
exchange of ``frontier_schedule``, and the indexer reads the documents
table once.
"""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from image_search_indexing_spark.frontier import extract as X
from image_search_indexing_spark.frontier.datagen import DOCMETA_SCHEMA, SPANS_SCHEMA

MAX_URL = 60
LONG = "/img/" + "x" * 60 + ".png"
DATA = "data:image/png;base64,iVBORw0KGgo="
BASES = {"d1": "http://ex.com/p/1.html", "d2": "http://ex.com/p/2.html"}
CUT = "cut"  # beyond spans_cap: never exploded
GONE = "gone"  # not a media kind: never a row

# (doc_id, kind, media_ref, expected drop_reason); None = valid. Spans
# sit at offsets 0, 1, 2, ... in table order within each doc.
CASES = [
    ("d1", "text", None, GONE),
    ("d1", "img", "", "empty_ref"),
    ("d1", "img", "  ", "empty_ref"),
    ("d1", "img", LONG, "url_too_long"),
    ("d1", "a", "/docs/report.pdf", "a_not_image"),
    ("d1", "a", "/img/c.JPG?x=1", None),
    ("d1", "img", "/img/a.png", None),
    ("d1", "css", "/img/a.png", "css_already_parsed"),
    ("d1", "css", "http://ex.com/img/a.png", "css_already_parsed"),
    ("d1", "css", "/img/b.png", None),  # its img is in d2: kept
    ("d1", "img", DATA, None),
    ("d1", "video", "/v/clip.mp4", GONE),
    ("d1", "img", "/img/late.png", CUT),
    ("d2", "text", None, GONE),
    ("d2", "img", "/img/b.png", None),
]
SPANS_CAP = sum(1 for c in CASES if c[0] == "d1") - 1
N_BUCKETS = 4  # the round's bucket exchange, as the round driver runs it


def _spans():
    out = {}
    for doc, kind, ref, _ in CASES:
        spans = out.setdefault(doc, [])
        text = "some words" if kind == "text" else None
        spans.append((kind, text, ref, len(spans)))
    return out


def _frames(spark):
    spans = _spans()
    docs = spark.createDataFrame(sorted(spans.items()), SPANS_SCHEMA)
    meta = spark.createDataFrame(
        [(d, b, "20160101120000") for d, b in sorted(BASES.items())], DOCMETA_SCHEMA
    )
    return docs, meta


def _expected():
    want = {}
    offsets: dict[str, int] = {}
    for doc, _, _, reason in CASES:
        off = offsets[doc] = offsets.get(doc, -1) + 1
        if reason not in (CUT, GONE):
            want[(doc, off)] = reason
    return want


def _run(spark, path):
    docs, meta = _frames(spark)
    kw = dict(spans_cap=SPANS_CAP, max_url_length=MAX_URL)
    if path == "extract_refs":
        return X.extract_refs(docs, meta, **kw)
    if path == "extract_refs_frontier":
        return X.extract_refs_frontier(docs, meta, N_BUCKETS, **kw)[0]
    return X.extract_refs_streaming(docs.join(meta, "doc_id"), **kw)


@pytest.mark.parametrize(
    "path", ["extract_refs", "extract_refs_frontier", "extract_refs_streaming"]
)
def test_drop_reasons_agree_across_entry_points(spark, path):
    rows = _run(spark, path).collect()
    got = {(r["doc_id"], r["offset"]): r["drop_reason"] for r in rows}
    assert got == _expected()
    by_off = {(r["doc_id"], r["offset"]): r for r in rows}
    data_row = by_off[("d1", [c[2] for c in CASES if c[0] == "d1"].index(DATA))]
    assert data_row["ref_url"] == "hash:" + hashlib.md5(DATA.encode()).hexdigest()
    assert data_row["surt"] == data_row["ref_url"]
    assert by_off[("d2", 1)]["ref_url"] == "http://ex.com/img/b.png"
    assert by_off[("d2", 1)]["host"] == "ex.com"


def test_frontier_counters_match_table(spark):
    docs, meta = _frames(spark)
    refs, obs_docs, obs_spans, obs_media = X.extract_refs_frontier(
        docs, meta, N_BUCKETS, spans_cap=SPANS_CAP, max_url_length=MAX_URL
    )
    refs.collect()
    kept = [c for c in CASES if c[3] != CUT]
    rows = [c for c in kept if c[3] != GONE]
    valid = [c for c in rows if c[3] is None]
    want = {
        "media_total": len(rows),
        "valid_ref": len(valid),
        "valid_img": sum(c[1] == "img" for c in valid),
        "valid_a": sum(c[1] == "a" for c in valid),
        "valid_css": sum(c[1] == "css" for c in valid),
        "data_url_refs": sum(c[2] == DATA for c in valid),
    }
    for reason in ("empty_ref", "url_too_long", "a_not_image", "css_already_parsed"):
        want[reason] = sum(c[3] == reason for c in rows)
    assert {k: obs_media.get[k] for k in want} == want
    assert obs_spans.get["spans_total"] == len(kept)
    assert obs_docs.get == {
        "pages": 2, "pages_with_media": 2, "pages_span_capped": 1, "spans_not_parsed": 1,
    }


@pytest.fixture(scope="module")
def documents_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docs"))
    spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.concat(F.lit(f"w{i}_"), (F.col("id") % (i + 3)).cast("string"))
                           for i in range(12)]).alias("text"),
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def _subtree(node):
    yield node.getClass().getSimpleName(), node.simpleString(25)
    kids = node.children()
    for i in range(kids.size()):
        yield from _subtree(kids.apply(i))


def test_frontier_schedule_filters_kind_below_j4_exchange(spark, plan_ops, documents_dir):
    from image_search_indexing_spark.plans.flagship import frontier_schedule

    ops = plan_ops(frontier_schedule(spark, documents_dir))
    j4 = [n for c, d, n in ops if c == "ShuffleExchangeExec"
          and re.search(r"hashpartitioning\(doc_id#\d+, ref_url#\d+", d)]
    assert len(j4) == 1, [d for c, d, _ in ops if c == "ShuffleExchangeExec"]
    below = list(_subtree(j4[0]))
    kind_filter = r"kind(#\d+)? IN \(img,a,css\)"
    assert any(c == "FilterExec" and re.search(kind_filter, d) for c, d in below), below


def test_indexer_records_scan_documents_once(spark, plan_ops, documents_dir):
    from image_search_indexing_spark.plans.indexer import build_records

    for frame in build_records(spark, documents_dir):
        scans = [d for c, d, _ in plan_ops(frame) if c == "FileSourceScanExec"]
        assert len(scans) == 1, scans
