"""Readers (S1/S3/S8 analogs) + mojibake repair (F7) unit tests."""

import pytest
from pyspark.sql import functions as F


def test_read_documents_glob_and_prune(spark, corpus, tmpdir_path):
    from image_search_indexing_spark.sources.readers import read_documents

    corpus["docs"].write.mode("overwrite").parquet(f"{tmpdir_path}/docs.parquet")
    df = read_documents(spark, f"{tmpdir_path}/docs.parquet", glob="*.parquet", columns=["doc_id"])
    assert df.columns == ["doc_id"]
    assert df.count() == corpus["docs"].count()
    # projection is pushed to the parquet scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:string>" in plan


def test_read_media_files(spark, tmpdir_path):
    from image_search_indexing_spark.sources.readers import read_media_files

    with open(f"{tmpdir_path}/a.bin", "wb") as f:
        f.write(b"\x89PNG\r\n\x1a\npayload")
    with open(f"{tmpdir_path}/skip.txt", "wb") as f:
        f.write(b"nope")
    df = read_media_files(spark, tmpdir_path, glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert bytes(rows[0]["content"]).startswith(b"\x89PNG")


def test_read_url_list(spark, tmpdir_path):
    from image_search_indexing_spark.sources.readers import read_url_list

    with open(f"{tmpdir_path}/urls.txt", "w") as f:
        f.write("http://a.pt/1\nhttp://b.pt/2\n")
    df = read_url_list(spark, f"{tmpdir_path}/urls.txt", n_partitions=2)
    assert sorted(r["url"] for r in df.collect()) == ["http://a.pt/1", "http://b.pt/2"]
    assert df.rdd.getNumPartitions() == 2


def test_fix_mojibake(spark):
    from image_search_indexing_spark.functions.text import fix_mojibake_udf

    broken = "coraÃ§Ã£o partido"  # 'coração' double-encoded
    clean = "já limpo"
    df = spark.createDataFrame([(broken,), (clean,), (None,)], ["t"])
    out = [r["f"] for r in df.select(fix_mojibake_udf()(F.col("t")).alias("f")).collect()]
    assert out[0] == "coração partido"
    assert out[1] == "já limpo"  # untouched
    assert out[2] is None


def test_charset_detection_and_decode(spark):
    """F7: the charset-detection cascade (BOM → ASCII → strict UTF-8 →
    BOM-less UTF-16 NUL heuristic → C1-range windows-1252 vs ISO-8859-1)
    and detect-then-decode roundtrips on mixed-encoding fixtures
    (reference: juniversalchardet in ImageSearchIndexingUtil.java:247-287)."""
    from image_search_indexing_spark.functions.text import (
        decode_detected,
        decode_detected_udf,
        detect_charset,
    )

    s = "Olá, señor café"
    cases = [
        (b"plain ascii text", "US-ASCII", "plain ascii text"),
        (s.encode("utf-8"), "UTF-8", s),
        (b"\xef\xbb\xbf" + s.encode("utf-8"), "UTF-8", s),
        (s.encode("utf-16"), "UTF-16LE", s),  # BOM'd
        ((s * 4).encode("utf-16-be"), "UTF-16BE", s * 4),  # BOM-less heuristic
        (s.encode("latin-1"), "ISO-8859-1", s),
        ("café “quoted”".encode("cp1252"), "windows-1252", "café “quoted”"),
    ]
    for raw, want_cs, want_text in cases:
        assert detect_charset(raw) == want_cs, raw[:20]
        assert decode_detected(raw) == want_text, want_cs
    assert detect_charset(None) is None and decode_detected(None) is None

    df = spark.createDataFrame(
        [(i, bytearray(raw)) for i, (raw, _, _) in enumerate(cases)],
        "i int, payload binary",
    )
    from pyspark.sql import functions as F

    out = {r["i"]: r["txt"] for r in df.select(
        "i", decode_detected_udf()(F.col("payload")).alias("txt")).collect()}
    assert out == {i: want for i, (_, _, want) in enumerate(cases)}


@pytest.mark.parametrize("name", ["winnow_fp", "clean_corpus_neardup"])
def test_winnow_queries_equal_the_duckdb_oracle(spark, oracle, name):
    """The two winnowing queries equal their oracle SQL, and no filter of
    their optimized plans holds the fingerprint expression: one pushed
    below ``winnow_fingerprints``' projections re-derives every gram hash
    per window (about 9 minutes in one task at sf0.001)."""
    import __spark_entry__ as E

    plan = E.queries()[name](spark, "/root/testdata/sf0.001")._jdf.queryExecution().optimizedPlan()
    filters = []

    def walk(node):
        if node.getClass().getSimpleName() == "Filter":
            filters.append(node.condition().toString())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(plan)
    assert not [f for f in filters if "md5(" in f and "lambdafunction" in f], filters
    oracle(name)


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. SIGMOD'03): documents
    sharing a substring of length >= k+w-1 share at least one
    fingerprint; disjoint docs don't; density is ~2/(w+1). The window
    lambda reads the materialized hashes: no md5 or normalizing regex is
    inlined into it."""
    from image_search_indexing_spark.functions.text import winnow_fingerprints

    k, w = 8, 4
    common = "the quick brown fox jumps over the lazy dog near the river bank"
    a = "AAAA start " + common + " end one"
    b = "totally different prefix " + common + " and suffix two"
    c = "no overlap here whatsoever in this entirely distinct document text"
    df = spark.createDataFrame([("a", a), ("b", b), ("c", c)], "doc_id string, text string")
    out = winnow_fingerprints(df, "text", k, w).select("doc_id", "winnow")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    (window,) = [line for line in plan.splitlines() if "array_min(" in line]
    window = window[window.index("array_min("):]
    assert "md5(" not in window and "regexp_replace(" not in window, window
    rows = out.collect()
    fps = {r["doc_id"]: set(r["winnow"]) for r in rows}
    assert fps["a"] & fps["b"]          # >= k+w-1 shared chars → shared fp
    assert not (fps["a"] & fps["c"])
    assert not (fps["b"] & fps["c"])
    # density: |fp| ≈ 2/(w+1) of window count (loose band)
    n_windows = len(a.lower()) - k + 1 - w + 1
    assert 0.1 < len(fps["a"]) / n_windows < 0.8
    # short and empty texts degrade gracefully
    tiny = spark.createDataFrame([("t", "abc"), ("e", "")], "doc_id string, text string")
    got = {r["doc_id"]: r["winnow"] for r in winnow_fingerprints(tiny, "text", k, w).collect()}
    assert len(got["t"]) == 1 and got["e"] == []
