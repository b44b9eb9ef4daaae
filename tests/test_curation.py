"""Curation operators: hand-derived expected values + plan-shape pins.

Every expected number here is computed by hand from the definition, not
by running the operator — the oracle gate already cross-checks against
DuckDB; these pins catch semantic drift at the unit level and freeze
the scale-critical plan shapes (zero-exchange projections, broadcast
decontamination join, no Python UDFs anywhere)."""

import pytest
from pyspark.sql import functions as F

from image_search_indexing_spark.operators.curation import (
    c4_signals,
    decontaminate,
    pii_redact,
    repetition_signals,
)


def _by_id(rows):
    return {r[0]: r for r in rows}


def test_repetition_signals_hand_computed(spark):
    df = spark.createDataFrame(
        [
            # tokens: [a, a, b, a] -> top 'a' 3/4; 2-grams [a a, a b, b a]
            # all distinct -> dup2 0; 3-grams [a a b, a b a] distinct -> 0
            (1, "a a b a"),
            # [x, x, x, x] -> top 1.0; 2-grams [x x]*3 -> dup2 = 1 - 1/3;
            # 3-grams [x x x]*2 -> dup3 = 1 - 1/2
            (2, "x x x x"),
            (3, ""),  # no tokens -> all zeros
            (4, "solo"),  # 1 token: top 1.0, singleton grams, dup 0
        ],
        "doc_id long, text string",
    )
    out = _by_id(repetition_signals(df).collect())
    assert out[1][1:] == (4, 0.75, 0.0, 0.0)
    r2 = out[2]
    assert r2[1] == 4 and r2[2] == 1.0
    assert r2[3] == pytest.approx(1 - 1 / 3, abs=1e-6)
    assert r2[4] == 0.5
    assert out[3][1:] == (0, 0.0, 0.0, 0.0)
    assert out[4][1:] == (1, 1.0, 0.0, 0.0)


def test_repetition_signals_zero_exchanges_no_python(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("w1 w2 w1 w2 w1").alias("text")
    )
    plan = repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_signals_flags(spark):
    df = spark.createDataFrame(
        [
            (1, "This is a clean sentence with enough words."),
            (2, "no terminal punctuation here at all"),
            (3, "Contains lorem ipsum filler text, dropped."),
            (4, "function f() { return 1; } done."),
            (5, "Too short."),
            (6, 'He said "stop."  '),  # quote + trailing ws still terminal
        ],
        "doc_id long, text string",
    )
    out = _by_id(c4_signals(df).collect())
    assert out[1]["keep"] and out[1]["ends_terminal"] and out[1]["n_sentences"] == 1
    assert not out[2]["ends_terminal"] and not out[2]["keep"]
    assert out[3]["has_lorem"] and not out[3]["keep"]
    assert out[4]["has_brace"] and not out[4]["keep"]
    assert out[5]["n_tokens"] == 2 and not out[5]["keep"]  # < 5 words
    assert out[6]["ends_terminal"]


def test_pii_redact_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b-c%d@sub.example.co.uk or x@y.io now"),
            (2, "call 555-123-4567 twice: 555-123-4567"),
            (3, "host 10.0.42.7 gateway 192.168.0.1"),
            (4, "clean text with no pii at all"),
            (5, "version 1.2.3 is not an ip"),  # only 3 octets
        ],
        "doc_id long, text string",
    )
    out = _by_id(pii_redact(df).collect())
    assert out[1]["n_emails"] == 2
    assert out[1]["redacted"] == "mail <EMAIL> or <EMAIL> now"
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted"] == "call <PHONE> twice: <PHONE>"
    assert out[3]["n_ips"] == 2
    assert out[3]["redacted"] == "host <IP> gateway <IP>"
    assert (out[4]["n_emails"], out[4]["n_phones"], out[4]["n_ips"]) == (0, 0, 0)
    assert out[4]["redacted"] == "clean text with no pii at all"
    assert out[5]["n_ips"] == 0 and "1.2.3" in out[5]["redacted"]


def test_pii_redact_overlapping_spans(spark):
    """Email vs IPv4 overlap: the email rule wins the shared span, and
    the counts reflect the REDACTED output (1 <EMAIL> + 1 <IP>), not the
    raw-text matches (which would report 2 IPs, one never redacted)."""
    df = spark.createDataFrame(
        [(1, "contact a@1.2.3.4.co from 10.0.0.1")], "doc_id long, text string"
    )
    r = pii_redact(df).collect()[0]
    assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (1, 0, 1)
    assert r["redacted"] == "contact <EMAIL> from <IP>"


def test_decontaminate_counts_and_broadcast(spark):
    train = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),  # grams 1..3 of the span
            (2, "t3 t4 t5 t6 t7 t8 t9 t10 x y"),    # gram 3 only... see below
            (3, "completely different words here no overlap at all ok"),
        ],
        "doc_id long, text string",
    )
    # benchmark text = t1..t8 -> its single 8-gram is 't1 ... t8'
    bench = spark.createDataFrame([("t1 t2 t3 t4 t5 t6 t7 t8",)], "text string")
    out = decontaminate(train, bench, k=8)
    rows = _by_id(out.collect())
    # doc 1 contains the exact 8-gram t1..t8 (positions 1-8) -> overlap 1
    assert rows[1]["n_overlap"] == 1
    # doc 2 starts at t3 -> never matches the full t1..t8 gram
    assert 2 not in rows and 3 not in rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontaminate_short_doc_singleton_gram(spark):
    # a <8-token train doc forms one whole-text gram; it only matches a
    # benchmark doc with the identical short text
    train = spark.createDataFrame([(7, "a b c")], "doc_id long, text string")
    bench = spark.createDataFrame([("a b c",), ("a b",)], "text string")
    rows = decontaminate(train, bench, k=8).collect()
    assert len(rows) == 1 and rows[0]["n_overlap"] == 1


def test_curation_signals_one_projection(spark):
    """The composed signal stage equals its per-family operators (over
    the redacted text) and stays a zero-exchange, Python-free
    projection."""
    from image_search_indexing_spark.operators.curation import (
        c4_signals,
        curation_signals,
        pii_redact,
        repetition_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "Contact me at bob@example.com about the plan. It works fine."),
            (2, "spam spam spam spam spam spam"),
            (3, "lorem ipsum filler { code } from 10.1.0.7 or call 555-123-4567"),
            (4, "A short clean sentence that simply ends well."),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in curation_signals(docs).collect()}
    red = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    for d, r in red.items():
        assert got[d]["redacted"] == r["redacted"]
        assert got[d]["n_pii"] == r["n_emails"] + r["n_phones"] + r["n_ips"]
    redacted = spark.createDataFrame(
        [(d, r["redacted"]) for d, r in red.items()], "doc_id long, text string"
    )
    for r in c4_signals(redacted).collect():
        assert got[r["doc_id"]]["c4_keep"] == r["keep"], r
    for r in repetition_signals(redacted).collect():
        assert got[r["doc_id"]]["top_token_frac"] == r["top_token_frac"]
        assert got[r["doc_id"]]["dup_2gram_frac"] == r["dup_2gram_frac"]
        assert got[r["doc_id"]]["n_tokens"] == r["n_tokens"]
    # doc 2 trips the repetition gate, doc 3 trips lorem+brace+PII
    assert got[2]["top_token_frac"] == 1.0 and not got[3]["c4_keep"]
    assert got[3]["n_pii"] == 2 and "<IP>" in got[3]["redacted"]
    out = curation_signals(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_clean_corpus_full_gates_compose(spark):
    """clean_corpus_full drops rows for every reason at sf0.001: PII is
    redacted (not dropped), C4/lorem/brace/short docs and decontam hits
    are dropped, survivors are champions of their fingerprint group."""
    import __spark_entry__ as E

    out = E.queries()["clean_corpus_full"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    ids = {r["doc_id"] for r in rows}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids < all_ids  # strictly fewer: gates really drop rows
    # every %3==1 doc got ' etc' (no terminal punctuation) -> C4-dropped
    assert not any(i % 3 == 1 for i in ids)
    # %41 bench-source docs decontaminate against themselves -> dropped
    assert not any(i % 41 == 0 for i in ids)
    # PII docs are redacted, not dropped: some %11 doc survives
    assert any(i % 11 == 0 for i in ids)
    assert all(r["n_pii"] >= 1 for r in rows if r["doc_id"] % 11 == 0)


def test_domain_profile_integer_exact(spark):
    """domain_profile emits ONLY integer aggregates (exactness by
    construction): counts/sums match a hand computation, dup docs are
    counted by corpus-wide fingerprint multiplicity (cross-source dups
    count in BOTH sources), and the verdict blocks on the >1-in-20 dup
    rule and the quality floor."""
    from image_search_indexing_spark.operators.curation import domain_profile

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = (
        [(i, good + f" unique {i}", "en", "a.com", 10) for i in range(20)]
        # b.com: 3 of 21 docs are copies of one text -> 3*20 > 21 -> block
        + [(100 + i, good + " b copy", "en", "b.com", 7) for i in range(3)]
        + [(110 + i, good + f" b unique {i}", "de", "b.com", 7) for i in range(18)]
        # c.com shares a text with a.com doc? no — keep c clean but LOW quality
        + [(200 + i, "!!! ??? ,,, ;;; :::", "en", "c.com", 5) for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = {r["source"]: r for r in domain_profile(docs).collect()}
    assert out["a.com"]["n_docs"] == 20 and out["a.com"]["dup_docs"] == 0
    assert out["a.com"]["verdict"] == "keep"
    assert out["a.com"]["total_chars"] == 200
    assert out["a.com"]["en_docs"] == 20
    b = out["b.com"]
    assert b["n_docs"] == 21 and b["dup_docs"] == 3 and b["en_docs"] == 3
    assert b["verdict"] == "block"  # 3*20 = 60 > 21
    c = out["c.com"]
    assert c["n_docs"] == 4 and c["dup_docs"] == 4  # identical junk texts
    assert c["verdict"] == "block"  # dup rule AND the quality floor
    assert c["sum_q_micro"] < 300000 * 4
    # all-integer output schema: no floating point anywhere
    kinds = {f.dataType.simpleString() for f in domain_profile(docs).schema.fields}
    assert kinds <= {"string", "bigint"}, kinds


def test_domain_profile_non_divisor_p(spark):
    """``block_dup_per_20`` that does not divide 20 blocks above exactly
    p/20: at p=3, 4 dup docs of 25 (0.16) block, above 3/20 and below the
    1/6 that the old ``int(20 // p)`` multiplier blocked at; 3 of 25
    (0.12) keep. Both sources' mean quality stays above the cut, so only
    the dup rule decides."""
    from image_search_indexing_spark.operators.curation import domain_profile

    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = []
    for src, n_dup in (("d.com", 4), ("e.com", 3)):
        rows += [(src, good + f" {src} copy") for _ in range(n_dup)]
        rows += [(src, good + f" {src} unique {i}") for i in range(25 - n_dup)]
    docs = spark.createDataFrame(
        [(i, t, "en", s, 10) for i, (s, t) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    out = {r["source"]: r for r in domain_profile(docs, block_dup_per_20=3).collect()}
    for src, n_dup, verdict in (("d.com", 4, "block"), ("e.com", 3, "keep")):
        r = out[src]
        assert (r["n_docs"], r["dup_docs"], r["verdict"]) == (25, n_dup, verdict)
        assert r["sum_q_micro"] >= 300_000 * 25
