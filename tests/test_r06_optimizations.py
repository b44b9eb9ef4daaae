"""Round-6 optimization pins: every rewrite that changed an operator's
INTERNALS (not its contract) gets a test proving the new path equals the
old semantics on inputs that exercise the tricky cases.

Covered rewrites:
- vectorized-numpy media generators == the JVM closed forms, byte-for-byte
  (incl. every content class and both bottom-up row orders);
- minhash_bands' explode + MIN aggregates == the array_min(transform(md5))
  definition, including the zero-shingle NULL-signature doc;
- near_dup_pairs' per-bucket BLAS kernel == the per-pair HOF cosine filter;
- cosine_topk's batch-local-top-k numpy kernel == DuckDB's
  list_cosine_similarity top-k in the oracle SQL's shape (ranks identical,
  ties broken by neighbor_id), with each id typed as on its own side, and
  an empty query side yields the declared schema.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _bmp_reference_payload(did: int) -> bytes:
    """Independent re-derivation of the documented BMP closed form."""
    k, v = did % 41, did % 3
    w, h = 16 + (k % 5) * 4, 16 + (k % 3) * 8
    header = (
        bytes.fromhex("424D46000000000000003600000028000000")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + bytes.fromhex("01001800")
        + b"\x00" * 24
    )
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        for x in range(w):
            body += bytes(
                (
                    (k * 3 + x * 5 + y * 11) % 256,
                    (k * 7 + x * 13 + y * 3) % 256,
                    (k * 11 + x * 2 + y * 7 + v) % 256,
                )
            )
    return header + bytes(body)


def _wav_reference_payload(did: int) -> bytes:
    kk, v = did % 29, did % 2
    n = 416
    hdr = (
        b"RIFF" + (n + 36).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + b"\x01\x00\x01\x00" + (8000).to_bytes(4, "little")
        + (8000).to_bytes(4, "little") + b"\x01\x00\x08\x00"
        + b"data" + n.to_bytes(4, "little")
    )
    out = bytearray()
    for g in range(n):
        base = ((g + kk * 3) ** 2) % 251 + (g * (kk % 13 + 1)) % 31 * 3
        pert = 1 if (v == 1 and g < 64 and g % 16 == 0) else 0
        out.append((base + pert) % 256)
    return hdr + bytes(out)


def test_bmp_generator_matches_closed_form(spark):
    """One doc per (k, v) content class (123 classes) + the memo-hit path."""
    from image_search_indexing_spark.sources.mediagen import synthetic_media_bmp_pixels

    ids = list(range(123)) + [123, 124, 4100]  # 123/124 repeat classes 0/1 mod keys
    d = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthetic_media_bmp_pixels(d).collect()
    }
    assert set(got) == set(ids)
    for did in ids:
        assert got[did] == _bmp_reference_payload(did), f"doc {did}"


def test_wav_generator_matches_closed_form(spark):
    from image_search_indexing_spark.sources.mediagen import synthetic_media_wav_samples

    ids = list(range(58)) + [58, 1000]
    d = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: bytes(r["payload"])
        for r in synthetic_media_wav_samples(d).collect()
    }
    for did in ids:
        assert got[did] == _wav_reference_payload(did), f"doc {did}"


def test_avi_generator_decodes_to_closed_form_frames(spark):
    """The byte layout is pinned transitively: the REAL container walk +
    DIB decode must recover exactly the documented per-frame constant
    colors for every (w, h, nf) combination."""
    from image_search_indexing_spark.operators.multimodal import extract_video_frames
    from image_search_indexing_spark.sources.mediagen import synthetic_media_avi

    ids = list(range(24))  # covers all (did%3, did%2, did%4) combos
    d = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    media = synthetic_media_avi(d).select(
        F.col("doc_id").cast("string").alias("media_id"), "payload"
    )
    rows = extract_video_frames(media).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(int(r["media_id"]), []).append(r)
    for did in ids:
        frames = sorted(by_doc[did], key=lambda r: r["frame_idx"])
        assert len(frames) == 1 + did % 4
        for f, r in enumerate(frames):
            assert r["decoded"] and r["width"] == 8 + (did % 3) * 4
            assert r["height"] == 8 + (did % 2) * 8
            # constant-color frame: channel means are the exact bytes
            assert r["mean_r"] == (did * 7 + f * 13) % 256
            assert r["mean_g"] == (did * 11 + f * 17) % 256
            assert r["mean_b"] == (did * 3 + f * 29) % 256
            assert r["ts_ms"] == f * (40000 + (did % 3) * 20000) // 1000


def test_minhash_bands_explode_agg_equals_hof_definition(spark):
    """The explode + K MIN aggregates must equal the definitional
    array_min(transform(md5(i|s))) per doc — including a doc with ZERO
    tokens, whose per-hash MIN must be NULL (array_min([]) semantics) and
    whose band hashes must still be emitted (md5 of the empty concat)."""
    from image_search_indexing_spark.functions import text as TX
    from image_search_indexing_spark.operators.dedup import minhash_bands

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "one two"),          # fewer tokens than shingle_words -> 1 shingle
        (4, "!!! ..."),          # zero tokens -> empty shingle array
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["band"]): r["band_hash"]
        for r in minhash_bands(docs, k=8, bands=4).collect()
    }
    # definitional twin, straight from the docstring contract
    sh = TX.word_shingles(F.col("text"), 3)

    def _minhash(i):
        # NOTE: a two-arg lambda would make transform() bind the ELEMENT
        # INDEX to the second parameter — closure factory keeps i fixed
        return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))))

    sig = F.array(*[_minhash(i) for i in range(8)])
    band_cols = [
        F.md5(F.concat_ws("|", F.col("sig")[2 * b], F.col("sig")[2 * b + 1])).alias(f"b{b}")
        for b in range(4)
    ]
    want_rows = docs.select(F.col("doc_id"), sig.alias("sig")).select(
        "doc_id", *band_cols
    ).collect()
    want = {
        (r["doc_id"], b): r[f"b{b}"] for r in want_rows for b in range(4)
    }
    assert got == want
    assert (4, 0) in got  # the zero-token doc still bands


def test_near_dup_pairs_numpy_kernel_equals_hof_filter(spark):
    """The per-bucket BLAS kernel must emit exactly the pairs the per-pair
    HOF cosine filter emits on vectors with margin around the threshold."""
    from image_search_indexing_spark.operators.similarity import (
        cosine,
        hyperplane_signature,
        near_dup_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    vecs = [base[i] for i in range(40)]
    # add correlated near-dups so the threshold actually fires
    for i in range(0, 40, 5):
        vecs.append(base[i] + 0.05 * rng.randn(16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(emb, dim=16, threshold=0.35, n_planes=3).collect()
    }
    # definitional HOF twin (the pre-round-6 plan shape)
    sig = hyperplane_signature(F.col("v"), 16, 3)
    v = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("bucket", sig)
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine(F.col("va"), F.col("vb")) >= 0.35)
        .select("id_a", "id_b")
        .collect()
    }
    assert got == want and len(got) > 0


def test_near_dup_pairs_repeated_ids(spark):
    """An id that repeats inside a bucket pairs with neither itself nor
    any partner twice: ids 1 and 3 each appear twice, all four rows and
    id 2 nearly parallel (one bucket), id 4 orthogonal to them."""
    from image_search_indexing_spark.operators.similarity import near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.01, 0.0]),
        (3, [1.0, 0.0, 0.0, 0.01]),
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [tuple(r) for r in near_dup_pairs(emb, dim=4, threshold=0.9, n_planes=1).collect()]
    assert sorted(got) == [(1, 2), (1, 3), (2, 3)], got


def _duckdb_topk(q_rows, c_rows, k):
    """The cosine_topk oracle SQL's shape (``__spark_entry__.oracle_sql()``)
    over (vec_id, embedding) rows, scored by DuckDB's
    list_cosine_similarity: {(query_id, neighbor_id, rank)}."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    for name, rows in (("q", q_rows), ("c", c_rows)):
        con.register(name, pa.table({
            "vec_id": [r[0] for r in rows],
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
        }))
    return set(con.execute(f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding, c.embedding) AS sim
          FROM q, c)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= {k}
    """).fetchall())


def _topk_rows(df):
    return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect()}


def test_cosine_topk_equals_duckdb_oracle(spark):
    from image_search_indexing_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(24)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 8)
    c = emb.where(F.col("vec_id") >= 8)
    got = _topk_rows(cosine_topk(q, c, k=5))
    assert got == _duckdb_topk(rows[:8], rows[8:], 5) and len(got) == 8 * 5


def test_cosine_topk_numpy_empty_queries(spark):
    """An empty query side yields an empty frame with the declared schema
    (the numpy kernel used to raise while building the plan)."""
    from pyspark.sql.types import IntegerType, LongType

    from image_search_indexing_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(emb.where(F.col("vec_id") < 0), emb, k=3)
    assert out.collect() == []
    assert [(f.name, f.dataType) for f in out.schema] == [
        ("query_id", LongType()), ("neighbor_id", LongType()), ("rank", IntegerType())
    ]


def test_cosine_topk_numpy_ids_keep_their_side_types(spark):
    """Int query ids and bigint corpus ids: each output id keeps its own
    side's type, also for an empty query side, and the ranks equal the
    DuckDB oracle's."""
    from pyspark.sql.types import IntegerType, LongType

    from image_search_indexing_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(5)
    q_rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(4)]
    c_rows = [(10_000_000_000 + i, [float(x) for x in rng.randn(6)]) for i in range(40)]
    q = spark.createDataFrame(q_rows, "vec_id int, embedding array<double>")
    c = spark.createDataFrame(c_rows, "vec_id bigint, embedding array<double>")
    types = lambda df: {f.name: f.dataType for f in df.schema}  # noqa: E731
    want = {"query_id": IntegerType(), "neighbor_id": LongType(), "rank": IntegerType()}
    out = cosine_topk(q, c, k=3)
    got = _topk_rows(out)
    assert types(out) == want
    assert got == _duckdb_topk(q_rows, c_rows, 3) and len(got) == 4 * 3
    empty = cosine_topk(q.where(F.col("vec_id") < 0), c, k=3)
    assert empty.collect() == [] and types(empty) == want
