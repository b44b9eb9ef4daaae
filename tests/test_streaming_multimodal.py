"""Streaming ingest smoke + multimodal plumbing tests."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_streaming_extraction_matches_batch(spark, corpus, tmpdir_path):
    """The streaming path must produce exactly the batch extraction rows."""
    from image_search_indexing_spark.frontier.extract import media_refs
    from image_search_indexing_spark.streaming.ingest import run_to_memory

    docs, meta = corpus["docs"], corpus["meta"]
    src = f"{tmpdir_path}/stream_src"
    docs.join(meta, "doc_id").write.mode("overwrite").parquet(src)

    got = run_to_memory(spark, src, "t_refs")
    want = media_refs(docs, meta).where(
        F.col("drop_reason").isNull()
    )
    key = lambda df: sorted(
        (r["doc_id"], r["offset"], r["url_hash"]) for r in df.select("doc_id", "offset", "url_hash").collect()
    )
    assert key(got) == key(want)


def test_streaming_windowed_counts(spark, corpus, tmpdir_path):
    from image_search_indexing_spark.streaming.ingest import (
        host_discovery_counts,
        read_document_stream,
        streaming_refs,
    )

    docs, meta = corpus["docs"], corpus["meta"]
    src = f"{tmpdir_path}/stream_src2"
    docs.join(meta, "doc_id").write.mode("overwrite").parquet(src)
    agg = host_discovery_counts(streaming_refs(read_document_stream(spark, src)))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_counts")
        .option("checkpointLocation", f"{tmpdir_path}/ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # append-mode windows only emit once the watermark passes; with a finite
    # file source the final windows stay open — assert the query ran clean
    rows = spark.sql("SELECT * FROM t_counts").collect()
    assert isinstance(rows, list)


def test_multimodal_decode_and_gates(spark):
    from image_search_indexing_spark.operators.multimodal import (
        decode_image_meta,
        sample_frames,
        size_gate,
        sniff_mime,
        thumbnail_dims,
    )

    jpeg = (
        b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (240).to_bytes(2, "big") + (320).to_bytes(2, "big") + bytes(10)
    )
    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (800).to_bytes(4, "big") + (600).to_bytes(4, "big") + bytes(5)
    )
    gif = b"GIF89a" + (64).to_bytes(2, "little") + (48).to_bytes(2, "little") + b"z" * 10
    payloads = [
        ("a", jpeg),
        ("b", png),
        ("c", gif),
        ("d", b"RIFFxxxxWEBP" + b"w" * 8),  # webp (dims not parsed)
        ("e", b"plainbytes"),  # unknown
    ]
    assert sniff_mime(payloads[0][1]) == "image/jpeg"
    assert sniff_mime(payloads[3][1]) == "image/webp"
    assert sniff_mime(payloads[4][1]) == "application/octet-stream"

    df = spark.createDataFrame(payloads, "media_id string, payload binary")
    meta = decode_image_meta(df)
    rows = {r["media_id"]: r for r in meta.collect()}
    assert rows["a"]["mime_detected"] == "image/jpeg"
    assert rows["b"]["mime_detected"] == "image/png"
    # REAL header-parsed dimensions
    assert (rows["a"]["width"], rows["a"]["height"]) == (320, 240)
    assert (rows["b"]["width"], rows["b"]["height"]) == (800, 600)
    assert (rows["c"]["width"], rows["c"]["height"]) == (64, 48)
    assert rows["d"]["width"] is None and rows["e"]["width"] is None
    assert all(r["n_bytes"] > 0 for r in rows.values())

    gated = size_gate(meta)
    assert {r["media_id"] for r in gated.collect()} == {"a", "b"}  # gif 64x48 < 51 high

    tw, th = thumbnail_dims(F.col("width"), F.col("height"))
    dims = meta.where(F.col("width").isNotNull()).select(
        "media_id", tw.alias("tw"), th.alias("th")
    ).collect()
    assert all(1 <= r["tw"] <= 200 and 1 <= r["th"] <= 200 for r in dims)

    frames = sample_frames(df)
    frows = frames.collect()
    assert len(frows) > 0
    assert all(r["frame"] is not None and r["ts_ms"] == r["frame_idx"] * 1000 for r in frows)


def test_attach_thumbnails_real_bytes(spark):
    """F10 byte-level thumbnail in ``decode_image_meta(thumbnails=True)``'s
    Arrow batch pass: PNG payloads get REAL resampled PNG thumbnails
    (decoded back and checked pixel-for-pixel), gif keeps its ORIGINAL
    bytes (ImageParse.java:131-134), undecodable containers get NULLs."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        decode_image_meta,
        decode_png,
        encode_png,
        resize_nearest,
    )

    y, x = np.mgrid[0:240, 0:400]
    big = np.stack([x % 256, y % 256, (x * 3 + y) % 256], axis=2).astype(np.uint8)
    small = np.full((60, 60, 3), 17, np.uint8)
    gif = b"GIF87a" + (120).to_bytes(2, "little") + (90).to_bytes(2, "little") + b"x"
    rows = [
        ("big", bytearray(encode_png(big))),
        ("small", bytearray(encode_png(small))),
        ("jpeg", bytearray(b"\xff\xd8\xff\xe0 not decodable here")),
        ("gif", bytearray(gif)),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = {r["media_id"]: r for r in decode_image_meta(df, thumbnails=True).collect()}

    assert (out["big"]["thumb_width"], out["big"]["thumb_height"]) == (200, 120)
    got = decode_png(bytes(out["big"]["thumb"]))
    assert np.array_equal(got, resize_nearest(big, 200, 120))
    # either dim under the box: original size kept (ImageParse.java:146-147)
    assert (out["small"]["thumb_width"], out["small"]["thumb_height"]) == (60, 60)
    assert np.array_equal(decode_png(bytes(out["small"]["thumb"])), small)
    assert out["jpeg"]["thumb"] is None and out["jpeg"]["thumb_width"] is None
    assert bytes(out["gif"]["thumb"]) == gif
    assert (out["gif"]["thumb_width"], out["gif"]["thumb_height"]) == (120, 90)


def test_simhash_and_ann(spark):
    """rows-only operators still deserve unit checks: simhash similarity
    ordering + the LSH ANN's recall@5 against brute force, and its sims
    equal the exact cosines."""
    from image_search_indexing_spark.operators.dedup import simhash64
    from image_search_indexing_spark.operators.similarity import ann_topk_lsh, cosine_topk

    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words entirely unrelated content"),
    ]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])

    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vec = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    q = emb.where(F.col("vec_id") < 16)
    c = emb.where(F.col("vec_id") >= 16)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(q, c, k=5).collect()}
    assert len(exact) == 16 * 5
    # recall@5 floors per plane count (the planes are seeded, so these are
    # fixed values with two pairs of slack: measured 0.1375 / 0.35 on this
    # corpus, against 1/16 and 1/4 for a random bucket of its random
    # vectors)
    for n_planes, floor in {4: 0.1125, 2: 0.325}.items():
        ann = ann_topk_lsh(q, c, dim=64, k=5, n_planes=n_planes).collect()
        recall = len({(r["query_id"], r["neighbor_id"]) for r in ann} & exact) / len(exact)
        assert recall >= floor, (n_planes, recall)
        for r in ann:
            a, b = vec[r["query_id"]], vec[r["neighbor_id"]]
            cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
            assert r["sim"] == pytest.approx(cos, abs=1e-6), r


def test_audio_features_and_sniff(spark):
    """Audio leg of the multimodal family: magic-byte MIME (real) + the
    windowed feature plumbing (deterministic stub kernel)."""
    import hashlib

    from image_search_indexing_spark.operators.multimodal import (
        extract_audio_features,
        sniff_mime,
    )

    wav = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"x" * 50_000
    mp3 = b"ID3" + b"\x03" * 13 + b"y" * 20_000
    assert sniff_mime(wav) == "audio/wav"
    assert sniff_mime(mp3) == "audio/mpeg"
    assert sniff_mime(b"OggS" + b"z" * 40) == "audio/ogg"

    df = spark.createDataFrame(
        [("a1", bytearray(wav)), ("a2", bytearray(mp3)), ("a3", None)],
        "media_id string, payload binary",
    )
    out = {r["media_id"]: r for r in extract_audio_features(df).collect()}
    assert set(out) == {"a1", "a2"}  # null payloads dropped
    r = out["a1"]
    assert r["mime_detected"] == "audio/wav"
    assert r["n_bytes"] == len(wav)
    assert r["duration_ms_est"] == len(wav) * 8000 // 128_000
    bpw = 128_000 // 8  # 1s windows at the assumed bitrate
    assert r["n_windows"] == (len(wav) + bpw - 1) // bpw
    # deterministic fingerprint (same fold as the kernel)
    fp = 0
    for w in range(r["n_windows"]):
        chunk = wav[w * bpw : (w + 1) * bpw]
        fp ^= int.from_bytes(hashlib.md5(chunk).digest()[:8], "big") >> 1
    assert r["loudness_fp"] == fp


def test_audio_real_wav_and_mp4_timeline(spark):
    """REAL multimodal paths through the Arrow surface: a PCM WAV payload
    gets exact duration, real per-window RMS loudness and sample_rate;
    an MP4 payload's frame-sample timeline comes from its mvhd duration."""
    import io
    import wave

    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        extract_audio_features,
        sample_frames,
    )

    rate = 8000
    t = np.arange(rate * 2)
    pcm = np.concatenate([np.sin(2 * np.pi * 220 * t / rate), np.zeros(rate)])
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((pcm * 32767).astype("<i2").tobytes())
    wav = buf.getvalue()

    # FLAC payload (spec-encoder fixture from test_kernels) must ride the
    # SAME real DSP path: exact duration + real loudness + sample_rate
    from tests.test_kernels import _flac_frame, _flac_stream

    square = [8192, -8192] * 512  # RMS = 8192/32768 = 0.25 → −12.0412 dBFS
    flac = _flac_stream(
        [_flac_frame(0, [square], 16, "indep", ["verbatim"])],
        rate=1024, nch=1, bps=16, total=1024,
    )

    df = spark.createDataFrame(
        [("w1", bytearray(wav)), ("f1", bytearray(flac))],
        "media_id string, payload binary",
    )
    rows = {r["media_id"]: r for r in extract_audio_features(df).collect()}
    r = rows["w1"]
    assert r["mime_detected"] == "audio/wav"
    assert r["duration_ms_est"] == 3000  # EXACT from sample count, not bitrate
    assert r["n_windows"] == 3 and r["sample_rate"] == rate
    # mean of [-3.01, -3.01, -200] dBFS
    assert abs(r["rms_db_mean"] - (2 * -3.0103 + -200.0) / 3) < 0.02
    f = rows["f1"]
    assert f["mime_detected"] == "audio/flac"
    assert f["duration_ms_est"] == 1000 and f["sample_rate"] == 1024
    assert f["n_windows"] == 1
    assert abs(f["rms_db_mean"] - 20 * np.log10(0.25)) < 1e-9

    def box(typ, body):
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    mvhd = box(
        b"mvhd",
        bytes(4) + bytes(8) + (1000).to_bytes(4, "big") + (3500).to_bytes(4, "big") + bytes(80),
    )
    mp4 = box(b"ftyp", b"isom\x00\x00\x02\x00") + box(b"moov", mvhd + box(b"trak", b""))
    vdf = spark.createDataFrame([("v1", bytearray(mp4))], "media_id string, payload binary")
    frames = sample_frames(vdf).collect()
    # 3500 ms at 1000 ms spacing → 4 samples on the REAL timeline
    assert [f["ts_ms"] for f in frames] == [0, 1000, 2000, 3000]


def test_ivf_topk_degenerates_to_exact_and_recalls(spark):
    """IVF invariants: probing ALL inverted lists == brute-force cosine
    top-k exactly; probing a fraction keeps recall well above chance."""
    from image_search_indexing_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    import pyspark.sql.functions as F

    q = emb.where(F.col("vec_id") < 16)
    c = emb.where(F.col("vec_id") >= 16)

    exact = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in cosine_topk(q, c, k=5).collect()}
    full_probe = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(q, c, k=5, n_centroids=8, nprobe=8).collect()
    }
    assert full_probe == exact  # nprobe == n_centroids ⇒ exhaustive

    # recall@5 floors across coarse-quantizer settings (training is
    # deterministic, so these are fixed values with a little slack:
    # measured 0.7125 / 0.8 / 0.6875 on this corpus)
    exact_pairs = {(a, b) for a, b, _ in exact}
    floors = {(8, 3): 0.70, (16, 8): 0.75, (4, 2): 0.65}
    for (nc, npr), floor in floors.items():
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(q, c, k=5, n_centroids=nc, nprobe=npr).collect()
        }
        recall = len(approx & exact_pairs) / len(exact_pairs)
        assert recall >= floor, (nc, npr, recall)


def test_synthetic_media_binary_roundtrip(spark):
    """Binary closed-form payloads (r4): every generated PNG/BMP/GIF/JPEG
    container must (a) sniff to its real MIME from magic bytes, (b)
    header-parse to the generator's ground-truth dims, (c) reproduce the
    documented fixture classes (tiny/huge/truncated/extreme-aspect)."""
    from image_search_indexing_spark.operators.multimodal import (
        parse_image_dims,
        sniff_mime,
    )
    from image_search_indexing_spark.sources.mediagen import synthetic_media_binary

    docs = spark.range(0, 300).withColumnRenamed("id", "doc_id")
    rows = synthetic_media_binary(docs).collect()
    assert len(rows) == 300
    mimes = {"png": "image/png", "bmp": "image/bmp", "gif": "image/gif",
             "jpeg": "image/jpeg"}
    seen_classes = set()
    for r in rows:
        k = r["doc_id"] % 97
        s = k % 11
        data = bytes(r["payload"])
        assert sniff_mime(data) == mimes[r["fmt"]], (r["doc_id"], r["fmt"])
        w, h = parse_image_dims(data)
        if s == 2:
            assert (w, h) == (None, None)  # truncated: magic only
            seen_classes.add("truncated")
        elif s == 0:
            assert (w, h) == (10, 10)
            seen_classes.add("tiny")
        elif s == 1:
            assert (w, h) == (15001, 15001)
            seen_classes.add("huge")
        elif s == 3:
            assert (w, h) == (81000, 400)  # >200:1 aspect, gates pass
            seen_classes.add("aspect")
        else:
            assert (w, h) == (16 + (k * 7) % 1200, 16 + (k * 13) % 900)
    assert seen_classes == {"truncated", "tiny", "huge", "aspect"}
    # identical k ⇒ identical bytes (content key coarser than doc_id):
    by_k = {}
    for r in rows:
        by_k.setdefault(r["doc_id"] % 97, set()).add(bytes(r["payload"]))
    assert all(len(v) == 1 for v in by_k.values())


def test_streaming_phash_matches_batch(spark, tmpdir_path):
    """Per-payload pHashing is micro-batch-safe: the same BMP payloads
    streamed through phash_frame (file source → Arrow mapInPandas →
    memory sink) produce exactly the batch hashes — the fingerprint
    stage can ride a live ingest without a separate code path."""
    from image_search_indexing_spark.operators.multimodal import phash_frame
    from image_search_indexing_spark.sources.mediagen import synthetic_media_bmp_pixels

    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    media = synthetic_media_bmp_pixels(docs)
    src = f"{tmpdir_path}/phash_src"
    media.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(media.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        phash_frame(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_phash")
        .option("checkpointLocation", f"{tmpdir_path}/phash_ckpt")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r["doc_id"]: r["phash"] for r in spark.sql("SELECT * FROM t_phash").collect()}
    want = {r["doc_id"]: r["phash"] for r in phash_frame(media).collect()}
    assert got == want and len(want) == 40
