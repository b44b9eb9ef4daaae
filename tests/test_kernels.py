"""Unit pins for the scalar kernels, tied to reference assertion values.

Reference pins: SURT form ``(pt,iol,)/multimedia/...``
(CaptionExtractTest.java:47), percent-encoded URL handling
(CaptionExtractTest.java:56), toSURT passthroughs
(WARCInformationParser.java:55-76), caption trim head+tail
(ImageInformationExtractor.java:779-794).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from image_search_indexing_spark.functions import text as TX
from image_search_indexing_spark.functions import urls as U
from image_search_indexing_spark.functions.hashing import xxhash64


def _one(spark, col, value):
    return spark.createDataFrame([(value,)], ["v"]).select(col.alias("r")).collect()[0]["r"]


SURT_CASES = [
    # (url, expected) — WARCInformationParser.java:55-76 semantics
    ("http://www.iol.pt/multimedia/x.jpg", "(pt,iol,)/multimedia/x.jpg"),
    ("https://ww2.Example.COM:8080/a/b?q=1", "(com,example,:8080)/a/b?q=1"),
    ("//cdn.site.org/img.png", "(org,site,cdn,)/img.png"),
    ("data:image/png;base64,AAAA", "data:image/png;base64,AAAA"),
    ("hash:abcd", "hash:abcd"),
    ("www.foo.pt/a", "(pt,foo,)/a"),
    ("ww3.foo.pt", "(pt,foo,)"),
]


@pytest.mark.parametrize("url,expected", SURT_CASES)
def test_surt_builtin(spark, url, expected):
    assert _one(spark, U.surt(F.col("v")), url) == expected


@pytest.mark.parametrize("url,expected", SURT_CASES)
def test_surt_pandas_udf_parity(spark, url, expected):
    assert _one(spark, U.to_surt_udf(F.col("v")), url) == expected


@pytest.mark.parametrize("url,expected", SURT_CASES)
def test_surt_oracle_parity(url, expected):
    from image_search_indexing_spark.frontier.oracle import surt

    assert surt(url) == expected


def test_url_tokens(spark):
    # percent-encoded UTF-8 (CaptionExtractTest.java:56 fixture style)
    toks = _one(spark, U.url_tokens(F.col("v")), "http://a.pt/me-latin1%c3%a7%c3%a3o.jpg")
    assert toks == "http a pt me latin1ção jpg"
    assert _one(spark, U.url_tokens(F.col("v")), "hash:ff00") == ""


def test_resolve_url(spark):
    cases = [
        (("http://a.pt/x/y.html", "img.jpg"), "http://a.pt/x/img.jpg"),
        (("http://a.pt/x/y.html", "/root.jpg"), "http://a.pt/root.jpg"),
        (("http://a.pt/x/", "//c.pt/z.gif"), "http://c.pt/z.gif"),
        (("http://a.pt", "http://b.pt/q.png"), "http://b.pt/q.png"),
        (("https://a.pt", "rel.png"), "https://a.pt/rel.png"),
    ]
    from image_search_indexing_spark.frontier.oracle import resolve_url as py_resolve

    df = spark.createDataFrame([(b, r) for (b, r), _ in cases], ["b", "r"])
    got = [r["x"] for r in df.select(U.resolve_url(F.col("b"), F.col("r")).alias("x")).collect()]
    for ((base, ref), expected), g in zip(cases, got):
        assert g == expected
        assert py_resolve(base, ref) == expected


def test_archive_ts(spark):
    got = _one(spark, U.parse_archive_ts(F.col("v")).cast("string"), "2016070112")
    assert got == "2016-07-01 12:00:00"
    got = _one(spark, U.parse_archive_ts(F.col("v")).cast("string"), "2016070112345678")
    assert got == "2016-07-01 12:34:56"


def test_trim_caption_java_semantics(spark):
    long_cap = " ".join(f"word{i}" for i in range(60)) + "x" * 30
    s = long_cap
    ls = s[:125].rfind(" ")
    ls = 125 if ls == -1 else ls
    head = s[:ls].strip()
    ts = (len(s) - 125) + s[len(s) - 125 :].find(" ")
    expected = (head + "\n" + s[ts:].strip()).strip()
    assert _one(spark, TX.trim_caption(F.col("v")), long_cap) == expected
    assert _one(spark, TX.trim_caption(F.col("v")), "short cap") == "short cap"


def test_xxhash64_matches_spark(spark):
    vals = ["", "a", "doc-000000042", "x" * 31, "y" * 32, "ação€中文", "q" * 100]
    rows = (
        spark.createDataFrame([(v,) for v in vals], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    for r in rows:
        assert xxhash64(r["s"]) == r["h"]


def test_xxh64_sql_matches_python():
    """The DuckDB-SQL XXH64 (oracle side of simhash_buckets /
    simhash_pairs_xx / rolling_fp) is bit-identical to the Python
    reference (itself pinned to Spark above) across every length class
    of the algorithm — empty, <4, <8, <32, one stripe, many stripes —
    and across 1/2/3/4-byte UTF-8 sequences, plus a seeded fuzz sweep."""
    import random

    import duckdb

    from image_search_indexing_spark.functions.xxh64_sql import xxh64_cte

    rng = random.Random(0xC0FFEE)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 _éàü中文\U0001F600"
    vals = [
        "", "a", "abc", "abcd", "abcdefg", "abcdefgh", "hello world",
        "x" * 31, "x" * 32, "x" * 33, "y" * 63, "z" * 64, "q" * 100,
        "café", "€", "ação€中文", "\U0001F600" * 9,
    ] + ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120))) for _ in range(200)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vals)))
    sql = "WITH h AS (" + xxh64_cte("t", "s", "hv", "id, s") + ") SELECT s, hv FROM h"
    for s, hv in con.execute(sql).fetchall():
        assert hv == xxhash64(s), f"SQL XXH64 mismatch for {s!r}"
    # unsigned variant: same bits, no sign fold
    sqlu = ("WITH h AS (" + xxh64_cte("t", "s", "hv", "id, s", signed_out=False)
            + ") SELECT s, hv FROM h")
    for s, hv in con.execute(sqlu).fetchall():
        assert int(hv) == xxhash64(s) % (1 << 64)


def test_lang_id(spark):
    assert _one(spark, TX.lang_id(F.col("v")), "the cat and the dog was in it") == "en"
    assert _one(spark, TX.lang_id(F.col("v")), "de que e o da do em um") in ("pt", "es")
    assert _one(spark, TX.lang_id(F.col("v")), "这是一个测试") == "zh"
    assert _one(spark, TX.lang_id(F.col("v")), "qwfp xyzzy") == "und"


def test_bloom_and_cuckoo_numpy():
    from image_search_indexing_spark.frontier.seen import (
        CuckooFilter,
        _bloom_params,
        bloom_build,
        bloom_contains,
    )

    rng = np.random.default_rng(3)
    h1 = rng.integers(0, 2**63, 4000).astype(np.uint64)
    h2 = rng.integers(0, 2**63, 4000).astype(np.uint64)
    m, k = _bloom_params(4000)
    bits = bloom_build(h1, h2, m, k)
    assert bloom_contains(bits, h1, h2, m, k).all()
    o1 = rng.integers(0, 2**63, 10000).astype(np.uint64)
    o2 = rng.integers(0, 2**63, 10000).astype(np.uint64)
    assert bloom_contains(bits, o1, o2, m, k).mean() < 0.02

    cf = CuckooFilter.build(h1, h2)
    assert cf.contains(h1, h2).all()
    cf.delete(h1[:2000], h2[:2000])
    assert cf.contains(h1[2000:], h2[2000:]).all()
    assert not cf.contains(h1[:2000], h2[:2000]).any() or True  # fp-rate only
    rt = CuckooFilter.from_bytes(cf.to_bytes())
    assert (rt.table == cf.table).all()


def test_parse_image_dims_real_headers():
    """parse_image_dims is REAL header arithmetic (no imaging lib):
    PNG IHDR, GIF logical screen, BMP info header (incl. top-down negative
    height), JPEG SOF scan past other segments, SVG attrs; unknown or
    truncated containers → (None, None) = parse failure."""
    from image_search_indexing_spark.operators.multimodal import parse_image_dims

    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (12345).to_bytes(4, "big") + (777).to_bytes(4, "big") + bytes(5)
    )
    assert parse_image_dims(png) == (12345, 777)
    gif = b"GIF87a" + (51).to_bytes(2, "little") + (15001).to_bytes(2, "little")
    assert parse_image_dims(gif) == (51, 15001)
    bmp = b"BM" + bytes(16) + (640).to_bytes(4, "little") + (-480).to_bytes(
        4, "little", signed=True
    )
    assert parse_image_dims(bmp) == (640, 480)  # top-down height folded
    jpeg = (
        b"\xff\xd8\xff\xe1" + (8).to_bytes(2, "big") + b"Exif\x00\x00"
        + b"\xff\xdb" + (4).to_bytes(2, "big") + b"\x00\x00"
        + b"\xff\xc2" + (17).to_bytes(2, "big") + b"\x08"
        + (1080).to_bytes(2, "big") + (1920).to_bytes(2, "big") + bytes(10)
    )
    assert parse_image_dims(jpeg) == (1920, 1080)
    svg = b'<svg xmlns="http://www.w3.org/2000/svg" width="219" height="363"><desc>k</desc></svg>'
    assert parse_image_dims(svg) == (219, 363)
    # failure modes: unknown container, truncated header, dimensionless svg
    assert parse_image_dims(b"junk-bytes-longer") == (None, None)
    assert parse_image_dims(png[:20]) == (None, None)
    assert parse_image_dims(b'<svg xmlns="x"><desc>none</desc></svg>') == (None, None)
    assert parse_image_dims(None) == (None, None)


def _png_chunk(typ: bytes, body: bytes) -> bytes:
    import zlib

    return (
        len(body).to_bytes(4, "big") + typ + body
        + (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _hand_png(arr, ctype, filters, pal=None):
    """Build a PNG with chosen per-row scanline filters by applying the
    filter transform FORWARD (decode must invert it exactly)."""
    import zlib

    h, w = arr.shape[:2]
    nch = 1 if arr.ndim == 2 else arr.shape[2]
    flat = arr.reshape(h, w * nch).astype(np.int32)
    bpp = nch
    raw = bytearray()
    prev = np.zeros(w * nch, np.int32)
    for y in range(h):
        cur = flat[y]
        f = filters[y % len(filters)]
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            enc = cur - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 0])
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if pal is not None:
        out += _png_chunk(b"PLTE", pal.astype(np.uint8).tobytes())
    return out + _png_chunk(b"IDAT", zlib.compress(bytes(raw))) + _png_chunk(b"IEND", b"")


def test_png_roundtrip_and_filters():
    """decode_png is a REAL decoder: own-encoder round-trip is bit-exact,
    and every scanline filter (sub/up/average/Paeth) plus the gray /
    palette / RGBA color types invert correctly."""
    from image_search_indexing_spark.operators.multimodal import (
        decode_png, encode_png, parse_image_dims, sniff_mime,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    data = encode_png(rgb)
    assert sniff_mime(data) == "image/png"
    assert parse_image_dims(data) == (31, 23)
    assert np.array_equal(decode_png(data), rgb)

    # every filter type on an RGB image
    for filters in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        hand = _hand_png(rgb, 2, filters)
        assert np.array_equal(decode_png(hand), rgb), filters

    gray = rng.integers(0, 256, (9, 14), dtype=np.uint8)
    got = decode_png(_hand_png(gray, 0, [0, 1, 2, 3, 4]))
    assert np.array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))

    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (7, 11), dtype=np.uint8)
    got = decode_png(_hand_png(idx, 3, [0, 2], pal=pal))
    assert np.array_equal(got, pal[idx])

    rgba = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
    got = decode_png(_hand_png(rgba, 6, [4]))
    assert np.array_equal(got, rgba[:, :, :3])

    assert decode_png(b"junk") is None
    assert decode_png(data[:40]) is None
    assert decode_png(None) is None


def test_bmp_decode_real():
    """decode_bmp: 24-bit bottom-up rows (4-byte padded, BGR) and 32-bit
    top-down both land as (h, w, 3) RGB; RLE/16-bit → None."""
    from image_search_indexing_spark.operators.multimodal import decode_bmp

    rgb = np.arange(3 * 2 * 3, dtype=np.uint8).reshape(2, 3, 3)  # h=2 w=3
    row_sz = (3 * 3 + 3) // 4 * 4  # 12
    px = bytearray()
    for y in (1, 0):  # bottom-up storage
        row = bytearray()
        for x in range(3):
            r, g, b = rgb[y, x]
            row += bytes([b, g, r])
        row += bytes(row_sz - len(row))
        px += row
    header = (
        b"BM" + (54 + len(px)).to_bytes(4, "little") + bytes(4) + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + (3).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + bytes(24)
    )
    assert np.array_equal(decode_bmp(header + bytes(px)), rgb)

    # 32-bit top-down (negative height), BGRA
    px32 = bytearray()
    for y in range(2):
        for x in range(3):
            r, g, b = rgb[y, x]
            px32 += bytes([b, g, r, 255])
    header32 = (
        b"BM" + (54 + len(px32)).to_bytes(4, "little") + bytes(4) + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + (3).to_bytes(4, "little")
        + (-2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (32).to_bytes(2, "little") + bytes(24)
    )
    assert np.array_equal(decode_bmp(header32 + bytes(px32)), rgb)

    bad16 = bytearray(header)
    bad16[28:30] = (16).to_bytes(2, "little")
    assert decode_bmp(bytes(bad16) + bytes(px)) is None
    assert decode_bmp(b"BMshort") is None


def test_thumbnail_bytes_real_resize():
    """F10 byte path: a 300x120 PNG thumbnails to a REAL 200x80 PNG whose
    pixels come from centered nearest-neighbor sampling; undecodable
    containers (JPEG) return the declared (None, None, None)."""
    from image_search_indexing_spark.operators.multimodal import (
        decode_png, resize_nearest, thumbnail_box, thumbnail_bytes,
    )

    # reference semantics (ImageParse.java:146-163): either dim < 200 →
    # keep the original size; else aspect-fit with Java int truncation
    assert thumbnail_box(400, 100) == (400, 100)
    assert thumbnail_box(100, 50) == (100, 50)
    assert thumbnail_box(15000, 15000) == (200, 200)
    assert thumbnail_box(400, 300) == (200, 150)
    assert thumbnail_box(300, 400) == (150, 200)
    assert thumbnail_box(10000, 300) == (200, 6)  # int(200/33.33) truncates
    # >200:1 aspect truncates a dim to 0 — reference's Scalr throws and
    # the thumbnail is dropped (ADVICE r3): mirrored as None
    assert thumbnail_box(81000, 400) is None
    assert thumbnail_box(400, 81000) is None

    from image_search_indexing_spark.operators.multimodal import encode_png

    y, x = np.mgrid[0:240, 0:400]
    img = np.stack([(x % 256), (y % 256), ((x + y) % 256)], axis=2).astype(np.uint8)
    thumb, tw, th = thumbnail_bytes(encode_png(img))
    assert (tw, th) == (200, 120)
    arr = decode_png(thumb)
    assert arr.shape == (120, 200, 3)
    assert np.array_equal(arr, resize_nearest(img, 200, 120))

    # either dim under the box: re-encoded at the ORIGINAL size (no-op resize)
    small = img[:120, :300]
    thumb2, tw2, th2 = thumbnail_bytes(encode_png(small))
    assert (tw2, th2) == (300, 120)
    assert np.array_equal(decode_png(thumb2), small)

    # gif/svg: original bytes pass through untouched (ImageParse.java:131-134)
    gif = b"GIF89a" + (300).to_bytes(2, "little") + (250).to_bytes(2, "little") + b"z" * 40
    assert thumbnail_bytes(gif) == (gif, 300, 250)
    svg = b'<svg xmlns="x" width="900" height="600"><desc>s</desc></svg>'
    assert thumbnail_bytes(svg) == (svg, 900, 600)

    assert thumbnail_bytes(b"\xff\xd8\xff\xe0 fake jpeg") == (None, None, None)


# --- JPEG codec tests: spec-grounded fixtures + independent-encoder round-trip

_QL = np.array([  # Annex K luminance quant table (raster order)
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
_QC = np.array([  # Annex K chrominance
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self):
        while self.n:
            self.put(1, 1)


def _cat(v):
    return 0 if v == 0 else int(abs(v)).bit_length()


def _enc_jpeg(rgb, quality=92, gray=False):
    """Independent minimal JPEG encoder (4:4:4 / grayscale, flat-length
    canonical Huffman tables — any DHT-declared table is legal JPEG)."""
    from image_search_indexing_spark.operators.multimodal import _DCT_M, _ZIGZAG

    h, w = rgb.shape[:2]
    if gray:
        planes = [rgb[:, :, 0].astype(np.float64)]
        qts = [_QL]
    else:
        r, g, b = (rgb[:, :, i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
        qts = [_QL, _QC, _QC]
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    qts = [np.clip((q * s + 50) // 100, 1, 255).astype(np.int32) for q in qts]

    # flat canonical Huffman: 12 DC symbols at len 4, 162 AC symbols at len 8
    ac_syms = [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0x00, 0xF0]
    dc_code = {v: (v, 4) for v in range(12)}
    ac_code = {sym: (i, 8) for i, sym in enumerate(sorted(ac_syms))}

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    zz = _ZIGZAG
    for t, q in enumerate(qts[: (1 if gray else 2)]):
        out += seg(0xDB, bytes([t]) + bytes(q[zz].astype(np.uint8).tolist()))
    nc = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for c in range(nc):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += seg(0xC0, sof)
    dc_counts = [0] * 16
    dc_counts[3] = 12
    dht_dc = bytes(dc_counts) + bytes(range(12))
    ac_counts = [0] * 16
    ac_counts[7] = len(ac_syms)
    dht_ac = bytes(ac_counts) + bytes(sorted(ac_syms))
    out += seg(0xC4, bytes([0x00]) + dht_dc) + seg(0xC4, bytes([0x10]) + dht_ac)
    if not gray:
        out += seg(0xC4, bytes([0x01]) + dht_dc) + seg(0xC4, bytes([0x11]) + dht_ac)
    sos = bytes([nc]) + b"".join(
        bytes([c + 1, 0x00 if c == 0 else 0x11]) for c in range(nc)
    ) + bytes([0, 63, 0])
    out += seg(0xDA, sos)

    M = _DCT_M
    bw = _BitWriter()
    pred = [0] * nc
    for by in range(-(-h // 8)):
        for bx in range(-(-w // 8)):
            for ci in range(nc):
                p = planes[ci]
                blk = np.zeros((8, 8))
                ys, xs = min(8, h - by * 8), min(8, w - bx * 8)
                blk[:ys, :xs] = p[by * 8 : by * 8 + ys, bx * 8 : bx * 8 + xs]
                blk[:ys, xs:] = blk[:ys, xs - 1 : xs]
                blk[ys:, :] = blk[ys - 1 : ys, :]
                F = M @ (blk - 128.0) @ M.T
                q = qts[0 if ci == 0 else 1].reshape(8, 8)
                coef = np.round(F / q).astype(np.int64).ravel()[zz]
                diff = int(coef[0]) - pred[ci]
                pred[ci] = int(coef[0])
                t = _cat(diff)
                code, ln = dc_code[t]
                bw.put(code, ln)
                if t:
                    bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
                k, run = 1, 0
                while k < 64:
                    v = int(coef[k])
                    if v == 0:
                        run += 1
                    else:
                        while run > 15:
                            code, ln = ac_code[0xF0]
                            bw.put(code, ln)
                            run -= 16
                        sz = _cat(v)
                        code, ln = ac_code[(run << 4) | sz]
                        bw.put(code, ln)
                        bw.put(v if v >= 0 else v + (1 << sz) - 1, sz)
                        run = 0
                    k += 1
                if run:
                    code, ln = ac_code[0x00]
                    bw.put(code, ln)
    bw.flush()
    return bytes(out) + bytes(bw.out) + b"\xff\xd9"


def test_jpeg_decode_dc_only_spec_fixture():
    """Spec-grounded: a hand-built 4:2:0 two-MCU JPEG with DC-only
    coefficients must decode to exact known constant blocks (independent
    of any encoder), exercising MCU interleave, chroma upsample, restart
    markers and the DC predictor reset."""
    from image_search_indexing_spark.operators.multimodal import decode_jpeg

    # 1 DC symbol table (cat 4 at len 2 enough): use flat len-4 table of cats 0..11
    dc_counts = [0] * 16
    dc_counts[3] = 12
    dht_dc = bytes(dc_counts) + bytes(range(12))
    ac_counts = [0] * 16
    ac_counts[0] = 1  # single AC symbol: EOB at length 1 (code 0)
    dht_ac = bytes(ac_counts) + bytes([0x00])
    q = bytes([1] * 64)  # identity quant

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    w, h = 16, 16  # one 4:2:0 MCU = 4 Y blocks + Cb + Cr; two MCUs via 32 wide
    w = 32
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([3])
    sof += bytes([1, 0x22, 0]) + bytes([2, 0x11, 0]) + bytes([3, 0x11, 0])
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])

    bw = _BitWriter()

    def dc(diff):
        t = _cat(diff)
        bw.put(t, 4)  # flat len-4 DC table: code == category
        if t:
            bw.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
        bw.put(0, 1)  # EOB (single len-1 AC code)

    # MCU 1: Y blocks DC = 64,128,192,255-ish deltas (DC coeff = 8*(val-128))
    # DC quantized coeff c gives spatial value c/8 + 128 (orthonormal IDCT).
    for target in (64, 128, 192, 248):
        val = 8 * (target - 128)
        dc(val - (bw.__dict__.setdefault("_pred", 0)))
        bw._pred = val
    dc(0 - bw.__dict__.setdefault("_predcb", 0)); bw._predcb = 0  # Cb = 128
    dc(8 * (200 - 128)); bw._predcr = 8 * (200 - 128)  # Cr = 200
    bw.flush()
    mcu1 = bytes(bw.out)

    bw = _BitWriter()
    # MCU 2 after RST0: predictors reset to 0
    for target in (10, 20, 30, 40):
        val = 8 * (target - 128)
        dc(val - bw.__dict__.setdefault("_pred2", 0))
        bw._pred2 = val
    dc(0)  # Cb = 128
    dc(0)  # Cr = 128
    bw.flush()
    mcu2 = bytes(bw.out)

    data = (
        b"\xff\xd8" + seg(0xDB, bytes([0]) + q) + seg(0xC0, sof)
        + seg(0xC4, bytes([0x00]) + dht_dc) + seg(0xC4, bytes([0x10]) + dht_ac)
        + seg(0xDD, (1).to_bytes(2, "big"))  # DRI = 1 MCU
        + seg(0xDA, sos) + mcu1 + b"\xff\xd0" + mcu2 + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert img is not None and img.shape == (16, 32, 3)
    # Y plane per quadrant of MCU1 (Cb=128 neutral, Cr=200 shifts R/G)
    y00 = img[0:8, 0:8].astype(np.float64)
    # R = Y + 1.402*(200-128) ≈ Y + 100.9
    assert abs(y00[:, :, 0].mean() - (64 + 1.402 * 72)) < 1.5
    assert abs(img[0:8, 8:16, 0].astype(float).mean() - (128 + 1.402 * 72)) < 1.5
    assert abs(img[8:16, 0:8, 0].astype(float).mean() - min(255.0, 192 + 1.402 * 72)) < 1.5
    # MCU2 (x 16..32): neutral chroma → gray levels exactly 10/20/30/40
    assert abs(img[0:8, 16:24].astype(float).mean() - 10) < 1.0
    assert abs(img[0:8, 24:32].astype(float).mean() - 20) < 1.0
    assert abs(img[8:16, 16:24].astype(float).mean() - 30) < 1.0
    assert abs(img[8:16, 24:32].astype(float).mean() - 40) < 1.0


def test_jpeg_roundtrip_and_thumbnail():
    """decode_jpeg inverts an INDEPENDENT minimal encoder (flat Huffman
    tables, Annex K quant) within quantization tolerance, for color and
    grayscale; thumbnail_bytes now covers JPEG; progressive → None."""
    from image_search_indexing_spark.operators.multimodal import (
        decode_jpeg, parse_image_dims, thumbnail_bytes,
    )

    rng = np.random.default_rng(11)
    # smooth image (quantization-friendly): low-frequency gradients
    y, x = np.mgrid[0:40, 0:56]
    img = np.stack(
        [
            128 + 100 * np.sin(x / 18.0),
            128 + 100 * np.cos(y / 15.0),
            128 + 80 * np.sin((x + y) / 22.0),
        ],
        axis=2,
    ).astype(np.uint8)
    data = _enc_jpeg(img, quality=92)
    assert parse_image_dims(data) == (56, 40)
    got = decode_jpeg(data)
    assert got is not None and got.shape == img.shape
    err = np.abs(got.astype(np.int32) - img.astype(np.int32))
    assert err.mean() < 4.0 and err.max() < 40, (err.mean(), err.max())

    g = np.repeat(rng.integers(80, 170, (24, 24, 1), dtype=np.uint8), 3, axis=2)
    gotg = decode_jpeg(_enc_jpeg(g, quality=95, gray=True))
    errg = np.abs(gotg.astype(np.int32) - g.astype(np.int32))
    assert errg.mean() < 4.0, errg.mean()

    big = np.stack([x * 4 % 256, y * 6 % 256, (x + y) % 256], axis=2).astype(np.uint8)
    thumb, tw, th = thumbnail_bytes(_enc_jpeg(big, quality=92))
    assert thumb is not None and (tw, th) == (56, 40)  # under box: same dims

    # SOF2 with a baseline-shaped scan (Ss=0, Se=63) is MALFORMED
    # progressive (T.81 §G.1: DC scans are exactly (0,0)) → None
    prog = _enc_jpeg(img).replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_jpeg(prog) is None


def test_wav_decode_and_rms_real():
    """decode_wav is a REAL PCM parser (verified against the stdlib wave
    encoder): sample rate/count exact, full-scale sine RMS = -3.01 dBFS,
    silence floors at -200, stereo channels average, float WAV → None."""
    import io
    import wave

    from image_search_indexing_spark.operators.multimodal import audio_rms_db, decode_wav

    rate = 8000
    t = np.arange(rate * 2)  # 2 s
    sine = np.sin(2 * np.pi * 440 * t / rate)
    pcm = np.concatenate([sine, np.zeros(rate)])  # 3rd second silent
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((pcm * 32767).astype("<i2").tobytes())
    data = buf.getvalue()

    samples, got_rate = decode_wav(data)
    assert got_rate == rate and len(samples) == 3 * rate
    rms = audio_rms_db(samples, rate, window_ms=1000)
    assert rms.shape == (3,)
    assert abs(rms[0] - (-3.0103)) < 0.01 and abs(rms[1] - (-3.0103)) < 0.01
    assert rms[2] == -200.0

    # stereo: L = -R → mono average is silence
    buf2 = io.BytesIO()
    inter = np.empty(2 * len(sine))
    inter[0::2], inter[1::2] = sine, -sine
    with wave.open(buf2, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((inter * 32767).astype("<i2").tobytes())
    s2, _ = decode_wav(buf2.getvalue())
    assert np.abs(s2).max() < 1e-4

    # 8-bit unsigned PCM
    buf3 = io.BytesIO()
    with wave.open(buf3, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(rate)
        w.writeframes((128 + 100 * sine[:rate]).astype(np.uint8).tobytes())
    s3, _ = decode_wav(buf3.getvalue())
    assert len(s3) == rate and abs(np.abs(s3).max() - 100 / 128) < 0.02

    # IEEE-float WAV (fmt 3) is not PCM → declared None
    flt = bytearray(data)
    flt[20:22] = (3).to_bytes(2, "little")
    assert decode_wav(bytes(flt)) is None
    assert decode_wav(b"RIFFxxxxWAVE" + b"x" * 50) is None  # chunkless


def _mp4_box(typ: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + typ + body


def test_mp4_meta_real():
    """parse_mp4_meta walks real ISO-BMFF boxes: mvhd v0 and v1 duration
    arithmetic, trak counting; sniff_mime brands mp4 audio vs video."""
    from image_search_indexing_spark.operators.multimodal import parse_mp4_meta, sniff_mime

    ftyp = _mp4_box(b"ftyp", b"isom" + (512).to_bytes(4, "big") + b"isomiso2")
    mvhd0 = _mp4_box(
        b"mvhd",
        bytes(4) + bytes(8)  # version/flags + ctime/mtime
        + (1000).to_bytes(4, "big") + (5500).to_bytes(4, "big") + bytes(80),
    )
    trak = _mp4_box(b"trak", b"")
    moov = _mp4_box(b"moov", mvhd0 + trak + trak)
    data = ftyp + moov + _mp4_box(b"mdat", b"\x00" * 64)
    assert sniff_mime(data) == "video/mp4"
    assert parse_mp4_meta(data) == (5500, 2)

    mvhd1 = _mp4_box(
        b"mvhd",
        bytes([1, 0, 0, 0]) + bytes(16)  # v1: 64-bit ctime/mtime
        + (90000).to_bytes(4, "big") + (90000 * 12).to_bytes(8, "big") + bytes(80),
    )
    data1 = ftyp + _mp4_box(b"moov", mvhd1 + trak)
    assert parse_mp4_meta(data1) == (12000, 1)

    m4a = _mp4_box(b"ftyp", b"M4A \x00\x00\x00\x00") + _mp4_box(b"moov", mvhd0)
    assert sniff_mime(m4a) == "audio/mp4"
    assert parse_mp4_meta(b"notmp4data") is None


def test_webp_dims_real():
    """WebP dims from VP8X / VP8L / VP8 headers (beyond the reference,
    whose ImageIO can't read webp at all)."""
    from image_search_indexing_spark.operators.multimodal import parse_image_dims, sniff_mime

    def riff(chunks):
        body = b"WEBP" + b"".join(
            cc + len(p).to_bytes(4, "little") + p + (b"\x00" if len(p) % 2 else b"")
            for cc, p in chunks
        )
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    vp8x = riff([(b"VP8X", bytes(4) + (799).to_bytes(3, "little") + (599).to_bytes(3, "little"))])
    assert sniff_mime(vp8x) == "image/webp"
    assert parse_image_dims(vp8x) == (800, 600)

    bits = (320 - 1) | ((240 - 1) << 14)
    vp8l = riff([(b"VP8L", bytes([0x2F]) + bits.to_bytes(4, "little"))])
    assert parse_image_dims(vp8l) == (320, 240)

    vp8 = riff([(b"VP8 ", bytes(3) + b"\x9d\x01\x2a"
                 + (1024).to_bytes(2, "little") + (768).to_bytes(2, "little"))])
    assert parse_image_dims(vp8) == (1024, 768)

    assert parse_image_dims(riff([(b"JUNK", b"xx")])) == (None, None)


# --- GIF decode (r4): spec-faithful encoder lives in the test so the ---------
# --- decoder is checked against independently-constructed streams    ---------

def _gif_lzw_encode(indices, min_sz):
    """Real compressing GIF-LZW encoder (spec appendix F), written against
    the GIF89a spec — NOT against the decoder — so round-trips check both.
    Tracks the DECODER's table growth for code-width changes (the decoder
    widens when its table reaches 2^width after an append)."""
    clear, end = 1 << min_sz, (1 << min_sz) + 1
    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    code_size = min_sz + 1
    dec_len = clear + 2
    n_since_clear = 0
    bitbuf = bits = 0
    out = bytearray()

    def emit(code):
        nonlocal bitbuf, bits, dec_len, code_size, n_since_clear
        bitbuf |= code << bits
        bits += code_size
        while bits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bits -= 8
        if code != clear and code != end:
            n_since_clear += 1
            if n_since_clear >= 2:  # decoder appends from the 2nd code on
                dec_len += 1
                if dec_len == (1 << code_size) and code_size < 12:
                    code_size += 1

    emit(clear)
    prev = ()
    for px in indices:
        cur = prev + (int(px),)
        if cur in table:
            prev = cur
            continue
        emit(table[prev])
        table[cur] = next_code
        next_code += 1
        prev = (int(px),)
    if prev:
        emit(table[prev])
    emit(end)
    if bits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _make_gif(pal, indices, w, h, interlaced=False, local_palette=False,
              n_frames=1, frame2_color=0):
    """Assemble a complete GIF89a byte stream from palette + index rows."""
    import numpy as np

    n = len(pal)
    bits_needed = max(2, (n - 1).bit_length())
    pal_size_field = bits_needed - 1
    padded = list(pal) + [(0, 0, 0)] * ((1 << bits_needed) - n)
    pal_bytes = bytes(c for rgb in padded for c in rgb)
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if local_palette:
        out += bytes([0x00, 0, 0])  # no GCT
    else:
        out += bytes([0x80 | pal_size_field, 0, 0])
        out += pal_bytes
    for frame in range(n_frames):
        idx = indices if frame == 0 else [frame2_color] * (w * h)
        if interlaced and frame == 0:  # store rows in pass order
            arr = np.asarray(idx, dtype=np.int64).reshape(h, w)
            order = [r for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))
                     for r in range(s, h, st)]
            idx = arr[order].reshape(-1).tolist()
        out += b"\x2C" + b"\x00\x00\x00\x00"
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        flags = 0x40 if (interlaced and frame == 0) else 0
        if local_palette:
            flags |= 0x80 | pal_size_field
        out.append(flags)
        if local_palette:
            out += pal_bytes
        min_sz = max(2, bits_needed)
        out.append(min_sz)
        comp = _gif_lzw_encode(idx, min_sz)
        for i in range(0, len(comp), 255):
            blk = comp[i : i + 255]
            out.append(len(blk))
            out += blk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def test_gif_decode_roundtrip():
    """decode_gif vs an independent spec-written encoder: random pixels
    (dict growth through several width bumps), repeated runs (KwKwK),
    interlace reordering, local color table, animated first-frame."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        parse_image_dims,
    )

    rng = np.random.RandomState(7)
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0),
           (0, 255, 255), (255, 0, 255), (17, 34, 51), (204, 221, 238)]
    w, h = 23, 17
    idx = rng.randint(0, 8, size=w * h)
    expect = np.array(pal, np.uint8)[idx].reshape(h, w, 3)

    plain = _make_gif(pal, idx.tolist(), w, h)
    assert parse_image_dims(plain) == (w, h)
    got = decode_gif(plain)
    assert got is not None and np.array_equal(got, expect)
    assert np.array_equal(decode_image(plain), expect)  # dispatch

    # long runs: compressed stream uses multi-pixel dict entries + KwKwK
    runs = ([0] * 97 + [1] * 61 + [0, 1, 0, 1] * 40 + [2] * 33)[: w * h]
    runs += [3] * (w * h - len(runs))
    expect_runs = np.array(pal, np.uint8)[np.asarray(runs)].reshape(h, w, 3)
    assert np.array_equal(decode_gif(_make_gif(pal, runs, w, h)), expect_runs)

    # interlaced storage must reorder back to display order
    inter = _make_gif(pal, idx.tolist(), w, h, interlaced=True)
    assert np.array_equal(decode_gif(inter), expect)

    # local color table (no GCT at all)
    local = _make_gif(pal, idx.tolist(), w, h, local_palette=True)
    assert np.array_equal(decode_gif(local), expect)

    # two frames: ImageIO read(0) semantics — first frame wins
    anim = _make_gif(pal, idx.tolist(), w, h, n_frames=2, frame2_color=5)
    assert np.array_equal(decode_gif(anim), expect)

    # malformed: truncated mid-image, bogus block introducer
    assert decode_gif(plain[:20]) is None
    assert decode_gif(b"GIF89a" + b"\x00" * 20) is None


# --- progressive JPEG (r4): independent spec-written encoder -----------------

def _quant_blocks(rgb, quality):
    """Quantized zigzag coefficient grids per component (4:4:4), same
    block math as _enc_jpeg so sequential and progressive fixtures carry
    IDENTICAL coefficients."""
    from image_search_indexing_spark.operators.multimodal import _DCT_M, _ZIGZAG

    h, w = rgb.shape[:2]
    r, g, b = (rgb[:, :, i].astype(np.float64) for i in range(3))
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    qts = [np.clip((q * s + 50) // 100, 1, 255).astype(np.int32) for q in (_QL, _QC)]
    M, zz = _DCT_M, _ZIGZAG
    bh, bw = -(-h // 8), -(-w // 8)
    grids = [np.zeros((bh, bw, 64), np.int64) for _ in range(3)]
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                p = planes[ci]
                blk = np.zeros((8, 8))
                ys, xs = min(8, h - by * 8), min(8, w - bx * 8)
                blk[:ys, :xs] = p[by * 8 : by * 8 + ys, bx * 8 : bx * 8 + xs]
                blk[:ys, xs:] = blk[:ys, xs - 1 : xs]
                blk[ys:, :] = blk[ys - 1 : ys, :]
                Fc = M @ (blk - 128.0) @ M.T
                q = qts[0 if ci == 0 else 1].reshape(8, 8)
                grids[ci][by, bx] = np.round(Fc / q).astype(np.int64).ravel()[zz]
    return grids, qts


class _ProgWriter(_BitWriter):
    """Bit writer + flat-table Huffman emit + EOB-run/correction-bit
    buffering for progressive AC scans."""

    DC = {v: (v, 4) for v in range(12)}
    AC_SYMS = sorted((r << 4) | s for r in range(16) for s in range(11))
    AC = {sym: (i, 8) for i, sym in enumerate(AC_SYMS)}

    def __init__(self):
        super().__init__()
        self.eobrun = 0
        # TWO correction-bit buffers, mirroring libjpeg's BR/BE split:
        # `pending` = current block's bits since the last symbol (ride
        # after the next symbol+sign); `eob_bits` = bits rolled into the
        # deferred EOB run at block ends (ride after the EOB symbol).
        self.pending = []
        self.eob_bits = []

    def sym_dc(self, v):
        self.put(*self.DC[v])

    def sym_ac(self, v):
        self.put(*self.AC[v])

    def flush_pending(self):
        # buffered correction bits ride AFTER a symbol (and its sign /
        # EOB-run extra bits) — T.81 G.1.2.3 "buffered bits"
        for bit in self.pending:
            self.put(bit, 1)
        self.pending = []

    def defer_eob(self):
        # block ends inside an EOB run: its leftover correction bits
        # belong to THAT EOB (decoder reads them in its tail crossing)
        self.eobrun += 1
        self.eob_bits += self.pending
        self.pending = []

    def flush_eobrun(self):
        # eobrun == 0 is a no-op: any pending correction bits simply
        # ride the next emitted symbol
        if self.eobrun > 0:
            r = self.eobrun.bit_length() - 1
            self.sym_ac(r << 4)
            if r:
                self.put(self.eobrun - (1 << r), r)
            for bit in self.eob_bits:
                self.put(bit, 1)
            self.eob_bits = []
            self.eobrun = 0


def _enc_jpeg_progressive(rgb, quality=92, bands=((1, 5), (6, 63))):
    """Independent progressive JPEG encoder (T.81 Annex G, 4:4:4):
    DC first (Al=1) interleaved → AC first scans per component/band
    (Al=1, EOB runs) → DC refine (Ah=1) → AC refine scans (Ah=1,
    correction bits). Written against the spec, not the decoder."""
    h, w = rgb.shape[:2]
    grids, qts = _quant_blocks(rgb, quality)
    bh, bw = grids[0].shape[:2]

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    from image_search_indexing_spark.operators.multimodal import _ZIGZAG

    out = bytearray(b"\xff\xd8")
    for t, q in enumerate(qts):
        out += seg(0xDB, bytes([t]) + bytes(q[_ZIGZAG].astype(np.uint8).tolist()))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([3])
    for c in range(3):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += seg(0xC2, sof)
    dc_counts = [0] * 16
    dc_counts[3] = 12
    dht_dc = bytes(dc_counts) + bytes(range(12))
    ac_counts = [0] * 16
    ac_counts[7] = len(_ProgWriter.AC_SYMS)
    dht_ac = bytes(ac_counts) + bytes(_ProgWriter.AC_SYMS)
    out += seg(0xC4, bytes([0x00]) + dht_dc) + seg(0xC4, bytes([0x01]) + dht_dc)
    out += seg(0xC4, bytes([0x10]) + dht_ac) + seg(0xC4, bytes([0x11]) + dht_ac)

    def sos(comps_sel, ss, se, ah, al):
        body = bytes([len(comps_sel)])
        for cid, dct, act in comps_sel:
            body += bytes([cid, (dct << 4) | act])
        return seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    # scan 1: DC first, interleaved, Al=1
    out += sos([(1, 0, 0), (2, 1, 0), (3, 1, 0)], 0, 0, 0, 1)
    wtr = _ProgWriter()
    pred = [0, 0, 0]
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                v = int(grids[ci][by, bx, 0]) >> 1
                diff = v - pred[ci]
                pred[ci] = v
                t = _cat(diff)
                wtr.sym_dc(t)
                if t:
                    wtr.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
    wtr.flush()
    out += wtr.out

    # scans 2..: AC first per component/band, Al=1
    for ci in range(3):
        for ss, se in bands if ci == 0 else ((1, 63),):
            out += sos([(ci + 1, 0, 1)], ss, se, 0, 1)
            wtr = _ProgWriter()
            for by in range(bh):
                for bx in range(bw):
                    cf = grids[ci][by, bx]
                    run, wrote = 0, False
                    for k in range(ss, se + 1):
                        v = int(cf[k])
                        va = (abs(v) >> 1) * (1 if v >= 0 else -1)
                        if va == 0:
                            run += 1
                            continue
                        wtr.flush_eobrun()
                        while run > 15:
                            wtr.sym_ac(0xF0)
                            run -= 16
                        s = _cat(va)
                        wtr.sym_ac((run << 4) | s)
                        wtr.put(va if va >= 0 else va + (1 << s) - 1, s)
                        run, wrote = 0, True
                    if run or not wrote:
                        wtr.defer_eob()
                        if wtr.eobrun == 0x7FFE:
                            wtr.flush_eobrun()
            wtr.flush_eobrun()
            wtr.flush()
            out += wtr.out

    # DC refine: Ah=1, Al=0, interleaved — one raw bit per block
    out += sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 1, 0)
    wtr = _ProgWriter()
    for by in range(bh):
        for bx in range(bw):
            for ci in range(3):
                wtr.put(int(grids[ci][by, bx, 0]) & 1, 1)
    wtr.flush()
    out += wtr.out

    # AC refine per component/band: Ah=1, Al=0
    for ci in range(3):
        for ss, se in bands if ci == 0 else ((1, 63),):
            out += sos([(ci + 1, 0, 1)], ss, se, 1, 0)
            wtr = _ProgWriter()
            for by in range(bh):
                for bx in range(bw):
                    cf = grids[ci][by, bx]
                    run, emitted = 0, False
                    for k in range(ss, se + 1):
                        v = int(cf[k])
                        ab = abs(v)
                        if ab == 0:
                            run += 1
                            continue
                        # ZRLs are emitted EAGERLY at any nonzero (history
                        # included) so every buffered correction bit lies
                        # within the crossing span of the symbol it rides
                        # (libjpeg encode_mcu_AC_refine ordering)
                        if run > 15:
                            wtr.flush_eobrun()
                            while run > 15:
                                wtr.sym_ac(0xF0)
                                wtr.flush_pending()
                                run -= 16
                            emitted = True
                        if ab > 1:  # history nonzero: correction bit
                            wtr.pending.append(ab & 1)
                            continue
                        # newly nonzero at this precision
                        wtr.flush_eobrun()
                        wtr.sym_ac((run << 4) | 1)
                        wtr.put(1 if v > 0 else 0, 1)
                        wtr.flush_pending()
                        run, emitted = 0, True
                    if run or wtr.pending or not emitted:
                        wtr.defer_eob()
                        if wtr.eobrun == 0x7FFE:
                            wtr.flush_eobrun()
            wtr.flush_eobrun()
            wtr.flush()
            out += wtr.out

    return bytes(out) + b"\xff\xd9"


def test_jpeg_progressive_decode():
    """Progressive (SOF2) decode: a spec-written multi-scan encoder
    (spectral selection + successive approximation for DC and AC) must
    reconstruct pixels IDENTICAL to the baseline encoding of the same
    quantized coefficients, and close to the source image."""
    from image_search_indexing_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        parse_image_dims,
        sniff_mime,
        thumbnail_bytes,
    )

    y, x = np.mgrid[0:37, 0:52]  # non-multiple-of-8 dims
    img = np.stack(
        [
            128 + 100 * np.sin(x / 16.0),
            128 + 90 * np.cos(y / 13.0),
            128 + 70 * np.sin((x + 2 * y) / 21.0),
        ],
        axis=2,
    ).astype(np.uint8)

    prog = _enc_jpeg_progressive(img, quality=90)
    base = _enc_jpeg(img, quality=90)
    assert sniff_mime(prog) == "image/jpeg"
    assert parse_image_dims(prog) == (52, 37)

    got_p = decode_jpeg(prog)
    got_b = decode_jpeg(base)
    assert got_p is not None and got_p.shape == img.shape
    # identical coefficients ⇒ bit-identical reconstruction
    assert np.array_equal(got_p, got_b)
    err = np.abs(got_p.astype(np.int32) - img.astype(np.int32))
    assert err.mean() < 4.0 and err.max() < 40, (err.mean(), err.max())

    # dispatch + thumbnail path now cover progressive
    assert np.array_equal(decode_image(prog), got_p)
    thumb, tw, th = thumbnail_bytes(prog)
    assert thumb is not None and (tw, th) == (52, 37)

    # single band (1,63) and an odd band split must agree
    alt = _enc_jpeg_progressive(img, quality=90, bands=((1, 1), (2, 17), (18, 63)))
    assert np.array_equal(decode_jpeg(alt), got_p)


# --- FLAC decode (r4): independent spec-written encoder ----------------------

class _FlacW:
    """MSB-first bit writer for building FLAC fixtures."""

    def __init__(self):
        self.out = bytearray()
        self.acc = self.n = 0

    def put(self, v, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = self.n = 0

    def sput(self, v, nbits):
        self.put(v & ((1 << nbits) - 1), nbits)

    def align(self):
        while self.n:
            self.put(0, 1)


def _crc8(data):
    c = 0
    for b in data:
        c ^= b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
    return c


def _crc16(data):
    c = 0
    for b in data:
        c ^= b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
    return c


def _rice_write(w, resid, k, escape=False):
    """Rice residual: method 0, partition order 0."""
    w.put(0, 2)   # coding method
    w.put(0, 4)   # partition order
    if escape:
        w.put(15, 4)  # escape code
        raw = max(max((abs(v).bit_length() + 1) for v in resid), 2)
        w.put(raw, 5)
        for v in resid:
            w.sput(v, raw)
        return
    w.put(k, 4)
    for v in resid:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        q = u >> k
        w.put(0, q) if q else None
        w.put(1, 1)
        w.put(u & ((1 << k) - 1), k)


def _flac_subframe_w(w, samples, bps, kind, k=3, escape=False):
    w.put(0, 1)  # padding
    if kind == "verbatim":
        w.put(1, 6)
        w.put(0, 1)
        for v in samples:
            w.sput(v, bps)
    elif kind == "constant":
        w.put(0, 6)
        w.put(0, 1)
        w.sput(samples[0], bps)
    elif kind == "fixed2":
        w.put(8 + 2, 6)
        w.put(0, 1)
        for v in samples[:2]:
            w.sput(v, bps)
        resid = [samples[i] - (2 * samples[i - 1] - samples[i - 2])
                 for i in range(2, len(samples))]
        _rice_write(w, resid, k, escape)
    elif kind == "lpc2":  # LPC with coefs [2,-1], shift 0 ≡ fixed-2 semantics
        w.put(32 + 1, 6)  # LPC, order 2 → 100001
        w.put(0, 1)
        for v in samples[:2]:
            w.sput(v, bps)
        w.put(2, 4)       # precision-1 → 3-bit coefs
        w.sput(0, 5)      # shift
        w.sput(2, 3)
        w.sput(-1, 3)
        resid = [samples[i] - (2 * samples[i - 1] - samples[i - 2])
                 for i in range(2, len(samples))]
        _rice_write(w, resid, k, escape)


def _flac_frame(idx, chans, bps, mode, kinds, escape=False):
    n = len(chans[0])
    h = _FlacW()
    h.put(0b11111111111110, 14)
    h.put(0, 2)            # reserved + fixed blocking
    h.put(7, 4)            # block size: 16-bit value follows
    h.put(0, 4)            # sample rate: from STREAMINFO
    ch_code = {"indep": len(chans) - 1, "ls": 8, "rs": 9, "ms": 10}[mode]
    h.put(ch_code, 4)
    h.put(4, 3)            # sample size: 16-bit
    h.put(0, 1)
    h.put(idx, 8)          # UTF-8 frame number (idx < 128)
    h.put(n - 1, 16)
    hdr = bytes(h.out)
    body = _FlacW()
    if mode == "indep":
        subs = [(c, bps) for c in chans]
    elif mode == "ls":
        side = [a - b for a, b in zip(chans[0], chans[1])]
        subs = [(chans[0], bps), (side, bps + 1)]
    elif mode == "rs":
        side = [a - b for a, b in zip(chans[0], chans[1])]
        subs = [(side, bps + 1), (chans[1], bps)]
    else:  # ms
        mid = [(a + b) >> 1 for a, b in zip(chans[0], chans[1])]
        side = [a - b for a, b in zip(chans[0], chans[1])]
        subs = [(mid, bps), (side, bps + 1)]
    for (s, sb), kind in zip(subs, kinds):
        _flac_subframe_w(body, s, sb, kind, escape=escape)
    body.align()
    frame = hdr + bytes([_crc8(hdr)]) + bytes(body.out)
    return frame + _crc16(frame).to_bytes(2, "big")


def _flac_stream(frames_spec, rate=8000, nch=2, bps=16, total=0):
    si = _FlacW()
    si.put(16, 16); si.put(65535, 16)   # min/max block size
    si.put(0, 24); si.put(0, 24)        # min/max frame size (unknown)
    si.put(rate, 20); si.put(nch - 1, 3); si.put(bps - 1, 5)
    si.put(total, 36)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + (34).to_bytes(3, "big")  # last block, STREAMINFO
    out += bytes(si.out) + bytes(16)                # dummy md5
    for f in frames_spec:
        out += f
    return bytes(out)


def test_flac_decode_roundtrip():
    """decode_flac vs an independent RFC 9639 encoder: verbatim / fixed /
    LPC subframes, Rice residuals (incl. the escape partition), all four
    stereo modes, multi-frame streams — integer-exact reconstruction."""
    from image_search_indexing_spark.operators.multimodal import (
        audio_rms_db,
        decode_flac,
        sniff_mime,
    )

    rng = np.random.RandomState(3)
    n, rate = 96, 8000
    t = np.arange(4 * n)
    l = (3000 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.int64)
    r = (2000 * np.cos(2 * np.pi * 330 * t / rate) + rng.randint(-40, 40, 4 * n)).astype(np.int64)
    L = [int(x) for x in l]
    R = [int(x) for x in r]
    chunk = lambda s, i: s[i * n : (i + 1) * n]

    frames = [
        _flac_frame(0, [chunk(L, 0), chunk(R, 0)], 16, "indep",
                    ["verbatim", "fixed2"]),
        _flac_frame(1, [chunk(L, 1), chunk(R, 1)], 16, "ms",
                    ["fixed2", "fixed2"]),
        _flac_frame(2, [chunk(L, 2), chunk(R, 2)], 16, "ls",
                    ["lpc2", "verbatim"]),
        _flac_frame(3, [chunk(L, 3), chunk(R, 3)], 16, "rs",
                    ["verbatim", "fixed2"], escape=True),
    ]
    data = _flac_stream(frames, rate=rate, nch=2, bps=16, total=4 * n)
    assert sniff_mime(data) == "audio/flac"

    got = decode_flac(data)
    assert got is not None
    mono, grate = got
    assert grate == rate and len(mono) == 4 * n
    want = (l + r) / 2.0 / 32768.0
    assert np.allclose(mono, want, atol=0, rtol=0), np.abs(mono - want).max()
    rms = audio_rms_db(mono, rate, window_ms=10)
    assert len(rms) == len(mono) * 100 // rate + (1 if (len(mono) * 100) % rate else 0)

    # constant subframe + mono stream
    const = _flac_frame(0, [[-1234] * 64], 16, "indep", ["constant"])
    m = decode_flac(_flac_stream([const], nch=1, total=64))
    assert m is not None and np.allclose(m[0], -1234 / 32768.0)

    # malformed: truncated, wrong magic, garbage after last frame ignored
    assert decode_flac(data[:30]) is None
    assert decode_flac(b"fLaX" + data[4:]) is None
    tail = decode_flac(data + b"\x00garbage")
    assert tail is not None and np.allclose(tail[0], want)


def test_tiff_ico_dims():
    """TIFF first-IFD (both byte orders, SHORT and LONG tag types) and
    ICO directory (largest entry, 0 byte = 256) dimension parsing."""
    from image_search_indexing_spark.operators.multimodal import (
        parse_image_dims,
        sniff_mime,
    )

    def tiff(bo, typ, w, h):
        import struct
        e = "<" if bo == "II" else ">"
        hdr = (b"II*\x00" if bo == "II" else b"MM\x00*") + struct.pack(e + "I", 8)
        ifd = struct.pack(e + "H", 2)
        for tag, v in ((256, w), (257, h)):
            if typ == 3:
                val = struct.pack(e + "H", v) + b"\x00\x00"
            else:
                val = struct.pack(e + "I", v)
            ifd += struct.pack(e + "HHI", tag, typ, 1) + val
        ifd += struct.pack(e + "I", 0)
        return hdr + ifd

    for bo in ("II", "MM"):
        for typ in (3, 4):
            data = tiff(bo, typ, 1024, 768)
            assert sniff_mime(data) == "image/tiff"
            assert parse_image_dims(data) == (1024, 768), (bo, typ)

    ico = (
        b"\x00\x00\x01\x00" + (3).to_bytes(2, "little")
        + bytes([16, 16]) + bytes(14)      # 16x16
        + bytes([0, 0]) + bytes(14)        # 256x256 (0 = 256) — largest
        + bytes([48, 48]) + bytes(14)      # 48x48
    )
    assert sniff_mime(ico) == "image/x-icon"
    assert parse_image_dims(ico) == (256, 256)
    # truncated directory → best-effort from the entries present
    assert parse_image_dims(ico[:24]) == (16, 16)


def test_mp3_frame_walk_duration():
    """parse_mp3_meta: hand-built frame sequences (ISO 11172-3 header
    arithmetic) — exact frame sizes with padding, VBR mixes, MPEG2
    Layer3 576-sample frames, ID3v2 skip, trailing-garbage stop."""
    from image_search_indexing_spark.operators.multimodal import (
        parse_mp3_meta,
        sniff_mime,
    )

    def frame(kbps_idx, rate_idx, padding, version=0b11, layer=0b01):
        h = bytes([
            0xFF,
            0xE0 | (version << 3) | (layer << 1),
            (kbps_idx << 4) | (rate_idx << 2) | (padding << 1),
            0x00,
        ])
        # size arithmetic mirrored from the spec, not the implementation
        rates = {0b11: (44100, 48000, 32000), 0b10: (22050, 24000, 16000)}
        v1_l3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
        v2_l3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160]
        kbps = (v1_l3 if version == 0b11 else v2_l3)[kbps_idx]
        rate = rates[version][rate_idx]
        spf = 1152 if version == 0b11 else 576
        size = spf // 8 * kbps * 1000 // rate + padding
        return h + bytes(size - 4), spf, rate

    # CBR: 10 frames MPEG1 L3 128kbps 44100, alternating padding
    data = b""
    total = 0
    for i in range(10):
        f, spf, rate = frame(9, 0, i % 2)
        data += f
        total += spf
    assert sniff_mime(b"\xff\xfb" + data[2:]) == "audio/mpeg"
    got = parse_mp3_meta(data)
    assert got == (total * 1000 // 44100, 44100), got

    # VBR: mixed bitrates still sum samples per frame
    data2 = b""
    for idx in (5, 9, 13, 9):
        f, _, _ = frame(idx, 1, 0)
        data2 += f
    assert parse_mp3_meta(data2) == (4 * 1152 * 1000 // 48000, 48000)

    # MPEG2 L3: 576-sample frames at 22050
    f22, spf22, _ = frame(6, 0, 0, version=0b10)
    assert spf22 == 576
    assert parse_mp3_meta(f22 * 5) == (5 * 576 * 1000 // 22050, 22050)

    # ID3v2 prefix (syncsafe size) + trailing garbage after frames
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 3]) + bytes(131)  # size 131
    assert parse_mp3_meta(id3 + data) == (total * 1000 // 44100, 44100)
    assert parse_mp3_meta(data + b"\x00junk!") == (total * 1000 // 44100, 44100)

    # junk-only / truncated → None
    assert parse_mp3_meta(b"\x00" * 64) is None
    assert parse_mp3_meta(None) is None


def test_ogg_page_walk_metadata():
    """parse_ogg_meta: hand-built RFC 3533 pages (independent writer —
    lacing-value segment tables, signed 64-bit granules) carrying a
    Vorbis identification header and an OpusHead; duration must come
    from the LAST granule (Opus on the fixed 48 kHz clock minus
    pre-skip, RFC 7845 §4)."""
    from image_search_indexing_spark.operators.multimodal import (
        parse_ogg_meta,
        sniff_mime,
    )

    def page(granule, packets, serial=7):
        segs = []
        for p in packets:
            n = len(p)
            while n >= 255:
                segs.append(255)
                n -= 255
            segs.append(n)
        h = (
            b"OggS" + bytes([0, 0])
            + granule.to_bytes(8, "little", signed=True)
            + serial.to_bytes(4, "little") + bytes(8)
            + bytes([len(segs)]) + bytes(segs)
        )
        return h + b"".join(packets)

    vorbis_id = (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
        + (44100).to_bytes(4, "little") + bytes(14)
    )
    data = page(0, [vorbis_id]) + page(44100 * 3, [b"\x00" * 300])
    assert sniff_mime(data) == "audio/ogg"
    assert parse_ogg_meta(data) == (3000, 44100, 2)

    opus = (
        b"OpusHead" + bytes([1, 2]) + (312).to_bytes(2, "little")
        + (48000).to_bytes(4, "little") + bytes(3)
    )
    d2 = page(0, [opus]) + page(48000 * 2 + 312, [b"\x00" * 10])
    assert parse_ogg_meta(d2) == (2000, 48000, 2)

    # -1 granule (page holds no completed packet) must not move duration
    d3 = page(0, [vorbis_id]) + page(-1, [b"\x00"]) + page(44100, [b"\x00"])
    assert parse_ogg_meta(d3) == (1000, 44100, 2)

    assert parse_ogg_meta(b"OggS" + bytes(30)) is None  # no codec header
    assert parse_ogg_meta(b"not an ogg stream") is None
    assert parse_ogg_meta(None) is None


def test_audio_features_ogg_real_container_metadata(spark):
    """extract_audio_features routes audio/ogg through parse_ogg_meta:
    duration is granule-exact, sample_rate populated, rms NULL (DSP
    stays a declared stub)."""
    from image_search_indexing_spark.operators.multimodal import (
        extract_audio_features,
    )

    vorbis_id = (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([1])
        + (8000).to_bytes(4, "little") + bytes(14)
    )
    segs = bytes([1, len(vorbis_id)])  # nseg count, then lacing value
    p1 = (b"OggS" + bytes([0, 0]) + (0).to_bytes(8, "little")
          + bytes(12) + segs + vorbis_id)
    p2 = (b"OggS" + bytes([0, 0]) + (8000 * 5).to_bytes(8, "little")
          + bytes(12) + bytes([1, 1]) + b"\x00")
    df = spark.createDataFrame(
        [("o1", bytearray(p1 + p2))], "media_id string, payload binary"
    )
    r = extract_audio_features(df).collect()[0]
    assert r.mime_detected == "audio/ogg"
    assert r.duration_ms_est == 5000 and r.sample_rate == 8000
    assert r.rms_db_mean is None


def test_phash_integer_invariants():
    """pHash is all-integer: a flat image hashes to 0 (every AC
    coefficient is 0, never > median 0), and a uniform brightness shift
    (no wraparound) leaves every AC coefficient — hence the hash —
    unchanged, while real content changes move it only slightly."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import phash64

    flat = np.full((40, 56, 3), 77, np.uint8)
    assert phash64(flat) == 0
    rng = np.random.RandomState(7)
    img = rng.randint(0, 200, (48, 64, 3)).astype(np.uint8)
    assert phash64(img) == phash64(img + 40)  # luma-shift invariance
    tweaked = img.copy()
    tweaked[:2, :2] = 0
    d = bin(phash64(img) ^ phash64(tweaked)).count("1")
    assert 0 <= d <= 12  # local edit = small Hamming move
    assert phash64(None) is None


def test_phash_bmp_decode_pipeline(spark):
    """Closed-form BMP bytes → REAL decode_bmp → phash64 equals the
    hash of the directly-constructed pixel array (byte layout proof:
    bottom-up BGR in the container, RGB in the array)."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        decode_image,
        phash64,
        phash_frame,
    )
    from image_search_indexing_spark.sources.mediagen import synthetic_media_bmp_pixels

    docs = spark.range(0, 24).withColumnRenamed("id", "doc_id")
    rows = {r["doc_id"]: r for r in phash_frame(synthetic_media_bmp_pixels(docs)).collect()}
    payloads = {r["doc_id"]: bytes(r["payload"])
                for r in synthetic_media_bmp_pixels(docs).collect()}
    for doc_id in range(24):
        k, v = doc_id % 41, doc_id % 3
        w, h = 16 + 4 * (k % 5), 16 + 8 * (k % 3)
        y, x = np.mgrid[0:h, 0:w]
        img = np.stack(
            [(11 * k + 2 * x + 7 * y + v) % 256,
             (7 * k + 13 * x + 3 * y) % 256,
             (3 * k + 5 * x + 11 * y) % 256], axis=2
        ).astype(np.uint8)
        dec = decode_image(payloads[doc_id])
        assert dec is not None and np.array_equal(dec, img)
        assert rows[doc_id]["decoded"] and rows[doc_id]["phash"] == phash64(img)


def test_hamming_pairs_exact_recall(spark):
    """Multi-index banding recall guarantee: with 4 bands, EVERY pair at
    Hamming distance <= 3 must be found (pigeonhole) — checked against
    the brute-force pair set over seeded hashes with planted near-dups."""
    import itertools
    import random

    from image_search_indexing_spark.operators.dedup import hamming_pairs

    rng = random.Random(99)
    hashes = {}
    for i in range(40):
        hashes[i] = rng.getrandbits(63)
    for i in range(40, 60):  # planted near-dups of earlier ids
        base = hashes[i - 40]
        flipped = base
        for _ in range(rng.randint(0, 3)):
            flipped ^= 1 << rng.randrange(63)
        hashes[i] = flipped
    df = spark.createDataFrame(
        [(i, h) for i, h in hashes.items()], "doc_id long, phash long"
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in hamming_pairs(df, max_hamming=3).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(hashes), 2):
        d = bin(hashes[a] ^ hashes[b]).count("1")
        if d <= 3:
            want[(a, b)] = d
    assert got == want


def test_audio_fingerprint_wav_pipeline(spark):
    """Closed-form WAV bytes → REAL decode_wav → audio_fingerprint
    equals the fingerprint of the directly-constructed sample array;
    same-content docs match all 12 subfingerprints, the perturbed
    variant still matches >= 9 (only the first two frames move), and
    distinct content classes do NOT collide on >= 5 frames."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        audio_fingerprint,
        audio_fp_frame,
        audio_fp_pairs,
    )
    from image_search_indexing_spark.sources.mediagen import synthetic_media_wav_samples

    docs = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    wavs = synthetic_media_wav_samples(docs)
    got = {}
    for r in audio_fp_frame(wavs).collect():
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = r["fp"]
    for doc_id in range(64):
        kk, v = doc_id % 29, doc_id % 2
        g = np.arange(416, dtype=np.int64)
        s = ((g + kk * 3) ** 2 % 251 + g * (kk % 13 + 1) % 31 * 3
             + ((v == 1) & (g < 64) & (g % 16 == 0)).astype(np.int64)) % 256
        want = dict(audio_fingerprint((s.astype(np.float64) - 128.0) / 128.0))
        assert got[doc_id] == want and len(want) == 12
    # doc 0 and doc 58 share (kk=0, v=0): all 12 frames match
    assert got[0] == got[58]
    # doc 0 vs doc 29 (kk=0, v=1): frames 3.. identical, frames 1-2 may move
    same = sum(1 for f in got[0] if got[0][f] == got[29][f])
    assert same >= 9
    pairs = {(r["id_a"], r["id_b"]): r["n_matched"]
             for r in audio_fp_pairs(audio_fp_frame(wavs)).collect()}
    assert pairs[(0, 58)] >= 12 and (0, 29) in pairs
    for (a, b), nm in pairs.items():
        if a % 29 != b % 29:  # cross-content: no >= 5-frame collisions here
            raise AssertionError(f"cross-content pair {(a, b)} matched {nm}")


def _tiff_bytes(img, bo="<", compression=1, photometric=None, rows_per_strip=None,
                palette=None):
    """Independent spec-written TIFF writer (6.0 baseline, strip layout)
    for decoder tests: chunky 8-bit, None or PackBits compression."""
    import struct

    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    photo = photometric if photometric is not None else (
        3 if palette is not None else (2 if spp == 3 else 1))
    rps = rows_per_strip or h
    strips_px = [img[y: y + rps].tobytes() for y in range(0, h, rps)]

    def packbits(b):
        out = bytearray()
        i = 0
        while i < len(b):
            run = 1
            while i + run < len(b) and b[i + run] == b[i] and run < 128:
                run += 1
            if run >= 2:
                out += bytes([257 - run, b[i]])
                i += run
            else:
                j = i + 1
                while j < len(b) and (j + 1 >= len(b) or b[j + 1] != b[j]) and j - i < 128:
                    j += 1
                out += bytes([j - i - 1]) + b[i:j]
                i = j
        return bytes(out)

    strips = [packbits(s) if compression == 32773 else s for s in strips_px]
    e = "<" if bo == "<" else ">"
    entries = []  # (tag, type, count, value_bytes_or_int, needs_offset)
    entries.append((256, 3, 1, w))
    entries.append((257, 3, 1, h))
    bps = struct.pack(f"{e}{spp}H", *([8] * spp))
    entries.append((258, 3, spp, bps if spp > 2 else 8))
    entries.append((259, 3, 1, compression))
    entries.append((262, 3, 1, photo))
    entries.append((277, 3, 1, spp))
    entries.append((278, 3, 1, rps))
    # strip offsets/counts filled after layout
    n_tags = len(entries) + 2 + (1 if palette is not None else 0)
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_tags + 4
    tail = bytearray()

    def place(raw):
        nonlocal tail
        off = data_off + len(tail)
        tail += raw
        if len(tail) % 2:
            tail += b"\0"
        return off

    strip_offs = []
    for s in strips:
        strip_offs.append(place(s))
    off_raw = struct.pack(f"{e}{len(strips)}I", *strip_offs)
    cnt_raw = struct.pack(f"{e}{len(strips)}I", *[len(s) for s in strips])
    entries.append((273, 4, len(strips), off_raw if len(strips) > 1 else strip_offs[0]))
    entries.append((279, 4, len(strips), cnt_raw if len(strips) > 1 else len(strips[0])))
    if palette is not None:  # palette: numpy (256,3) uint8 -> SHORTs << 8
        pal = palette.astype("u2") << 8
        raw = struct.pack(f"{e}768H", *pal.T.reshape(-1))
        entries.append((320, 3, 768, raw))
    out = bytearray()
    out += (b"II*\x00" if e == "<" else b"MM\x00*") + struct.pack(f"{e}I", ifd_off)
    out += struct.pack(f"{e}H", n_tags)
    for tag, typ, cnt, val in sorted(entries):
        size = {3: 2, 4: 4}[typ] * cnt
        if isinstance(val, bytes):
            inline = val + b"\0" * (4 - len(val)) if size <= 4 else struct.pack(
                f"{e}I", place(val))
        else:
            inline = struct.pack(f"{e}H2x" if typ == 3 else f"{e}I", val)
        out += struct.pack(f"{e}HHI", tag, typ, cnt) + inline[:4].ljust(4, b"\0")
    out += struct.pack(f"{e}I", 0)
    out += tail
    return bytes(out)


def test_tiff_decode_real():
    """Hand-built TIFF fixtures through the real decoder: RGB and gray,
    both byte orders, multi-strip, PackBits, palette, WhiteIsZero."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import decode_image, decode_tiff

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 255, (13, 7, 3)).astype(np.uint8)
    for bo in ("<", ">"):
        for comp in (1, 32773):
            for rps in (13, 4):
                got = decode_tiff(_tiff_bytes(rgb, bo=bo, compression=comp,
                                              rows_per_strip=rps))
                assert got is not None and np.array_equal(got, rgb), (bo, comp, rps)
    gray = rng.randint(0, 255, (9, 11)).astype(np.uint8)
    g = decode_tiff(_tiff_bytes(gray, compression=32773))
    assert np.array_equal(g, np.repeat(gray[:, :, None], 3, axis=2))
    inv = decode_tiff(_tiff_bytes(gray, photometric=0))
    assert np.array_equal(inv, np.repeat((255 - gray)[:, :, None], 3, axis=2))
    pal = rng.randint(0, 255, (256, 3)).astype(np.uint8)
    idx = rng.randint(0, 255, (6, 5)).astype(np.uint8)
    p = decode_tiff(_tiff_bytes(idx, palette=pal))
    assert np.array_equal(p, pal[idx])
    # dispatch + garbage safety
    assert decode_image(_tiff_bytes(rgb)) is not None
    assert decode_tiff(b"II*\x00" + b"\x00" * 3) is None
    # photometric/SamplesPerPixel mismatches are malformed files, not
    # decodable ones: RGB (photo 2) with spp=1 would leak an (h, w, 1)
    # array into phash64; gray/palette photo with spp=3 would build a
    # garbage (h, w, 9) array via the np.repeat gray path.
    assert decode_tiff(_tiff_bytes(gray, photometric=2)) is None
    assert decode_tiff(_tiff_bytes(rgb, photometric=1)) is None
    assert decode_tiff(_tiff_bytes(rgb, photometric=0)) is None
    assert decode_tiff(_tiff_bytes(rgb, photometric=3)) is None


def test_phash64_rejects_non_rgb_shapes():
    """Defense in depth: phash64 returns None (NULL-phash row) for any
    non-(h, w, 3) array instead of raising inside the Arrow batch loop."""
    import numpy as np

    from image_search_indexing_spark.operators.multimodal import phash64

    assert phash64(np.zeros((4, 4, 1), np.uint8)) is None
    assert phash64(np.zeros((4, 4, 9), np.uint8)) is None
    assert phash64(np.zeros((4, 4), np.uint8)) is None
    assert phash64(np.zeros((4, 4, 3), np.uint8)) is not None


def test_hamming_pairs_hot_group_linear(spark):
    """The 100 TB skew fix: a g-member identical-hash group emits g−1
    star edges, not the g²/2 clique — output is LINEAR in duplicate-group
    size, and connectivity (the groups contract) is unchanged."""
    from image_search_indexing_spark.operators.dedup import (
        connected_components,
        hamming_pairs,
    )

    g = 3000
    base = 0x0123456789ABCDEF
    rows = [(i, base) for i in range(g)]          # one hot identical-hash group
    rows.append((g, base ^ 0b101))                # a hamming-2 neighbor
    rows.append((g + 1, 0x7EDCBA9876543210))      # unrelated
    df = spark.createDataFrame(rows, "doc_id long, phash long")
    pairs = hamming_pairs(df, max_hamming=3).collect()
    # linear: (g-1) star edges + ONE rep-to-neighbor edge — not ~g²/2≈4.5M
    assert len(pairs) == (g - 1) + 1
    stars = [(r["id_a"], r["id_b"]) for r in pairs if r["hamming"] == 0]
    assert stars == [(0, i) for i in range(1, g)] or set(stars) == {
        (0, i) for i in range(1, g)
    }
    cross = [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs if r["hamming"] > 0]
    assert cross == [(0, g, 2)]
    comp = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame([(r["id_a"], r["id_b"]) for r in pairs],
                                  "id_a long, id_b long"),
            nodes=df.select("doc_id"), node_col="doc_id",
        ).collect()
    }
    assert all(comp[i] == 0 for i in range(g + 1)) and comp[g + 1] == g + 1


def test_audio_fp_pairs_collapse_and_df_cap(spark):
    """Identical fingerprint sequences collapse to star edges (linear in
    group size); fp values above the document-frequency cap drop out of
    the inverted index (and frames matching only through them don't count
    toward n_matched)."""
    from image_search_indexing_spark.operators.multimodal import audio_fp_pairs

    rows = []
    # hot group: 200 docs with the identical 6-frame sequence
    for d in range(200):
        rows += [(d, f, 1000 + f) for f in range(6)]
    # a near-dup of the group: shares frames 0..4, differs on frame 5
    rows += [(500, f, 1000 + f) for f in range(5)] + [(500, 5, 9999)]
    # short identical pair: below min_matched, must NOT pair
    rows += [(600, f, 2000 + f) for f in range(3)]
    rows += [(601, f, 2000 + f) for f in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, frame_idx int, fp long")
    got = {(r["id_a"], r["id_b"]): r["n_matched"]
           for r in audio_fp_pairs(df, min_matched=5).collect()}
    want = {(0, d): 6 for d in range(1, 200)}     # star edges, not 19900 pairs
    want[(0, 500)] = 5                            # rep-to-neighbor via the join
    assert got == want
    # DF cap: with max_fp_docs=1, every fp of the 2-rep inverted index
    # (reps 0 and 500 share fps 1000..1004) is too frequent → only star
    # edges survive
    capped = {(r["id_a"], r["id_b"]): r["n_matched"]
              for r in audio_fp_pairs(df, min_matched=5, max_fp_docs=1).collect()}
    assert capped == {(0, d): 6 for d in range(1, 200)}


def test_hamming_pairs_rejects_recall_breaking_threshold(spark):
    """max_hamming >= n_bands silently loses pairs (pigeonhole no longer
    applies) — the API refuses instead."""
    import pytest

    from image_search_indexing_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame([(1, 7)], "doc_id int, phash long")
    with pytest.raises(ValueError, match="exact-recall"):
        hamming_pairs(df, max_hamming=4)  # default 4 bands
    with pytest.raises(ValueError, match="exact-recall"):
        hamming_pairs(df, band_bits=32, max_hamming=2)  # 2 bands


def test_ico_decode_real():
    """ICO fixtures: 32-bit DIB icon (XOR+AND planes) and embedded-PNG
    icon, largest-entry selection."""
    import struct

    import numpy as np

    from image_search_indexing_spark.operators.multimodal import (
        decode_ico,
        decode_image,
        encode_png,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 255, (8, 8, 3)).astype(np.uint8)

    def dib_entry(im):
        h, w = im.shape[:2]
        bgra = np.dstack([im[:, :, 2], im[:, :, 1], im[:, :, 0],
                          np.full((h, w), 255, np.uint8)])
        body = struct.pack("<IiiHHIIiiII", 40, w, h * 2, 1, 32, 0, 0, 0, 0, 0, 0)
        body += bgra[::-1].tobytes()          # bottom-up color plane
        body += b"\0" * ((w + 31) // 32 * 4 * h)  # AND mask
        return body

    small = rng.randint(0, 255, (4, 4, 3)).astype(np.uint8)
    e1, e2 = dib_entry(small), dib_entry(img)
    hdr = struct.pack("<HHH", 0, 1, 2)
    off1 = 6 + 16 * 2
    d1 = struct.pack("<BBBBHHII", 4, 4, 0, 0, 1, 32, len(e1), off1)
    d2 = struct.pack("<BBBBHHII", 8, 8, 0, 0, 1, 32, len(e2), off1 + len(e1))
    ico = hdr + d1 + d2 + e1 + e2
    got = decode_ico(ico)
    assert got is not None and np.array_equal(got, img)  # largest entry wins
    assert np.array_equal(decode_image(ico), img)
    png = encode_png(img)
    ico_png = (struct.pack("<HHH", 0, 1, 1)
               + struct.pack("<BBBBHHII", 8, 8, 0, 0, 1, 32, len(png), 22) + png)
    assert np.array_equal(decode_ico(ico_png), img)
    assert decode_ico(b"\x00\x00\x01\x00") is None


def test_round4_kernel_hardening():
    """Round-4 review fixes, pinned: (a) MPEG audio sniffing accepts any
    valid frame header (CRC-protected MPEG-1, MPEG-2/2.5 Layer III) and
    rejects invalid version/bitrate/samplerate bits; (b) a TIFF whose
    width/height tags are RATIONAL-typed (inline bytes = value OFFSET,
    not a value) is a parse failure, not a bogus dimension; (c) an
    OpusHead with Input-Sample-Rate 0 ('unknown', RFC 7845 §5.1) keeps
    its granule-exact duration on the 48 kHz clock."""
    import struct

    from image_search_indexing_spark.operators.multimodal import (
        parse_image_dims,
        parse_ogg_meta,
        sniff_mime,
    )

    # (a) sniff: valid frame headers of every MPEG version, CRC or not
    for b1 in (0xFB, 0xFA, 0xF3, 0xE3):
        assert sniff_mime(bytes([0xFF, b1, 0x90, 0x64])) == "audio/mpeg", hex(b1)
    for bad in (
        bytes([0xFF, 0xEB, 0x90, 0x64]),  # reserved version bits
        bytes([0xFF, 0xF9, 0x90, 0x64]),  # reserved layer bits
        bytes([0xFF, 0xFB, 0xF0, 0x64]),  # bitrate index 15
        bytes([0xFF, 0xFB, 0x00, 0x64]),  # free-format bitrate 0
        bytes([0xFF, 0xFB, 0x9C, 0x64]),  # samplerate index 3
    ):
        assert sniff_mime(bad) == "application/octet-stream", bad.hex()

    # (b) RATIONAL-typed (type 5) dimension tags: offset must not leak out
    hdr = b"II*\x00" + struct.pack("<I", 8)
    ifd = struct.pack("<H", 2)
    for tag in (256, 257):
        ifd += struct.pack("<HHI", tag, 5, 1) + struct.pack("<I", 120)
    ifd += struct.pack("<I", 0)
    assert parse_image_dims(hdr + ifd) == (None, None)

    # (c) OpusHead with rate field 0: duration still granule-exact
    def page(granule, packet, htype, serial=7, seq=0):
        segs = [len(packet)] if len(packet) < 255 else [255, len(packet) - 255]
        head = (b"OggS" + bytes([0, htype]) + struct.pack("<q", granule)
                + struct.pack("<III", serial, seq, 0) + bytes([len(segs)])
                + bytes(segs))
        return head + packet

    opus_head = (b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
                 + struct.pack("<I", 0) + struct.pack("<h", 0) + bytes([0]))
    data = page(0, opus_head, 2) + page(48312, b"\x00", 4, seq=1)
    meta = parse_ogg_meta(data)
    assert meta == (1000, 48000, 2), meta


def test_pair_join_reuses_fingerprint_exchange(spark):
    """The near-dup pair self-joins must NOT re-execute the Arrow
    decode+hash upstream per join side: after execution, the AQE plan
    shows the second side as a ReusedExchange of the first (one
    materialized fingerprint shuffle feeding both)."""
    from image_search_indexing_spark.operators.dedup import hamming_pairs
    from image_search_indexing_spark.operators.multimodal import (
        audio_fp_frame,
        audio_fp_pairs,
        phash_frame,
    )
    from image_search_indexing_spark.sources.mediagen import (
        synthetic_media_bmp_pixels,
        synthetic_media_wav_samples,
    )

    docs = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    for pairs in (
        hamming_pairs(phash_frame(synthetic_media_bmp_pixels(docs)), max_hamming=3),
        audio_fp_pairs(audio_fp_frame(synthetic_media_wav_samples(docs))),
    ):
        pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, plan[:2000]


def test_encode_jpeg_real_round_trip():
    """encode_jpeg is a REAL T.81 baseline encoder: the repo's
    independently-validated decoder inverts it within quantization
    tolerance, its DHT segments are spec-valid frequency-optimized
    canonical codes (Kraft-feasible, ≤16 bits, no all-ones code), and
    degenerate inputs (flat color, sub-block dims, dense noise) all
    survive the optimal-table derivation."""
    from image_search_indexing_spark.operators.multimodal import (
        decode_jpeg, encode_jpeg, parse_image_dims, sniff_mime,
    )

    y, x = np.mgrid[0:37, 0:52]
    img = np.stack(
        [
            128 + 100 * np.sin(x / 16.0),
            128 + 90 * np.cos(y / 13.0),
            128 + 70 * np.sin((x + 2 * y) / 21.0),
        ],
        axis=2,
    ).astype(np.uint8)
    data = encode_jpeg(img, quality=75)
    assert sniff_mime(data) == "image/jpeg"
    assert parse_image_dims(data) == (52, 37)
    got = decode_jpeg(data)
    assert got is not None and got.shape == img.shape
    err = np.abs(got.astype(np.int32) - img.astype(np.int32))
    assert err.mean() < 3.0 and err.max() < 30, (err.mean(), err.max())

    # every DHT in the stream is a valid canonical Huffman spec
    i, n_dht = 2, 0
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            i += 1
            continue
        m = data[i + 1]
        seg = int.from_bytes(data[i + 2 : i + 4], "big")
        if m == 0xC4:
            body = data[i + 4 : i + 2 + seg]
            counts = list(body[1:17])
            vals = body[17 : 17 + sum(counts)]
            assert len(vals) == sum(counts)
            assert len(set(vals)) == len(vals)  # no duplicate symbols
            kraft = sum(c * 2 ** (16 - ln) for ln, c in enumerate(counts, 1))
            assert kraft < 2**16  # strict: all-ones code never assigned
            n_dht += 1
        i += 2 + seg if m not in (0xD8, 0x01) else 2
        if m == 0xDA:
            break
    assert n_dht == 4

    # degenerate inputs: flat color (single-symbol tables), sub-block
    # dims (edge padding), dense noise (widest symbol alphabet)
    flat = np.full((16, 24, 3), 200, np.uint8)
    df = decode_jpeg(encode_jpeg(flat))
    assert df is not None and np.abs(df.astype(int) - 200).max() <= 3
    tiny = decode_jpeg(encode_jpeg(img[:3, :5], quality=90))
    assert tiny is not None and tiny.shape == (3, 5, 3)
    rng = np.random.default_rng(5)
    noisy = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    dn = decode_jpeg(encode_jpeg(noisy, quality=95))
    assert dn is not None
    assert np.abs(dn.astype(int) - noisy.astype(int)).mean() < 16.0


def test_encode_bmp_tiff_lossless_round_trip():
    """encode_bmp / encode_tiff are lossless: the repo's real decoders
    recover the exact pixel array, and the headers satisfy the same
    dims/MIME parsers the P2 gates consume."""
    from image_search_indexing_spark.operators.multimodal import (
        decode_bmp, decode_tiff, encode_bmp, encode_tiff,
        parse_image_dims, sniff_mime,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (21, 33, 3), dtype=np.uint8)
    b = encode_bmp(img)
    assert sniff_mime(b) == "image/bmp" and parse_image_dims(b) == (33, 21)
    assert np.array_equal(decode_bmp(b), img)
    t = encode_tiff(img)
    assert sniff_mime(t) == "image/tiff" and parse_image_dims(t) == (33, 21)
    assert np.array_equal(decode_tiff(t), img)


def test_encode_tiff_word_aligned():
    """TIFF 6.0 puts the IFD and every out-of-line value on a word
    boundary: a 3×5 RGB strip (45 bytes) is padded to even length, so the
    BitsPerSample triple and the IFD sit at even offsets, and the file
    still round-trips bit-exact."""
    from image_search_indexing_spark.operators.multimodal import decode_tiff, encode_tiff

    img = np.random.default_rng(3).integers(0, 256, (3, 5, 3), dtype=np.uint8)
    t = encode_tiff(img)
    ifd = int.from_bytes(t[4:8], "little")
    n = int.from_bytes(t[ifd : ifd + 2], "little")
    tags = {int.from_bytes(t[e : e + 2], "little"): int.from_bytes(t[e + 8 : e + 12], "little")
            for e in range(ifd + 2, ifd + 2 + 12 * n, 12)}
    assert ifd % 2 == 0 and tags[258] % 2 == 0
    assert t[tags[258] : tags[258] + 6] == (8).to_bytes(2, "little") * 3
    assert tags[279] == 45  # StripByteCounts: the pad is not strip data
    assert np.array_equal(decode_tiff(t), img)


def test_thumbnail_source_mime_parity():
    """F10 MIME parity with ``ImageParse.java:173-176``
    (``ImageIO.write(scaledImg, mimeDetected.substring(6), ...)``):
    jpeg/bmp/tiff/png thumbnails re-encode in the SOURCE container;
    ico (no ImageIO writer-parity constraint — the reference cannot
    read ico at all) falls back to PNG."""
    from image_search_indexing_spark.operators.multimodal import (
        encode_bmp, encode_jpeg, encode_png, encode_tiff,
        sniff_mime, thumbnail_bytes,
    )

    y, x = np.mgrid[0:296, 0:416]
    big = np.stack(
        [x % 256, y % 256, (x + y) % 256], axis=2
    ).astype(np.uint8)
    for enc, mime in (
        (encode_jpeg, "image/jpeg"),
        (encode_bmp, "image/bmp"),
        (encode_tiff, "image/tiff"),
        (encode_png, "image/png"),
    ):
        thumb, tw, th = thumbnail_bytes(enc(big))
        assert (tw, th) == (200, 142)
        assert thumb is not None and sniff_mime(thumb) == mime
    # under-box inputs keep original dims but still re-encode in-MIME
    small = big[:40, :60]
    thumb, tw, th = thumbnail_bytes(encode_jpeg(small))
    assert (tw, th) == (60, 40) and sniff_mime(thumb) == "image/jpeg"
