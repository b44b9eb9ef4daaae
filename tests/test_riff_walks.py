"""The shared RIFF chunk walk and AVI frame walk of operators/multimodal.

Every RIFF reader (WebP dims and pixels, WAVE PCM, the AVI header and
``movi`` list) steps through one chunk walk, and the three AVI frame
operators through one frame walk. These pin the walk's pad step over
odd-sized chunks ahead of the payload chunk, its clamp of a last chunk
whose declared size overruns the buffer, and that the frame operators
agree on frame numbering, timestamps and the ``max_frames`` cut."""

import struct

import numpy as np
from test_video import _avi, _chunk, _dib
from test_webp import encode_vp8l

from image_search_indexing_spark.operators.multimodal import (
    decode_wav,
    decode_webp,
    extract_video_frames,
    iter_avi_frames,
    parse_avi_meta,
    parse_image_dims,
    phash64,
    sample_frames,
    video_phash_frames,
)

FMT = _chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))  # 16-bit mono PCM
SAMPLES = np.array([0, 16384, -16384, 32767, -32768, 7], "<i2")


def _riff(form: bytes, *chunks: bytes) -> bytes:
    body = form + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_of(chunks, w: int, h: int, upf: int) -> bytes:
    """An AVI whose ``movi`` list holds exactly ``chunks``."""
    hdrl = _avi([], w, h, upf)[12:-12]  # drop RIFF/size/'AVI ' and the empty movi LIST
    return _riff(b"AVI ", hdrl, _chunk(b"LIST", b"movi" + b"".join(chunks)))


def _frame(k: int) -> np.ndarray:
    y, x = np.mgrid[0:4, 0:4]
    return np.stack([(x * 60 + k * 7) % 256, (y * 50 + k * 11) % 256,
                     (x * y * 9 + k) % 256], axis=2).astype(np.uint8)


def test_wav_odd_list_chunk_before_data():
    # a 7-byte LIST body: the walk must step over its pad byte to find data
    data = _riff(b"WAVE", FMT, _chunk(b"LIST", b"INFOodd"), _chunk(b"data", SAMPLES.tobytes()))
    samples, rate = decode_wav(data)
    assert rate == 8000 and np.array_equal(samples, SAMPLES / 32768.0)


def test_webp_odd_unknown_chunk_before_vp8l_and_vp8x():
    img = _frame(3)[:3]  # 4 wide, 3 high
    vp8l = encode_vp8l(img)[12:]  # the VP8L chunk alone
    data = _riff(b"WEBP", _chunk(b"JUNK", b"abc"), vp8l)
    assert parse_image_dims(data) == (4, 3)
    assert np.array_equal(decode_webp(data), img)
    canvas = bytes(4) + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    vp8x = _riff(b"WEBP", _chunk(b"JUNK", b"q"), _chunk(b"VP8X", canvas))
    assert parse_image_dims(vp8x) == (640, 480)


def test_avi_odd_junk_chunk_before_hdrl():
    f0 = _frame(0)
    plain = _avi([_dib(f0)], w=4, h=4, upf=40000)
    data = _riff(b"AVI ", _chunk(b"JUNK", b"xyz"), plain[12:])
    assert parse_avi_meta(data) == parse_avi_meta(plain) == (40000, 1, 1, 4, 4)
    assert [(s, c, bytes(b)) for s, c, b in iter_avi_frames(data)] == [(0, "db", _dib(f0))]


def test_last_chunk_overrunning_the_buffer_is_clamped():
    # WAVE: data declares 1000 bytes, 12 are there
    wav = _riff(b"WAVE", FMT, b"data" + struct.pack("<I", 1000) + SAMPLES.tobytes())
    samples, _ = decode_wav(wav)
    assert np.array_equal(samples, SAMPLES / 32768.0)
    # WebP: the VP8L chunk declares 1000 more bytes than it has
    vp8l = bytearray(encode_vp8l(_frame(1)))
    vp8l[16:20] = (int.from_bytes(vp8l[16:20], "little") + 1000).to_bytes(4, "little")
    assert parse_image_dims(bytes(vp8l)) == (4, 4)
    assert np.array_equal(decode_webp(bytes(vp8l)), _frame(1))
    # AVI: the file ends inside the second frame; its chunk clamps to the
    # buffer (both enclosing LISTs overrun too) and does not decode
    f0, f1 = _dib(_frame(0)), _dib(_frame(1))
    data = _avi([f0, f1], w=4, h=4)[:-10]
    assert [bytes(b) for _, _, b in iter_avi_frames(data)] == [f0, f1[:-10]]


def test_frame_operators_agree_on_index_timestamp_and_cut(spark):
    """One AVI with an interleaved audio chunk, an undecodable ``dc``
    chunk and more video chunks than ``max_frames``: the audio chunk
    takes no frame number, the undecodable frame does, and all three
    operators stop at the same frame."""
    imgs = [_frame(k) for k in range(4)]
    opaque = b"\x00\x00\x01\x65 h264"  # odd-sized, not MJPEG
    chunks = [_chunk(b"00db", _dib(imgs[0])), _chunk(b"01wb", b"\x07" * 9),
              _chunk(b"00dc", opaque)] + [_chunk(b"00db", _dib(im)) for im in imgs[1:]]
    data = _avi_of(chunks, w=4, h=4, upf=40000)
    df = spark.createDataFrame([("v", bytearray(data))], "media_id string, payload binary")

    ext = sorted((r.frame_idx, r.ts_ms, r.decoded, r.mean_r)
                 for r in extract_video_frames(df, max_frames=3).collect())
    assert ext == [(0, 0, True, imgs[0][:, :, 0].mean()), (1, 40, False, None),
                   (2, 80, True, imgs[1][:, :, 0].mean())]
    smp = sorted((r.frame_idx, r.ts_ms, bytes(r.frame))
                 for r in sample_frames(df, max_frames=3).collect())
    assert smp == [(0, 0, _dib(imgs[0])), (1, 40, opaque), (2, 80, _dib(imgs[1]))]
    fps = sorted((r.frame_idx, r.fp)
                 for r in video_phash_frames(df, id_col="media_id", max_frames=3).collect())
    assert fps == [(0, phash64(imgs[0])), (2, phash64(imgs[1]))]
