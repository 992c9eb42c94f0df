"""Real PNG/PPM decode (multimodal) + S5 JSON format auto-detection."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nous_spark.operators.multimodal import (
    decode_image_stats,
    decode_png,
    decode_ppm,
    encode_png,
)
from nous_spark.sources.readers import detect_and_parse_json

FIXTURES = "/root/repo/fixtures/readers"


def _img(h, w, c, seed):
    return np.random.default_rng(seed).integers(0, 256, (h, w, c), dtype=np.uint8)


def test_png_roundtrip_all_colortypes():
    for c in (1, 2, 3, 4):
        img = _img(13, 17, c, seed=c)
        assert (decode_png(encode_png(img)) == img).all()


def test_png_filters_decoded():
    """Hand-build a PNG whose rows use filters 1 (Sub), 2 (Up), 3 (Avg),
    4 (Paeth) and check against the spec reconstruction."""
    import struct
    import zlib

    w, h, c = 6, 4, 3
    img = _img(h, w, c, seed=99)
    # encode each row with a different filter per the PNG spec
    raws = []
    prev = np.zeros(w * c, dtype=np.int32)
    for row, ftype in zip(range(h), (1, 2, 3, 4)):
        cur = img[row].reshape(-1).astype(np.int32)
        enc = np.zeros(w * c, dtype=np.int32)
        for i in range(w * c):
            a = cur[i - c] if i >= c else 0
            b = prev[i]
            pc = prev[i - c] if i >= c else 0
            if ftype == 1:
                enc[i] = cur[i] - a
            elif ftype == 2:
                enc[i] = cur[i] - b
            elif ftype == 3:
                enc[i] = cur[i] - (a + b) // 2
            else:
                p = a + b - pc
                pa, pb, pcc = abs(p - a), abs(p - b), abs(p - pc)
                pred = a if (pa <= pb and pa <= pcc) else (b if pb <= pcc else pc)
                enc[i] = cur[i] - pred
        raws.append(bytes([ftype]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    data = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"".join(raws)))
            + chunk(b"IEND", b""))
    assert (decode_png(data) == img).all()


def test_ppm_decode():
    img = _img(5, 7, 3, seed=3)
    data = b"P6\n# comment\n7 5\n255\n" + img.tobytes()
    assert (decode_ppm(data) == img).all()


def test_decode_image_stats_spark(spark):
    imgs = {i: _img(6 + i, 9 + i, 3, seed=i) for i in range(4)}
    rows = [(i, bytearray(encode_png(imgs[i]))) for i in range(3)]
    rows.append((3, bytearray(b"P6\n" + f"{9+3} {6+3}\n255\n".encode()
                              + imgs[3].tobytes())))
    rows.append((4, bytearray(b"garbage-not-an-image")))
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    got = {r.media_id: r for r in decode_image_stats(media).collect()}
    for i in range(4):
        assert got[i].width == 9 + i and got[i].height == 6 + i
        assert got[i].channels == 3
        assert abs(got[i].mean_intensity - float(imgs[i].mean())) < 1e-9
        assert got[i].decode_error is None
    assert got[4].decode_error is not None and got[4].width is None


def test_s5_autodetect_formats(spark):
    out = detect_and_parse_json(spark, f"{FIXTURES}/corpus.jsonl").collect()
    by_url = {r.url: r for r in out}
    t0 = by_url["http://ex.org/t0"]
    assert t0.format == 0 and "Paris" in t0.content and t0.ts == "2019-01-01"
    sd = by_url["http://ex.org/sd1"]
    assert sd.format == 1 and sd.title == "Title 1" and "Berlin" in sd.content
    assert sd.ts == "2019-02-02"
    og = by_url["http://ex.org/og2"]
    assert og.format == 2 and og.title == "OG Title 2" and og.ts == "2019-03-03"
    hh = by_url["http://ex.org/h3"]
    assert hh.format == 0 and hh.ts == "2019-04-04"  # http_headers fallback
    xx = by_url["http://ex.org/x7"]
    assert xx.format == -1 and xx.content == ""


def test_s5_no_python_udf(spark):
    plan = detect_and_parse_json(
        spark, f"{FIXTURES}/corpus.jsonl"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_wav_roundtrip_and_formats():
    from nous_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(5)
    x = rng.uniform(-0.5, 0.5, (1000, 2))
    back, rate = decode_wav(encode_wav(x, 16000))
    assert rate == 16000 and back.shape == (1000, 2)
    assert np.abs(back - x).max() < 1 / 32000  # 16-bit quantization

    # float32 WAV (audio_fmt=3)
    import struct

    pcm = x[:, 0].astype("<f4").tobytes()
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 8000 * 4, 4, 32)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    f32 = b"RIFF" + struct.pack("<I", len(body)) + body
    back2, rate2 = decode_wav(f32)
    assert rate2 == 8000 and np.abs(back2[:, 0] - x[:, 0]).max() < 1e-6


def test_decode_audio_stats_spark(spark):
    from nous_spark.operators.multimodal import decode_audio_stats, encode_wav

    rng = np.random.default_rng(9)
    rows = []
    truth = {}
    for i in range(4):
        n = 800 + 100 * i
        x = rng.uniform(-0.8, 0.8, (n, 1 + i % 2))
        rows.append((i, bytearray(encode_wav(x, 8000 * (1 + i % 3)))))
        truth[i] = (8000 * (1 + i % 3), 1 + i % 2, n)
    rows.append((9, bytearray(b"not-audio")))
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    got = {r.media_id: r for r in decode_audio_stats(media).collect()}
    for i, (rate, ch, n) in truth.items():
        assert got[i].sample_rate == rate
        assert got[i].n_channels == ch
        assert got[i].n_frames == n
        assert abs(got[i].duration_ms - 1000.0 * n / rate) < 1e-6
        assert 0 < got[i].rms < got[i].peak <= 0.8 + 1 / 32000
        assert got[i].decode_error is None
    assert got[9].decode_error is not None


def test_y4m_roundtrip_and_chroma():
    from nous_spark.operators.multimodal import decode_y4m, encode_y4m

    frames = np.random.default_rng(5).integers(0, 256, (6, 8, 10), dtype=np.uint8)
    got, n, fps = decode_y4m(encode_y4m(frames, fps_num=30))
    assert n == 6 and fps == 30.0
    assert all((g == f).all() for g, f in zip(got, frames))
    # hand-built C420: luma plane must come back exactly, chroma skipped
    w, h = 4, 2
    y = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    chroma = bytes(2 * ((w // 2) * (h // 2)))
    data = (b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg\n"
            + b"FRAME\n" + y.tobytes() + chroma) * 1
    fr, n, fps = decode_y4m(b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg\n"
                            + b"FRAME\n" + y.tobytes() + chroma)
    assert n == 1 and fps == 25.0 and (fr[0] == y).all()


def test_y4m_errors():
    from nous_spark.operators.multimodal import decode_y4m, encode_y4m

    with pytest.raises(ValueError, match="not a Y4M"):
        decode_y4m(b"RIFFjunk")
    frames = np.zeros((2, 4, 4), dtype=np.uint8)
    data = encode_y4m(frames)
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(data[:-3])


def test_decode_video_stats_spark(spark):
    from nous_spark.operators.multimodal import decode_video_stats, encode_y4m

    rows = []
    for i in range(5):
        frames = np.random.default_rng(i).integers(
            0, 256, (3 + i, 6, 8), dtype=np.uint8
        )
        rows.append((i, bytearray(encode_y4m(frames, fps_num=10))))
    rows.append((99, bytearray(b"not video at all")))
    media = spark.createDataFrame(rows, ["media_id", "payload"])
    out = {r.media_id: r for r in decode_video_stats(media).collect()}
    for i in range(5):
        frames = np.random.default_rng(i).integers(
            0, 256, (3 + i, 6, 8), dtype=np.uint8
        )
        r = out[i]
        assert r.decode_error is None
        assert (r.width, r.height, r.n_frames, r.fps) == (8, 6, 3 + i, 10.0)
        assert abs(r.mean_luma - float(frames.mean())) < 1e-9
        assert abs(r.duration_ms - 100.0 * (3 + i)) < 1e-9
    assert out[99].decode_error is not None


def test_y4m_chroma_variants():
    from nous_spark.operators.multimodal import decode_y4m

    w, h = 6, 4
    y = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    for tag, (xd, yd) in (("C422", (2, 1)), ("C444", (1, 1))):
        chroma = bytes(2 * ((w // xd) * (h // yd)))
        data = (f"YUV4MPEG2 W{w} H{h} F30:1 Ip A1:1 {tag}\n".encode()
                + b"FRAME\n" + y.tobytes() + chroma
                + b"FRAME\n" + y.tobytes() + chroma)
        fr, n, fps = decode_y4m(data)
        assert n == 2 and fps == 30.0
        assert (fr[0] == y).all() and (fr[1] == y).all()
    # header with no C tag defaults to 420jpeg per spec
    chroma = bytes(2 * ((w // 2) * (h // 2)))
    data = (f"YUV4MPEG2 W{w} H{h} F25:1\n".encode()
            + b"FRAME\n" + y.tobytes() + chroma)
    fr, n, _ = decode_y4m(data)
    assert n == 1 and (fr[0] == y).all()
