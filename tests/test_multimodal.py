"""Real-codec multimodal decode (r4 verdict #5): decode_media sniffs
magic bytes and really parses uncompressed BMP and RIFF/WAVE PCM with
pure numpy; everything else falls back to the documented deterministic
fake. These tests construct genuine BMP/WAV bytes with struct and assert
TRUE width/height/frame-count/duration — upgrading multimodal from
"plumbing + stub" to "decodes real media" — plus the Spark mapInPandas
path over a table of real payloads.
"""
import struct

import numpy as np
import pandas as pd
import pytest

from pdfminer_spark.ops.multimodal import (MediaDecodeError, _fake_decode,
                                           decode_media)


def make_bmp(width, height, bpp=24, top_down=False, pixel_fn=None):
    """Genuine BMP bytes: BITMAPFILEHEADER + BITMAPINFOHEADER + BI_RGB
    pixel array with 4-byte row padding, bottom-up unless top_down."""
    row_bytes = ((width * bpp + 31) // 32) * 4
    used = (width * bpp + 7) // 8
    rows = []
    for y in range(height):
        row = bytearray(row_bytes)
        for i in range(used):
            row[i] = (pixel_fn(y, i) if pixel_fn else (y * 31 + i)) % 256
        rows.append(bytes(row))
    storage = rows if top_down else rows[::-1]
    pixels = b"".join(storage)
    data_off = 14 + 40
    header = (b"BM" + struct.pack("<IHHI", data_off + len(pixels), 0, 0,
                                  data_off)
              + struct.pack("<IiiHHIIiiII", 40, width,
                            -height if top_down else height, 1, bpp,
                            0, len(pixels), 2835, 2835, 0, 0))
    return header + pixels


def make_wav(n_frames, rate=8000, channels=1, bits=16, sample_fn=None):
    """Genuine RIFF/WAVE PCM bytes with fmt + data chunks."""
    block = channels * (bits // 8)
    if bits == 16:
        frames = np.array(
            [[(sample_fn(i, c) if sample_fn else (i * 7 + c)) % 32768
              for c in range(channels)] for i in range(n_frames)],
            dtype="<i2")
    else:
        frames = np.array(
            [[(sample_fn(i, c) if sample_fn else (i + c)) % 256
              for c in range(channels)] for i in range(n_frames)],
            dtype=np.uint8)
    data = frames.tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block,
                      bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_bmp_true_dimensions_and_pixels():
    b = make_bmp(5, 3, bpp=24)
    m = decode_media(b, "image")
    assert (m["width"], m["height"], m["frames"]) == (5, 3, 1)
    assert m["pixels"].shape == (3, 15)  # padding stripped: 5 px * 3 B
    # row order is top-down after the bottom-up flip: pixel_fn(y=0, i=0)
    assert m["pixels"][0, 0] == 0 and m["pixels"][2, 0] == 62


def test_bmp_top_down_negative_height():
    td = decode_media(make_bmp(4, 2, top_down=True), "image")
    bu = decode_media(make_bmp(4, 2, top_down=False), "image")
    assert td["height"] == bu["height"] == 2
    assert np.array_equal(td["pixels"], bu["pixels"])


def test_bmp_1bit_row_padding():
    b = make_bmp(20, 2, bpp=1)  # 20 px -> 3 used bytes, 4-byte rows
    m = decode_media(b, "image")
    assert (m["width"], m["height"], m["bpp"]) == (20, 2, 1)
    assert m["pixels"].shape == (2, 3)


def test_wav_true_duration_and_samples():
    w = make_wav(1600, rate=8000, channels=2, bits=16)
    m = decode_media(w, "audio")
    assert m["frames"] == 1600
    assert m["sample_rate"] == 8000 and m["channels"] == 2
    assert m["duration"] == pytest.approx(0.2)
    assert m["samples"].shape == (1600, 2)
    assert int(m["samples"][3, 1]) == 3 * 7 + 1


def test_wav_8bit_mono():
    m = decode_media(make_wav(100, rate=100, channels=1, bits=8), "audio")
    assert m["frames"] == 100 and m["duration"] == pytest.approx(1.0)
    assert m["samples"].dtype == np.uint8


def _make_g711_wav(codes: bytes, audio_format: int, rate=8000) -> bytes:
    fmt = struct.pack("<HHIIHH", audio_format, 1, rate, rate, 1, 8)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(codes)) + codes)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_g711_mulaw_known_answers():
    """ITU-T G.711 mu-law expansion: anchor values from the reference
    decoder tables (silence 0xFF -> 0; full-scale 0x00 -> -32124,
    0x80 -> +32124) plus the odd symmetry table[x] == -table[x ^ 0x80]."""
    from pdfminer_spark.ops.multimodal import _decode_wav, _g711_ulaw_table

    t = _g711_ulaw_table()
    assert (t[0xFF], t[0x00], t[0x80]) == (0, -32124, 32124)
    assert all(int(t[x]) == -int(t[x ^ 0x80]) for x in range(256))
    d = _decode_wav(_make_g711_wav(bytes([0x00, 0x80, 0xFF]), 7))
    assert d["frames"] == 3 and d["bits"] == 16
    assert d["samples"][:, 0].tolist() == [-32124, 32124, 0]


def test_wav_g711_alaw_known_answers():
    """A-law anchors: silence 0xD5 -> +8 / 0x55 -> -8; full-scale
    0xAA -> +32256 / 0x2A -> -32256; same odd symmetry."""
    from pdfminer_spark.ops.multimodal import _decode_wav, _g711_alaw_table

    t = _g711_alaw_table()
    assert (t[0xD5], t[0x55], t[0xAA], t[0x2A]) == (8, -8, 32256, -32256)
    assert all(int(t[x]) == -int(t[x ^ 0x80]) for x in range(256))
    d = _decode_wav(_make_g711_wav(bytes([0xD5, 0x2A]), 6, rate=16000))
    assert d["samples"][:, 0].tolist() == [8, -32256]
    assert d["duration"] == round(2 / 16000, 6)


def test_malformed_media_falls_back_not_fails():
    """ADVICE r5: an opaque payload that merely shares the 2/4-byte
    magic prefix must take the fake path (the whole query must not
    fail on it); the direct decoders keep raising for tests/callers."""
    from pdfminer_spark.ops.multimodal import _decode_bmp, _decode_wav

    bm_like = b"BM" + b"\x00" * 10  # truncated header
    riff_like = b"RIFF" + struct.pack("<I", 4) + b"WAVE"
    with pytest.raises(MediaDecodeError):
        _decode_bmp(bm_like)
    with pytest.raises(MediaDecodeError):
        _decode_wav(riff_like)
    assert decode_media(bm_like, "image") == _fake_decode(bm_like, "image")
    assert decode_media(riff_like, "audio") == _fake_decode(
        riff_like, "audio")


def test_non_media_payload_takes_fake_path():
    p = b"plain text payload, no magic"
    assert decode_media(p, "image") == _fake_decode(p, "image")


def test_spark_features_over_real_payloads(spark, tmp_path):
    """End-to-end map_rows over a mixed table: real BMP + real WAV +
    opaque text, one Arrow batch. Width/height/frames must be the TRUE
    decoded values for the real payloads and the fake's for the text."""
    from pdfminer_spark.ops.multimodal import (FEATURES_SCHEMA,
                                               _feature_row, _hist_vector)
    from pdfminer_spark.spark.batches import map_rows

    bmp, wav, txt = make_bmp(7, 4), make_wav(320, rate=1600), b"hello world"
    pdf = pd.DataFrame({
        "doc_id": pd.Series([0, 1, 2], dtype="int64"),
        "payload": [bmp, wav, txt],
        "kind": ["image", "audio", "image"],
    })
    df = spark.createDataFrame(pdf)
    out = {r["doc_id"]: r
           for r in map_rows(df, _feature_row(_hist_vector),
                             FEATURES_SCHEMA).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["frames"]) == (7, 4, 1)
    assert (out[1]["width"], out[1]["height"], out[1]["frames"]) == (0, 0, 320)
    fake = _fake_decode(txt, "image")
    assert (out[2]["width"], out[2]["height"]) == (fake["width"],
                                                   fake["height"])
    # features come from DECODED content for real media: the BMP's
    # histogram equals the pixel-row bytes' histogram, not the file's
    from pdfminer_spark.ops.multimodal import _hist_counts
    m = decode_media(bmp, "image")
    want = _hist_counts(m["pixels"].tobytes())
    want = (want / want.sum()).round(6)
    assert np.allclose(out[0]["feature"], want, atol=1e-6)


# ---------------------------------------------------------------------------
# AVI container / MP3 frame-header metadata
# ---------------------------------------------------------------------------

def _chunk(cid: bytes, body: bytes) -> bytes:
    import struct
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _lst(subtype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", subtype + body)


def make_avi(frames_rgb, usec_per_frame=40000, extra_audio_stream=False):
    """Handcrafted AVI: hdrl(avih + strl(strh vids/DIB + strf BIH)) +
    movi with one raw-DIB '00db' chunk per frame (bottom-up BGR, 4-byte
    row padding)."""
    import struct

    h, w = frames_rgb[0].shape[:2]
    avih = struct.pack("<10I", usec_per_frame, 0, 0, 0, len(frames_rgb),
                       0, 2 if extra_audio_stream else 1, 0, w, h) + bytes(16)
    strh_v = b"vids" + b"DIB " + bytes(48)
    strf_v = struct.pack("<IiiHHI", 40, w, h, 1, 24, 0) + bytes(20)
    strl_v = _lst(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf_v))
    strls = strl_v
    if extra_audio_stream:
        # an audio stream BEFORE the video one shifts the video stream id
        strh_a = b"auds" + bytes(4) + bytes(48)
        strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        strls = _lst(b"strl", _chunk(b"strh", strh_a)
                     + _chunk(b"strf", strf_a)) + strl_v
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih) + strls)
    sid = b"01" if extra_audio_stream else b"00"
    row_bytes = ((w * 24 + 31) // 32) * 4
    movi_body = b""
    for fr in frames_rgb:
        bgr = fr[..., ::-1]
        rows = b"".join(bgr[y].tobytes().ljust(row_bytes, b"\x00")
                        for y in range(h - 1, -1, -1))
        movi_body += _chunk(sid + b"db", rows)
    movi = _lst(b"movi", movi_body)
    inner = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(inner)) + inner


def test_avi_raw_dib_frames_exact():
    from pdfminer_spark.ops.multimodal import _decode_avi

    rng = np.random.default_rng(31)
    frames = [rng.integers(0, 256, (7, 9, 3), dtype=np.uint8)
              for _ in range(3)]
    d = _decode_avi(make_avi(frames))
    assert (d["width"], d["height"], d["frames"]) == (9, 7, 3)
    assert d["duration"] == 0.12  # 3 frames at 25 fps
    assert np.array_equal(d["pixels"], frames[0])
    # an earlier audio stream shifts the video stream id to 01
    d = _decode_avi(make_avi(frames, extra_audio_stream=True))
    assert d["frames"] == 3
    assert np.array_equal(d["pixels"], frames[0])


def test_avi_mjpg_first_frame_via_jpeg_decoder(spark):
    """Container + codec composition: an MJPG AVI whose frames are
    javax.imageio-encoded JPEGs must decode its first frame exactly like
    the (differentially-tested) JPEG decoder does standalone."""
    import struct

    from pdfminer_spark.ops.imagedec import decode_jpeg
    from pdfminer_spark.ops.multimodal import _decode_avi

    jvm = spark._jvm
    BI = jvm.java.awt.image.BufferedImage
    yy, xx = np.mgrid[0:16, 0:24]
    img = np.stack([(xx * 9) % 256, (yy * 11) % 256,
                    ((xx + yy) * 5) % 256], -1).astype(np.uint8)
    bi = BI(24, 16, BI.TYPE_INT_RGB)
    for y in range(16):
        for x in range(24):
            r, g, b2 = (int(img[y, x, 0]), int(img[y, x, 1]),
                        int(img[y, x, 2]))
            bi.setRGB(x, y, (r << 16) | (g << 8) | b2)
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "jpg", baos)
    jpg = bytes(baos.toByteArray())

    avih = struct.pack("<10I", 33333, 0, 0, 0, 2, 0, 1, 0, 24, 16) + bytes(16)
    strh = b"vids" + b"MJPG" + bytes(48)
    strf = struct.pack("<IiiHHI", 40, 24, 16, 1, 24, 0x47504A4D) + bytes(20)
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _lst(b"movi", _chunk(b"00dc", jpg) + _chunk(b"00dc", jpg))
    inner = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(inner)) + inner
    d = _decode_avi(avi)
    assert (d["width"], d["height"], d["frames"]) == (24, 16, 2)
    assert np.array_equal(d["pixels"], decode_jpeg(jpg)["pixels"])


def test_avi_hostile_bounded():
    import struct

    from pdfminer_spark.ops.multimodal import (MediaDecodeError,
                                               _decode_avi, decode_media)

    rng = np.random.default_rng(32)
    frames = [rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)]
    good = make_avi(frames)
    # child chunk overrunning its parent LIST raises
    buf = bytearray(good)
    pos = good.index(b"00db")
    struct.pack_into("<I", buf, pos + 4, 1 << 30)
    with pytest.raises(MediaDecodeError, match="overruns"):
        _decode_avi(bytes(buf))
    # dimension bomb in strf
    buf = bytearray(good)
    pos = good.index(b"strf") + 8
    struct.pack_into("<ii", buf, pos + 4, 1 << 20, 1 << 20)
    with pytest.raises(MediaDecodeError, match="dimensions"):
        _decode_avi(bytes(buf))
    # truncated DIB frame
    with pytest.raises(MediaDecodeError):
        _decode_avi(good[:len(good) - 20])
    # decode_media falls back to the fake, never raises
    d = decode_media(bytes(buf), "video")
    assert isinstance(d, dict) and d["frames"] >= 1
    # mutation fuzz never escapes
    for _ in range(200):
        buf = bytearray(good)
        for _ in range(rng.integers(1, 8)):
            buf[rng.integers(0, len(buf))] = rng.integers(0, 256)
        d = decode_media(bytes(buf), "video")
        assert isinstance(d, dict) and "frames" in d


def make_mp3(n_frames, br_idx=9, sr_idx=0, mono=False, id3=b"",
             pad_fn=None):
    """Handcrafted MPEG-1 Layer III stream: valid frame headers with
    spec frame sizing, zero-filled payloads."""
    out = bytearray()
    if id3:
        sz = len(id3)
        out += b"ID3" + bytes((4, 0, 0)) + bytes((
            (sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
            (sz >> 7) & 0x7F, sz & 0x7F)) + id3
    from pdfminer_spark.ops.multimodal import _MP3_BITRATES, _MP3_RATES
    br = _MP3_BITRATES[br_idx] * 1000
    sr = _MP3_RATES[sr_idx]
    for f in range(n_frames):
        pad = pad_fn(f) if pad_fn else 0
        hdr = bytes((0xFF, 0xFB,
                     (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                     0xC0 if mono else 0x00))
        out += hdr + bytes(144 * br // sr + pad - 4)
    return bytes(out)


def test_mp3_frame_walk_exact():
    from pdfminer_spark.ops.multimodal import _decode_mp3

    d = _decode_mp3(make_mp3(38, br_idx=9, sr_idx=0))  # 128kbps/44100
    assert (d["frames"], d["sample_rate"], d["channels"]) == (38, 44100, 2)
    assert d["bitrate_kbps"] == 128
    assert d["duration_us"] == 38 * 1152 * 1_000_000 // 44100
    # padding bits change frame sizes but not the walk
    d = _decode_mp3(make_mp3(10, br_idx=1, sr_idx=2, mono=True,
                             pad_fn=lambda f: f % 2))
    assert (d["frames"], d["sample_rate"], d["channels"]) == (10, 32000, 1)
    assert d["bitrate_kbps"] == 32
    # ID3v2 tag skipped via synchsafe size
    d = _decode_mp3(make_mp3(5, id3=b"\x00" * 300))
    assert d["frames"] == 5


def test_mp3_hostile_and_fallback():
    from pdfminer_spark.ops.multimodal import (MediaDecodeError,
                                               _decode_mp3, decode_media)

    good = make_mp3(6)
    with pytest.raises(MediaDecodeError):  # trailing garbage
        _decode_mp3(good + b"\xde\xad\xbe\xef\x00")
    with pytest.raises(MediaDecodeError):  # free-form bitrate index 0
        _decode_mp3(bytes((0xFF, 0xFB, 0x00, 0x00)) + bytes(100))
    with pytest.raises(MediaDecodeError):  # ID3 only, zero frames
        _decode_mp3(make_mp3(0, id3=b"\x00" * 8))
    d = decode_media(good + b"x", "audio")  # falls back to fake
    assert isinstance(d, dict) and "frames" in d
    d = decode_media(good, "audio")  # real path through the sniffer
    assert d["frames"] == 6


def test_dhash_invariance_and_sensitivity():
    from pdfminer_spark.ops.multimodal import dhash_bits

    rng = np.random.default_rng(51)
    yy, xx = np.mgrid[0:32, 0:48]
    img = np.stack([(xx * 5) % 256, (yy * 3) % 256,
                    ((xx + yy) * 2) % 256], -1).astype(np.uint8)
    h = dhash_bits(img)
    assert len(h) == 64 and set(h) <= {"0", "1"}
    # exact 2x nearest upsample preserves the block structure -> equal
    up = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
    assert dhash_bits(up) == h
    # small noise moves few bits; unrelated image moves many
    noisy = np.clip(img.astype(int) + rng.integers(-6, 7, img.shape),
                    0, 255).astype(np.uint8)
    d_noise = sum(a != b for (a, b) in zip(dhash_bits(noisy), h))
    other = rng.integers(0, 256, img.shape, dtype=np.uint8)
    d_other = sum(a != b for (a, b) in zip(dhash_bits(other), h))
    assert d_noise <= 8 < d_other
    # grayscale input (single channel) accepted
    g = dhash_bits(img[..., :1])
    assert len(g) == 64


def test_decode_avi_frames_seek_accurate():
    from pdfminer_spark.ops.multimodal import (MediaDecodeError,
                                               decode_avi_frames)

    rng = np.random.default_rng(71)
    frames = [rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
              for _ in range(5)]
    avi = make_avi(frames)
    m = decode_avi_frames(avi, [0, 2, 4])
    assert m["frames"] == 5
    for ((k, px), want_k) in zip(m["samples"], (0, 2, 4)):
        assert k == want_k
        assert np.array_equal(px, frames[want_k])
    import pytest as _pt
    with _pt.raises(MediaDecodeError, match="out of range"):
        decode_avi_frames(avi, [5])
