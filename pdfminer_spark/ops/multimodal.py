"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video cells are opaque ``binary`` columns. The decode step
(``decode_media``) sniffs magic bytes and REALLY decodes eight formats
with pure numpy/stdlib — uncompressed BMP (BITMAPINFOHEADER), RIFF/WAVE
PCM (+ G.711 mu-law/A-law), PNG (zlib + all five scanline filters,
Adam7 interlace; ``ops/imagedec.py``), GIF87a/89a (LSB-first LZW,
interlace, GCE transparency), baseline TIFF 6.0 (both byte orders,
strip layout, Compression none/LZW/PackBits, Predictor 2, multi-IFD
frame count), JPEG — sequential AND progressive
SOF2 (full ITU-T.81 Huffman/DCT path incl. successive approximation,
triangle chroma upsampling; all differentially tested against the JVM's
javax.imageio), RIFF AVI video (container chunk walk, true frame count,
raw-DIB first-frame pixels, MJPG frames through the JPEG decoder), and
MPEG-1 Layer III audio metadata (frame-header walk: true frame count,
bitrate/rate/channels, sample-exact duration) — yielding true
width/height/pixel rows resp. sample-frame count/rate/duration/PCM
samples. Payloads that are none of these (e.g. the synthetic corpus's
text stand-ins) fall back to the clearly marked deterministic fake
(``_fake_decode``); fully decoding compressed audio/video PCM (MP3
spectra, H.264) would need a real codec stack absent in this container,
so those surfaces stay metadata-plus-fallback rather than a partial
decode.

Scale notes: every Python step is one ``spark/batches.map_rows`` stage
over a per-row function. The scan is spread round-robin to the session
parallelism first (``_docs``/``media_table`` with ``parallel=True``): a
single-file scan is one partition, and the per-row decode is CPU-heavy.
The decode gates that synthesize their payloads from doc_id spread only
the 8-byte keys. The registered ``media_features`` query emits a
cross-engine-stable ``feature_digest`` (md5 over integer histogram
counts) instead of a raw ``array<float>`` column; the float vector
variant stays available to library users via ``media_feature_vectors``.
"""
from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..spark.batches import map_rows
from .textops import _docs


def media_table(spark: SparkSession, sf_dir: str,
                parallel: bool = False) -> DataFrame:
    """Synthesize an opaque-binary media table from documents: payload =
    utf-8 bytes of the text (a stand-in for image bytes), kind cycled.

    ``parallel=True`` spreads the scan to the session parallelism before
    a CPU-heavy per-row decode stage (r8): the single-file test scan is
    ONE partition (one row group), so without the spread a 32-core box
    runs the whole decode single-threaded — the same fix the
    media_decode_* family measured at 3-5x in r7. The shuffled payload
    is the text bytes (a few MB at test SFs); a real multi-file corpus
    scan already has thousands of partitions and AQE coalesces the
    excess."""
    d = _docs(spark, sf_dir, parallel)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        kind.alias("kind"),
    )


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the opaque payload — pure JVM-side columns
    (byte length + content digest), no decode required."""
    m = media_table(spark, sf_dir)
    return m.select(
        "doc_id", "kind",
        F.length("payload").alias("n_bytes"),
        F.sha2("payload", 256).alias("digest"),
    )


def _fake_decode(payload: bytes, kind: str) -> dict:
    """STUB decode: deterministic pseudo-decode of an opaque payload.

    Fallback for payloads that are not a format ``decode_media`` can
    really parse (the synthetic corpus's text stand-ins, or the codec
    variants still needing a real codec stack — MP3, H.264).
    Shapes are derived from a content digest so results are stable and
    testable."""
    h = hashlib.sha256(payload).digest()
    if kind == "image":
        width = 64 + h[0] % 192
        height = 64 + h[1] % 192
        frames = 1
    elif kind == "video":
        width = 320
        height = 240
        frames = 1 + h[2] % 16
    else:  # audio
        width = 0
        height = 0
        frames = 1 + h[3] % 64  # "chunks"
    return {"width": width, "height": height, "frames": frames}


class MediaDecodeError(ValueError):
    """Raised for a payload that sniffs as BMP/WAV but is malformed."""


def _decode_bmp(b: bytes) -> dict:
    """Real decode of an uncompressed BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER-or-later, BI_RGB): true width/height plus the pixel
    rows (bottom-up storage flipped to top-down, row padding stripped).
    Pure numpy — no image library involved."""
    import struct

    if len(b) < 54:
        raise MediaDecodeError("BMP truncated before headers")
    data_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size = struct.unpack_from("<I", b, 14)[0]
    if hdr_size < 40:
        raise MediaDecodeError("BITMAPCOREHEADER not supported")
    width, raw_h = struct.unpack_from("<ii", b, 18)
    bpp = struct.unpack_from("<H", b, 28)[0]
    compression = struct.unpack_from("<I", b, 30)[0]
    if compression != 0:
        raise MediaDecodeError("compressed BMP (BI_RGB only)")
    if width <= 0 or raw_h == 0 or bpp not in (1, 4, 8, 24, 32):
        raise MediaDecodeError("bad BMP dimensions/depth")
    height = abs(raw_h)
    row_bytes = ((width * bpp + 31) // 32) * 4
    need = row_bytes * height
    if data_off + need > len(b):
        raise MediaDecodeError("BMP pixel array truncated")
    rows = np.frombuffer(b, np.uint8, count=need,
                         offset=data_off).reshape(height, row_bytes)
    if raw_h > 0:  # bottom-up storage -> top-down rows
        rows = rows[::-1]
    used = (width * bpp + 7) // 8
    return {"width": width, "height": height, "frames": 1,
            "bpp": bpp, "pixels": np.ascontiguousarray(rows[:, :used])}


def _g711_ulaw_table() -> np.ndarray:
    """mu-law byte -> linear int16, ITU-T G.711 decoder expansion (the
    same closed form every telephony stack ships as a 256-entry table)."""
    u = np.arange(256, dtype=np.int32) ^ 0xFF  # transmitted complemented
    sign = u >> 7
    exponent = (u >> 4) & 7
    mantissa = u & 15
    mag = (((mantissa << 3) + 0x84) << exponent) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _g711_alaw_table() -> np.ndarray:
    """A-law byte -> linear int16 (G.711; even bits inverted on the
    wire per the 0x55 convention)."""
    a = np.arange(256, dtype=np.int32) ^ 0x55
    sign = a & 0x80  # set AFTER the XOR = positive (G.711 table 2)
    exponent = (a >> 4) & 7
    mantissa = a & 15
    mag = np.where(exponent == 0, (mantissa << 4) + 8,
                   ((mantissa << 4) + 0x108) << (exponent - 1))
    return np.where(sign, mag, -mag).astype(np.int16)


def _decode_wav(b: bytes) -> dict:
    """Real decode of a RIFF/WAVE payload: chunk walk for fmt/data, true
    sample-frame count, rate, channel count, duration, and the samples —
    linear PCM (int16 / uint8) plus the G.711 companded telephony
    formats (format 6 = A-law, 7 = mu-law), expanded to int16 through
    the spec tables. Pure numpy — no audio library involved."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise MediaDecodeError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    i = 12
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        sz = struct.unpack_from("<I", b, i + 4)[0]
        body = b[i + 8:i + 8 + sz]
        if cid == b"fmt ":
            if len(body) < 16:
                raise MediaDecodeError("fmt chunk truncated")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise MediaDecodeError("missing fmt/data chunk")
    audio_format, channels, rate, _byterate, block_align, bits = fmt
    if audio_format == 1:
        if bits not in (8, 16):
            raise MediaDecodeError("PCM 8/16-bit only")
    elif audio_format in (6, 7):  # G.711 A-law / mu-law
        if bits != 8:
            raise MediaDecodeError("G.711 is 8-bit by definition")
    else:
        raise MediaDecodeError("unsupported WAVE format %d" % audio_format)
    if channels < 1 or rate < 1 or block_align != channels * (bits // 8):
        raise MediaDecodeError("inconsistent fmt chunk")
    n_frames = len(data) // block_align
    if audio_format == 1:
        dtype = np.int16 if bits == 16 else np.uint8
        samples = np.frombuffer(
            data, dtype=dtype, count=n_frames * channels)
    else:
        table = (_g711_alaw_table() if audio_format == 6
                 else _g711_ulaw_table())
        codes = np.frombuffer(data, np.uint8, count=n_frames * channels)
        samples = table[codes]
        bits = 16  # expanded width
    return {"width": 0, "height": 0, "frames": n_frames,
            "sample_rate": rate, "channels": channels, "bits": bits,
            "duration": round(n_frames / rate, 6),
            "samples": samples.reshape(n_frames, channels)}


_AVI_MAX_CHUNKS = 1 << 20  # hostile-input ceiling on the chunk walk


def _avi_scan(b: bytes) -> tuple:
    """The shared AVI container walk: iterative LIST descent in
    document order (no recursion — a LIST bomb can nest arbitrarily
    deep), MainAVIHeader, the first ``vids`` stream's handler +
    BITMAPINFOHEADER, and that stream's frame-chunk list. Returns
    ``(avih, handler, strf, frames)`` with frames as
    ``[(kind, offset, size), ...]``."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise MediaDecodeError("not a RIFF/AVI payload")
    avih = None
    video_sid = None      # stream index of the first vids stream
    handler = b""
    strf = None           # its BITMAPINFOHEADER prefix
    expect_strf = False
    stream_idx = -1
    frames: list[tuple[bytes, int, int]] = []  # (kind, offset, size)
    n_chunks = 0
    regions = [(12, len(b))]
    while regions:
        (i, end) = regions.pop()
        while i + 8 <= end:
            cid = b[i:i + 4]
            (sz,) = struct.unpack_from("<I", b, i + 4)
            body = i + 8
            if body + sz > end:
                raise MediaDecodeError("AVI chunk overruns its parent")
            n_chunks += 1
            if n_chunks > _AVI_MAX_CHUNKS:
                raise MediaDecodeError("AVI chunk-count bomb")
            if cid == b"LIST" and sz >= 4:
                # descend in DOCUMENT order (strh must be seen before
                # the movi frames it classifies): park the parent's
                # continuation, walk the child now
                regions.append((body + sz + (sz & 1), end))
                (i, end) = (body + 4, body + sz)
                continue
            if cid == b"avih" and sz >= 40 and avih is None:
                avih = struct.unpack_from("<10I", b, body)
            elif cid == b"strh" and sz >= 8:
                stream_idx += 1
                expect_strf = False
                if b[body:body + 4] == b"vids" and video_sid is None:
                    video_sid = stream_idx
                    handler = b[body + 4:body + 8]
                    expect_strf = True
            elif cid == b"strf" and expect_strf and sz >= 40:
                strf = struct.unpack_from("<IiiHHI", b, body)
                expect_strf = False
            elif (cid[2:4] in (b"db", b"dc") and cid[:2].isdigit()
                  and video_sid is not None
                  and int(cid[:2]) == video_sid):
                frames.append((cid[2:4], body, sz))
            i = body + sz + (sz & 1)  # chunks are word-aligned
    if strf is None or not frames:
        raise MediaDecodeError("AVI missing video stream or frames")
    return (avih, handler, strf, frames)


def _avi_frame_pixels(b: bytes, frame: tuple, w: int, h: int,
                      compression: int, handler: bytes,
                      bpp: int) -> np.ndarray:
    """Decode ONE frame chunk: raw DIB (BI_RGB 24-bit, bottom-up BGR
    rows padded to 4 bytes) fully in numpy, MJPG through the real
    baseline-JPEG decoder in ``ops/imagedec``."""
    import struct

    from pdfminer_spark.ops.imagedec import (ImageDecodeError,
                                             decode_jpeg)

    (kind, off, sz) = frame
    mjpg = handler == b"MJPG" or compression == 0x47504A4D
    if kind == b"dc" and mjpg:
        try:
            d = decode_jpeg(b[off:off + sz])
        except (ImageDecodeError, IndexError, struct.error) as e:
            raise MediaDecodeError("AVI MJPG frame: %s" % e)
        if (d["width"], d["height"]) != (w, h):
            raise MediaDecodeError("MJPG frame size != stream header")
        return d["pixels"]
    if compression == 0 and bpp == 24:  # raw DIB, bottom-up BGR
        row_bytes = ((w * bpp + 31) // 32) * 4
        if sz < row_bytes * h:
            raise MediaDecodeError("AVI DIB frame truncated")
        rows = np.frombuffer(b, np.uint8, count=row_bytes * h,
                             offset=off).reshape(h, row_bytes)
        return rows[::-1, :w * 3].reshape(h, w, 3)[..., ::-1]  # BGR->RGB
    raise MediaDecodeError("unsupported AVI codec %r/%08x"
                           % (handler, compression))


def _avi_geometry(strf: tuple) -> tuple[int, int, int, int]:
    (_, w, raw_h, _planes, bpp, compression) = strf
    h = abs(raw_h)
    if not (0 < w and 0 < h and w * h <= (1 << 26)):
        raise MediaDecodeError("bad AVI dimensions %dx%d" % (w, h))
    return (w, h, bpp, compression)


def _decode_avi(b: bytes) -> dict:
    """Real container-level decode of a RIFF AVI video: the shared
    container walk plus the FIRST frame's pixels. Later frames count
    toward ``frames``/duration but are not pixel-decoded, mirroring the
    first-frame contract of decode_gif/decode_tiff; use
    ``decode_avi_frames`` for seek-accurate sampling."""
    (avih, handler, strf, frames) = _avi_scan(b)
    (w, h, bpp, compression) = _avi_geometry(strf)
    px = _avi_frame_pixels(b, frames[0], w, h, compression, handler, bpp)
    usec = avih[0] if avih else 0
    return {"width": w, "height": h, "frames": len(frames),
            "bpp": 24, "duration": round(len(frames) * usec / 1e6, 6),
            "pixels": np.ascontiguousarray(px)}


def decode_avi_frames(b: bytes, indices: list[int]) -> dict:
    """Seek-accurate frame sampling: decode exactly the requested frame
    indices (the Content-Length-framed chunk list makes every frame
    independently addressable — no sequential decode of the frames in
    between, the property real video samplers rely on). Returns
    width/height/frames plus ``samples`` = [(frame_idx, pixels), ...]."""
    (avih, handler, strf, frames) = _avi_scan(b)
    (w, h, bpp, compression) = _avi_geometry(strf)
    samples = []
    for k in indices:
        if not 0 <= k < len(frames):
            raise MediaDecodeError("AVI frame index %d out of range" % k)
        samples.append((k, np.ascontiguousarray(_avi_frame_pixels(
            b, frames[k], w, h, compression, handler, bpp))))
    usec = avih[0] if avih else 0
    return {"width": w, "height": h, "frames": len(frames),
            "bpp": 24, "duration": round(len(frames) * usec / 1e6, 6),
            "samples": samples}


# MPEG-1 Layer III bitrate table (kbps, index 1..14) and sample rates
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def _decode_mp3(b: bytes) -> dict:
    """Real frame-header walk of an MPEG-1 Layer III stream: ID3v2 skip
    (synchsafe size), per-frame sync/bitrate/samplerate validation,
    spec frame sizing (144*bitrate/rate + padding), true frame count,
    channel mode, and sample-exact duration (1152 samples per frame,
    reported in integer microseconds — cross-engine stable). The PCM
    itself stays undecoded (a real codec stack is absent in this
    container) — this is the metadata surface a corpus pipeline
    actually gates on: duration, bitrate, rate, channel stats."""
    i = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        sz = ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14) \
            | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        i = 10 + sz
    n = len(b)
    frames = 0
    rate = None
    bitrate = None
    channels = None
    while i + 4 <= n:
        (h1, h2, h3) = (b[i + 1], b[i + 2], b[i + 3])
        if not (b[i] == 0xFF and (h1 & 0xE0) == 0xE0):
            raise MediaDecodeError("MP3 sync lost at %d" % i)
        if (h1 >> 3) & 3 != 3 or (h1 >> 1) & 3 != 1:
            raise MediaDecodeError("MPEG-1 Layer III only")
        br_idx = (h2 >> 4) & 15
        sr_idx = (h2 >> 2) & 3
        pad = (h2 >> 1) & 1
        if br_idx in (0, 15) or sr_idx == 3:
            raise MediaDecodeError("free-form/reserved bitrate or rate")
        br = _MP3_BITRATES[br_idx] * 1000
        sr = _MP3_RATES[sr_idx]
        ch = 1 if (h3 >> 6) & 3 == 3 else 2
        if rate is None:
            (rate, bitrate, channels) = (sr, br, ch)
        elif sr != rate:
            raise MediaDecodeError("mid-stream sample-rate change")
        frames += 1
        if frames > _AVI_MAX_CHUNKS:
            raise MediaDecodeError("MP3 frame-count bomb")
        i += 144 * br // sr + pad
    if frames == 0 or i != n:
        raise MediaDecodeError("MP3 stream empty or trailing garbage")
    duration_us = frames * 1152 * 1_000_000 // rate
    return {"width": 0, "height": 0, "frames": frames,
            "sample_rate": rate, "channels": channels,
            "bitrate_kbps": bitrate // 1000, "byte_len": n,
            "duration_us": duration_us,
            "duration": round(duration_us / 1e6, 6)}


def decode_media(payload: bytes, kind: str) -> dict:
    """Magic-byte-sniffing decode: real BMP/WAV/PNG/baseline-JPEG parse
    when the payload is one, deterministic fake otherwise. All results
    carry the common ``width``/``height``/``frames`` contract the Spark
    schemas use; real decodes additionally carry pixels / samples /
    rate / duration."""
    import struct

    from pdfminer_spark.ops.imagedec import (GIF_SIGS, ImageDecodeError,
                                             PNG_SIG, TIFF_SIGS, decode_gif,
                                             decode_jpeg, decode_png,
                                             decode_tiff)

    # a sniffed parse that fails falls BACK to the fake (ADVICE r5): an
    # opaque payload whose text merely starts with a magic prefix must
    # not fail the whole query — only direct decoder calls (tests,
    # known-format callers) keep raising.
    if payload[:2] == b"BM":
        try:
            return _decode_bmp(payload)
        except MediaDecodeError:
            return _fake_decode(payload, kind)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        try:
            return _decode_wav(payload)
        except MediaDecodeError:
            return _fake_decode(payload, kind)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        try:
            return _decode_avi(payload)
        except (MediaDecodeError, IndexError, struct.error):
            return _fake_decode(payload, kind)
    if payload[:3] == b"ID3" or (len(payload) >= 2 and payload[0] == 0xFF
                                 and payload[1] & 0xE0 == 0xE0):
        try:
            return _decode_mp3(payload)
        except (MediaDecodeError, IndexError):
            return _fake_decode(payload, kind)
    if payload[:8] == PNG_SIG:
        try:
            return decode_png(payload)
        except (ImageDecodeError, IndexError, struct.error):
            return _fake_decode(payload, kind)
    if payload[:3] == b"\xff\xd8\xff":
        try:
            return decode_jpeg(payload)
        except (ImageDecodeError, IndexError, struct.error):
            # IndexError/struct.error: truncated marker stream — the
            # parser reads declared lengths before validating them
            return _fake_decode(payload, kind)
    if payload[:6] in GIF_SIGS:
        try:
            return decode_gif(payload)
        except (ImageDecodeError, IndexError, struct.error):
            return _fake_decode(payload, kind)
    if payload[:4] in TIFF_SIGS:
        try:
            return decode_tiff(payload)
        except (ImageDecodeError, IndexError, struct.error):
            return _fake_decode(payload, kind)
    return _fake_decode(payload, kind)


_FEATURE_DIM = 8

FEATURES_SCHEMA = ("doc_id long, kind string, width int, height int,"
                   " frames int, feature array<float>")

FEATURES_DIGEST_SCHEMA = ("doc_id long, kind string, width int, height int,"
                          " frames int, feature_digest string")


def _hist_counts(payload: bytes) -> np.ndarray:
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(_FEATURE_DIM, dtype=np.int64)
    return np.bincount(arr % _FEATURE_DIM, minlength=_FEATURE_DIM)


def _content_bytes(meta: dict, payload: bytes) -> bytes:
    """Feature input: decoded pixel rows / PCM samples when the payload
    really decoded, raw payload bytes otherwise (fake path)."""
    if "pixels" in meta:
        return meta["pixels"].tobytes()
    if "samples" in meta:
        return meta["samples"].tobytes()
    return payload


def _hist_vector(h: np.ndarray) -> list:
    """The normalized float feature vector of a histogram."""
    return (h / max(int(h.sum()), 1)).round(6).astype(np.float32).tolist()


def _int_digest(v: np.ndarray) -> str:
    """md5 of the comma-joined integers (cross-engine canonical — float
    string formatting never enters the comparison)."""
    return hashlib.md5(",".join(str(int(c)) for c in v).encode()).hexdigest()


def _feature_row(feature):
    """Per-row function over ``media_table``: decode, then
    ``feature(histogram)`` of the decoded content. The feature is a
    byte-histogram of the payload (stands in for a CNN/audio
    embedding)."""
    def per_row(doc_id, payload, kind):
        b = bytes(payload)
        meta = decode_media(b, kind)
        h = _hist_counts(_content_bytes(meta, b))
        return ([doc_id], [kind], [meta["width"]], [meta["height"]],
                [meta["frames"]], [feature(h)])

    return per_row


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode -> feature-extract over Arrow batches, spread to the
    session parallelism first (see media_table: a single-file scan is
    one partition). Emits feature_digest, not the raw vector —
    canonical across engines."""
    return map_rows(media_table(spark, sf_dir, parallel=True),
                    _feature_row(_int_digest), FEATURES_DIGEST_SCHEMA)


def media_feature_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library variant: same decode path, raw normalized float vector
    (feeds the ANN/similarity operators downstream)."""
    return map_rows(media_table(spark, sf_dir, parallel=True),
                    _feature_row(_hist_vector), FEATURES_SCHEMA)


_RESIZE_LEN = 64


def media_resize(spark: SparkSession, sf_dir: str,
                 target: int = _RESIZE_LEN) -> DataFrame:
    """Resize step: nearest-neighbor resample of the opaque payload to a
    fixed length (out[i] = payload[floor(i*n/target)]) — the exact index
    arithmetic an image resize uses, applied to the 1-D byte stand-in;
    swapping in PIL's 2-D resampling changes only the kernel, not the
    Spark plumbing (Arrow batch in, fixed-size row out, no shuffle after
    the spread). Emits an md5 of the resampled bytes (cross-engine
    canonical)."""
    def per_row(doc_id, payload, kind):
        b = np.frombuffer(bytes(payload), dtype=np.uint8)
        n = b.size
        if n == 0:
            out = np.zeros(target, dtype=np.uint8)
        else:
            out = b[(np.arange(target) * n) // target]
        return ([doc_id], [kind], [n], [_int_digest(out)])

    return map_rows(
        media_table(spark, sf_dir, parallel=True), per_row,
        "doc_id long, kind string, n_bytes long, resized_digest string")


_FRAME_SAMPLES = 4


def media_frame_sample(spark: SparkSession, sf_dir: str,
                       k: int = _FRAME_SAMPLES) -> DataFrame:
    """Frame-sampling step for video payloads: k evenly-spaced frame
    indices, frame_idx = floor(j * frames / k) — the standard uniform
    temporal sampling; the decode that would yield the actual frame
    bytes is the honestly-stubbed _fake_decode (frames count derived
    from the content digest). One row per (video, sample)."""
    m = media_table(spark, sf_dir, parallel=True).where(F.col("kind") == "video")

    def per_row(doc_id, payload, _kind):
        frames = decode_media(bytes(payload), "video")["frames"]
        return ([doc_id] * k, [frames] * k, range(k),
                [(j * frames) // k for j in range(k)])

    return map_rows(m, per_row,
                    "doc_id long, frames int, sample_pos int, frame_idx int")


def _hexbyte_sql(dig: str, k: int) -> str:
    """SQL for byte k (0-based) of a lowercase hex digest string."""
    return ("((STRPOS('0123456789abcdef', SUBSTR(%s, %d, 1)) - 1) * 16 + "
            "STRPOS('0123456789abcdef', SUBSTR(%s, %d, 1)) - 1)"
            % (dig, 2 * k + 1, dig, 2 * k + 2))


_HIST_COLS = ", ".join(
    "COALESCE(SUM(CASE WHEN b = %d THEN 1 ELSE 0 END), 0) AS c%d" % (j, j)
    for j in range(_FEATURE_DIM))

# documents.text is ASCII in the driver corpus, so per-character ORD equals
# the utf-8 payload byte; the fake decode dims come from SHA256 digest bytes
# (hex-parsed with STRPOS arithmetic — no engine-specific hash functions).
_MEDIA_FEATURES_ORACLE = """
    WITH base AS (
      SELECT doc_id, text,
             CASE doc_id %% 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                              ELSE 'video' END AS kind,
             SHA256(text) AS dig
      FROM documents
    ), ch AS (
      SELECT doc_id, ORD(SUBSTR(text, i, 1)) %% 8 AS b
      FROM (SELECT doc_id, text, UNNEST(RANGE(1, LENGTH(text) + 1)) AS i
            FROM documents)
    ), hist AS (
      SELECT d.doc_id, %(hist_cols)s
      FROM documents d LEFT JOIN ch ON d.doc_id = ch.doc_id
      GROUP BY d.doc_id
    )
    SELECT base.doc_id, kind,
           (CASE kind WHEN 'image' THEN 64 + %(h0)s %% 192
                      WHEN 'video' THEN 320 ELSE 0 END)::INT AS width,
           (CASE kind WHEN 'image' THEN 64 + %(h1)s %% 192
                      WHEN 'video' THEN 240 ELSE 0 END)::INT AS height,
           (CASE kind WHEN 'image' THEN 1
                      WHEN 'video' THEN 1 + %(h2)s %% 16
                      ELSE 1 + %(h3)s %% 64 END)::INT AS frames,
           MD5(c0::VARCHAR || ',' || c1::VARCHAR || ',' || c2::VARCHAR || ','
               || c3::VARCHAR || ',' || c4::VARCHAR || ',' || c5::VARCHAR
               || ',' || c6::VARCHAR || ',' || c7::VARCHAR) AS feature_digest
    FROM base JOIN hist ON base.doc_id = hist.doc_id
""" % {
    "hist_cols": _HIST_COLS,
    "h0": _hexbyte_sql("dig", 0),
    "h1": _hexbyte_sql("dig", 1),
    "h2": _hexbyte_sql("dig", 2),
    "h3": _hexbyte_sql("dig", 3),
}

ORACLES: dict[str, str] = {
    "media_metadata": """
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS kind,
               OCTET_LENGTH(ENCODE(text)) AS n_bytes,
               SHA256(text) AS digest
        FROM documents
    """,
    "media_features": _MEDIA_FEATURES_ORACLE,
}

# resized byte i = ORD(SUBSTR(text, (i*n)//target + 1, 1)) — ASCII corpus
# so char ordinal == utf-8 payload byte; 64 generated terms
ORACLES["media_resize"] = """
    WITH idx AS (
      SELECT doc_id, text, UNNEST(RANGE(0, %(t)d)) AS i FROM documents
    )
    SELECT doc_id,
           CASE doc_id %% 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                            ELSE 'video' END AS kind,
           OCTET_LENGTH(ENCODE(text)) AS n_bytes,
           MD5(STRING_AGG(
             ORD(SUBSTR(text, (i * LENGTH(text)) // %(t)d + 1, 1))::VARCHAR,
             ',' ORDER BY i)) AS resized_digest
    FROM idx
    GROUP BY doc_id, text
""" % {"t": _RESIZE_LEN}

ORACLES["media_frame_sample"] = """
    WITH vids AS (
      SELECT doc_id, SHA256(text) AS dig
      FROM documents WHERE doc_id %% 3 = 2
    ), frames AS (
      SELECT doc_id, (1 + %(h2)s %% 16)::INT AS frames FROM vids
    )
    SELECT doc_id, frames,
           j::INT AS sample_pos,
           ((j * frames) // %(k)d)::INT AS frame_idx
    FROM frames, (SELECT UNNEST(RANGE(0, %(k)d)) AS j)
""" % {"h2": _hexbyte_sql("dig", 2), "k": _FRAME_SAMPLES}

_DECODE_DDL = ("doc_id long, width int, height int, bpp int, frames int,"
               " pixel_sum long")


def _decoded_row(build, kind: str):
    """Per-row function over doc_id: ``decode_media`` of ``build(doc_id)``
    as one ``_DECODE_DDL`` row. A fallback to the fake decode has no
    pixels and reads pixel_sum=-1."""
    def per_row(doc_id):
        meta = decode_media(build(doc_id), kind)
        px = meta.get("pixels")
        return ([doc_id], [meta["width"]], [meta["height"]],
                [meta.get("bpp", -1)], [meta["frames"]],
                [int(px.sum()) if px is not None else -1])

    return per_row


def _rgb_ramp(w: int, h: int, doc_id: int) -> np.ndarray:
    """The closed-form h x w RGB test image of the PNG/TIFF/dhash
    gates: byte (x*3 + y*5 + c*7 + doc_id) mod 256."""
    xx = np.arange(w)[None, :, None]
    yy = np.arange(h)[:, None, None]
    cc = np.arange(3)[None, None, :]
    return ((xx * 3 + yy * 5 + cc * 7 + doc_id) % 256).astype(np.uint8)


def _png_bytes(px: np.ndarray) -> bytes:
    """An 8-bit RGB PNG of ``px`` (filter 0 on every scanline)."""
    import struct
    import zlib

    (h, w) = px.shape[:2]
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(t, body):
        return (struct.pack(">I", len(body)) + t + body
                + struct.pack(">I", zlib.crc32(t + body)))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def _build_png(doc_id: int) -> bytes:
    return _png_bytes(_rgb_ramp(8 + doc_id % 16, 8 + (doc_id // 16) % 8,
                                doc_id))


def _build_gif(doc_id: int) -> bytes:
    import struct

    w = 8 + doc_id % 13
    h = 8 + (doc_id // 13) % 7
    pal = bytes(v for i in range(8)
                for v in ((i * 37) % 256, (i * 59) % 256, (i * 83) % 256))
    xx = np.arange(w)[None, :]
    yy = np.arange(h)[:, None]
    idx = ((xx * 3 + yy * 5 + doc_id) % 8).astype(np.uint8)
    interlace = doc_id % 2 == 1  # odd ids exercise the 4-pass path
    if interlace:
        order = [y for (s, st) in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for y in range(s, h, st)]
    else:
        order = list(range(h))
    seq = np.concatenate([idx[y] for y in order]).tolist()
    # "uncompressed" GIF LZW: literal codes only, CLEAR emitted just
    # before the decoder's dictionary would force a width increase,
    # so every code stays at minc+1 bits (deliberately independent
    # of the test suite's real LZW encoder)
    minc, clear, end = 3, 8, 9
    codesize = minc + 1
    codes = [clear]
    count, first = end + 1, True
    for px in seq:
        if not first and count + 1 == (1 << codesize):
            codes.append(clear)
            count, first = end + 1, True
        codes.append(int(px))
        if first:
            first = False
        else:
            count += 1
    codes.append(end)
    bits = bytearray()
    buf = nb = 0
    for c in codes:
        buf |= c << nb
        nb += codesize
        while nb >= 8:
            bits.append(buf & 255)
            buf >>= 8
            nb -= 8
    if nb:
        bits.append(buf & 255)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 2, 0, 0) + pal
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h,
                                 0x40 if interlace else 0)
    out += bytes([minc])
    for i in range(0, len(bits), 255):
        blockchunk = bits[i:i + 255]
        out += bytes([len(blockchunk)]) + blockchunk
    out += b"\x00\x3b"
    return bytes(out)


def _tiff_lzw_literals(raw: bytes) -> bytes:
    # "uncompressed" TIFF LZW: 9-bit literal codes only, with a
    # CLEAR re-emitted every 250 literals so the decoder's table
    # (258 + k-1 entries after k literals) never reaches the 511
    # width-growth point — every code stays 9-bit, MSB-first
    out = bytearray()
    buf = nb = 0

    def emit(code):
        nonlocal buf, nb
        buf = (buf << 9) | code
        nb += 9
        while nb >= 8:
            nb -= 8
            out.append((buf >> nb) & 255)

    emit(256)
    for (i, ch) in enumerate(raw):
        if i and i % 250 == 0:
            emit(256)
        emit(ch)
    emit(257)
    if nb:
        out.append((buf << (8 - nb)) & 255)
    return bytes(out)


def _packbits_literals(raw: bytes) -> bytes:
    # all-literal PackBits (spec-valid; replicate runs are pinned
    # by the javax.imageio differential test instead)
    out = bytearray()
    for i in range(0, len(raw), 128):
        chunk = raw[i:i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    return bytes(out)


def _build_tiff(doc_id: int) -> bytes:
    import struct

    w = 8 + doc_id % 11
    h = 8 + (doc_id // 11) % 6
    e = "<" if doc_id % 2 == 0 else ">"
    comp = (1, 32773, 5)[doc_id % 3]
    pred = 2 if comp == 5 else 1
    px = _rgb_ramp(w, h, doc_id)
    if pred == 2:  # horizontal differencing per row/channel
        d = px.astype(np.int16)
        d[:, 1:] = (d[:, 1:] - d[:, :-1]) % 256
        px = d.astype(np.uint8)
    rps = 4
    strips, strip_offs = [], []
    body = bytearray()
    for y0 in range(0, h, rps):
        raw = px[y0:y0 + rps].tobytes()
        if comp == 5:
            raw = _tiff_lzw_literals(raw)
        elif comp == 32773:
            raw = _packbits_literals(raw)
        strip_offs.append(8 + len(body))
        body += raw
        strips.append(raw)

    def value_field(typ, vals):
        fmt = {3: "H", 4: "I"}[typ]
        blob = b"".join(struct.pack(e + fmt, v) for v in vals)
        if len(blob) <= 4:
            return blob.ljust(4, b"\x00")
        off = 8 + len(body)
        body.extend(blob)
        return struct.pack(e + "I", off)

    entries = []

    def ent(tag, typ, vals):
        entries.append(struct.pack(e + "HHI", tag, typ, len(vals))
                       + value_field(typ, vals))

    ent(256, 4, [w])
    ent(257, 4, [h])
    ent(258, 3, [8, 8, 8])
    ent(259, 3, [comp])
    ent(262, 3, [2])
    ent(273, 4, strip_offs)
    ent(277, 3, [3])
    ent(278, 4, [rps])
    ent(279, 4, [len(s) for s in strips])
    if pred == 2:
        ent(317, 3, [pred])
    ifd0 = 8 + len(body)
    chain = bytearray(struct.pack(e + "H", len(entries))
                      + b"".join(entries))
    if doc_id % 5 == 0:  # second (empty) IFD -> frames = 2
        nxt = ifd0 + len(chain) + 4
        chain += struct.pack(e + "I", nxt) + struct.pack(e + "H", 0)
    chain += struct.pack(e + "I", 0)
    hdr = (b"II*\x00" if e == "<" else b"MM\x00*") \
        + struct.pack(e + "I", ifd0)
    return hdr + bytes(body) + bytes(chain)


def media_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL baseline-TIFF decode under the driver's oracle
    gate — the media_decode_png pattern for the strip/IFD path: per
    document, build an RGB TIFF executor-side from a closed-form pixel
    function of doc_id with doc_id-selected byte order (even II, odd
    MM), compression (none / PackBits / LZW with Predictor 2 by
    doc_id%3), multi-strip layout (RowsPerStrip 4), and a second IFD on
    doc_id%5==0 (frames=2); decode through ``decode_media`` (magic
    sniff -> ops/imagedec.decode_tiff) and emit dimensions + the
    decoded pixel byte sum. The DuckDB oracle recomputes the sum from
    the closed form alone — equality holds only if strip reassembly,
    both LZW/PackBits paths, and the predictor cumsum are byte-perfect;
    a fake fallback surfaces as pixel_sum=-1 and a hash mismatch.

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``), then one map-side stage; per-row work
    bounded by the fixed <=18x13 synthetic frame."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _decoded_row(_build_tiff, "image"), _DECODE_DDL)


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    import struct

    return (cid + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b""))


def _riff_list(subtype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", subtype + body)


def _dib_frames(w: int, h: int, doc_id: int, n_frames: int,
                stream_id: bytes) -> bytes:
    """The movi body of a raw-DIB clip: frame k carries the closed-form
    pixels (x*5 + y*7 + c*11 + doc_id + k) mod 256, stored bottom-up
    BGR with 4-byte row padding."""
    xx = np.arange(w)[None, :, None]
    yy = np.arange(h)[:, None, None]
    cc = np.arange(3)[None, None, :]
    row_bytes = ((w * 24 + 31) // 32) * 4
    movi_body = b""
    for k in range(n_frames):
        px = ((xx * 5 + yy * 7 + cc * 11 + doc_id + k) % 256) \
            .astype(np.uint8)
        bgr = px[..., ::-1]
        rows = b"".join(bgr[y].tobytes().ljust(row_bytes, b"\x00")
                        for y in range(h - 1, -1, -1))
        movi_body += _riff_chunk(stream_id + b"db", rows)
    return movi_body


def _build_avi(doc_id: int) -> bytes:
    import struct

    w = 9 + doc_id % 7
    h = 6 + (doc_id // 7) % 5
    n_frames = 1 + doc_id % 4
    audio_first = doc_id % 3 == 0  # shifts the video stream id
    avih = struct.pack("<10I", 40000, 0, 0, 0, n_frames, 0,
                       2 if audio_first else 1, 0, w, h) + bytes(16)
    strh_v = b"vids" + b"DIB " + bytes(48)
    strf_v = struct.pack("<IiiHHI", 40, w, h, 1, 24, 0) + bytes(20)
    strls = _riff_list(b"strl", _riff_chunk(b"strh", strh_v)
                       + _riff_chunk(b"strf", strf_v))
    if audio_first:
        strh_a = b"auds" + bytes(4) + bytes(48)
        strf_a = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        strls = _riff_list(b"strl", _riff_chunk(b"strh", strh_a)
                           + _riff_chunk(b"strf", strf_a)) + strls
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih) + strls)
    sid = b"01" if audio_first else b"00"
    inner = (b"AVI " + hdrl
             + _riff_list(b"movi", _dib_frames(w, h, doc_id, n_frames, sid)))
    return b"RIFF" + struct.pack("<I", len(inner)) + inner


def media_decode_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL AVI container decode under the driver's oracle
    gate: per document, build a raw-DIB AVI executor-side (doc_id-sized
    frames with 4-byte row padding in play, 1-4 frames, an audio stream
    BEFORE the video one on doc_id%3==0 so stream-id classification is
    inside the gate), decode through ``decode_media`` (RIFF sniff ->
    ``_decode_avi``), and emit container dimensions, the true frame
    count, and the FIRST frame's pixel byte sum — later frames carry
    different pixels, so returning the wrong frame is a visible hash
    mismatch, as is any BGR/bottom-up/padding slip.

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``), then one map-side stage; per-row work
    bounded by the fixed <=15x10x4-frame synthetic clip."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _decoded_row(_build_avi, "video"), _DECODE_DDL)


def _build_mp3(doc_id: int) -> bytes:
    br_idx = 1 + doc_id % 14
    sr_idx = doc_id % 3
    n_frames = 8 + doc_id % 7
    mono = doc_id % 2 == 1
    br = _MP3_BITRATES[br_idx] * 1000
    sr = _MP3_RATES[sr_idx]
    out = bytearray()
    if doc_id % 5 == 0:  # ID3v2 tag, synchsafe size 64
        out += b"ID3" + bytes((4, 0, 0, 0, 0, 0, 64)) + bytes(64)
    for f in range(n_frames):
        pad = (f + doc_id) % 2
        out += bytes((0xFF, 0xFB,
                      (br_idx << 4) | (sr_idx << 2) | (pad << 1),
                      0xC0 if mono else 0x00))
        out += bytes(144 * br // sr + pad - 4)
    return bytes(out)


def _mp3_meta_row(doc_id):
    m = decode_media(_build_mp3(doc_id), "audio")
    return ([doc_id], [m["frames"]], [m.get("sample_rate", -1)],
            [m.get("channels", -1)], [m.get("bitrate_kbps", -1)],
            [m.get("byte_len", -1)], [m.get("duration_us", -1)])


def media_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL MP3 frame-header metadata under the driver's
    oracle gate: per document, build a valid MPEG-1 Layer III stream
    executor-side (doc_id-selected bitrate index, sample rate, channel
    mode, per-frame padding bits, ID3v2 tag on doc_id%5==0), walk it
    with ``_decode_mp3``, and emit frame count, rate, channels,
    bitrate, total byte length, and integer-microsecond duration. The
    DuckDB oracle recomputes every field from the closed form — byte_len
    in particular re-derives the spec frame sizing (144*bitrate/rate +
    padding) and the padding-bit count, so any sizing slip desyncs the
    walk and surfaces as a mismatch, never a silent pass.

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``), then one map-side stage; per-row work
    bounded by the <=14-frame synthetic stream."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _mp3_meta_row,
                    "doc_id long, frames int, sample_rate int, channels int,"
                    " bitrate_kbps int, byte_len long, duration_us long")


_ZCR_FRAME = 64  # samples per analysis frame
_ZCR_N_FRAMES = 4


def _build_square_wav(doc_id: int) -> bytes:
    import struct

    h = 4 << (doc_id % 3)          # half-period in samples
    a = 40 + doc_id % 60           # amplitude
    n = _ZCR_FRAME * _ZCR_N_FRAMES
    idx = np.arange(n)
    samples = np.where((idx // h) % 2 == 0, 128 + a, 128 - a) \
        .astype(np.uint8)
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def _zcr_rows(doc_id):
    m = _decode_wav(_build_square_wav(doc_id))
    c = m["samples"].reshape(-1).astype(np.int32) - 128
    (n_samples, zcr, rms) = ([], [], [])
    for f in range(_ZCR_N_FRAMES):
        fr = c[f * _ZCR_FRAME:(f + 1) * _ZCR_FRAME]
        neg = fr < 0
        n_samples.append(len(fr))
        zcr.append(int(np.count_nonzero(neg[1:] != neg[:-1])))
        rms.append(int(round(float(np.sqrt(np.mean(fr.astype(np.int64)
                                                   ** 2))))))
    return ([doc_id] * _ZCR_N_FRAMES, range(_ZCR_N_FRAMES), n_samples, zcr,
            rms)


def audio_zcr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio features over the REAL WAV decode path — the
    zero-crossing-rate + RMS-energy pass speech/music pipelines run
    before segmentation: per document, build an 8-bit PCM square wave
    executor-side (half-period and amplitude closed-form in doc_id),
    decode it with ``_decode_wav`` (true RIFF chunk walk), and compute
    per-64-sample-frame sign-change counts and RMS in vectorized numpy.
    The DuckDB oracle recomputes both analytically (a square wave of
    half-period h crossing (64/h - 1) times per aligned frame at
    constant RMS = amplitude), so a decode or framing slip desyncs the
    closed form and fails the hash.

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``), then one map-side stage; per-row work
    is a 256-sample numpy pass."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _zcr_rows,
                    "doc_id long, frame_idx int, n_samples int, zcr int,"
                    " rms int")


def media_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL GIF decode under the driver's oracle gate — the
    media_decode_png pattern for the LSB-first LZW path: per document,
    build a palette GIF executor-side from a closed-form index function
    of doc_id (odd doc_ids interlaced, so the 4-pass reorder is inside
    the gate too), decode through ``decode_media`` (magic sniff ->
    ops/imagedec.decode_gif), and emit dimensions + the decoded pixel
    byte sum. The DuckDB oracle recomputes the sum from the closed form
    alone; a fake fallback surfaces as pixel_sum=-1 and a hash mismatch.

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``), then one map-side stage; per-row work
    bounded by the fixed <=20x14 synthetic frame."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _decoded_row(_build_gif, "image"), _DECODE_DDL)


def media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL image decode through the driver's oracle gate:
    per document, build a small RGB PNG executor-side from a closed-form
    pixel function of doc_id, run it through ``decode_media`` (magic
    sniff -> ops/imagedec.decode_png -> pixels), and emit the decoded
    dimensions plus the integer sum over every decoded pixel byte. The
    DuckDB oracle recomputes the sum from the closed form alone — it
    never sees the PNG bytes — so equality holds only if the full
    compress -> chunk -> inflate -> unfilter path is byte-perfect. A
    fallback to the deterministic fake surfaces as pixel_sum=-1, a
    visible hash mismatch, never a silent pass.

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``: the 8-byte keys move, no payload
    bytes), then one map-side stage; per-row work is bounded by the
    fixed <=23x15 synthetic image size."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _decoded_row(_build_png, "image"), _DECODE_DDL)


ORACLES["media_decode_png"] = """
    WITH dims AS (
      SELECT doc_id,
             (8 + doc_id % 16)::INT AS width,
             (8 + (doc_id // 16) % 8)::INT AS height
      FROM documents
    ), px AS (
      SELECT doc_id, width, height,
             SUM((x * 3 + y * 5 + c * 7 + doc_id) % 256) AS pixel_sum
      FROM dims,
           (SELECT UNNEST(RANGE(0, 24)) AS x),
           (SELECT UNNEST(RANGE(0, 16)) AS y),
           (SELECT UNNEST(RANGE(0, 3)) AS c)
      WHERE x < width AND y < height
      GROUP BY doc_id, width, height
    )
    SELECT doc_id, width, height, 24::INT AS bpp, 1::INT AS frames,
           pixel_sum::BIGINT AS pixel_sum
    FROM px
"""

ORACLES["media_decode_gif"] = """
    WITH dims AS (
      SELECT doc_id,
             (8 + doc_id % 13)::INT AS width,
             (8 + (doc_id // 13) % 7)::INT AS height
      FROM documents
    ), px AS (
      SELECT doc_id, width, height,
             SUM(  (((x * 3 + y * 5 + doc_id) % 8) * 37) % 256
                 + (((x * 3 + y * 5 + doc_id) % 8) * 59) % 256
                 + (((x * 3 + y * 5 + doc_id) % 8) * 83) % 256) AS pixel_sum
      FROM dims,
           (SELECT UNNEST(RANGE(0, 20)) AS x),
           (SELECT UNNEST(RANGE(0, 14)) AS y)
      WHERE x < width AND y < height
      GROUP BY doc_id, width, height
    )
    SELECT doc_id, width, height, 24::INT AS bpp, 1::INT AS frames,
           pixel_sum::BIGINT AS pixel_sum
    FROM px
"""

ORACLES["media_decode_tiff"] = """
    WITH dims AS (
      SELECT doc_id,
             (8 + doc_id % 11)::INT AS width,
             (8 + (doc_id // 11) % 6)::INT AS height
      FROM documents
    ), px AS (
      SELECT doc_id, width, height,
             SUM((x * 3 + y * 5 + c * 7 + doc_id) % 256) AS pixel_sum
      FROM dims,
           (SELECT UNNEST(RANGE(0, 19)) AS x),
           (SELECT UNNEST(RANGE(0, 14)) AS y),
           (SELECT UNNEST(RANGE(0, 3)) AS c)
      WHERE x < width AND y < height
      GROUP BY doc_id, width, height
    )
    SELECT doc_id, width, height, 24::INT AS bpp,
           (CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END)::INT AS frames,
           pixel_sum::BIGINT AS pixel_sum
    FROM px
"""

def dhash_bits(pixels: np.ndarray, grid_w: int = 8,
               grid_h: int = 8) -> str:
    """Difference hash of a decoded HxWxC image: integer BT.601 luma
    ((299R+587G+114B)//1000), block-mean downsample onto a
    (grid_w+1) x grid_h grid (pixel -> cell by x*(grid_w+1)//W — every
    pixel lands in exactly one cell, integer mean), then one bit per
    horizontally adjacent cell pair (left > right), row-major. Returned
    as a '0'/'1' string so cross-engine comparison never touches
    float/bigint-sign territory. Near-duplicate images agree on most
    bits; exact resizes/re-encodes agree on all.

    Requires width >= grid_w+1 and height >= grid_h — below that the
    block grid has empty cells and no resize-free hash is defined (real
    pipelines interpolate; a sub-grid thumbnail carries no signal)."""
    (h, w) = pixels.shape[:2]
    if w < grid_w + 1 or h < grid_h:
        raise ValueError("image %dx%d smaller than the %dx%d dhash grid"
                         % (w, h, grid_w + 1, grid_h))
    px = pixels if pixels.ndim == 3 else pixels[..., None]
    if px.shape[2] >= 3:
        gray = (px[..., 0].astype(np.int64) * 299
                + px[..., 1].astype(np.int64) * 587
                + px[..., 2].astype(np.int64) * 114) // 1000
    else:
        gray = px[..., 0].astype(np.int64)
    gw = grid_w + 1
    cx = (np.arange(w) * gw) // w
    cy = (np.arange(h) * grid_h) // h
    sums = np.zeros((grid_h, gw), np.int64)
    counts = np.zeros((grid_h, gw), np.int64)
    np.add.at(sums, (cy[:, None], cx[None, :]), gray)
    np.add.at(counts, (cy[:, None], cx[None, :]), 1)
    means = sums // np.maximum(counts, 1)
    bits = (means[:, :-1] > means[:, 1:]).astype(np.uint8)
    return "".join("1" if b else "0" for b in bits.reshape(-1))


def _dhash_row(doc_id):
    # media_decode_png's closed form, shifted to w>=9 so every dhash
    # grid cell is populated (see dhash_bits' size contract)
    png = _png_bytes(_rgb_ramp(9 + doc_id % 15, 8 + (doc_id // 16) % 8,
                               doc_id))
    meta = decode_media(png, "image")
    return ([doc_id], [meta["width"]], [meta["height"]],
            [dhash_bits(meta["pixels"])])


def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level perceptual fingerprinting under the driver's oracle
    gate: per document, build the closed-form RGB PNG, run it through
    the REAL decode path (``decode_media`` -> decode_png), and emit the
    64-bit difference hash as a bit string. The DuckDB oracle
    recomputes luma, the block-mean downsample, and the adjacent-cell
    comparison from the pixel closed form alone — so this row gates the
    full decode->grayscale->resize->hash chain bit-for-bit. Hash-equal
    groups are the image analogue of dedup_exact; hamming-near pairs
    bucket exactly like simhash (same banded join applies).

    Scale: the doc_id keys spread round-robin to the session
    parallelism (see ``_docs``), then one map-side stage; the
    downstream dedup is a groupBy on an 8-byte key."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _dhash_row,
                    "doc_id long, width int, height int, dhash_bits string")


ORACLES["image_dhash"] = """
    WITH dims AS (
      SELECT doc_id,
             (9 + doc_id % 15)::INT AS w,
             (8 + (doc_id // 16) % 8)::INT AS h
      FROM documents
    ), px AS (
      SELECT doc_id, w, h, x, y,
             (((x * 3 + y * 5 + doc_id) % 256) * 299
              + ((x * 3 + y * 5 + 7 + doc_id) % 256) * 587
              + ((x * 3 + y * 5 + 14 + doc_id) % 256) * 114) // 1000
               AS gray
      FROM dims,
           (SELECT UNNEST(RANGE(0, 24)) AS x),
           (SELECT UNNEST(RANGE(0, 16)) AS y)
      WHERE x < w AND y < h
    ), cells AS (
      SELECT doc_id, (x * 9) // w AS cx, (y * 8) // h AS cy,
             SUM(gray) // COUNT(*) AS m
      FROM px GROUP BY doc_id, (x * 9) // w, (y * 8) // h
    ), bits AS (
      SELECT a.doc_id, a.cy, a.cx,
             CASE WHEN a.m > b.m THEN '1' ELSE '0' END AS bit
      FROM cells a
      JOIN cells b ON a.doc_id = b.doc_id AND a.cy = b.cy
                  AND b.cx = a.cx + 1
    ), agg AS (
      SELECT doc_id, STRING_AGG(bit, '' ORDER BY cy, cx) AS dhash_bits
      FROM bits GROUP BY doc_id
    )
    SELECT d.doc_id, d.w AS width, d.h AS height, agg.dhash_bits
    FROM dims d JOIN agg USING (doc_id)
"""

ORACLES["media_decode_avi"] = """
    WITH dims AS (
      SELECT doc_id,
             (9 + doc_id % 7)::INT AS width,
             (6 + (doc_id // 7) % 5)::INT AS height
      FROM documents
    ), px AS (
      SELECT doc_id, width, height,
             SUM((x * 5 + y * 7 + c * 11 + doc_id) % 256) AS pixel_sum
      FROM dims,
           (SELECT UNNEST(RANGE(0, 16)) AS x),
           (SELECT UNNEST(RANGE(0, 11)) AS y),
           (SELECT UNNEST(RANGE(0, 3)) AS c)
      WHERE x < width AND y < height
      GROUP BY doc_id, width, height
    )
    SELECT doc_id, width, height, 24::INT AS bpp,
           (1 + doc_id % 4)::INT AS frames,
           pixel_sum::BIGINT AS pixel_sum
    FROM px
"""


def _build_avi_clip(doc_id: int, n_frames: int) -> bytes:
    import struct

    w = 9 + doc_id % 7
    h = 6 + (doc_id // 7) % 5
    avih = struct.pack("<10I", 40000, 0, 0, 0, n_frames, 0, 1, 0,
                       w, h) + bytes(16)
    strh = b"vids" + b"DIB " + bytes(48)
    strf = struct.pack("<IiiHHI", 40, w, h, 1, 24, 0) + bytes(20)
    hdrl = _riff_list(b"hdrl", _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    inner = (b"AVI " + hdrl
             + _riff_list(b"movi", _dib_frames(w, h, doc_id, n_frames, b"00")))
    return b"RIFF" + struct.pack("<I", len(inner)) + inner


def _avi_sample_rows(doc_id):
    n = 2 + doc_id % 5
    m = decode_avi_frames(_build_avi_clip(doc_id, n),
                          [j * n // 2 for j in range(2)])
    s = m["samples"]
    return ([doc_id] * len(s), [m["frames"]] * len(s), range(len(s)),
            [f for (f, _px) in s], [int(px.sum()) for (_f, px) in s])


def media_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling under the driver's oracle gate: per
    document, build a raw-DIB AVI with 2-6 frames whose pixels differ
    per frame (frame f carries +f in the closed form), sample 2 frames
    at stride positions j*n//2 with ``decode_avi_frames`` — the framed
    chunk list makes each frame independently addressable, no decode of
    the frames in between — and emit each sampled frame's pixel sum.
    The oracle recomputes the stride arithmetic AND the per-frame sums,
    so sampling the wrong frame (or the first frame twice) is a visible
    mismatch.

    Scale: one bare-key spread + one MapInPandas, like the other decode
    gates; per-row work bounded by the <=6-frame synthetic clip."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _avi_sample_rows,
                    "doc_id long, n_frames int, sample_pos int,"
                    " frame_idx int, pixel_sum long")


ORACLES["media_avi_frame_sample"] = """
    WITH dims AS (
      SELECT doc_id,
             (9 + doc_id % 7)::INT AS width,
             (6 + (doc_id // 7) % 5)::INT AS height,
             (2 + doc_id % 5)::INT AS n_frames
      FROM documents
    ), samples AS (
      SELECT doc_id, width, height, n_frames,
             j AS sample_pos, (j * n_frames) // 2 AS frame_idx
      FROM dims, (SELECT UNNEST(RANGE(0, 2)) AS j)
    ), px AS (
      SELECT doc_id, n_frames, sample_pos, frame_idx,
             SUM((x * 5 + y * 7 + c * 11 + doc_id + frame_idx) % 256)
               AS pixel_sum
      FROM samples,
           (SELECT UNNEST(RANGE(0, 16)) AS x),
           (SELECT UNNEST(RANGE(0, 11)) AS y),
           (SELECT UNNEST(RANGE(0, 3)) AS c)
      WHERE x < width AND y < height
      GROUP BY doc_id, n_frames, sample_pos, frame_idx
    )
    SELECT doc_id, n_frames, sample_pos::INT AS sample_pos,
           frame_idx::INT AS frame_idx, pixel_sum::BIGINT AS pixel_sum
    FROM px
"""

ORACLES["audio_zcr_features"] = """
    SELECT doc_id, i::INT AS frame_idx, 64::INT AS n_samples,
           (64 // (4 << (doc_id % 3)) - 1)::INT AS zcr,
           (40 + doc_id % 60)::INT AS rms
    FROM documents, UNNEST(RANGE(0, 4)) AS t(i)
"""

ORACLES["media_mp3_meta"] = """
    WITH br AS (
      SELECT * FROM (VALUES (1, 32), (2, 40), (3, 48), (4, 56), (5, 64),
                            (6, 80), (7, 96), (8, 112), (9, 128),
                            (10, 160), (11, 192), (12, 224), (13, 256),
                            (14, 320)) t(idx, kbps)
    ), sr AS (
      SELECT * FROM (VALUES (0, 44100), (1, 48000), (2, 32000)) t(idx, hz)
    ), base AS (
      SELECT d.doc_id,
             (8 + d.doc_id % 7)::INT AS frames,
             sr.hz AS rate, br.kbps AS kbps,
             CASE WHEN d.doc_id % 2 = 1 THEN 1 ELSE 2 END AS channels,
             CASE WHEN d.doc_id % 5 = 0 THEN 74 ELSE 0 END AS id3_len
      FROM documents d
      JOIN br ON br.idx = 1 + d.doc_id % 14
      JOIN sr ON sr.idx = d.doc_id % 3
    )
    SELECT doc_id, frames, rate::INT AS sample_rate,
           channels::INT AS channels, kbps::INT AS bitrate_kbps,
           (id3_len + frames * ((144 * kbps * 1000) // rate)
            + CASE WHEN doc_id % 2 = 0 THEN frames // 2
                   ELSE (frames + 1) // 2 END)::BIGINT AS byte_len,
           ((frames::BIGINT * 1152 * 1000000) // rate)::BIGINT
             AS duration_us
    FROM base
"""

QUERIES = {
    "media_metadata": media_metadata,
    "media_features": media_features,
    "media_resize": media_resize,
    "media_frame_sample": media_frame_sample,
    "media_decode_png": media_decode_png,
    "media_decode_gif": media_decode_gif,
    "media_decode_tiff": media_decode_tiff,
    "media_decode_avi": media_decode_avi,
    "media_mp3_meta": media_mp3_meta,
    "audio_zcr_features": audio_zcr_features,
    "image_dhash": image_dhash,
    "media_avi_frame_sample": media_avi_frame_sample,
}
