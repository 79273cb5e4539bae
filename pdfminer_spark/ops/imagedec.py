"""Pure-numpy still-image decoders: PNG, JPEG, GIF, and TIFF.

Closes the r6 "honest partial" in the multimodal decode step: compressed
image codecs previously fell back to the deterministic fake because no
image library ships in this container. Both decoders below are built
from the public specs alone (PNG: RFC 2083 / ISO 15948; JPEG: ITU-T.81
baseline sequential DCT + the JFIF YCbCr conventions) on stdlib ``zlib``
and numpy — no PIL/libjpeg. They are differentially tested against the
JVM's ``javax.imageio`` through the Spark gateway (exact for PNG, which
is lossless; within a small per-channel tolerance for JPEG, whose IDCT
is implementation-defined).

In scope: sequential AND progressive (SOF2, spectral selection +
successive approximation) JPEG; non-interlaced and Adam7-interlaced
PNG; GIF87a/89a (LSB-first variable-width LZW, interlace, Graphic
Control Extension transparency — first frame's pixels, total frame
count); baseline TIFF 6.0 (both byte orders, 8-bit gray/RGB strips,
Compression none/LZW/PackBits, Predictor 2 — first IFD's pixels, IFD
count as ``frames``). Out of scope (still the documented fallback in
``decode_media``): tiled/planar/16-bit TIFF,
arithmetic/12-bit/lossless/hierarchical JPEG, and the video/audio
compressed codecs (MP3/H.264 need a real codec stack).

Returned dict follows the ``decode_media`` contract: ``width``,
``height``, ``frames`` plus ``pixels`` (H x W x C uint8, C in {1,3,4}).
"""
from __future__ import annotations

import struct
import zlib

import numpy as np

from pdfminer_spark.pdf.filters import FilterError, lzwdecode, png_unfilter


class ImageDecodeError(ValueError):
    """Malformed or unsupported (but correctly sniffed) image payload."""


# hostile-input ceiling: a 32-byte header can declare 65535x65535 (JPEG)
# or 16M x 16M (PNG) and make the decoder allocate terabytes before any
# pixel data is read. 64M pixels = 192 MB of RGB — far above any real
# document media cell, far below worker memory.
_MAX_PIXELS = 1 << 26


# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# colortype -> samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: np.ndarray, height: int, stride: int,
                  fpp: int) -> np.ndarray:
    """Undo per-scanline filtering (spec §6) with the PDF filters' row
    un-filter; an unknown filter type is an ImageDecodeError."""
    try:
        return png_unfilter(raw.reshape(height, stride + 1), fpp)
    except FilterError as e:
        raise ImageDecodeError(str(e)) from None


def decode_png(b: bytes) -> dict:
    """Decode a PNG (bit depths 1/2/4/8/16; color types gray / RGB /
    palette / gray+alpha / RGBA; interlace none or Adam7 at EVERY
    depth — sub-byte passes bit-unpack per pass since each pass packs
    its scanlines independently). 16-bit samples are truncated to their
    high byte (the 8-bit view javax.imageio also presents through
    getRGB)."""
    if b[:8] != PNG_SIG:
        raise ImageDecodeError("not a PNG signature")
    pos = 8
    ihdr = None
    palette = None
    idat = bytearray()
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        ctype = b[pos + 4:pos + 8]
        body = b[pos + 8:pos + 8 + length]
        if len(body) != length:
            raise ImageDecodeError("PNG chunk truncated")
        if ctype == b"IHDR":
            if length != 13:
                raise ImageDecodeError("IHDR must be 13 bytes")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            if length % 3:
                raise ImageDecodeError("PLTE length not divisible by 3")
            palette = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + body + CRC
    if ihdr is None:
        raise ImageDecodeError("missing IHDR")
    (width, height, depth, colortype, comp, filt, interlace) = ihdr
    if comp != 0 or filt != 0:
        raise ImageDecodeError("unknown compression/filter method")
    if interlace not in (0, 1):
        raise ImageDecodeError("unknown interlace method")
    if colortype not in _PNG_CHANNELS:
        raise ImageDecodeError("bad color type %d" % colortype)
    if depth not in (1, 2, 4, 8, 16) or (
            depth < 8 and colortype not in (0, 3)) or (
            depth == 16 and colortype == 3):
        raise ImageDecodeError("bad bit depth %d for color type %d"
                               % (depth, colortype))
    if not (0 < width and 0 < height and width * height <= _MAX_PIXELS):
        raise ImageDecodeError("bad dimensions")
    channels = _PNG_CHANNELS[colortype]
    bits_pp = depth * channels
    fpp = max(bits_pp // 8, 1)  # filter unit, spec §6
    if interlace == 1:
        # Adam7 (spec §8.2): 7 independent sub-images, each with its
        # own scanline filtering, at (x0, dx, y0, dy) offsets; sub-byte
        # depths pack each pass's scanlines to the bit (stride ceils)
        passes = [(0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
                  (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2)]
        dims = []
        need = 0
        for (x0, dx, y0, dy) in passes:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            pstride = (pw * bits_pp + 7) // 8
            dims.append((pw, ph, pstride))
            if pw and ph:
                need += (pstride + 1) * ph
    else:
        stride = (width * bits_pp + 7) // 8
        need = (stride + 1) * height
    try:
        # decompress EXACTLY the expected pixel bytes: plain
        # zlib.decompress would expand a crafted IDAT without bound
        # (a 1 MB zlib bomb inflates to GBs) before the size check
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), need)
    except zlib.error as e:
        raise ImageDecodeError("IDAT: %s" % e) from None
    if len(raw) < need:
        raise ImageDecodeError("decompressed data too short")
    bpsample = 2 if depth == 16 else 1
    weights = 1 << np.arange(depth - 1, -1, -1) if depth < 8 else None

    def _unpack_subbyte(rows: np.ndarray, n_px: int) -> np.ndarray:
        bits = np.unpackbits(rows, axis=1)[:, :n_px * depth]
        return (bits.reshape(rows.shape[0], n_px, depth)
                * weights).sum(axis=2).astype(np.uint8)

    if interlace == 1:
        grid = np.zeros(
            (height, width, 1 if depth < 8 else channels * bpsample),
            np.uint8)
        off = 0
        for ((x0, dx, y0, dy), (pw, ph, pstride)) in zip(passes, dims):
            if not (pw and ph):
                continue
            n = (pstride + 1) * ph
            sub = _png_unfilter(
                np.frombuffer(raw, np.uint8, count=n, offset=off),
                ph, pstride, fpp)
            if depth < 8:
                grid[y0::dy, x0::dx, 0] = _unpack_subbyte(
                    sub.reshape(ph, pstride), pw)
            else:
                grid[y0::dy, x0::dx] = sub.reshape(
                    ph, pw, channels * bpsample)
            off += n
        arr = grid.reshape(height, -1)
    else:
        arr = _png_unfilter(
            np.frombuffer(raw, np.uint8, count=need),
            height, stride, fpp)
    if depth < 8:
        # interlaced passes were unpacked per pass above; the linear
        # layout unpacks here
        samples = (arr if interlace == 1
                   else _unpack_subbyte(arr, width))
        px = samples.reshape(height, width)[..., None]
    elif depth == 16:
        px = arr.reshape(height, width, channels, 2)[..., 0]  # high byte
    else:
        px = arr.reshape(height, width, channels)
    if colortype == 3:
        if palette is None:
            raise ImageDecodeError("palette image without PLTE")
        idx = px[..., 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise ImageDecodeError("palette index out of range")
        px = palette[idx]
    elif depth < 8:  # grayscale, scale to full 8-bit range
        px = (px * (255 // ((1 << depth) - 1))).astype(np.uint8)
    return {"width": int(width), "height": int(height), "frames": 1,
            "bpp": int(bits_pp), "pixels": np.ascontiguousarray(px)}


# ---------------------------------------------------------------------------
# JPEG (baseline sequential DCT, ITU-T.81)
# ---------------------------------------------------------------------------

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# 8x8 type-III DCT basis: block = C.T @ coef @ C with the orthonormal C
_DCT_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _DCT_C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5)


class _Huffman:
    """Canonical Huffman table (DHT): decode by walking code lengths —
    at most 16 compares per symbol, no tree allocation."""

    __slots__ = ("maxcode", "mincode", "valptr", "values")

    def __init__(self, counts: list[int], values: bytes):
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            if counts[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += counts[ln - 1]
                k += counts[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment (0xFF00
    stuffing already stripped by the segment splitter)."""

    __slots__ = ("data", "pos", "bits", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bits = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            byte = self.data[self.pos] if self.pos < len(self.data) else 0
            self.pos += 1
            self.bits = (self.bits << 8) | byte
            self.nbits += 8
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        return v

    def decode(self, table: _Huffman) -> int:
        code = self.read(1)
        for ln in range(1, 17):
            if table.maxcode[ln] >= 0 and code <= table.maxcode[ln]:
                return table.values[
                    table.valptr[ln] + code - table.mincode[ln]]
            code = (code << 1) | self.read(1)
        raise ImageDecodeError("bad Huffman code")


def _extend(v: int, t: int) -> int:
    """DIFF/AC magnitude decode (spec F.2.2.1)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _collect_entropy(b: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``pos``: 0xFF00 stuffing stripped, split
    into segments on restart markers. Returns (segments, next_pos) with
    next_pos at the first real marker after the scan."""
    segments = []
    cur = bytearray()
    i = pos
    while i < len(b):
        byte = b[i]
        if byte == 0xFF:
            nxt = b[i + 1] if i + 1 < len(b) else 0xD9
            if nxt == 0x00:
                cur.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:  # RSTn
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            break  # EOI or next marker
        cur.append(byte)
        i += 1
    segments.append(bytes(cur))
    return (segments, i)


def _decode_block_seq(reader, block, dc_tab, ac_tab, pred, cid):
    """Sequential block: full DC diff + AC run-length (spec F.2.2)."""
    t = reader.decode(dc_tab)
    pred[cid] += _extend(reader.read(t), t) if t else 0
    block[0] = pred[cid]
    k = 1
    while k < 64:
        rs = reader.decode(ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:
                k += 16  # ZRL
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ImageDecodeError("AC index overflow")
        block[k] = _extend(reader.read(s), s)
        k += 1


def _decode_block_ac_first(reader, block, ac_tab, Ss, Se, Al, eobrun):
    """Progressive AC initial scan for one block (spec G.1.2.2)."""
    if eobrun > 0:
        return eobrun - 1
    k = Ss
    while k <= Se:
        rs = reader.decode(ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.read(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > Se:
            raise ImageDecodeError("AC index overflow")
        block[k] = _extend(reader.read(s), s) << Al
        k += 1
    return eobrun


def _decode_block_ac_refine(reader, block, ac_tab, Ss, Se, Al, eobrun):
    """Progressive AC refinement for one block (spec G.1.2.3): new
    coefficients appear at +-(1<<Al); every already-nonzero coefficient
    passed over consumes one correction bit."""
    p1, m1 = 1 << Al, -1 << Al

    def correct(k):
        if reader.read(1) and not (block[k] & p1):
            block[k] += p1 if block[k] >= 0 else m1

    k = Ss
    if eobrun == 0:
        while k <= Se:
            rs = reader.decode(ac_tab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += reader.read(r)
                    break
                # r == 15: ZRL in refinement — skip 16 zero-history
                # coefficients
                newval = 0
            elif s == 1:
                newval = p1 if reader.read(1) else m1
            else:
                raise ImageDecodeError("bad refinement size")
            while k <= Se:
                if block[k]:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= Se:
                block[k] = newval
            k += 1
    if eobrun > 0:
        while k <= Se:
            if block[k]:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(segments, order, band, huff, coefs, geo, mcu_dims,
                 restart_interval, progressive):
    """One scan's entropy data into the coefficient arrays.

    Sequential: full blocks, MCU-interleaved (or single-component over
    the unpadded block grid when ns=1). Progressive: the (Ss, Se, Ah,
    Al) band selects DC-first / DC-refine / AC-first / AC-refine
    semantics. DC predictors and the EOB run reset at restart markers
    (segment boundaries)."""
    (Ss, Se, Ah, Al) = band
    (mcux, mcuy) = mcu_dims
    interleaved = len(order) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        (bw, bh) = geo[order[0][0]["id"]]
        units = bw * bh
    # table presence by scan kind (a DC-refinement scan needs none)
    tabs = []
    for (c, td, ta) in order:
        dc_tab = huff.get((0, td))
        ac_tab = huff.get((1, ta))
        if Ss == 0 and Ah == 0 and dc_tab is None:
            raise ImageDecodeError("missing DC table")
        if (not progressive or Ss > 0) and ac_tab is None:
            raise ImageDecodeError("missing AC table")
        tabs.append((c, dc_tab, ac_tab))
    per_seg = restart_interval or units
    unit = 0
    for seg in segments:
        if unit >= units:
            break
        reader = _BitReader(seg)
        pred = {c["id"]: 0 for (c, _, _) in tabs}
        eobrun = 0
        for _ in range(min(per_seg, units - unit)):
            if interleaved:
                (my, mx) = divmod(unit, mcux)
                blocks = [
                    (c, dc, ac,
                     coefs[c["id"]][my * c["v"] + v, mx * c["h"] + hn])
                    for (c, dc, ac) in tabs
                    for v in range(c["v"]) for hn in range(c["h"])
                ]
            else:
                (c, dc, ac) = tabs[0]
                (bw, _bh) = geo[c["id"]]
                (by, bx) = divmod(unit, bw)
                blocks = [(c, dc, ac, coefs[c["id"]][by, bx])]
            for (c, dc_tab, ac_tab, block) in blocks:
                if not progressive:
                    _decode_block_seq(reader, block, dc_tab, ac_tab,
                                      pred, c["id"])
                elif Ss == 0 and Ah == 0:  # DC first
                    t = reader.decode(dc_tab)
                    pred[c["id"]] += _extend(reader.read(t), t) if t else 0
                    block[0] = pred[c["id"]] << Al
                elif Ss == 0:  # DC refinement: one bit per block
                    if reader.read(1):
                        block[0] |= 1 << Al
                elif Ah == 0:
                    eobrun = _decode_block_ac_first(
                        reader, block, ac_tab, Ss, Se, Al, eobrun)
                else:
                    eobrun = _decode_block_ac_refine(
                        reader, block, ac_tab, Ss, Se, Al, eobrun)
            unit += 1


def decode_jpeg(b: bytes) -> dict:
    """Decode a baseline sequential (SOF0/1) or progressive (SOF2) JPEG
    (8-bit; 1 or 3 components; restart markers; successive approximation
    and spectral selection per ITU-T.81 annex G). Other SOFn variants
    (lossless, arithmetic, hierarchical, 12-bit) raise. Output is
    H x W x 3 RGB for YCbCr (JFIF BT.601 conversion) or H x W x 1 for
    grayscale. Scans are decoded into per-component coefficient arrays
    with whatever tables are current at their SOS (progressive streams
    redefine DHT between scans); dequantization + one vectorized einsum
    IDCT run at the end."""
    if b[:3] != b"\xff\xd8\xff":
        raise ImageDecodeError("not a JPEG SOI")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _Huffman] = {}
    frame = None
    restart_interval = 0
    pos = 2
    coefs: dict[int, np.ndarray] = {}
    geo: dict[int, tuple] = {}
    n_scans = 0
    progressive = False
    (mcux, mcuy, hmax, vmax) = (0, 0, 1, 1)
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ImageDecodeError("marker expected")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        if pos + 4 > len(b):
            break
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        body = b[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                n = 128 if pq else 64
                tbl = np.frombuffer(body[i + 1:i + 1 + n],
                                    np.uint16 if pq else np.uint8)
                if pq:
                    tbl = tbl.byteswap()
                qt[tq] = tbl.astype(np.int32)
                i += 1 + n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                counts = list(body[i + 1:i + 17])
                nvals = sum(counts)
                huff[(tc, th)] = _Huffman(
                    counts, body[i + 17:i + 17 + nvals])
                i += 17 + nvals
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            progressive = marker == 0xC2
            (prec, height, width, ncomp) = struct.unpack_from(">BHHB", body)
            if prec != 8:
                raise ImageDecodeError("only 8-bit precision")
            if not (0 < width and 0 < height
                    and width * height <= _MAX_PIXELS):
                raise ImageDecodeError("bad dimensions")
            if not 1 <= ncomp <= 4:
                raise ImageDecodeError("bad component count %d" % ncomp)
            comps = []
            for c in range(ncomp):
                (cid, hv, tq) = struct.unpack_from(
                    ">BBB", body, 6 + 3 * c)
                (ch, cv) = (hv >> 4, hv & 15)
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ImageDecodeError("bad sampling factors")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            if any(max(c["h"] for c in comps) % c["h"]
                   or max(c["v"] for c in comps) % c["v"] for c in comps):
                raise ImageDecodeError("non-integer sampling ratio")
            frame = {"w": width, "h": height, "comps": comps}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                # true (unpadded) block grid per spec A.2.2, plus the
                # MCU-padded allocation interleaved scans write into
                sx = (width * c["h"] + hmax - 1) // hmax
                sy = (height * c["v"] + vmax - 1) // vmax
                geo[c["id"]] = ((sx + 7) // 8, (sy + 7) // 8)
                coefs[c["id"]] = np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ImageDecodeError(
                "unsupported SOF 0x%02X (lossless/arith/hier)" % marker)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ImageDecodeError("SOS before SOF")
            ns = body[0]
            by_id = {c["id"]: c for c in frame["comps"]}
            order = []
            for c in range(ns):
                cs, tables = body[1 + 2 * c], body[2 + 2 * c]
                comp = by_id.get(cs)
                if comp is None:
                    raise ImageDecodeError(
                        "scan references unknown component")
                order.append((comp, tables >> 4, tables & 15))
            (Ss, Se, AhAl) = struct.unpack_from(">BBB", body, 1 + 2 * ns)
            (Ah, Al) = (AhAl >> 4, AhAl & 15)
            if not progressive:
                (Ss, Se, Ah, Al) = (0, 63, 0, 0)
            if Ss > Se or Se > 63 or (Ss == 0 and progressive and Se != 0):
                raise ImageDecodeError("bad spectral selection")
            if Ss > 0 and len(order) != 1:
                raise ImageDecodeError("interleaved AC scan")
            (segments, pos) = _collect_entropy(b, pos)
            _decode_scan(segments, order, (Ss, Se, Ah, Al), huff, coefs,
                         geo, (mcux, mcuy), restart_interval, progressive)
            n_scans += 1
    if frame is None or n_scans == 0:
        raise ImageDecodeError("missing SOF/SOS")
    comps = frame["comps"]

    W, H = frame["w"], frame["h"]
    out_planes = []
    for c in comps:
        q = qt.get(c["tq"])
        if q is None:
            raise ImageDecodeError("missing quantization table")
        cf = coefs[c["id"]]
        (bh, bw) = cf.shape[:2]
        deq = (cf.reshape(-1, 64) * q).astype(np.float32)
        blocks = np.zeros((deq.shape[0], 64), np.float32)
        blocks[:, _ZIGZAG] = deq
        spatial = np.einsum("ij,njk,kl->nil", _DCT_C.T,
                            blocks.reshape(-1, 8, 8), _DCT_C,
                            optimize=True)
        p = spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(
            bh * 8, bw * 8) + 128.0
        # triangle ("fancy") upsampling, the libjpeg default that
        # javax.imageio also uses: each output sample is 3/4 nearest +
        # 1/4 next-nearest input sample, edges replicated — nearest
        # replication would diverge from every mainstream decoder by
        # tens of levels at chroma edges
        ry, rx = vmax // c["v"], hmax // c["h"]
        for (factor, axis) in ((ry, 0), (rx, 1)):
            if factor == 1:
                continue
            if factor != 2:  # non-2x ratios are rare; replicate
                p = np.repeat(p, factor, axis=axis)
                continue
            s = np.swapaxes(p, 0, axis)
            lo = np.concatenate([s[:1], s[:-1]])   # sample above/left
            hi = np.concatenate([s[1:], s[-1:]])   # sample below/right
            up = np.empty((2 * s.shape[0],) + s.shape[1:], np.float32)
            up[0::2] = 0.75 * s + 0.25 * lo
            up[1::2] = 0.75 * s + 0.25 * hi
            p = np.swapaxes(up, 0, axis)
        out_planes.append(p[:H, :W])
    if len(out_planes) == 1:
        px = np.clip(np.round(out_planes[0]), 0, 255).astype(
            np.uint8)[..., None]
    elif len(out_planes) == 3:
        y, cb, cr = out_planes
        cb = cb - 128.0
        cr = cr - 128.0
        rgb = np.stack([
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ], axis=-1)
        px = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    else:
        raise ImageDecodeError("unsupported component count %d"
                               % len(out_planes))
    return {"width": W, "height": H, "frames": 1,
            "bpp": 8 * px.shape[2], "pixels": np.ascontiguousarray(px)}


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------

GIF_SIGS = (b"GIF87a", b"GIF89a")

_GIF_MAX_DICT = 4096  # 12-bit code ceiling, GIF89a spec appendix F


def _gif_lzw(data: bytes, min_code: int, npix: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, variable code width
    starting at min_code+1, clear/end codes, 12-bit dictionary cap with
    deferred-clear behavior. (The PDF LZWDecode in pdf/filters.py is the
    TIFF variant — MSB-first with early-change — so the two cannot share
    a bit reader.) Output is capped at the declared pixel count: a
    hostile stream cannot expand past the advertised geometry."""
    clear = 1 << min_code
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    dic = list(base)
    codesize = min_code + 1
    out = bytearray()
    prev = None
    bitbuf = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < codesize:
            if pos >= len(data):
                raise ImageDecodeError("GIF LZW stream truncated")
            bitbuf |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = bitbuf & ((1 << codesize) - 1)
        bitbuf >>= codesize
        nbits -= codesize
        if code == clear:
            dic = list(base)
            codesize = min_code + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise ImageDecodeError("GIF LZW: first code not literal")
            entry = dic[code]
        elif code < len(dic):
            entry = dic[code]
        elif code == len(dic):
            entry = prev + prev[:1]
        else:
            raise ImageDecodeError("GIF LZW: code beyond dictionary")
        out += entry
        if len(out) >= npix:
            return bytes(out[:npix])
        if prev is not None and len(dic) < _GIF_MAX_DICT:
            dic.append(prev + entry[:1])
        if len(dic) == (1 << codesize) and codesize < 12:
            codesize += 1
        prev = entry


def _gif_subblocks(b: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate a length-prefixed sub-block chain; returns (data,
    position after the 0x00 terminator)."""
    out = bytearray()
    while True:
        if pos >= len(b):
            raise ImageDecodeError("GIF sub-blocks truncated")
        ln = b[pos]
        pos += 1
        if ln == 0:
            return (bytes(out), pos)
        if pos + ln > len(b):
            raise ImageDecodeError("GIF sub-block truncated")
        out += b[pos:pos + ln]
        pos += ln


def decode_gif(b: bytes) -> dict:
    """Decode a GIF87a/89a: first frame's pixels (palette-mapped RGB, or
    RGBA when the frame's Graphic Control Extension declares a
    transparent index), total frame count across the stream. Interlaced
    frames are de-interlaced (4-pass row order per spec appendix E).
    Bounded like the other decoders: geometry checked against
    _MAX_PIXELS before allocation, LZW expansion capped at the declared
    pixel count."""
    if b[:6] not in GIF_SIGS:
        raise ImageDecodeError("not a GIF signature")
    if len(b) < 13:
        raise ImageDecodeError("GIF truncated before screen descriptor")
    (_, _, packed, _, _) = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(b):
            raise ImageDecodeError("GIF global color table truncated")
        gct = np.frombuffer(b[pos:pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    frames = 0
    first = None
    transparent = None
    while pos < len(b):
        blk = b[pos]
        pos += 1
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension
            if pos >= len(b):
                raise ImageDecodeError("GIF extension truncated")
            label = b[pos]
            pos += 1
            (ext, pos) = _gif_subblocks(b, pos)
            if label == 0xF9 and first is None and len(ext) >= 4 \
                    and ext[0] & 1:
                transparent = ext[3]
        elif blk == 0x2C:  # image descriptor
            if pos + 9 > len(b):
                raise ImageDecodeError("GIF image descriptor truncated")
            (_, _, w, h, ip) = struct.unpack_from("<HHHHB", b, pos)
            pos += 9
            ct = gct
            if ip & 0x80:
                n = 2 << (ip & 7)
                if pos + 3 * n > len(b):
                    raise ImageDecodeError("GIF local color table truncated")
                ct = np.frombuffer(b[pos:pos + 3 * n],
                                   np.uint8).reshape(n, 3)
                pos += 3 * n
            if pos >= len(b):
                raise ImageDecodeError("GIF missing LZW code size")
            minc = b[pos]
            pos += 1
            # spec cap is 8 (color depth <= 8 bits): 9-11 used to slip
            # through to _gif_lzw, whose bytes([i]) for i >= 256 raised
            # a bare ValueError that escaped decode_media's fallback
            # and killed the task (r7 ADVICE, reproduced)
            if not 2 <= minc <= 8:
                raise ImageDecodeError("bad GIF LZW min code size %d" % minc)
            (data, pos) = _gif_subblocks(b, pos)
            frames += 1
            if first is None:
                if not (0 < w and 0 < h and w * h <= _MAX_PIXELS):
                    raise ImageDecodeError("bad GIF frame dimensions")
                if ct is None:
                    raise ImageDecodeError("GIF frame has no color table")
                idx = _gif_lzw(data, minc, w * h)
                if len(idx) < w * h:
                    raise ImageDecodeError("GIF pixel data truncated")
                a = np.frombuffer(idx, np.uint8).reshape(h, w)
                if ip & 0x40:  # interlaced
                    out = np.zeros_like(a)
                    r = 0
                    for (start, step) in ((0, 8), (4, 8), (2, 4), (1, 2)):
                        for y in range(start, h, step):
                            out[y] = a[r]
                            r += 1
                    a = out
                if int(a.max()) >= len(ct):
                    raise ImageDecodeError("GIF index beyond color table")
                rgb = ct[a]
                if transparent is not None and transparent < len(ct):
                    alpha = np.where(a == transparent, 0, 255) \
                        .astype(np.uint8)[..., None]
                    px = np.concatenate([rgb, alpha], axis=-1)
                else:
                    px = rgb
                first = (w, h, px)
        else:
            raise ImageDecodeError("unknown GIF block 0x%02x" % blk)
    if first is None:
        raise ImageDecodeError("GIF contains no image data")
    (w, h, px) = first
    return {"width": w, "height": h, "frames": frames,
            "bpp": 8 * px.shape[2], "pixels": np.ascontiguousarray(px)}


# ---------------------------------------------------------------------------
# TIFF
# ---------------------------------------------------------------------------

TIFF_SIGS = (b"II*\x00", b"MM\x00*")

# baseline field types this decoder reads: BYTE, SHORT, LONG
_TIFF_TYPES = {1: ("B", 1), 3: ("H", 2), 4: ("I", 4)}
_TIFF_MAX_IFDS = 4096  # hostile-input ceiling on the IFD chain


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §9 PackBits: header n<128 = n+1 literals, n>128 =
    257-n replicates of the next byte, n=128 = no-op. Expansion is
    capped at the caller's expected strip size (hostile-input rule)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:
            if i + h + 1 > n:
                raise ImageDecodeError("PackBits literal run truncated")
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:
            if i >= n:
                raise ImageDecodeError("PackBits replicate run truncated")
            out += data[i:i + 1] * (257 - h)
            i += 1
        # h == 128: no-op per spec
    if len(out) < expected:
        raise ImageDecodeError("PackBits output short: %d < %d"
                               % (len(out), expected))
    return bytes(out[:expected])


def decode_tiff(b: bytes) -> dict:
    """Decode a baseline TIFF 6.0 still image: both byte orders (II/MM),
    8-bit grayscale (PhotometricInterpretation 0/1) and RGB (2), chunky
    planar layout, strip organization (any RowsPerStrip), Compression 1
    (none), 5 (LZW — the SAME MSB-first early-change variant as PDF
    LZWDecode, reused from pdf/filters.lzwdecode; cf. TIFF6 §13 vs PDF
    32000-1 §7.4.4) with optional horizontal-differencing Predictor 2,
    and 32773 (PackBits). Multi-IFD files report ``frames`` = IFD count
    and decode the first IFD, mirroring decode_gif's first-frame
    contract. Out of scope (raise, so decode_media falls back): planar
    configuration 2, palette/bilevel/16-bit data, tiles, JPEG-in-TIFF.

    Hostile-input bounds: IFD chain cycles and >4096-IFD chains raise;
    geometry is checked against _MAX_PIXELS before allocation; PackBits
    and LZW expansion are capped at the declared strip size."""
    if b[:4] not in TIFF_SIGS:
        raise ImageDecodeError("not a TIFF signature")
    endian = "<" if b[:2] == b"II" else ">"

    def u(fmt: str, off: int):
        size = struct.calcsize(endian + fmt)
        if off < 0 or off + size > len(b):
            raise ImageDecodeError("TIFF read beyond EOF at %d" % off)
        return struct.unpack_from(endian + fmt, b, off)

    (ifd_off,) = u("I", 4)
    frames = 0
    first_tags = None
    seen: set[int] = set()
    while ifd_off:
        if ifd_off in seen:
            raise ImageDecodeError("TIFF IFD chain cycle at %d" % ifd_off)
        seen.add(ifd_off)
        if frames >= _TIFF_MAX_IFDS:
            raise ImageDecodeError("TIFF IFD chain too long")
        (n_entries,) = u("H", ifd_off)
        tags = {}
        for i in range(n_entries):
            eoff = ifd_off + 2 + i * 12
            (tag, typ) = u("HH", eoff)
            (cnt,) = u("I", eoff + 4)
            tags[tag] = (typ, cnt, eoff + 8)
        if first_tags is None:
            first_tags = tags
        (ifd_off,) = u("I", ifd_off + 2 + n_entries * 12)
        frames += 1
    if first_tags is None:
        raise ImageDecodeError("TIFF has no IFD")
    tags = first_tags

    def vals(tag: int, default=None):
        if tag not in tags:
            return default
        (typ, cnt, voff) = tags[tag]
        if typ not in _TIFF_TYPES:
            raise ImageDecodeError("TIFF tag %d has non-baseline type %d"
                                   % (tag, typ))
        (fmt, size) = _TIFF_TYPES[typ]
        if cnt > len(b):
            raise ImageDecodeError("TIFF tag %d count overflow" % tag)
        total = size * cnt
        pos = voff if total <= 4 else u("I", voff)[0]
        return list(u(str(cnt) + fmt, pos))

    def val1(tag: int, default=None):
        v = vals(tag, None)
        if v is None:
            return default
        if not v:
            raise ImageDecodeError("TIFF tag %d empty" % tag)
        return v[0]

    w = val1(256)
    h = val1(257)
    if w is None or h is None:
        raise ImageDecodeError("TIFF missing ImageWidth/ImageLength")
    spp = val1(277, 1)
    if not (0 < w and 0 < h and 0 < spp <= 4
            and w * h * spp <= _MAX_PIXELS):
        raise ImageDecodeError("bad TIFF dimensions %dx%dx%d"
                               % (w, h, spp))
    bits = vals(258, [1])
    if bits != [8] * spp:
        raise ImageDecodeError("unsupported TIFF BitsPerSample %r" % bits)
    comp = val1(259, 1)
    if comp not in (1, 5, 32773):
        raise ImageDecodeError("unsupported TIFF compression %d" % comp)
    photo = val1(262, 1)
    if photo not in (0, 1, 2):
        raise ImageDecodeError("unsupported TIFF photometric %d" % photo)
    if photo == 2 and spp < 3:
        raise ImageDecodeError("TIFF RGB with %d samples" % spp)
    if val1(284, 1) != 1:
        raise ImageDecodeError("unsupported TIFF planar configuration")
    pred = val1(317, 1)
    if pred not in (1, 2):
        raise ImageDecodeError("unsupported TIFF predictor %d" % pred)
    offsets = vals(273)
    counts = vals(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ImageDecodeError("TIFF strip tables missing or mismatched")
    rps = val1(278, h)
    if rps <= 0:
        raise ImageDecodeError("bad TIFF RowsPerStrip %d" % rps)
    n_strips = (h + rps - 1) // rps
    if len(offsets) != n_strips:
        raise ImageDecodeError("TIFF strip count %d != expected %d"
                               % (len(offsets), n_strips))

    parts = []
    for (i, (off, cnt)) in enumerate(zip(offsets, counts)):
        rows = min(rps, h - i * rps)
        expected = rows * w * spp
        if off < 0 or cnt < 0 or off + cnt > len(b):
            raise ImageDecodeError("TIFF strip %d beyond EOF" % i)
        raw = b[off:off + cnt]
        if comp == 1:
            if len(raw) < expected:
                raise ImageDecodeError("TIFF strip %d short" % i)
            raw = raw[:expected]
        elif comp == 32773:
            raw = _packbits_decode(raw, expected)
        else:  # 5: LZW (shared with the PDF filter stack)
            raw = lzwdecode(raw)
            if len(raw) < expected:
                raise ImageDecodeError("TIFF LZW strip %d short" % i)
            raw = raw[:expected]
        strip = np.frombuffer(raw, np.uint8).reshape(rows, w, spp)
        if pred == 2:  # horizontal differencing: cumsum along width
            strip = np.cumsum(strip.astype(np.uint32), axis=1) \
                .astype(np.uint8)
        parts.append(strip)
    px = np.concatenate(parts, axis=0)
    if photo == 0:  # WhiteIsZero: normalize to black-is-zero
        px = (255 - px.astype(np.uint16)).astype(np.uint8)
    return {"width": w, "height": h, "frames": frames,
            "bpp": 8 * spp, "pixels": np.ascontiguousarray(px)}
