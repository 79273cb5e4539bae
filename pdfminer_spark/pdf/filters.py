"""PDF stream filters: Flate, LZW, ASCII85/Hex, RunLength, PNG predictors.

Scalar decode functions applied inside the extraction UDF (SURVEY.md §2.7).
Flate rides on zlib (C speed); the PNG predictor un-apply is vectorized with
numpy per predictor type; the rest are rare, small-payload pure-Python
decoders. Semantics match the reference's public-domain decoders
(/root/reference/pdfminer/{ascii85,lzw,runlength}.py, utils.py:11-49)
and are pinned by the reference's published doctest vectors in
tests/test_filters.py.
"""
from __future__ import annotations

import re
import struct
import zlib

import numpy as np

from .objects import int_value, resolve1


class FilterError(Exception):
    pass


def flatedecode(data: bytes) -> bytes:
    try:
        return zlib.decompress(data)
    except zlib.error:
        # tolerate garbage (encrypted/corrupt): emit nothing
        try:
            d = zlib.decompressobj()
            return d.decompress(data)
        except zlib.error:
            return b""


def ascii85decode(data: bytes) -> bytes:
    """Adobe ASCII85: ignore non-alphabet bytes, 'z' = 4 zero bytes,
    '~' terminates with short-group round-up."""
    out = bytearray()
    n = b = 0
    for c in data:
        if 33 <= c <= 117:
            n += 1
            b = b * 85 + (c - 33)
            if n == 5:
                out += struct.pack(">L", b)
                n = b = 0
        elif c == 0x7A:  # 'z'
            out += b"\x00\x00\x00\x00"
        elif c == 0x7E:  # '~'
            if n:
                for _ in range(5 - n):
                    b = b * 85 + 84
                out += struct.pack(">L", b)[: n - 1]
            break
    return bytes(out)


_HEXPAIR = re.compile(r"([a-f\d]{2})", re.IGNORECASE)
_HEXTRAIL = re.compile(r"^(?:[a-f\d]{2}|\s)*([a-f\d])[\s>]*$", re.IGNORECASE)


def asciihexdecode(data: bytes) -> bytes:
    text = data.decode("latin1")
    out = [int(hx, 16) for hx in _HEXPAIR.findall(text)]
    m = _HEXTRAIL.search(text)
    if m:
        out.append(int(m.group(1), 16) << 4)
    return bytes(out)


def rldecode(data: bytes) -> bytes:
    """Adobe RunLength (PDF 1.4 §3.3.4)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        length = data[i]
        if length == 128:
            break
        if length < 128:
            out += data[i + 1 : i + 2 + length]
            i += 2 + length
        else:
            out += data[i + 1 : i + 2] * (257 - length)
            i += 2
    return bytes(out)


_LZW_BASE = [bytes([c]) for c in range(256)] + [b"", b""]
_LZW_BUMP = {9: 511, 10: 1023, 11: 2047, 12: 1 << 30}
_LZW_POWERS = {n: (1 << np.arange(n - 1, -1, -1, dtype=np.int64))
               for n in (9, 10, 11, 12)}


def lzwdecode(data: bytes) -> bytes:
    """PDF LZW variant: 9..12-bit codes, 256=clear, 257=EOD.

    Codes are extracted in vectorized numpy chunks: the code width can
    only grow when the table reaches 511/1023/2047 entries and every
    consumed code appends at most one entry, so up to
    (boundary - len(table)) codes are guaranteed to share the current
    width and decode as one reshape-matmul. A CLEAR inside a chunk
    resets the width, so the rest of that chunk (parsed at the old
    width) is discarded and re-extracted — identical code sequence to
    the one-at-a-time loop, ~5x fewer numpy calls. The base table is a
    module constant shared across resets (entries are immutable bytes;
    ``list.copy`` per reset instead of 258 fresh objects)."""
    if not data:
        return b""
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    nbits_total = len(bits)
    out = []
    table = _LZW_BASE.copy()
    prev: bytes | None = None
    nbits = 9
    pos = 0
    done = False
    while not done and pos + nbits <= nbits_total:
        count = max(1, min(_LZW_BUMP[nbits] - len(table),
                           (nbits_total - pos) // nbits))
        codes = (bits[pos:pos + count * nbits]
                 .reshape(count, nbits)
                 .astype(np.int64) @ _LZW_POWERS[nbits]).tolist()
        restart = False
        for code in codes:
            pos += nbits
            if code == 256:
                table = _LZW_BASE.copy()
                prev = None
                nbits = 9
                # remaining chunk codes were parsed at the old width
                restart = True
                break
            if code == 257:
                done = True
                break
            if prev is None:
                if code >= len(table):
                    done = True
                    break
                x = table[code]
                out.append(x)
                prev = x
                continue
            if code < len(table):
                x = table[code]
                table.append(prev + x[:1])
            elif code == len(table):
                x = prev + prev[:1]
                table.append(x)
            else:
                done = True
                break
            out.append(x)
            prev = x
        if restart:
            continue
        size = len(table)
        if size >= 2047:
            nbits = 12
        elif size >= 1023:
            nbits = 11
        elif size >= 511:
            nbits = 10
    return b"".join(out)


def png_unfilter(mat: np.ndarray, bpp: int) -> np.ndarray:
    """Undo PNG per-row filtering (RFC 2083 §6) on a (nrows, 1 + rowlen)
    uint8 matrix whose first column is each row's filter type; returns
    the (nrows, rowlen) uint8 rows. ``bpp`` is the filter unit in bytes.

    All-Up input (the common xref-stream case) is one cumulative-sum
    pass, wrapping in uint8; otherwise None/Up rows stay vectorized and
    Sub/Average/Paeth rows, which carry a left-pixel dependency, walk
    bytewise over Python ints (~8x faster than numpy scalars for the
    sequential part). PNG images (ops/imagedec.py) share this code.
    """
    ftypes = mat[:, 0]
    rows = mat[:, 1:]
    if np.all(ftypes == 2):
        return np.cumsum(rows, axis=0, dtype=np.uint8)
    (nrows, rowlen) = rows.shape
    out = np.zeros((nrows, rowlen), dtype=np.uint8)
    for y in range(nrows):
        ftype = ftypes[y]
        cur = rows[y]
        if ftype == 0:  # None
            out[y] = cur
            continue
        if ftype == 2:  # Up
            out[y] = cur + (out[y - 1] if y else 0)
            continue
        line = cur.tolist()
        prev = out[y - 1].tolist() if y else [0] * rowlen
        if ftype == 1:  # Sub
            for i in range(bpp, rowlen):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(rowlen):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(rowlen):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise FilterError("unsupported PNG row filter type: %d" % ftype)
        out[y] = line
    return out


def apply_png_predictor(pred: int, colors: int, columns: int,
                        bitspercomponent: int, data: bytes) -> bytes:
    """Un-apply PNG row predictors (used by xref streams); a trailing
    partial row is dropped."""
    if bitspercomponent != 8:
        raise FilterError("unsupported BitsPerComponent: %d" % bitspercomponent)
    stride = colors * columns + 1
    nrows = len(data) // stride
    mat = np.frombuffer(data, dtype=np.uint8, count=nrows * stride)
    # 8 bits/component: the filter unit is one byte per color
    return png_unfilter(mat.reshape(nrows, stride), colors).tobytes()


_FLATE = {"FlateDecode", "Fl"}
_LZW = {"LZWDecode", "LZW"}
_A85 = {"ASCII85Decode", "A85"}
_AHX = {"ASCIIHexDecode", "AHx"}
_RL = {"RunLengthDecode", "RL"}
_CCITT = {"CCITTFaxDecode", "CCF"}
_PASSTHROUGH = {"DCTDecode", "DCT", "JPXDecode", "JBIG2Decode"}


def decode_stream(attrs: dict, data: bytes) -> bytes:
    """Apply the stream's filter chain + predictors to raw payload bytes."""
    filters = resolve1(attrs.get("F") if "F" in attrs else attrs.get("Filter"))
    params = resolve1(
        attrs.get("DP") or attrs.get("DecodeParms") or attrs.get("FDecodeParms") or {}
    )
    if not filters:
        return data
    if not isinstance(filters, list):
        filters = [filters]
    if not isinstance(params, list):
        params = [params] * len(filters)
    for f, p in zip(filters, params):
        name = str(resolve1(f))
        if name in _FLATE:
            data = flatedecode(data)
        elif name in _LZW:
            data = lzwdecode(data)
        elif name in _A85:
            data = ascii85decode(data)
        elif name in _AHX:
            data = asciihexdecode(data)
        elif name in _RL:
            data = rldecode(data)
        elif name in _CCITT:
            from .ccitt import ccittfax_decode

            parms = resolve1(p)
            parms = ({k: resolve1(v) for (k, v) in parms.items()}
                     if isinstance(parms, dict) else {})
            data = ccittfax_decode(data, parms)
        elif name in _PASSTHROUGH:
            pass  # image codecs: payload handed through as-is
        else:
            raise FilterError("unsupported filter: %r" % name)
        p = resolve1(p) if isinstance(p, dict) else {}
        if "Predictor" in (p or {}):
            pred = int_value(p["Predictor"])
            if pred >= 10:
                data = apply_png_predictor(
                    pred,
                    int_value(p.get("Colors")) or 1,
                    int_value(p.get("Columns")) or 1,
                    int_value(p.get("BitsPerComponent")) or 8,
                    data,
                )
            elif pred != 1:
                # TIFF predictor 2 etc.: failing loud keeps the pipeline
                # soft-fail path honest (status=error) instead of letting
                # still-predicted bytes flow downstream as corrupt text
                # (reference raises PDFNotImplementedError the same way)
                raise FilterError("unsupported predictor: %d" % pred)
    return data
