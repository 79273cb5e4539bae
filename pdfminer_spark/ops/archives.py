"""Archive-container ingestion: a from-scratch ZIP reader (APPNOTE.TXT
central-directory layout — EOCD scan from the tail, central/local
header cross-validation, stored + raw-deflate members through bounded
decompressors, CRC32 verification) and DOCX text extraction built on
it (a .docx is a ZIP whose ``word/document.xml`` carries the text in
``w:t`` runs grouped by ``w:p`` paragraphs).

The stdlib ``zipfile`` is used only by the TEST/builder side — the
reader here is independent, so the roundtrip pins two implementations
against each other, and hostile-input bounds (member-count cap,
declared-size cap, EOCD/local-header signature checks, truncated
deflate) are enforced where ``zipfile`` is permissive.
"""
from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame, SparkSession

from ..spark.batches import map_rows
from .textops import _docs

_MAX_ZIP_MEMBERS = 65_535           # the format's own 2-byte limit
_MAX_MEMBER_BYTES = 1 << 24         # 16 MiB decompressed per member

_EOCD_SIG = b"PK\x05\x06"
_CDIR_SIG = b"PK\x01\x02"
_LOCAL_SIG = b"PK\x03\x04"


class ZipError(ValueError):
    """Malformed, inconsistent, truncated, or bomb ZIP payload."""


def parse_zip(b: bytes,
              max_member: int = _MAX_MEMBER_BYTES) -> list[dict]:
    """Parse a ZIP archive into members with verified contents.

    The central directory is authoritative (APPNOTE 4.3.12): the EOCD
    record is scanned backward from the tail (comments up to 64 KiB),
    each central entry's local header signature is checked, and every
    member's inflated bytes are validated against the directory's CRC32
    and uncompressed size — a mismatch raises rather than returning
    silently wrong content."""
    import zlib

    if len(b) < 22:
        raise ZipError("too short for an EOCD record")
    scan_from = max(0, len(b) - 22 - 65_535)
    eocd = b.rfind(_EOCD_SIG, scan_from, len(b) - 18)
    if eocd < 0:
        raise ZipError("no intact end-of-central-directory record")
    (n_disk, n_total, cd_size, cd_off) = struct.unpack_from(
        "<HHII", b, eocd + 8)
    if n_disk != n_total or n_total > _MAX_ZIP_MEMBERS:
        raise ZipError("multi-disk or member-count bomb")
    if cd_off + cd_size > eocd:
        raise ZipError("central directory overruns the EOCD")
    members: list[dict] = []
    i = cd_off
    for _ in range(n_total):
        if i + 46 > len(b):
            raise ZipError("central directory entry truncated")
        if b[i:i + 4] != _CDIR_SIG:
            raise ZipError("bad central-directory signature")
        (method, _t, _d, crc, csize, usize, nlen, xlen, clen) = \
            struct.unpack_from("<HHHIIIHHH", b, i + 10)
        (lho,) = struct.unpack_from("<I", b, i + 42)
        name = b[i + 46:i + 46 + nlen].decode("utf-8")
        i += 46 + nlen + xlen + clen
        if usize > max_member:
            raise ZipError("member %r exceeds the %d-byte cap"
                           % (name, max_member))
        if lho + 30 > len(b) or b[lho:lho + 4] != _LOCAL_SIG:
            raise ZipError("bad local-header signature for %r" % name)
        (lnlen, lxlen) = struct.unpack_from("<HH", b, lho + 26)
        data_off = lho + 30 + lnlen + lxlen
        raw = b[data_off:data_off + csize]
        if len(raw) != csize:
            raise ZipError("member %r data truncated" % name)
        if method == 0:
            out = raw
        elif method == 8:
            d = zlib.decompressobj(wbits=-15)
            try:
                out = d.decompress(raw, usize + 1)
            except zlib.error as e:
                raise ZipError("member %r deflate: %s" % (name, e))
        else:
            raise ZipError("unsupported compression method %d" % method)
        if len(out) != usize or zlib.crc32(out) != crc:
            raise ZipError("member %r fails size/CRC validation" % name)
        members.append({"name": name, "method": method,
                        "usize": usize, "content": out})
    return members


def extract_docx_text(b: bytes) -> tuple[int, str]:
    """DOCX main-document text: read ``word/document.xml`` from the
    ZIP, parse it (DOCTYPE rejected — entity bombs), and join each
    ``w:p`` paragraph's ``w:t`` run texts, paragraphs separated by
    newlines. Returns ``(n_paragraphs, text)``."""
    import xml.etree.ElementTree as ET

    doc = None
    for m in parse_zip(b):
        if m["name"] == "word/document.xml":
            doc = m["content"]
            break
    if doc is None:
        raise ZipError("no word/document.xml — not a DOCX")
    head = doc[:1024].upper()
    if b"<!DOCTYPE" in head:
        # ZipError, not WarcError: callers catch ZipError per the
        # module contract (r7 ADVICE — WarcError broke it)
        raise ZipError("DOCX XML with DOCTYPE rejected")
    try:
        root = ET.fromstring(doc)
    except ET.ParseError as e:
        raise ZipError("malformed document.xml: %s" % e)

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1]

    paras: list[str] = []
    for p in root.iter():
        if local(p.tag) != "p":
            continue
        runs = [t.text or "" for t in p.iter() if local(t.tag) == "t"]
        paras.append("".join(runs))
    return (len(paras), "\n".join(paras))


_DOCX_NS = ("http://schemas.openxmlformats.org/wordprocessingml/"
            "2006/main")


def _build_docx(doc_id: int, text: str) -> bytes:
    """Minimal valid DOCX via stdlib zipfile (the INDEPENDENT writer the
    reader is pinned against): two paragraphs split at the character
    midpoint, plus the content-types part."""
    import io
    import zipfile

    a = len(text) // 2
    (p1, p2) = (text[:a], text[a:])
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="%s"><w:body>'
        '<w:p><w:r><w:t xml:space="preserve">%s</w:t></w:r></w:p>'
        '<w:p><w:r><w:t xml:space="preserve">%s</w:t></w:r></w:p>'
        '</w:body></w:document>' % (_DOCX_NS, p1, p2))
    ctypes = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.'
        'openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '</Types>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        stamp = (2026, 1, 1, 0, 0, 0)  # fixed mtime: byte-deterministic
        z.writestr(zipfile.ZipInfo("[Content_Types].xml", stamp),
                   ctypes, zipfile.ZIP_STORED)
        z.writestr(zipfile.ZipInfo("word/document.xml", stamp),
                   document,
                   zipfile.ZIP_DEFLATED if doc_id % 2 == 0
                   else zipfile.ZIP_STORED)
    return buf.getvalue()


def _zip_member_rows(doc_id, text):
    ms = parse_zip(_build_docx(doc_id, text))
    return ([doc_id] * len(ms), [m["name"] for m in ms],
            [m["method"] for m in ms], [m["usize"] for m in ms],
            [hashlib.md5(m["content"]).hexdigest() for m in ms])


def zip_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP parsing under the driver's oracle gate: per document, build
    a two-member archive with stdlib zipfile (deflate on even doc_ids,
    stored on odd — both code paths under the gate), parse it with the
    INDEPENDENT from-scratch reader, and emit each member's name,
    method, size, and content md5. The oracle recomputes everything
    from the document text and the builder's closed forms — a
    local-header offset slip, a truncated inflate, or a CRC confusion
    is a visible mismatch."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _zip_member_rows,
                    "doc_id long, name string, method int, usize int,"
                    " content_md5 string")


def _docx_row(doc_id, text):
    (n_paras, out) = extract_docx_text(_build_docx(doc_id, text))
    return ([doc_id], [n_paras], [out])


def docx_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX text extraction end-to-end under the oracle gate: build a
    minimal two-paragraph DOCX from each document's text, run the full
    chain (ZIP central directory -> inflate -> OOXML parse -> w:p/w:t
    collection), and emit the paragraph count plus the newline-joined
    text. The oracle reconstructs the expected text from the midpoint
    split alone — extraction must round-trip every byte.

    Scale: one map-side stage after the round-robin spread (``_docs``),
    like warc_extract — at lake scale the same per-row function runs on
    real .docx payload cells."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _docx_row,
                    "doc_id long, n_paragraphs int, doc_text string")


_CT_LEN = len('<?xml version="1.0"?><Types xmlns="http://schemas.'
              'openxmlformats.org/package/2006/content-types">'
              '<Default Extension="xml" ContentType="application/xml"/>'
              '</Types>')
_DOC_WRAP_LEN = len(
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<w:document xmlns:w="%s"><w:body>'
    '<w:p><w:r><w:t xml:space="preserve"></w:t></w:r></w:p>'
    '<w:p><w:r><w:t xml:space="preserve"></w:t></w:r></w:p>'
    '</w:body></w:document>' % _DOCX_NS)

ORACLES: dict[str, str] = {
    "zip_members": """
        WITH m AS (
          SELECT doc_id, text,
                 MD5('<?xml version="1.0"?><Types xmlns="http://schemas.'
                     || 'openxmlformats.org/package/2006/content-types">'
                     || '<Default Extension="xml" ContentType='
                     || '"application/xml"/></Types>') AS ct_md5,
                 MD5('<?xml version="1.0" encoding="UTF-8"'
                     || ' standalone="yes"?>'
                     || '<w:document xmlns:w="%(ns)s"><w:body>'
                     || '<w:p><w:r><w:t xml:space="preserve">'
                     || SUBSTR(text, 1, LENGTH(text) // 2)
                     || '</w:t></w:r></w:p>'
                     || '<w:p><w:r><w:t xml:space="preserve">'
                     || SUBSTR(text, LENGTH(text) // 2 + 1)
                     || '</w:t></w:r></w:p>'
                     || '</w:body></w:document>') AS doc_md5
          FROM documents
        )
        SELECT doc_id, '[Content_Types].xml' AS name, 0::INT AS method,
               %(ct_len)d::INT AS usize, ct_md5 AS content_md5
        FROM m
        UNION ALL
        SELECT doc_id, 'word/document.xml' AS name,
               (CASE WHEN doc_id %% 2 = 0 THEN 8 ELSE 0 END)::INT
                 AS method,
               (%(wrap_len)d + LENGTH(text))::INT AS usize,
               doc_md5 AS content_md5
        FROM m
    """ % {"ns": _DOCX_NS, "ct_len": _CT_LEN, "wrap_len": _DOC_WRAP_LEN},
    "docx_extract": """
        SELECT doc_id, 2::INT AS n_paragraphs,
               SUBSTR(text, 1, LENGTH(text) // 2) || CHR(10)
                 || SUBSTR(text, LENGTH(text) // 2 + 1) AS doc_text
        FROM documents
    """,
}

QUERIES = {
    "zip_members": zip_members,
    "docx_extract": docx_extract,
}
