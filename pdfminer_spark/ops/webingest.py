"""WARC ingestion operators: the container format web-scale corpora
(Common Crawl and every crawler since Heritrix) actually arrive in.

Two layers, both pure stdlib:

* ``parse_warc`` — WARC/1.0 record framing per ISO 28500: version
  line, CRLF header block, ``Content-Length``-framed block, CRLF CRLF
  record separator. The framing is load-bearing: a reader that does
  not honor Content-Length desyncs on any block containing
  ``WARC/``-looking bytes. Hostile-input bounds: record-count cap,
  truncation and separator checks that raise instead of resyncing.
* ``parse_http_response`` — status line + CRLF headers + body split of
  a ``response`` record's block.

Registered queries put the chain under the driver's oracle gate:
``warc_records`` checks framing + digests against a closed form;
``warc_extract`` runs the FULL ingestion path — WARC -> HTTP -> the
real DOM-density boilerplate stripper (``html/boilerplate.py``) — and
must recover each document's exact main text (the extract_documents
wrap/strip round-trip, one container level deeper).

Scale: every Python operator here is a per-row function run by
``spark/batches.map_rows``: a round-robin spread of the scan to the
session parallelism (``_docs``), then one map-side stage (per-row
independent work). At 100 TB the same per-row function runs over binary
WARC cells read straight from the lake; per-record memory is bounded by
the declared Content-Length checked against the cell size before
slicing.
"""
from __future__ import annotations

import hashlib
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession

from ..spark.batches import map_rows
from .textops import _docs

_MAX_WARC_RECORDS = 1 << 20  # hostile-input ceiling per payload cell


class WarcError(ValueError):
    """Malformed WARC framing or HTTP block."""


def parse_warc(data: bytes,
               max_records: int = _MAX_WARC_RECORDS) -> list[dict]:
    """Parse a WARC/1.0 byte stream into records, strictly framed."""
    recs: list[dict] = []
    i = 0
    n = len(data)
    while i < n:
        eol = data.find(b"\r\n", i)
        if eol < 0 or not data[i:eol].startswith(b"WARC/"):
            raise WarcError("bad WARC version line at %d" % i)
        he = data.find(b"\r\n\r\n", eol)
        if he < 0:
            raise WarcError("unterminated WARC header block")
        headers: dict[str, str] = {}
        for line in data[eol + 2:he].split(b"\r\n"):
            (k, sep, v) = line.partition(b":")
            if not sep:
                raise WarcError("malformed WARC header line %r" % line)
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise WarcError("missing/bad WARC Content-Length")
        if clen < 0 or he + 4 + clen > n:
            raise WarcError("WARC block truncated")
        recs.append({"type": headers.get("warc-type", ""),
                     "uri": headers.get("warc-target-uri", ""),
                     "headers": headers,
                     "block": data[he + 4:he + 4 + clen]})
        i = he + 4 + clen
        if data[i:i + 4] != b"\r\n\r\n":
            raise WarcError("missing WARC record separator")
        i += 4
        if len(recs) > max_records:
            raise WarcError("WARC record-count bomb")
    if not recs:
        raise WarcError("empty WARC")
    return recs


def parse_http_response(block: bytes) -> tuple[int, dict, bytes]:
    """Split a response record's block: (status, headers, body)."""
    he = block.find(b"\r\n\r\n")
    if he < 0:
        raise WarcError("unterminated HTTP header block")
    lines = block[:he].split(b"\r\n")
    parts = lines[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise WarcError("bad HTTP status line %r" % lines[0])
    try:
        status = int(parts[1])
    except ValueError:
        raise WarcError("bad HTTP status code %r" % parts[1])
    headers: dict[str, str] = {}
    for line in lines[1:]:
        (k, sep, v) = line.partition(b":")
        if not sep:
            raise WarcError("malformed HTTP header line %r" % line)
        headers[k.strip().lower().decode("latin-1")] = \
            v.strip().decode("latin-1")
    return (status, headers, block[he + 4:])


# chrome wrap for the synthetic response bodies — double-quoted attrs so
# the DuckDB oracle can embed the same literals in single-quoted SQL;
# same nav/article/footer shape the extract_documents oracle proves
# strips back to the bare text
_PRE = ('<html><body><nav><a href="/">Home</a> <a href="/a">A</a> '
        '<a href="/b">B</a></nav><article><p>')
_POST = ('</p></article><footer><a href="/tos">terms</a> copyright'
         '</footer></body></html>')


def _build_warc(doc_id: int, text: str) -> bytes:
    """Synthetic three-record WARC (warcinfo, request, response) whose
    response body is the chrome-wrapped document text."""
    uri = "https://example.org/doc/%d" % doc_id
    body = (_PRE + text + _POST).encode("utf-8")
    http = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body)

    def rec(rtype: str, extra: str, block: bytes) -> bytes:
        hdr = ("WARC/1.0\r\nWARC-Type: %s\r\n%sContent-Length: %d"
               "\r\n\r\n" % (rtype, extra, len(block))).encode()
        return hdr + block + b"\r\n\r\n"

    return (rec("warcinfo", "", b"software: synthetic\r\n")
            + rec("request", "WARC-Target-URI: %s\r\n" % uri,
                  b"GET /doc HTTP/1.1\r\nHost: example.org\r\n\r\n")
            + rec("response", "WARC-Target-URI: %s\r\n" % uri, http))


def _warc_response(doc_id: int, text: str) -> tuple[list, dict, int, bytes]:
    """(records, response record, HTTP status, body) of the document's
    synthetic WARC, parsed back by the strict readers."""
    recs = parse_warc(_build_warc(doc_id, text))
    resp = [r for r in recs if r["type"] == "response"][0]
    (status, _h, body) = parse_http_response(resp["block"])
    return (recs, resp, status, body)


def _record_row(doc_id, text):
    (recs, resp, status, body) = _warc_response(doc_id, text)
    return ([doc_id], [len(recs)], [resp["uri"]], [status], [len(body)],
            [hashlib.sha256(body).hexdigest()])


def warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC framing under the driver's oracle gate: per document, build
    a three-record WARC executor-side, parse it back with the strict
    reader, and emit record count, target URI, HTTP status, body
    length, and the body's sha256. The oracle recomputes everything
    from the closed form (URI from doc_id, body = chrome wrap of the
    text) — any framing slip (Content-Length off by one, separator
    desync, header case) is a visible mismatch."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _record_row,
                    "doc_id long, n_records int, uri string, status int,"
                    " body_len int, body_sha256 string")


def _extract_row(doc_id, text):
    from pdfminer_spark.html.boilerplate import extract_main_text

    (_recs, resp, status, body) = _warc_response(doc_id, text)
    return ([doc_id], [resp["uri"]], [status],
            [extract_main_text(body.decode("utf-8"))])


def warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full web-ingestion chain under one oracle row: WARC framing
    -> HTTP response split -> the real DOM-density boilerplate stripper
    -> main text. The oracle expects each document's EXACT original
    text back — nav/footer chrome must be stripped, the article body
    must survive verbatim, so this row pins the stripper's behavior on
    the canonical wrap at every SF, one container level deeper than
    extract_documents."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _extract_row,
                    "doc_id long, uri string, status int, main_text string")


_MAX_ROBOTS_RULES = 10_000  # hostile-input ceiling per robots.txt


def parse_robots(txt: str,
                 max_rules: int = _MAX_ROBOTS_RULES) -> dict[str, list]:
    """Parse robots.txt into {user-agent: [(kind, rule), ...]} per
    RFC 9309: consecutive ``User-agent`` lines form one group header
    (their rules apply to every listed agent), directive names are
    case-insensitive, ``#`` starts a comment, empty rule values are
    ignored, and rule count is capped per agent."""
    groups: dict[str, list] = {}
    current: list[str] = []
    last_was_ua = False
    for line in txt.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        (k, sep, v) = line.partition(":")
        if not sep:
            continue
        (k, v) = (k.strip().lower(), v.strip())
        if k == "user-agent":
            if not last_was_ua:
                current = []
            current.append(v.lower())
            groups.setdefault(v.lower(), [])
            last_was_ua = True
        elif k in ("allow", "disallow"):
            last_was_ua = False
            for ua in current:
                g = groups.setdefault(ua, [])
                if v and len(g) < max_rules:
                    g.append((k, v))
        else:
            last_was_ua = False
    return groups


def _robots_rule_matches(rule: str, path: str) -> bool:
    """RFC 9309 path matching: ``*`` matches any run of octets, a
    trailing ``$`` anchors at the end, everything else is literal
    prefix match."""
    import re

    anchored = rule.endswith("$")
    body = rule[:-1] if anchored else rule
    pat = re.escape(body).replace(r"\*", ".*")
    return re.match(pat + ("$" if anchored else ""), path) is not None


def robots_allowed(groups: dict[str, list], user_agent: str,
                   path: str) -> bool:
    """RFC 9309 decision: use the matching agent's group (exact product
    token, falling back to ``*``; groups are NOT merged), pick the
    longest matching rule (octet length), Allow wins length ties; no
    matching rule means allowed."""
    rules = groups.get(user_agent.lower())
    if rules is None:
        rules = groups.get("*", [])
    best: tuple[int, str] | None = None
    for (kind, rule) in rules:
        if _robots_rule_matches(rule, path):
            spec = len(rule)
            if (best is None or spec > best[0]
                    or (spec == best[0] and kind == "allow")):
                best = (spec, kind)
    return best is None or best[1] == "allow"


_ROBOTS_PATHS = ("/public/doc", "/private/doc", "/private/ok/doc",
                 "/doc.pdf", "/doc.pdfx")


def _build_robots(doc_id: int) -> str:
    txt = ("# synthetic crawl policy\n"
           "User-agent: *\n"
           "Disallow: /private/\n"
           "Allow: /private/ok/\n")
    if doc_id % 2 == 1:
        txt += "Disallow: /*.pdf$\n"
    if doc_id % 3 == 0:
        txt += ("\nUser-agent: trainingbot\n"
                "Disallow: /public/\n")
    return txt


def _robots_row(doc_id):
    groups = parse_robots(_build_robots(doc_id))
    path = _ROBOTS_PATHS[doc_id % 5]
    return ([doc_id], [path],
            [int(robots_allowed(groups, "TrainingBot", path))])


def robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance filtering under the driver's oracle gate: per
    document, synthesize a robots.txt (wildcard + end-anchor rule on
    odd doc_ids, a bot-specific group on doc_id%3==0) and a URL path
    from closed forms, parse with the RFC 9309 parser, and emit the
    allow/deny decision for our user agent. The oracle enumerates the
    expected decision table — group selection (specific group REPLACES
    ``*``, never merges), longest-match precedence, Allow tie-break,
    and the ``$`` anchor are all load-bearing in it.

    Scale: one map-side stage after the round-robin spread (``_docs``);
    in a real crawl the parsed per-domain rule groups are a broadcast
    table keyed by registered domain, probed map-side exactly like
    this."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _robots_row, "doc_id long, path string, allowed int")


_MAX_SITEMAP_URLS = 50_000  # the sitemaps.org per-file limit


def parse_sitemap(xml_text: str,
                  max_urls: int = _MAX_SITEMAP_URLS) -> dict:
    """Parse a sitemaps.org XML document — both ``<urlset>`` (leaf
    sitemap: url/loc + optional lastmod/priority) and ``<sitemapindex>``
    (index of child sitemaps). Namespace-agnostic on the local names so
    the 0.9 namespace, unnamespaced test files, and vendor prefixes all
    parse. Hostile-input bounds: any DOCTYPE is rejected before the XML
    parser sees it (entity-expansion bombs), entry count is capped at
    the spec's own 50k per-file limit."""
    import xml.etree.ElementTree as ET

    if "<!DOCTYPE" in xml_text[:1024].upper():
        raise WarcError("sitemap with DOCTYPE rejected")
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise WarcError("malformed sitemap XML: %s" % e)

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    kind = local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        raise WarcError("not a sitemap root: %r" % root.tag)
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries = []
    for el in root:
        if local(el.tag) != child_tag:
            continue
        fields = {local(c.tag): (c.text or "").strip() for c in el}
        if not fields.get("loc"):
            raise WarcError("sitemap entry without <loc>")
        entries.append({"loc": fields["loc"],
                        "lastmod": fields.get("lastmod", ""),
                        "priority": fields.get("priority", "")})
        if len(entries) > max_urls:
            raise WarcError("sitemap exceeds the 50k entry limit")
    return {"kind": kind, "entries": entries}


_SITEMAP_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"


def _build_sitemap(doc_id: int) -> str:
    if doc_id % 4 == 0:  # index of child sitemaps
        body = "".join(
            "<sitemap><loc>https://example.org/sm/%d/%d.xml</loc>"
            "</sitemap>" % (doc_id, k) for k in range(2))
        return ('<?xml version="1.0" encoding="UTF-8"?>'
                '<sitemapindex xmlns="%s">%s</sitemapindex>'
                % (_SITEMAP_NS, body))
    n = 1 + doc_id % 3
    body = "".join(
        "<url><loc>https://example.org/p/%d/%d</loc>"
        "<lastmod>2026-01-0%d</lastmod><priority>0.%d</priority>"
        "</url>" % (doc_id, k, 1 + k, 5 + k) for k in range(n))
    return ('<?xml version="1.0" encoding="UTF-8"?>'
            '<urlset xmlns="%s">%s</urlset>' % (_SITEMAP_NS, body))


def _sitemap_row(doc_id):
    sm = parse_sitemap(_build_sitemap(doc_id))
    first = sm["entries"][0]
    return ([doc_id], [sm["kind"]], [len(sm["entries"])], [first["loc"]],
            [first["lastmod"]])


def sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap crawl-frontier parsing under the driver's oracle gate:
    per document, synthesize a namespaced sitemaps.org file (a
    sitemapindex on doc_id%4==0, else a urlset with 1-3 url entries
    carrying lastmod/priority), parse with ``parse_sitemap``, and emit
    kind, entry count, and the first entry's loc/lastmod. The oracle
    enumerates the closed forms.

    Scale: one map-side stage after the round-robin spread (``_docs``);
    real crawls fan the per-domain sitemap fetches out the same way and
    explode the entry lists afterward."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _sitemap_row,
                    "doc_id long, kind string, n_entries int,"
                    " first_loc string, first_lastmod string")


def _build_html(doc_id: int, text: str) -> str:
    head = ["<head>"]
    k = doc_id % 3
    if k == 1:
        # messy whitespace exercises the normalizer
        head.append("<title>  Doc \n  %d  </title>" % doc_id)
    if k == 0:
        head.append('<meta property="og:title" content="OG Doc %d">'
                    % doc_id)
    if doc_id % 2 == 0:
        head.append('<meta name="description" content="Desc %d">'
                    % doc_id)
    else:
        head.append('<meta property="og:description" '
                    'content="OGD %d">' % doc_id)
    head.append('<link rel="canonical" '
                'href="https://example.org/c/%d">' % doc_id)
    head.append("</head>")
    lang = ' lang="en"' if doc_id % 4 != 0 else ""
    h1 = "<h1>Heading %d</h1>" % doc_id if k == 2 else ""
    return ("<html%s>%s<body>%s<p>%s</p></body></html>"
            % (lang, "".join(head), h1, text))


def _metadata_row(doc_id, text):
    from pdfminer_spark.html.metadata import extract_metadata

    m = extract_metadata(_build_html(doc_id, text))
    return ([doc_id], [m["title"]], [m["description"]], [m["canonical"]],
            [m["lang"]])


def html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-level HTML metadata under the driver's oracle gate: per
    document, build an HTML page whose metadata presence varies by
    doc_id (no <title> on doc_id%3 in {0,2} — forcing the og:title
    resp. first-<h1> fallbacks; meta description vs og:description by
    parity; lang attribute absent on doc_id%4==0), extract with
    ``html/metadata.py``, emit the four fields. The oracle enumerates
    the fallback chains and the whitespace normalization in CASE form.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _metadata_row,
                    "doc_id long, title string, description string,"
                    " canonical string, lang string")


_TEX_DROP_ARG = ("label", "cite", "ref", "usepackage", "documentclass",
                 "includegraphics", "bibliography", "bibliographystyle",
                 "input", "include")
_TEX_MAX_PASSES = 10  # nesting bound


def strip_latex(s: str) -> str:
    """Rule-based LaTeX-to-text (the arXiv-source pipeline step): drop
    comments (unescaped ``%`` to end of line), keep only the
    ``\\begin{document}`` body when present, remove display and inline
    math, unwrap textual ``\\cmd{arg}`` to ``arg`` (reference-like
    commands in ``_TEX_DROP_ARG`` drop their argument instead), erase
    bare commands and environment markers, strip leftover braces, and
    collapse whitespace. Command unwrapping iterates up to a fixed pass
    bound so nested markup terminates on hostile input."""
    import re

    s = re.sub(r"(?<!\\)%[^\n]*", "", s)
    m = re.search(r"\\begin\{document\}(.*?)(?:\\end\{document\}|$)",
                  s, re.S)
    if m:
        s = m.group(1)
    s = re.sub(r"\$\$.*?\$\$", " ", s, flags=re.S)
    s = re.sub(r"\$[^$]*\$", " ", s)
    # environment markers go FIRST: the generic unwrap below would
    # otherwise turn \begin{itemize} into the literal word "itemize"
    s = re.sub(r"\\begin\{[^{}]*\}|\\end\{[^{}]*\}", " ", s)
    drop = "|".join(_TEX_DROP_ARG)
    for _ in range(_TEX_MAX_PASSES):
        new = re.sub(r"\\(?:%s)\*?\{[^{}]*\}" % drop, " ", s)
        new = re.sub(r"\\[A-Za-z]+\*?\{([^{}]*)\}", r"\1", new)
        if new == s:
            break
        s = new
    s = re.sub(r"\\[A-Za-z]+\*?", " ", s)
    s = re.sub(r"\\[^A-Za-z]", " ", s)  # escaped symbols (\%, \&)
    s = s.replace("{", " ").replace("}", " ")
    return re.sub(r"\s+", " ", s).strip()


def strip_markdown(s: str) -> str:
    """Rule-based Markdown-to-text (the GitHub/docs-corpora step):
    fence markers drop but fenced code CONTENT survives (code is
    training text), inline code unwraps, images become their alt text,
    links keep their anchor text, ATX headers / blockquote markers /
    list bullets / horizontal rules are erased, emphasis unwraps
    (strong before em so ``**`` never parses as two ``*``), and
    whitespace collapses."""
    import re

    s = re.sub(r"^```[^\n]*$", " ", s, flags=re.M)   # fence markers
    s = re.sub(r"`([^`]*)`", r"\1", s)               # inline code
    s = re.sub(r"!\[([^\]]*)\]\([^)]*\)", r"\1", s)  # images -> alt
    s = re.sub(r"\[([^\]]*)\]\([^)]*\)", r"\1", s)   # links -> anchor
    s = re.sub(r"^#{1,6}\s*", "", s, flags=re.M)     # ATX headers
    s = re.sub(r"^\s*(?:[-*+]|\d+\.)\s+", " ", s, flags=re.M)  # bullets
    s = re.sub(r"^\s*>+\s?", " ", s, flags=re.M)     # blockquotes
    s = re.sub(r"^\s*(?:-{3,}|\*{3,}|_{3,})\s*$", " ", s, flags=re.M)
    s = re.sub(r"(\*\*|__)(.+?)\1", r"\2", s, flags=re.S)  # strong
    s = re.sub(r"(\*|_)(.+?)\1", r"\2", s, flags=re.S)     # em
    return re.sub(r"\s+", " ", s).strip()


def _build_md(text: str) -> str:
    words = text.split(" ")
    marked = " ".join(
        "**%s**" % w if i % 6 == 1 else w
        for (i, w) in enumerate(words))
    return ("# Title\n\n"
            "Some *emphasized* intro with a [link](https://x/y) "
            "and `inline code`.\n\n"
            "- item one\n- item two\n\n"
            "```python\ncode block line\n```\n\n"
            "> quoted wisdom\n\n---\n\n" + marked + "\n")


def _markdown_row(doc_id, text):
    return ([doc_id], [strip_markdown(_build_md(text))])


def markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown stripping under the driver's oracle gate: wrap each
    document's text in a synthetic README-style page (header, emphasis,
    link, inline code, list, fenced code, blockquote, rule, every sixth
    word strong-wrapped) and require the exact expected text back —
    markers gone, anchor/code/quote CONTENT intact.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _markdown_row,
                    "doc_id long, stripped string")


def _build_tex(text: str) -> str:
    words = text.split(" ")
    marked = " ".join(
        "\\emph{%s}" % w if i % 5 == 2 else w
        for (i, w) in enumerate(words))
    return ("% synthetic arXiv-style source\n"
            "\\documentclass{article}\n"
            "\\usepackage{amsmath}\n"
            "\\begin{document}\n"
            "\\section{Introduction}\n"
            "Let $x^2 + y_i$ hold. % trailing comment\n"
            + marked + "\n\\label{sec:intro}\n"
            "\\end{document}\n")


def _latex_row(doc_id, text):
    return ([doc_id], [strip_latex(_build_tex(text))])


def latex_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LaTeX source stripping under the driver's oracle gate: wrap each
    document's text in a synthetic arXiv-style source (preamble,
    comments, a section command, inline math, every fifth word
    emph-wrapped, a trailing label) and require the stripper to recover
    exactly ``Introduction Let hold. <text>`` — preamble/comments/math/
    label gone, command-wrapped words intact.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _latex_row,
                    "doc_id long, stripped string")


def jsonl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion through Catalyst's native JSON parser — the
    format most LLM corpora actually ship in. Each document becomes a
    JSON line executor-side (nested meta object, closed-form fields;
    every 11th line TRUNCATED mid-object to exercise the corrupt-record
    path), and ``from_json`` — JVM-side Jackson, not Python — must
    recover the id, nested lang/score, and the exact text. Corrupt
    lines surface as valid=0 with NULL fields, never an exception.

    Scale: zero exchanges — string build + from_json + field access are
    all expression-level inside one scan stage; at the lake the same
    plan reads a raw text source instead of synthesizing the line."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # corpus-purity assumption (r7 ADVICE): the text column is spliced
    # into the JSON literal unescaped, which is only well-formed because
    # the driver corpus is quote- and backslash-free ASCII; real text
    # would need F.to_json(F.struct(...)) here — not changed now because
    # the pinned oracle builds the line the same raw way
    js = F.concat(
        F.lit('{"id": '), F.col("doc_id").cast("string"),
        F.lit(', "meta": {"lang": "en", "score": '),
        (F.col("doc_id") % 100).cast("string"),
        F.lit('}, "text": "'), F.col("text"), F.lit('"}'))
    js = F.when(F.col("doc_id") % 11 == 0,
                F.lit('{"id": ')).otherwise(js)
    p = F.from_json(
        js, "id bigint, meta struct<lang:string, score:int>, text string")
    return d.select(
        "doc_id",
        p["id"].isNotNull().cast("int").alias("valid"),
        p["id"].alias("id"),
        p["meta"]["lang"].alias("lang"),
        p["meta"]["score"].alias("score"),
        F.when(p["id"].isNotNull(),
               (p["text"] == F.col("text")).cast("int"))
         .alias("text_roundtrip"))


_MAX_FEED_ENTRIES = 10000


def parse_feed(xml_text: str,
               max_entries: int = _MAX_FEED_ENTRIES) -> dict:
    """Parse a syndication feed — RSS 2.0 (``<rss><channel><item>``)
    or Atom (``<feed><entry>``), namespace-agnostic on local names.
    Links resolve per-format (RSS ``<link>`` text, Atom ``<link
    href>`` attribute preferring rel="alternate"/unset). Hostile-input
    bounds: DOCTYPE rejected before parsing (entity bombs), entry cap.
    """
    import xml.etree.ElementTree as ET

    if "<!DOCTYPE" in xml_text[:1024].upper():
        raise WarcError("feed with DOCTYPE rejected")
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError as e:
        raise WarcError("malformed feed XML: %s" % e)

    def local(tag: str) -> str:
        return tag.rsplit("}", 1)[-1].lower()

    kind = local(root.tag)
    if kind == "rss":
        chans = [c for c in root if local(c.tag) == "channel"]
        if not chans:
            raise WarcError("rss without channel")
        items = [el for el in chans[0] if local(el.tag) == "item"]
        fmt = "rss"
    elif kind == "feed":
        items = [el for el in root if local(el.tag) == "entry"]
        fmt = "atom"
    else:
        raise WarcError("not a feed root: %r" % root.tag)
    entries = []
    for el in items:
        if len(entries) >= max_entries:
            raise WarcError("feed exceeds entry cap")
        f: dict[str, str] = {}
        link = ""
        for c in el:
            name = local(c.tag)
            if name == "link":
                if fmt == "rss":
                    link = (c.text or "").strip()
                elif c.get("rel") in (None, "alternate") and not link:
                    link = (c.get("href") or "").strip()
            else:
                f[name] = (c.text or "").strip()
        entries.append({
            "title": f.get("title", ""),
            "link": link,
            "entry_id": f.get("guid", f.get("id", "")),
            "updated": f.get("pubdate", f.get("updated", ""))})
    return {"fmt": fmt, "entries": entries}


def _build_feed(doc_id: int) -> str:
    n = 1 + doc_id % 3
    if doc_id % 2 == 0:
        items = "".join(
            "<item><title>Item %d %d</title>"
            "<link>https://example.org/f/%d/%d</link>"
            "<guid>urn:%d:%d</guid>"
            "<pubDate>Mon, 05 Jan 2026 00:00:0%d GMT</pubDate></item>"
            % (doc_id, k, doc_id, k, doc_id, k, k) for k in range(n))
        return ('<?xml version="1.0"?><rss version="2.0"><channel>'
                "<title>Feed %d</title>%s</channel></rss>"
                % (doc_id, items))
    items = "".join(
        '<entry><title>Item %d %d</title>'
        '<link rel="alternate" href="https://example.org/f/%d/%d"/>'
        "<id>urn:%d:%d</id>"
        "<updated>2026-01-05T00:00:0%dZ</updated></entry>"
        % (doc_id, k, doc_id, k, doc_id, k, k) for k in range(n))
    return ('<feed xmlns="http://www.w3.org/2005/Atom">'
            "<title>Feed %d</title>%s</feed>" % (doc_id, items))


def _feed_rows(doc_id):
    parsed = parse_feed(_build_feed(doc_id))
    es = parsed["entries"]
    return ([doc_id] * len(es), [parsed["fmt"]] * len(es), range(len(es)),
            [e["title"] for e in es], [e["link"] for e in es],
            [e["entry_id"] for e in es], [e["updated"] for e in es])


def feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed ingestion under the driver's oracle gate: each
    document becomes a synthetic feed (RSS 2.0 for even doc_ids, Atom
    for odd — item count, links, ids, timestamps closed-form in
    doc_id) and the parser must recover every entry's exact fields —
    including the RSS-text vs Atom-href link split and the
    guid-vs-id / pubDate-vs-updated fallbacks.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _feed_rows,
                    "doc_id long, fmt string, entry_idx int, title string,"
                    " link string, entry_id string, updated string")


def _build_linked_page(src_id: int) -> str:
    links = "".join(
        '<p>see <a href="https://example.org/d/%d">a%d %d</a> ok</p>'
        % (dst, src_id % 5, dst)
        for dst in ((src_id + 7 * (k + 1)) % 500
                    for k in range(1 + src_id % 3)))
    return ('<html><body><nav><a href="/home">Home</a></nav>'
            "<main>%s</main></body></html>" % links)


def _link_rows(src):
    from pdfminer_spark.html.metadata import extract_links

    # nav/footer chrome links stay out
    links = [(href, anchor)
             for (href, anchor) in extract_links(_build_linked_page(src))
             if href.startswith("https://example.org/d/")]
    return ([src] * len(links),
            [int(href.rsplit("/", 1)[-1]) for (href, _a) in links],
            [anchor for (_h, anchor) in links])


def link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph construction — the hyperlink extraction + in-degree
    aggregation pass behind link-based quality signals (Common Crawl's
    host graph, harmonic centrality, anchor-text mining). Each document
    becomes a page executor-side (outlinks closed-form in doc_id plus a
    nav chrome link the href filter must drop), links come out through
    the REAL HTMLParser-based extractor (``html/metadata.extract_links``
    — nested-tag text, document order), and per-target in-degree and
    anchor-text stats aggregate distributively.

    Scale: map-side parse after the round-robin spread (``_docs``), then ONE
    map-side-combined exchange keyed by dst — the edge-list shape
    pagerank consumes; never a driver-side graph."""
    d = _docs(spark, sf_dir, parallel=True).select("doc_id")
    edges = map_rows(d, _link_rows, "src long, dst long, anchor string")
    from pyspark.sql import functions as F

    return (edges.groupBy("dst")
            .agg(F.count("*").alias("in_degree"),
                 F.countDistinct("anchor").alias("n_anchors"),
                 F.min("anchor").alias("min_anchor"),
                 F.max("anchor").alias("max_anchor")))


class _TableParser(HTMLParser):
    """Collect (row_idx, col_idx, is_header, text) cells of the
    FIRST <table>; nested inline tags contribute their text."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cells: list[tuple[int, int, int, str]] = []
        self._row = -1
        self._col = -1
        self._in_cell = False
        self._header = 0
        self._parts: list[str] = []
        self._done = False
        self._depth = 0

    def handle_starttag(self, tag, attrs):
        if self._done:
            return
        if tag == "table":
            self._depth += 1
        elif self._depth == 1:
            if tag == "tr":
                self._row += 1
                self._col = -1
            elif tag in ("td", "th"):
                self._col += 1
                self._in_cell = True
                self._header = 1 if tag == "th" else 0
                self._parts = []

    def handle_endtag(self, tag):
        if tag in ("td", "th") and self._in_cell:
            import re as _re

            text = _re.sub(r"\s+", " ",
                           "".join(self._parts)).strip()
            self.cells.append(
                (self._row, self._col, self._header, text))
            self._in_cell = False
        elif tag == "table" and self._depth:
            self._depth -= 1
            if self._depth == 0:
                self._done = True

    def handle_data(self, data):
        if self._in_cell:
            self._parts.append(data)


def _build_table_page(doc_id: int) -> str:
    rows = 2 + doc_id % 3
    cols = 2 + doc_id % 2
    head = "".join("<th>h%d</th>" % j for j in range(cols))
    body = "".join(
        "<tr>" + "".join(
            "<td>r%dc%d <b>%d</b></td>" % (i, j, doc_id)
            for j in range(cols)) + "</tr>"
        for i in range(rows))
    return ("<html><body><p>chrome</p><table><tr>%s</tr>%s</table>"
            "<table><tr><td>second table ignored</td></tr></table>"
            "</body></html>" % (head, body))


_TABLE_DDL = ("doc_id long, row_idx int, col_idx int, is_header int,"
              " cell string")


def _table_rows(doc_id):
    p = _TableParser()
    p.feed(_build_table_page(doc_id))
    return ([doc_id] * len(p.cells),
            *([cell[k] for cell in p.cells] for k in range(4)))


def dom_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction — the structured-data sibling of the
    boilerplate stripper (web corpora mine tables for QA/tabular
    training sets): each document becomes a page with a header + body
    table (dimensions closed-form in doc_id, inline tags inside cells,
    a SECOND table that must be ignored, surrounding chrome), and the
    real HTMLParser-based walker must recover every cell's (row, col,
    header flag, de-tagged text).

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True).select("doc_id"),
                    _table_rows, _TABLE_DDL)


_FM_RE = None  # front matter is line-structured; no regex needed


def parse_front_matter(text: str) -> tuple[dict, str]:
    """Split a Markdown document into (front-matter dict, body): the
    YAML-subset block delimited by ``---`` lines at the very start —
    plain ``key: value`` pairs only (the GitHub-pages convention);
    anything else is treated as no front matter."""
    if not text.startswith("---\n"):
        return ({}, text)
    end = text.find("\n---\n", 4)
    if end < 0:
        return ({}, text)
    fields: dict[str, str] = {}
    for line in text[4:end].split("\n"):
        (k, sep, v) = line.partition(":")
        if not sep or not k.strip() or " " in k.strip():
            return ({}, text)  # not simple YAML -> no front matter
        fields[k.strip()] = v.strip()
    return (fields, text[end + 5:])


def _build_front_matter(doc_id: int, text: str) -> str:
    return ("---\n"
            "title: Doc %d\n"
            "tags: a%d\n"
            "draft: %s\n"
            "---\n%s" % (doc_id, doc_id % 3,
                          "true" if doc_id % 2 else "false", text))


def _front_matter_row(doc_id, text):
    (fm, body) = parse_front_matter(_build_front_matter(doc_id, text))
    return ([doc_id], [len(fm)], [fm.get("title", "")], [fm.get("tags", "")],
            [fm.get("draft", "")], [int(body == text)])


def frontmatter_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown front-matter extraction (the GitHub-pages/docs-corpora
    metadata step): each document gains a closed-form ``---``-delimited
    key:value block; the parser must recover every field and the exact
    body.

    Scale: one map-side stage after the round-robin spread (``_docs``)."""
    return map_rows(_docs(spark, sf_dir, parallel=True)
                    .select("doc_id", "text"), _front_matter_row,
                    "doc_id long, n_keys int, title string, tags string,"
                    " draft string, body_roundtrip int")


ORACLES: dict[str, str] = {
    "dom_table_extract": """
        WITH dims AS (
          SELECT doc_id, (2 + doc_id % 3)::INT AS nrows,
                 (2 + doc_id % 2)::INT AS ncols
          FROM documents
        ), hdr AS (
          SELECT doc_id, 0 AS row_idx, j::INT AS col_idx, 1 AS is_header,
                 'h' || j::VARCHAR AS cell
          FROM dims, UNNEST(RANGE(0, ncols)) AS t(j)
        ), body AS (
          SELECT doc_id, (i + 1)::INT AS row_idx, j::INT AS col_idx,
                 0 AS is_header,
                 'r' || i::VARCHAR || 'c' || j::VARCHAR || ' '
                     || doc_id::VARCHAR AS cell
          FROM dims, UNNEST(RANGE(0, nrows)) AS t(i),
               UNNEST(RANGE(0, ncols)) AS u(j)
        )
        SELECT doc_id, row_idx, col_idx, is_header::INT AS is_header,
               cell
        FROM (SELECT * FROM hdr UNION ALL SELECT * FROM body)
    """,
    "frontmatter_extract": """
        SELECT doc_id, 3::INT AS n_keys,
               'Doc ' || doc_id::VARCHAR AS title,
               'a' || (doc_id % 3)::VARCHAR AS tags,
               CASE WHEN doc_id % 2 = 1 THEN 'true' ELSE 'false' END
                 AS draft,
               1::INT AS body_roundtrip
        FROM documents
    """,
    "link_graph": """
        WITH edges AS (
          SELECT doc_id AS src,
                 (doc_id + 7 * (k + 1)) % 500 AS dst,
                 'a' || (doc_id % 5)::VARCHAR || ' '
                     || ((doc_id + 7 * (k + 1)) % 500)::VARCHAR AS anchor
          FROM documents, UNNEST(RANGE(0, 1 + doc_id % 3)) AS t(k)
        )
        SELECT dst, COUNT(*)::BIGINT AS in_degree,
               COUNT(DISTINCT anchor)::BIGINT AS n_anchors,
               MIN(anchor) AS min_anchor, MAX(anchor) AS max_anchor
        FROM edges GROUP BY dst
    """,
    "feed_entries": """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS fmt,
               k::INT AS entry_idx,
               'Item ' || doc_id::VARCHAR || ' ' || k::VARCHAR AS title,
               'https://example.org/f/' || doc_id::VARCHAR || '/'
                 || k::VARCHAR AS link,
               'urn:' || doc_id::VARCHAR || ':' || k::VARCHAR AS entry_id,
               CASE WHEN doc_id % 2 = 0
                 THEN 'Mon, 05 Jan 2026 00:00:0' || k::VARCHAR || ' GMT'
                 ELSE '2026-01-05T00:00:0' || k::VARCHAR || 'Z'
                 END AS updated
        FROM documents, UNNEST(RANGE(0, 1 + doc_id % 3)) AS t(k)
    """,
    "jsonl_extract": """
        SELECT doc_id,
               (CASE WHEN doc_id % 11 = 0 THEN 0 ELSE 1 END)::INT
                 AS valid,
               CASE WHEN doc_id % 11 = 0 THEN NULL
                    ELSE doc_id END AS id,
               CASE WHEN doc_id % 11 = 0 THEN NULL ELSE 'en' END AS lang,
               CASE WHEN doc_id % 11 = 0 THEN NULL
                    ELSE (doc_id % 100)::INT END AS score,
               CASE WHEN doc_id % 11 = 0 THEN NULL
                    ELSE 1::INT END AS text_roundtrip
        FROM documents
    """,
    "latex_strip": """
        SELECT doc_id,
               'Introduction Let hold. ' || text AS stripped
        FROM documents
    """,
    "markdown_strip": """
        SELECT doc_id,
               'Title Some emphasized intro with a link and inline '
               || 'code. item one item two code block line quoted '
               || 'wisdom ' || text AS stripped
        FROM documents
    """,
    "sitemap_urls": """
        SELECT doc_id,
               CASE WHEN doc_id % 4 = 0 THEN 'sitemapindex'
                    ELSE 'urlset' END AS kind,
               (CASE WHEN doc_id % 4 = 0 THEN 2
                     ELSE 1 + doc_id % 3 END)::INT AS n_entries,
               CASE WHEN doc_id % 4 = 0
                 THEN 'https://example.org/sm/' || doc_id::VARCHAR
                      || '/0.xml'
                 ELSE 'https://example.org/p/' || doc_id::VARCHAR || '/0'
                 END AS first_loc,
               CASE WHEN doc_id % 4 = 0 THEN ''
                    ELSE '2026-01-01' END AS first_lastmod
        FROM documents
    """,
    "html_metadata": """
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 1 THEN 'Doc ' || doc_id::VARCHAR
                 WHEN 0 THEN 'OG Doc ' || doc_id::VARCHAR
                 ELSE 'Heading ' || doc_id::VARCHAR END AS title,
               CASE WHEN doc_id % 2 = 0
                 THEN 'Desc ' || doc_id::VARCHAR
                 ELSE 'OGD ' || doc_id::VARCHAR END AS description,
               'https://example.org/c/' || doc_id::VARCHAR AS canonical,
               CASE WHEN doc_id % 4 = 0 THEN '' ELSE 'en' END AS lang
        FROM documents
    """,
    "robots_filter": """
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN '/public/doc'
                 WHEN 1 THEN '/private/doc'
                 WHEN 2 THEN '/private/ok/doc'
                 WHEN 3 THEN '/doc.pdf'
                 ELSE '/doc.pdfx' END AS path,
               (CASE
                  -- bot-specific group replaces *: only /public/ denied
                  WHEN doc_id % 3 = 0 THEN
                    CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END
                  -- * group: Disallow /private/, Allow /private/ok/
                  -- (longest match wins), plus Disallow /*.pdf$ on odd
                  WHEN doc_id % 5 = 1 THEN 0
                  WHEN doc_id % 5 = 3 AND doc_id % 2 = 1 THEN 0
                  ELSE 1
                END)::INT AS allowed
        FROM documents
    """,
    "warc_records": """
        SELECT doc_id, 3::INT AS n_records,
               'https://example.org/doc/' || doc_id::VARCHAR AS uri,
               200::INT AS status,
               STRLEN('%(pre)s' || text || '%(post)s')::INT AS body_len,
               SHA256('%(pre)s' || text || '%(post)s') AS body_sha256
        FROM documents
    """ % {"pre": _PRE.replace("'", "''"),
           "post": _POST.replace("'", "''")},
    "warc_extract": """
        SELECT doc_id,
               'https://example.org/doc/' || doc_id::VARCHAR AS uri,
               200::INT AS status,
               text AS main_text
        FROM documents
    """,
}

QUERIES = {
    "jsonl_extract": jsonl_extract,
    "warc_records": warc_records,
    "warc_extract": warc_extract,
    "robots_filter": robots_filter,
    "html_metadata": html_metadata,
    "sitemap_urls": sitemap_urls,
    "feed_entries": feed_entries,
    "link_graph": link_graph,
    "dom_table_extract": dom_table_extract,
    "frontmatter_extract": frontmatter_extract,
    "latex_strip": latex_strip,
    "markdown_strip": markdown_strip,
}
