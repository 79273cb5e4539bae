"""WARC framing + HTTP split correctness (ops/webingest.py): strict
Content-Length framing (never resync-by-scanning), hostile truncation /
separator / header cases, and the chained boilerplate round-trip."""
import pytest

from pdfminer_spark.ops.webingest import (WarcError, _build_warc,
                                          parse_http_response, parse_warc)


def test_warc_three_record_roundtrip():
    w = _build_warc(7, "hello world document body text here")
    recs = parse_warc(w)
    assert [r["type"] for r in recs] == ["warcinfo", "request", "response"]
    assert recs[2]["uri"] == "https://example.org/doc/7"
    (status, headers, body) = parse_http_response(recs[2]["block"])
    assert status == 200
    assert headers["content-type"].startswith("text/html")
    assert b"hello world document body text here" in body


def test_warc_content_length_framing_is_strict():
    # a block CONTAINING WARC/-looking bytes must not desync the reader
    trap = "decoy WARC/1.0\r\nWARC-Type: fake\r\n\r\n payload"
    w = _build_warc(1, trap)
    recs = parse_warc(w)
    assert len(recs) == 3
    (_, _, body) = parse_http_response(recs[2]["block"])
    assert trap.encode() in body
    # off-by-one Content-Length desyncs the separator check -> raises
    bad = w.replace(b"WARC-Type: warcinfo\r\nContent-Length: 21",
                    b"WARC-Type: warcinfo\r\nContent-Length: 20")
    with pytest.raises(WarcError):
        parse_warc(bad)


def test_warc_hostile_cases():
    w = _build_warc(2, "some text")
    with pytest.raises(WarcError, match="truncated|separator"):
        parse_warc(w[:len(w) - 6])
    with pytest.raises(WarcError, match="version"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(WarcError, match="empty"):
        parse_warc(b"")
    with pytest.raises(WarcError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: x\r\n\r\nbody\r\n\r\n")
    with pytest.raises(WarcError, match="header"):
        parse_warc(b"WARC/1.0\r\nno colon here\r\n"
                   b"Content-Length: 0\r\n\r\n\r\n\r\n")


def test_http_response_hostile_cases():
    with pytest.raises(WarcError, match="status line"):
        parse_http_response(b"GET / HTTP/1.1\r\n\r\n")
    with pytest.raises(WarcError, match="status code"):
        parse_http_response(b"HTTP/1.1 abc OK\r\n\r\n")
    with pytest.raises(WarcError, match="unterminated"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nX: 1")


def test_warc_extract_round_trips_main_text():
    from pdfminer_spark.html.boilerplate import extract_main_text
    from pdfminer_spark.ops.webingest import _POST, _PRE

    text = "alpha beta gamma delta epsilon zeta eta theta"
    w = _build_warc(3, text)
    recs = parse_warc(w)
    (_, _, body) = parse_http_response(recs[2]["block"])
    assert body.decode() == _PRE + text + _POST
    assert extract_main_text(body.decode()) == text


def test_robots_parser_and_matching():
    from pdfminer_spark.ops.webingest import parse_robots, robots_allowed

    txt = """
# policy
User-agent: alphabot
User-agent: betabot
Disallow: /shared/

User-Agent: *
disallow: /private/
ALLOW: /private/ok/
Disallow: /*.pdf$
Disallow:
"""
    g = parse_robots(txt)
    # consecutive UA lines share one rule group
    assert g["alphabot"] == g["betabot"] == [("disallow", "/shared/")]
    # directive names case-insensitive; empty rule value dropped
    assert len(g["*"]) == 3
    # longest match wins: Allow /private/ok/ beats Disallow /private/
    assert not robots_allowed(g, "SomeBot", "/private/x")
    assert robots_allowed(g, "somebot", "/private/ok/x")
    # wildcard + end anchor
    assert not robots_allowed(g, "x", "/deep/path/file.pdf")
    assert robots_allowed(g, "x", "/deep/path/file.pdfx")
    # specific group REPLACES *, never merges
    assert robots_allowed(g, "alphabot", "/private/x")
    assert not robots_allowed(g, "alphabot", "/shared/x")
    # no group at all -> allowed
    assert robots_allowed({}, "x", "/anything")
    # precedence is rule octet length (wildcards count): /a*/ (4) beats /a/ (3)
    tie = parse_robots("User-agent: *\nDisallow: /a/\nAllow: /a*/\n")
    assert robots_allowed(tie, "x", "/a/f")
    # equal length: the longer-literal disallow /ab (3) beats allow /a* (3)?
    # no — Allow wins exact length ties per RFC 9309
    tie2 = parse_robots("User-agent: *\nDisallow: /ab\nAllow: /a*\n")
    assert robots_allowed(tie2, "x", "/ab")
    tie3 = parse_robots("User-agent: *\nDisallow: /ab\nAllow: /ab\n")
    assert robots_allowed(tie3, "x", "/abc")


def test_robots_rule_cap_bounds_hostile_input():
    from pdfminer_spark.ops.webingest import parse_robots

    bomb = "User-agent: *\n" + "Disallow: /x\n" * 50_000
    g = parse_robots(bomb)
    assert len(g["*"]) == 10_000


def test_html_metadata_fallbacks_and_normalization():
    from pdfminer_spark.html.metadata import extract_metadata

    m = extract_metadata(
        '<html lang="EN-us"><head><title>  A \n Title </title>'
        '<meta property="og:title" content="ignored">'
        '<meta name="description" content=" d1 ">'
        '<link rel="canonical stylesheet" href="https://x/c">'
        '</head><body><h1>H</h1></body></html>')
    assert m == {"title": "A Title", "description": "d1",
                 "canonical": "https://x/c", "lang": "en-us"}
    # og:title fallback, og:description fallback
    m = extract_metadata(
        '<html><head><meta property="og:title" content="OT">'
        '<meta property="og:description" content="OD"></head>'
        '<body></body></html>')
    assert (m["title"], m["description"]) == ("OT", "OD")
    # h1 fallback uses only the FIRST h1
    m = extract_metadata("<body><h1>first</h1><h1>second</h1></body>")
    assert m["title"] == "first"
    # first meta of a name wins; missing fields come back empty
    m = extract_metadata(
        '<head><meta name="description" content="a">'
        '<meta name="description" content="b"></head>')
    assert m == {"title": "", "description": "a", "canonical": "",
                 "lang": ""}
    # malformed markup degrades, never raises
    m = extract_metadata("<title>t</ti" + "\x00" * 10 + "<<<>")
    assert isinstance(m, dict)


def test_warc_mutation_fuzz_never_escapes():
    import time as _t

    import numpy as np

    from pdfminer_spark.ops.webingest import (WarcError, _build_warc,
                                              parse_http_response,
                                              parse_warc)

    rng = np.random.default_rng(41)
    base = _build_warc(9, "some words " * 30)
    t0 = _t.time()
    for _ in range(400):
        buf = bytearray(base)
        for _ in range(rng.integers(1, 8)):
            buf[rng.integers(0, len(buf))] = rng.integers(0, 256)
        try:
            recs = parse_warc(bytes(buf))
            for r in recs:
                if r["type"] == "response":
                    try:
                        parse_http_response(r["block"])
                    except WarcError:
                        pass
        except (WarcError, ValueError):
            pass
    assert _t.time() - t0 < 20.0


def test_sitemap_parsing_and_bounds():
    from pdfminer_spark.ops.webingest import (WarcError, _SITEMAP_NS,
                                              parse_sitemap)

    sm = parse_sitemap(
        '<urlset xmlns="%s"><url><loc> https://x/1 </loc>'
        '<lastmod>2026-02-03</lastmod><priority>0.8</priority></url>'
        '<url><loc>https://x/2</loc></url></urlset>' % _SITEMAP_NS)
    assert sm["kind"] == "urlset" and len(sm["entries"]) == 2
    assert sm["entries"][0] == {"loc": "https://x/1",
                                "lastmod": "2026-02-03",
                                "priority": "0.8"}
    assert sm["entries"][1]["lastmod"] == ""
    # sitemapindex + unnamespaced both parse
    sm = parse_sitemap("<sitemapindex><sitemap><loc>https://x/a.xml"
                       "</loc></sitemap></sitemapindex>")
    assert sm["kind"] == "sitemapindex" and len(sm["entries"]) == 1
    # DOCTYPE (entity bomb vector) rejected before parsing
    with pytest.raises(WarcError, match="DOCTYPE"):
        parse_sitemap('<!DOCTYPE lol [<!ENTITY a "b">]>'
                      '<urlset><url><loc>x</loc></url></urlset>')
    # entry cap, missing loc, wrong root, malformed XML all raise
    with pytest.raises(WarcError, match="50k"):
        parse_sitemap("<urlset>" + "<url><loc>u</loc></url>" * 11
                      + "</urlset>", max_urls=10)
    with pytest.raises(WarcError, match="loc"):
        parse_sitemap("<urlset><url><lastmod>x</lastmod></url></urlset>")
    with pytest.raises(WarcError, match="root"):
        parse_sitemap("<rss></rss>")
    with pytest.raises(WarcError, match="malformed"):
        parse_sitemap("<urlset><url>")


def test_strip_latex_rules():
    from pdfminer_spark.ops.webingest import strip_latex

    src = r"""% header comment
\documentclass[11pt]{article}
\usepackage{amsmath}
\begin{document}
\title{A \textbf{Bold} Title}
\section*{Results}
We find $E = mc^2$ that \emph{nested \textbf{marks}} survive. % eol
$$\int_0^1 x\,dx$$
100\% of cases \& more.\label{r}
\begin{itemize}
\item first point
\end{itemize}
\end{document}
trailing junk after end is dropped"""
    out = strip_latex(src)
    assert out == ("A Bold Title Results We find that nested marks "
                   "survive. 100 of cases more. first point")
    # no \begin{document}: whole source is the body
    assert strip_latex(r"\textit{hi} there") == "hi there"
    # hostile deep nesting terminates (pass bound)
    deep = "x" + "".join("\\emph{" for _ in range(5000)) \
        + "y" + "}" * 5000
    assert isinstance(strip_latex(deep), str)


def test_strip_markdown_rules():
    from pdfminer_spark.ops.webingest import strip_markdown

    src = """## Install guide

Run `pip install x` or see the [docs](https://d/x) and
![diagram](img.png) below.

1. step one
2. step *two*

```bash
make build
```

> note: **really** works

***
plain tail"""
    out = strip_markdown(src)
    assert out == ("Install guide Run pip install x or see the docs and "
                   "diagram below. step one step two make build "
                   "note: really works plain tail")
    # strong parses before em: **x** never leaves stray asterisks
    assert strip_markdown("a **b** *c* __d__ _e_") == "a b c d e"


def test_parse_feed_rss_and_atom():
    from pdfminer_spark.ops.webingest import WarcError, parse_feed
    import pytest

    rss = ('<?xml version="1.0"?><rss version="2.0"><channel>'
           "<title>T</title>"
           "<item><title>A</title><link>https://x/a</link>"
           "<guid>g1</guid><pubDate>D1</pubDate></item>"
           "<item><title>B</title><link>https://x/b</link></item>"
           "</channel></rss>")
    r = parse_feed(rss)
    assert r["fmt"] == "rss"
    assert r["entries"][0] == {"title": "A", "link": "https://x/a",
                               "entry_id": "g1", "updated": "D1"}
    assert r["entries"][1]["entry_id"] == ""

    atom = ('<feed xmlns="http://www.w3.org/2005/Atom">'
            '<entry><title>A</title>'
            '<link rel="self" href="https://x/self"/>'
            '<link href="https://x/alt"/>'
            "<id>i1</id><updated>U1</updated></entry></feed>")
    a = parse_feed(atom)
    assert a["fmt"] == "atom"
    # rel="self" skipped; unset-rel link wins
    assert a["entries"][0]["link"] == "https://x/alt"
    assert a["entries"][0]["entry_id"] == "i1"

    with pytest.raises(WarcError):
        parse_feed("<!DOCTYPE foo [<!ENTITY a 'b'>]><rss/>")
    with pytest.raises(WarcError):
        parse_feed("<rss version='2.0'/>")  # no channel
    with pytest.raises(WarcError):
        parse_feed("<html/>")
    with pytest.raises(WarcError):
        parse_feed(rss.replace("</rss>", ""))  # malformed XML


def test_extract_links_edges():
    from pdfminer_spark.html.metadata import extract_links

    # nested anchor implicitly closes the outer one (HTML5 rule);
    # unclosed trailing anchor still flushes; attribute-less <a> skipped
    links = extract_links(
        '<a href="/a">one <a href="/b">two</a> tail <a>naked</a>'
        '<a href="/c">three')
    assert ("/a", "one") in links
    assert ("/b", "two") in links
    assert ("/c", "three") in links
    assert all(h for (h, _) in links if h != "")
    # malformed markup degrades, never raises
    assert isinstance(extract_links("<a href='x'><<<>>"), list)


def test_parse_front_matter_edges():
    from pdfminer_spark.ops.webingest import parse_front_matter

    (fm, body) = parse_front_matter("---\na: 1\nb: two words\n---\nbody")
    assert fm == {"a": "1", "b": "two words"} and body == "body"
    # no opening delimiter -> no front matter
    assert parse_front_matter("plain") == ({}, "plain")
    # unterminated block -> treated as body
    assert parse_front_matter("---\na: 1\n") == ({}, "---\na: 1\n")
    # non-simple keys (spaces) reject the whole block
    raw = "---\nnot a key line\n---\nrest"
    assert parse_front_matter(raw) == ({}, raw)


def test_table_parser_second_table_and_nesting(spark):
    import pandas as pd

    from pdfminer_spark.ops.webingest import _TABLE_DDL, _table_rows
    from pdfminer_spark.spark.batches import map_rows

    df = spark.createDataFrame(pd.DataFrame({"doc_id": [6]}))
    out = map_rows(df, _table_rows, _TABLE_DDL).toPandas()
    # doc 6: 2+6%3=2 body rows, 2+6%2=2 cols, + 1 header row
    assert len(out) == (1 + 2) * 2
    assert set(out[out.is_header == 1].cell) == {"h0", "h1"}
    assert "r0c0 6" in set(out.cell)  # inline <b> text joined
