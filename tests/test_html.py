"""HTML main-content extraction: DOM-tree Readability/CETD tier +
pure-expression flat block tier (operators/html.py)."""

import random
from html.parser import HTMLParser

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from horus_spark.operators.html import (
    _AUTOCLOSE,
    _MEDIA_KINDS,
    _SKIP_TAGS,
    _VOID_TAGS,
    _Node,
    _parse_html,
    _spans_arrow,
    _spans_one,
    dom_extract,
    extract_links,
    html_blocks,
    synthesize_html,
)

P1 = (
    "First paragraph, with a comma, and enough text to score well in the "
    "reader."
)
P2 = (
    "Second paragraph continues the body of the article with more prose "
    "text."
)
PAGE = (
    '<html><head><title>My Site</title><script>var decoy = "SCRIPTTEXT";'
    "</script><style>.x{color:red}</style></head><body>"
    "<!-- COMMENTTEXT -->"
    '<div id="nav"><ul><li><a href="/">Home</a></li>'
    '<li><a href="/a">Archive</a></li></ul></div>'
    '<div id="art"><h1>Headline here</h1>'
    f"<p>{P1}</p>"
    f"<p>{P2}</p>"
    '<p><a href="/x">link</a> <a href="/y">farm</a> <a href="/z">inside</a>'
    "</p></div>"
    '<div id="footer"><p><a href="/t">Terms</a> | <a href="/p">Privacy</a>'
    "</p></div></body></html>"
)


# ---- pure-python DOM kernel -------------------------------------------


def _extract_one(html):
    """dom_extract's (content_text, n_blocks, content_chars) for one page,
    from the span kernel's sequence: the text spans joined by '\\n',
    their count and their total length."""
    blocks = [text for kind, text, _ in _spans_one(html) if kind == "text"]
    return "\n".join(blocks), len(blocks), sum(len(b) for b in blocks)


def test_dom_extract_picks_article_and_filters_link_farm():
    content, n_blocks, chars = _extract_one(PAGE)
    assert content == f"Headline here\n{P1}\n{P2}"
    assert n_blocks == 3
    assert chars == len("Headline here") + len(P1) + len(P2)


def test_dom_extract_drops_script_style_comment_text():
    content, _, _ = _extract_one(PAGE)
    assert "SCRIPTTEXT" not in content
    assert "COMMENTTEXT" not in content
    assert "color:red" not in content


def test_dom_extract_tolerates_malformed_markup():
    # unclosed <p> (spec auto-close), stray close tags, unclosed div
    html = (
        "<body></span><div><p>alpha beta gamma delta epsilon and more "
        "words to pass length<p>second paragraph also has plenty of "
        "words to be counted here</div>"
    )
    content, n_blocks, _ = _extract_one(html)
    assert n_blocks == 2
    assert content.splitlines()[0].startswith("alpha beta")
    assert content.splitlines()[1].startswith("second paragraph")


def test_dom_extract_empty_and_blockless():
    assert _extract_one("") == ("", 0, 0)
    assert _extract_one(None) == ("", 0, 0)
    # bare body text with no block elements: nothing to emit
    assert _extract_one("<body>bare text no blocks</body>") == ("", 0, 0)


def test_dom_extract_whitespace_normalized():
    html = "<div><p>  spaced\t\tout\n\n  text   here  okay</p></div>"
    content, n_blocks, chars = _extract_one(html)
    assert content == "spaced out text here okay"
    assert (n_blocks, chars) == (1, len(content))


def test_dom_extract_nested_block_text_not_double_counted():
    # the li owns its text; the nested p owns its own
    html = (
        "<div><ul><li>outer item text that is long enough to count fine"
        "<p>inner paragraph text that is separately long enough too</p>"
        "</li></ul></div>"
    )
    content, n_blocks, _ = _extract_one(html)
    lines = content.splitlines()
    assert n_blocks == 2
    assert lines[0] == "outer item text that is long enough to count fine"
    assert lines[1] == "inner paragraph text that is separately long enough too"


# ---- spark surface -----------------------------------------------------


def test_dom_extract_spark_ground_truth(spark):
    # synthesized pages: the extractor must recover EXACTLY the planted
    # content (h1 + 12-token chunks) for every doc — the q105 contract
    rows = [
        (i, " ".join(f"word{j}" for j in range(k)))
        for i, k in enumerate([1, 5, 12, 13, 24, 25, 40])
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in dom_extract(synthesize_html(df)).collect()
    }
    for i, k in enumerate([1, 5, 12, 13, 24, 25, 40]):
        toks = [f"word{j}" for j in range(k)]
        chunks = [
            " ".join(toks[s : s + 12]) for s in range(0, len(toks), 12)
        ] or [""]
        expect = "\n".join([f"Report {i}"] + chunks)
        r = got[str(i)]
        assert r["content_text"] == expect
        assert r["n_blocks"] == len(chunks) + 1
        assert r["content_chars"] == sum(len(b) for b in [f"Report {i}"] + chunks)


def test_html_blocks_metrics(spark):
    df = spark.createDataFrame([("d1", PAGE)], "doc_id string, html string")
    rows = html_blocks(df).collect()
    by_text = {r["block_text"]: r for r in rows}
    # content paragraphs pass the flat screen
    assert by_text[P1]["is_content"] == 1
    assert by_text[P1]["link_chars"] == 0
    assert by_text[P2]["is_content"] == 1
    # nav items: too short + pure link
    assert by_text["Home"]["is_content"] == 0
    assert by_text["Home"]["link_chars"] == 4
    # link farm: long enough is irrelevant, density kills it
    farm = by_text["link farm inside"]
    assert farm["is_content"] == 0 and farm["link_chars"] == len("linkfarminside") + 0
    # footer links blocked by density; headline blocked by length (flat
    # tier crudeness — the DOM tier keeps it)
    assert by_text["Terms | Privacy"]["is_content"] == 0
    assert by_text["Headline here"]["is_content"] == 0
    # script/style/comment text never appears as a block
    assert not any("SCRIPTTEXT" in t or "COMMENTTEXT" in t for t in by_text)
    # block_pos is strictly increasing in document order
    d1 = sorted(r["block_pos"] for r in rows)
    assert d1 == [r["block_pos"] for r in sorted(rows, key=lambda r: r["block_pos"])]
    assert by_text["My Site"]["block_pos"] < by_text["Headline here"]["block_pos"]


def test_html_blocks_shuffle_free(spark):
    df = synthesize_html(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    )
    plan = html_blocks(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


LINKS_PAGE = (
    "<html><body>"
    '<p><a href="https://other.site/page">Abs link</a></p>'
    '<p><A HREF="/root-rel">Root</A></p>'
    "<p><a href='single.html'>Single quoted rel</a></p>"
    '<p><a href="//cdn.example.net/x.js">Proto rel</a></p>'
    '<p><a href="#frag">Fragment</a></p>'
    '<p><a href="mailto:x@y.z">Mail</a></p>'
    '<p><a class="x">no href</a></p>'
    '<p><a href="sub/page2.html">Nested\n  anchor <b>text</b></a></p>'
    "</body></html>"
)


def test_extract_links_resolution_rules(spark):
    df = spark.createDataFrame(
        [("d1", LINKS_PAGE, "https://www.example.com/dir/index.html")],
        "doc_id string, html string, url string",
    )
    rows = {
        r["link_pos"]: r
        for r in extract_links(df, base_url_col="url").collect()
    }
    # href-less anchor (pos 6) filtered; positions of the rest stable
    assert sorted(rows) == [0, 1, 2, 3, 4, 5, 7]
    assert rows[0]["resolved"] == "https://other.site/page"
    assert rows[0]["dst_domain"] == "other.site"
    assert rows[0]["is_internal"] == 0
    # uppercase tag + attribute still match; root-relative joins the root
    assert rows[1]["resolved"] == "https://www.example.com/root-rel"
    assert rows[1]["is_internal"] == 1
    # single-quoted relative href joins the base DIRECTORY
    assert rows[2]["resolved"] == "https://www.example.com/dir/single.html"
    # protocol-relative gets the base scheme
    assert rows[3]["resolved"] == "https://cdn.example.net/x.js"
    assert rows[3]["dst_domain"] == "cdn.example.net"
    # fragment-only and mailto resolve to NULL, external by convention
    assert rows[4]["resolved"] is None and rows[4]["is_internal"] == 0
    assert rows[5]["resolved"] is None
    # nested markup stripped + whitespace collapsed in anchor text
    assert rows[7]["anchor_text"] == "Nested anchor text"
    assert rows[7]["resolved"] == "https://www.example.com/dir/sub/page2.html"


def test_extract_links_shuffle_free_and_no_base(spark):
    df = spark.createDataFrame(
        [("d1", LINKS_PAGE)], "doc_id string, html string"
    )
    out = extract_links(df)
    assert "resolved" not in out.columns
    assert out.count() == 7
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_extract_links_feeds_crawl_graph(spark):
    # composition: pages -> outlinks -> domain edges -> pagerank
    from horus_spark.operators.graph import pagerank

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(12)],
        "doc_id long, text string",
    )
    pages = synthesize_html(docs).withColumn(
        "url",
        F.concat(
            F.lit("https://site-"),
            (F.col("doc_id").cast("long") % 3).cast("string"),
            F.lit(".test/doc/"),
            F.col("doc_id"),
        ),
    )
    links = extract_links(pages, base_url_col="url")
    edges = (
        links.where(F.col("dst_domain").isNotNull())
        .select(
            F.concat(
                F.lit("site-"),
                (F.col("doc_id").cast("long") % 3).cast("string"),
                F.lit(".test"),
            ).alias("src"),
            F.col("dst_domain").alias("dst"),
        )
        .distinct()
    )
    ranks = pagerank(edges, n_iter=3)
    got = ranks.collect()
    assert len(got) == 3  # the three synthetic hosts (all links internal)
    assert sum(r["rank_micro"] for r in got) <= 1_000_000_000_000


def test_html_to_spans_matches_interleave_construction(spark):
    """Pages synthesized with media must round-trip into EXACTLY the
    interleave span construction (plus the leading h1 span)."""
    from horus_spark.operators.html import html_to_spans

    rows = [(i, " ".join(f"w{j}" for j in range(k)))
            for i, k in enumerate([5, 36, 40, 80])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["spans"]
        for r in html_to_spans(synthesize_html(df, media=True)).collect()
    }
    for i, k in enumerate([5, 36, 40, 80]):
        toks = [f"w{j}" for j in range(k)]
        chunks = [" ".join(toks[s : s + 12]) for s in range(0, k, 12)]
        expect = [("text", f"Report {i}", "")]
        for ci, c in enumerate(chunks):
            expect.append(("text", c, ""))
            if ci % 3 == 2:
                kind = "image" if (i + ci) % 2 == 0 else "video"
                expect.append((kind, "", f"asset-{i}-{ci}"))
        spans = got[str(i)]
        assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == expect
        assert [s["offset"] for s in spans] == list(range(len(expect)))


def test_html_to_spans_strips_boilerplate_media(spark):
    """Media outside the winning candidate (nav logos, footer badges)
    is stripped with the boilerplate; media inside survives in order."""
    from horus_spark.operators.html import html_to_spans

    page = (
        "<html><body>"
        '<div id="nav"><img src="logo.png"/><ul>'
        '<li><a href="/">Home</a></li><li><a href="/a">About</a></li></ul></div>'
        '<div id="art"><h1>Story headline</h1>'
        "<p>First paragraph with plenty of words to score as content.</p>"
        '<video src="clip.mp4"></video>'
        "<p>Second paragraph also has plenty of words to count well.</p></div>"
        '<div id="footer"><img src="badge.gif"/>'
        '<p><a href="/t">Terms</a> | <a href="/p">Privacy</a></p></div>'
        "</body></html>"
    )
    df = spark.createDataFrame([("d1", page)], "doc_id string, html string")
    spans = html_to_spans(df).collect()[0]["spans"]
    assert [(s["kind"], s["media_ref"]) for s in spans] == [
        ("text", ""), ("text", ""), ("video", "clip.mp4"), ("text", ""),
    ]
    assert spans[0]["text"] == "Story headline"
    assert "logo" not in str(spans) and "badge" not in str(spans)


def test_html_to_spans_feeds_interleave_ops(spark):
    """Output schema is the interleaved corpus schema — the interleave
    operator family consumes it directly."""
    from horus_spark.operators.html import html_to_spans
    from horus_spark.operators.interleave import interleave_stats

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(40))) for i in range(6)],
        "doc_id long, text string",
    )
    spans = html_to_spans(synthesize_html(docs, media=True))
    stats = interleave_stats(spans)
    got = stats.collect()[0]
    # 40 tokens -> 4 chunks + h1 = 5 text spans, one media span (i=2)
    assert got["n_text"] == 5 and got["n_media"] == 1


def test_page_metadata(spark):
    from horus_spark.operators.html import page_metadata

    pages = [
        # both attribute orders + all four fields
        ("d1",
         '<html><head><title> My  <b>Site</b> </title>'
         '<meta content="A fine page" name="description"/>'
         '<link rel="canonical" href="https://ex.com/a"/>'
         '<meta property="og:title" content="OG name"/></head>'
         "<body></body></html>"),
        # name-first order; canonical href-first order
        ("d2",
         '<html><head><title>T2</title>'
         '<meta name="description" content="Second"/>'
         '<link href="https://ex.com/b" rel="canonical"/></head></html>'),
        # nothing present
        ("d3", "<html><head></head><body><p>x</p></body></html>"),
    ]
    df = spark.createDataFrame(pages, "doc_id string, html string")
    got = {r["doc_id"]: r for r in page_metadata(df).collect()}
    assert got["d1"]["title"] == "My Site"  # markup stripped, ws collapsed
    assert got["d1"]["meta_description"] == "A fine page"
    assert got["d1"]["canonical_url"] == "https://ex.com/a"
    assert got["d1"]["og_title"] == "OG name"
    assert got["d2"]["meta_description"] == "Second"
    assert got["d2"]["canonical_url"] == "https://ex.com/b"
    assert got["d2"]["og_title"] is None
    assert got["d3"]["title"] is None
    assert got["d3"]["meta_description"] is None
    plan = page_metadata(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dom_extract_one_row_per_doc(spark):
    df = synthesize_html(
        spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(17)],
            "doc_id long, text string",
        )
    )
    out = dom_extract(df)
    assert out.count() == 17
    assert out.schema.simpleString() == (
        "struct<doc_id:string,content_text:string,n_blocks:int,"
        "content_chars:int>"
    )


def test_extract_jsonld(spark):
    from horus_spark.operators.html import extract_jsonld

    html = (
        '<html><head><script type="application/ld+json">'
        '{"@type":"NewsArticle","headline":"Big News",'
        '"datePublished":"2026-08-01","author":{"name":"A. Writer"}}'
        "</script>"
        "<script type='application/ld+json'>"
        '{"@type":"Organization","name":"Example Corp"}</script>'
        '<script type="application/ld+json">{broken json</script>'
        "<script>var notLd = 1;</script></head><body/></html>"
    )
    df = spark.createDataFrame([("d", html)], "doc_id string, html string")
    rows = [tuple(r)[1:] for r in extract_jsonld(df).orderBy("block_pos").collect()]
    assert rows == [
        (0, "NewsArticle", "Big News", "2026-08-01", "A. Writer"),
        (1, "Organization", "Example Corp", None, None),  # name fallback
        (2, None, None, None, None),  # malformed: row kept, fields NULL
    ]
    # bare-string author resolves via the second coalesce path
    df2 = spark.createDataFrame(
        [(
            "d2",
            '<script type="application/ld+json">'
            '{"@type":"Article","name":"N","author":"Jane"}</script>',
        )],
        "doc_id string, html string",
    )
    r2 = extract_jsonld(df2).collect()[0]
    assert r2["author_name"] == "Jane" and r2["name"] == "N"
    plan = extract_jsonld(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_extract_microdata(spark):
    from horus_spark.operators.html import extract_microdata

    html = (
        '<meta itemprop="datePublished" content="2026-08-01">'
        "<link itemprop='url' href='https://e.test/a'>"
        '<meta content="flipped" itemprop="alt">'
        '<meta itemprop="empty" content="">'
        '<span itemprop="author">Jane <b>Doe</b></span>'
        '<meta name="notmicro" content="x">'
    )
    df = spark.createDataFrame([("d", html)], "doc_id string, html string")
    rows = [
        tuple(r)[1:]
        for r in extract_microdata(df).orderBy("channel", "pos").collect()
    ]
    assert rows == [
        ("attr", 0, "datePublished", "2026-08-01"),
        ("attr", 1, "url", "https://e.test/a"),  # href value path
        ("attr", 2, "alt", "flipped"),  # attribute order free
        ("attr", 3, "empty", None),  # empty content -> NULL
        ("text", 0, "author", "Jane Doe"),  # inner markup stripped
    ]


def test_extract_hreflang(spark):
    from horus_spark.operators.html import extract_hreflang

    html = (
        '<link rel="stylesheet" href="/s.css">'
        '<link rel="alternate" type="application/rss+xml" href="/f.xml">'
        '<link rel="alternate" hreflang="de" href="https://e.test/de">'
        "<link rel='alternate' hreflang='fr' href='https://e.test/fr'>"
    )
    df = spark.createDataFrame([("d", html)], "doc_id string, html string")
    rows = [tuple(r)[1:] for r in extract_hreflang(df).collect()]
    assert rows == [
        (0, "de", "https://e.test/de"),
        (1, "fr", "https://e.test/fr"),
    ]
    plan = extract_hreflang(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_metadata_agreement(spark):
    from horus_spark.operators.html import metadata_agreement

    meta = spark.createDataFrame(
        [("a", "Same"), ("b", "MetaTitle"), ("c", None), ("d", "OnlyMeta")],
        "doc_id string, title string",
    )
    ld = spark.createDataFrame(
        [
            ("a", 1, "Ignored Later"), ("a", 0, "Same"),  # first block wins
            ("b", 0, "LdName"),
            ("c", 0, "OnlyLd"),
            ("e", 0, "Orphan"),
        ],
        "doc_id string, block_pos int, name string",
    )
    got = {
        r["doc_id"]: r["verdict"]
        for r in metadata_agreement(meta, ld).collect()
    }
    assert got == {
        "a": "agree",
        "b": "disagree",
        "c": "ld_only",
        "d": "meta_only",
        "e": "ld_only",  # full outer: LD rows without a meta row
    }


# ---- tokenizer: differential parity against html.parser ---------------


def _reference_parse(html: str) -> _Node:
    """The DOM builder the tokenizer replaced, kept as a test oracle: the
    same tree rules driven by the stdlib HTMLParser's events."""
    root = _Node("#root", None, 0)

    class _B(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.stack = [root]
            self.n = 1
            self.skip = 0

        def _media_of(self, tag, attrs):
            if tag not in _MEDIA_KINDS:
                return None
            src = next((v for k, v in attrs if k == "src" and v), None)
            return (_MEDIA_KINDS[tag], src) if src else None

        def handle_starttag(self, tag, attrs):
            if tag in _SKIP_TAGS:
                self.skip += 1
                return
            if self.skip:
                return
            if tag in _VOID_TAGS:
                media = self._media_of(tag, attrs)
                if media:
                    self.stack[-1].items.append(
                        _Node(tag, self.stack[-1], self.n, media=media)
                    )
                    self.n += 1
                return
            if tag in _AUTOCLOSE and self.stack[-1].tag == tag:
                self.stack.pop()
            node = _Node(
                tag, self.stack[-1], self.n, media=self._media_of(tag, attrs)
            )
            self.n += 1
            self.stack[-1].items.append(node)
            self.stack.append(node)

        def handle_startendtag(self, tag, attrs):
            if self.skip:
                return
            media = self._media_of(tag, attrs)
            if media:
                self.stack[-1].items.append(
                    _Node(tag, self.stack[-1], self.n, media=media)
                )
                self.n += 1

        def handle_endtag(self, tag):
            if tag in _SKIP_TAGS:
                if self.skip:
                    self.skip -= 1
                return
            if self.skip or tag in _VOID_TAGS:
                return
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == tag:
                    del self.stack[i:]
                    return

        def handle_data(self, data):
            if self.skip == 0 and data and not data.isspace():
                self.stack[-1].items.append(data)

    b = _B()
    b.feed(html or "")
    b.close()
    return root


def _tree(node: _Node):
    """(tag, order, media, items) with nested nodes expanded."""
    return (
        node.tag,
        node.order,
        node.media,
        [_tree(it) if isinstance(it, _Node) else it for it in node.items],
    )


def _media_page(doc_id: int, n_words: int) -> str:
    """Python rendering of synthesize_html(media=True) for one row."""
    toks = [f"w{j}" for j in range(n_words)]
    parts = []
    for i, s in enumerate(range(0, max(n_words, 1), 12)):
        parts.append("<p>" + " ".join(toks[s : s + 12]) + "</p>")
        if i % 3 == 2:
            ref = f'src="asset-{doc_id}-{i}"'
            parts.append(
                f"<img {ref}/>" if (doc_id + i) % 2 == 0
                else f"<video {ref}></video>"
            )
    return (
        f"<html><head><title>Doc {doc_id}</title><script>var nav = 1;"
        "</script><style>.nav{color:#333}</style></head><body>"
        '<div class="nav"><ul><li><a href="/home">Home</a></li>'
        '<li><a href="/about">About us</a></li>'
        f'<li><a href="/doc/{doc_id}">Doc {doc_id}</a></li></ul></div>'
        f'<div class="main"><h1>Report {doc_id}</h1>' + "".join(parts)
        + '</div><div class="footer"><p><a href="/terms">Terms of '
        'service</a> | <a href="/privacy">Privacy policy</a> | '
        '<a href="/contact">Contact</a></p>'
        "<p>Copyright 2026 Example Corp</p></div></body></html>"
    )


MALFORMED = [
    PAGE,
    "<body></span><div><p>alpha beta gamma delta epsilon and more "
    "words to pass length<p>second paragraph also has plenty of "
    "words to be counted here</div>",
    "",
    "<body>bare text no blocks</body>",
    "<div><p>  spaced\t\tout\n\n  text   here  okay</p></div>",
    "<div><ul><li>outer item text that is long enough to count fine"
    "<p>inner paragraph text that is separately long enough too</p>"
    "</li></ul></div>",
    LINKS_PAGE,
]

_FUZZ_PIECES = [
    "<p>", "</p>", "<div class=\"x\">", "</div>", "<li>", "</li>", "<ul>",
    "<td>", "<tr>", "</tr>", "<a href=\"/x\">", "</a>", "<A HREF=/y>",
    "<h1>", "</h1>", "<span>", "</span foo>", "</ div>", "</>", "</ >",
    "</3>", "<br>", "<br/>", "<br />", "<hr/>", "<meta charset=utf-8>",
    "<IMG SRC=pic.png>", "<img src=\"a&amp;b.png\"/>", "<img src=x/>",
    "<img alt=\"a>b\" src=\"q.png\">", "<img src= >", "<img src=''>",
    "<img src=\"\" src=\"second.png\">", "<img src='&#1;' src=z>",
    "<img\xa0src=u.png>", "<img src=v\xa0w>", "<img src=\"k\"alt=x>",
    "<video src='v.mp4'>", "</video>", "<video src=v2.mp4/>",
    "<audio src=\"s.ogg\"></audio>", "<video>", "<source src=s.mp4>",
    "<noscript>", "</noscript>", "<template>", "</template>",
    "<script>if (a < b) { x = '</div>'; }</script>",
    "<script type=\"t\">var s = '<p>no</p>';</SCRIPT >",
    "<style>p > a { color: red }</style>", "<script/>", "<style/>",
    "</script>", "<!-- c -->", "<!-- a -- b --  >", "<!---->", "<!-->",
    "<!doctype html>", "<!DOCTYPE x SYSTEM 'y'>", "<?pi x?>", "<?php>",
    "<![CDATA[x<y]]>", "<![if !IE]>", "<![endif]>", "<!x>", "<!>",
    "<", "<3", "< p>", "x<3", "a<=b", "<<p>", "<p<a>", "<a b='c'd>",
    "<p =x>", "<a/b>", "<a / >", "<p\x0bx>", "<p\x00>", "<abc", "<a b",
    "&", "&amp;", "&#169;", "&copy", "&nbsp;", "&#1;", "&#x41;", "&#;",
    "&am", "&lt;p&gt;", "word", "more words, with commas,", "text",
    " ", "\n", "\t", "café", " ", "1 < 2", "5 > 4",
]
_FUZZ_TAILS = [
    "", "", "", "<!-- never closed", "<!-- x > y", "<p class=\"x",
    "<img src=\"a", "</div", "<", "<!", "<?x", "<![CDATA[", "<![", "&am",
    "<a b=", "</", "<!doctype", "<p/",
]


def _fuzz_snippet(rng: random.Random) -> str:
    body = "".join(
        rng.choice(_FUZZ_PIECES) for _ in range(rng.randint(1, 40))
    )
    if rng.random() < 0.2:  # end the input inside a construct
        body = body[: rng.randint(0, len(body))]
    return body + rng.choice(_FUZZ_TAILS)


def _assert_same_tree(html: str) -> None:
    assert _tree(_parse_html(html)) == _tree(_reference_parse(html)), html


def test_tokenizer_matches_html_parser_on_synthesized_pages():
    for doc_id, n_words in enumerate([0, 1, 5, 12, 13, 36, 40, 80, 150]):
        _assert_same_tree(_media_page(doc_id, n_words))


def test_tokenizer_matches_html_parser_on_malformed_cases():
    for html in MALFORMED:
        _assert_same_tree(html)


def test_tokenizer_matches_html_parser_fuzz():
    rng = random.Random(20261017)
    checked = 0
    for _ in range(3000):
        html = _fuzz_snippet(rng)
        try:
            want = _tree(_reference_parse(html))
        except AssertionError:
            # html.parser rejects some <![...]> keywords by raising; the
            # tokenizer reads them as bogus comments instead of failing
            _parse_html(html)
            continue
        assert _tree(_parse_html(html)) == want, html
        checked += 1
    assert checked >= 2000


# ---- tokenizer contract: named edge cases ------------------------------


def _texts(node: _Node) -> list[str]:
    return [it for it in node.items if isinstance(it, str)]


def test_tokenizer_stray_lt_is_its_own_text_item():
    p = _parse_html("<p>x<3</p>").items[0]
    assert _texts(p) == ["x", "<", "3"]
    assert _extract_one("<div><p>x<3</p></div>")[0] == "x < 3"


def test_tokenizer_decodes_entities_in_text_and_src():
    div = _parse_html(
        '<div><p>a &amp; b &#169;</p><img src="a&amp;b&#169;.png"></div>'
    ).items[0]
    assert _texts(div.items[0]) == ["a & b ©"]
    assert div.items[1].media == ("image", "a&b©.png")


def test_tokenizer_uppercase_tag_and_attribute():
    img = _parse_html("<DIV><IMG SRC=pic.png></DIV>").items[0].items[0]
    assert (img.tag, img.media) == ("img", ("image", "pic.png"))


def test_tokenizer_unquoted_src_and_quoted_gt():
    root = _parse_html('<img src=pic.png><img alt="a>b" src="q.png">tail')
    assert [it.media for it in root.items[:2]] == [
        ("image", "pic.png"), ("image", "q.png"),
    ]
    assert root.items[2:] == ["tail"]


def test_tokenizer_noscript_nesting_drops_all_inner_text():
    div = _parse_html(
        "<div><noscript><p>a</p><noscript>b</noscript>c</noscript>d</div>"
    ).items[0]
    assert div.items == ["d"]


def test_tokenizer_self_closing_img_vs_video_element():
    div = _parse_html(
        '<div><img src="i.png"/>after img<video src="v.mp4">inside'
        "</video>after video</div>"
    ).items[0]
    img, text1, video, text2 = div.items
    assert (img.media, img.items) == (("image", "i.png"), [])
    assert text1 == "after img" and text2 == "after video"
    assert (video.media, video.items) == (("video", "v.mp4"), ["inside"])
    # a self-closing video is childless: the text stays with the div
    div = _parse_html('<div><video src="v.mp4"/>next</div>').items[0]
    assert div.items[0].media == ("video", "v.mp4")
    assert div.items[0].items == [] and div.items[1] == "next"


def test_tokenizer_unterminated_comment_at_eof():
    # no '-->' before EOF: the comment opener becomes text through the
    # next '>', or is the lone '<' when no '>' follows
    root = _parse_html("<p>keep</p><!-- never closed <p>x</p>")
    assert root.items[1:] == ["<!-- never closed <p>", "x"]
    p = _parse_html("<p>a<!-- tail").items[0]
    assert _texts(p) == ["a", "<", "!-- tail"]


def test_tokenizer_script_body_is_raw_text():
    div = _parse_html(
        "<div><p>one</p><script>x = '</div><p>no</p>';</script>"
        "<p>two</p></div>"
    ).items[0]
    assert [_texts(p) for p in div.items] == [["one"], ["two"]]


# ---- mapInArrow boundary -----------------------------------------------


def test_html_to_spans_null_and_empty_rows_keep_their_row(spark):
    from horus_spark.operators.html import html_to_spans

    df = spark.createDataFrame(
        [("n", None), ("e", ""), ("p", PAGE)], "doc_id string, html string"
    )
    got = {r["doc_id"]: r["spans"] for r in html_to_spans(df).collect()}
    assert got["n"] == [] and got["e"] == []
    assert [s["text"] for s in got["p"]] == ["Headline here", P1, P2]


def test_dom_extract_null_and_empty_rows_keep_their_row(spark):
    df = spark.createDataFrame(
        [("n", None), ("e", "")], "doc_id string, html string"
    )
    got = {tuple(r) for r in dom_extract(df).collect()}
    assert got == {("n", "", 0, 0), ("e", "", 0, 0)}


def test_dom_extract_matches_span_sequence_on_malformed_pages(spark):
    """dom_extract's rows are the projection of the span kernel's
    sequence (_extract_one above), on the malformed pages, a seeded fuzz,
    a NULL page and an empty one."""
    rng = random.Random(20261021)
    pages = MALFORMED + [None, ""] + [_fuzz_snippet(rng) for _ in range(300)]
    df = spark.createDataFrame(
        list(enumerate(pages)), "doc_id long, html string"
    )
    got = {r["doc_id"]: tuple(r)[1:] for r in dom_extract(df).collect()}
    assert got == {str(i): _extract_one(h) for i, h in enumerate(pages)}


def test_html_kernels_empty_batch_keeps_declared_schema(spark):
    from horus_spark.operators.html import SPANS_SCHEMA
    from horus_spark.operators.html import html_to_spans

    df = spark.createDataFrame(
        [("a", PAGE)], "doc_id string, html string"
    ).coalesce(1).where(F.col("doc_id") == "none")
    spans = html_to_spans(df)
    dom = dom_extract(df)
    assert spans.collect() == [] and dom.collect() == []
    assert spans.schema == spark.createDataFrame([], SPANS_SCHEMA).schema
    assert dom.schema == spark.createDataFrame(
        [], "doc_id string, content_text string, n_blocks int, content_chars int"
    ).schema
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.string()), pa.array([], pa.string())],
        names=["doc_id", "html"],
    )
    (out,) = list(_spans_arrow([empty]))
    assert out.num_rows == 0
    assert out.schema == pa.schema([
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([
            ("kind", pa.string()), ("text", pa.string()),
            ("media_ref", pa.string()), ("offset", pa.int32()),
        ]))),
    ])
