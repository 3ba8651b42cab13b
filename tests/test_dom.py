"""Unit tests for the pinned HTML DOM engine (inner_text + selector subset)."""

from __future__ import annotations

from riptide_spark.html import dom
from riptide_spark.html.urls import host_of, parse_ok, resolve_url


def _root(html: str) -> dom.Element:
    return dom.parse(html)


def test_inner_text_preserves_raw_whitespace():
    html = "<div>\n    <h1>Title</h1>\n    <p>Body</p>\n</div>"
    root = _root(html)
    div = dom.query_selector(root, "div")
    assert div.inner_text() == "\n    Title\n    Body\n"


def test_inline_tags_transparent():
    root = _root("<p><strong>X</strong> - Y <em>Z</em></p>")
    assert dom.query_selector(root, "p").inner_text() == "X - Y Z"


def test_entities_decoded_comments_dropped():
    root = _root("<div>&copy; 2024 <!-- hidden -->&amp; more</div>")
    assert dom.query_selector(root, "div").inner_text() == "\xa9 2024 & more"


def test_script_content_raw():
    root = _root("<div><script>if (a &amp;& b) {}</script>t</div>")
    # charrefs inside script are NOT decoded (tokenizer CDATA mode).
    assert dom.query_selector(root, "div").inner_text() == "if (a &amp;& b) {}t"


def test_void_elements_take_no_children():
    root = _root("<p>before<img src='x.jpg'>after<br>end</p>")
    assert dom.query_selector(root, "p").inner_text() == "beforeafterend"
    img = dom.query_selector(root, "img")
    assert img.children == []
    assert img.get("src") == "x.jpg"


def test_unmatched_close_tags_ignored():
    root = _root("<div><p>a</span></p>b</div>")
    assert dom.query_selector(root, "div").inner_text() == "ab"


def test_unclosed_tags_closed_by_ancestor():
    root = _root("<div><p>a<p>b</div><p>c</p>")
    assert dom.query_selector(root, "div") is not None
    all_p = dom.query_selector_all(root, "p")
    assert [p.inner_text() for p in all_p][-1] == "c"


def test_duplicate_attr_first_wins():
    root = _root("<a href='one' href='two'>x</a>")
    assert dom.query_selector(root, "a").get("href") == "one"


def test_selectors_document_order():
    html = "<body><i id='a'></i><b class='k'></b><i class='k'></i></body>"
    root = _root(html)
    matched = dom.query_selector_all(root, ".k")
    assert [el.tag for el in matched] == ["b", "i"]


def test_attribute_operators():
    html = (
        "<body>"
        "<meta property='og:image' content='1'>"
        "<meta property='og:image:url' content='2'>"
        "<link rel='shortcut icon' href='i'>"
        "<meta property='article:tag' content='t'>"
        "</body>"
    )
    root = _root(html)
    assert len(dom.query_selector_all(root, "meta[property='og:image']")) == 1
    assert len(dom.query_selector_all(root, "meta[property^='og:image']")) == 2
    assert len(dom.query_selector_all(root, "link[rel*='icon']")) == 1
    assert len(dom.query_selector_all(root, "meta[property^='article:']")) == 1
    assert (
        len(dom.query_selector_all(root, "meta[property='og:image'], meta[property='article:tag']"))
        == 2
    )


def test_descendant_combinator():
    html = (
        "<body><picture><source srcset='a'></picture>"
        "<source srcset='b'>"
        "<nav aria-label='breadcrumb trail'><span><a href='x'>X</a></span></nav>"
        "<a href='y'>Y</a></body>"
    )
    root = _root(html)
    assert len(dom.query_selector_all(root, "picture source[srcset]")) == 1
    crumbs = dom.query_selector_all(root, "nav[aria-label*='breadcrumb'] a")
    assert [a.get("href") for a in crumbs] == ["x"]


def test_class_selector_word_match():
    root = _root("<div class='breadcrumb main'><a href='x'>X</a></div>")
    assert len(dom.query_selector_all(root, ".breadcrumb a")) == 1
    assert dom.query_selector_all(root, ".bread a") == []


# Selector index vs brute force -------------------------------------------

# Sub-element selectors of functions/tables.py, on top of what the
# extraction UDF compiles.
_TABLE_SELECTORS = ("table", "caption", "thead tr", "tbody tr", "tr", "td, th", "th")


def _extractor_selectors(pages) -> list[str]:
    """Every selector the extraction UDF compiles on ``pages``, in all of
    its HTML modes."""
    from riptide_spark.operators.extract_udf import _extract_one

    used: dict[str, None] = {}
    real = dom.compile_selector

    def spy(selector):
        used.setdefault(selector, None)
        return real(selector)

    dom.compile_selector = spy
    try:
        for page in pages:
            for mode in ("article", "probes_first", "dom"):
                _extract_one(page["html"], page["url"], mode)
    finally:
        dom.compile_selector = real
    return list(used) + [s for s in _TABLE_SELECTORS if s not in used]


def _brute(root: dom.Element, selector: str) -> list[dom.Element]:
    compiled = dom.compile_selector(selector)
    if compiled is None:
        return []
    return [el for el in root.iter_elements() if compiled.matches(el)]


def test_indexed_queries_equal_brute_force():
    """query_selector_all/query_selector answer from the tag, class, id and
    attribute indexes; on seeded pages of every archetype, from the
    document and from sub-elements (queried first, so their own indexes
    exist before the document's), they must equal a filter of
    iter_elements() by the compiled selector."""
    from riptide_spark.sources.pages import ARCHETYPES, synth_page

    pages, seen = [], {}
    for i in range(600):
        page = synth_page(i, 21)
        if seen.get(page["archetype"], 0) < 3:
            seen[page["archetype"]] = seen.get(page["archetype"], 0) + 1
            pages.append(page)
    assert set(seen) == {name for name, _ in ARCHETYPES}
    pages.append({"url": "https://t.example/x", "html": (
        b"<body><table id='t' class='a b a'><caption>c</caption><thead><tr><th>h</th></tr>"
        b"</thead><tbody><tr><td><table><tr><td>in</td></tr></table></td></tr></tbody></table>"
        b"<div class='tag topic' role='navigation'><a href='/x' class='breadcrumb'>x</a></div>"
        b"<nav aria-label='breadcrumb'><a href='/y'>y</a></nav></body>"
    )})
    selectors = _extractor_selectors(pages)
    assert len(selectors) > 40
    checked = 0
    for page in pages:
        root = dom.parse(page["html"].decode("utf-8", errors="replace"))
        subs = [el for el in root.iter_elements() if el.tag in (
            "body", "article", "main", "table", "tbody", "nav", "footer", "div")][:8]
        for node in subs + [root]:
            for selector in selectors:
                want = _brute(node, selector)
                got = dom.query_selector_all(node, selector)
                assert got == want, (page["url"], node.tag, selector)
                first = dom.query_selector(node, selector)
                assert first is (want[0] if want else None), (page["url"], node.tag, selector)
                checked += 1
    assert checked > 10_000


def test_malformed_html_never_raises():
    for bad in ["<", "<div", "<<>><", "<a href=>", "\x00\xff<p>", "<![bogus["]:
        dom.parse(bad)


# URL resolution -----------------------------------------------------------


def test_resolve_url_pinned_to_url_crate():
    base = "https://news.example.com/tech/ai-breakthrough-2024"
    assert resolve_url(base, "#") == base + "#"
    assert resolve_url(base, "#frag") == base + "#frag"
    assert resolve_url(base, "/home") == "https://news.example.com/home"
    assert resolve_url(base, "rel/x") == "https://news.example.com/tech/rel/x"
    assert resolve_url(base, "https://other.org/p") == "https://other.org/p"
    assert resolve_url("https://a.com", "") == "https://a.com/"
    # Url::join has no scheme filter (extraction.rs:34) — non-special
    # schemes pass through; the native path filters them downstream.
    assert resolve_url(base, "mailto:x@y.z") == "mailto:x@y.z"
    assert resolve_url(base, "photo 1.jpg").endswith("/tech/photo%201.jpg")
    assert resolve_url(base, "http://EX.com:80/P") == "http://ex.com/P"
    assert resolve_url(base, "http://a.com?q=1") == "http://a.com/?q=1"


def test_parse_ok():
    assert parse_ok("https://example.com/x")
    assert parse_ok("http://example.com")
    assert not parse_ok("ftp://example.com")
    assert not parse_ok("not-a-url")
    assert not parse_ok("https://" + "x" * 2050)
    assert host_of("https://sub.example.com:8080/p") == "sub.example.com"
