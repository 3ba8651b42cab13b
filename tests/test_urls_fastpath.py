"""Differential proof that the resolve_url fast paths (root-relative
origin + href, absolute-href urljoin bypass, clean-component
percent-encode skip, regex host scan) are behavior-identical to the
reference implementation they replaced."""

from __future__ import annotations

from urllib.parse import urljoin

from riptide_spark.html.urls import (
    _BAD_HOST_CHARS,
    _FRAG_EXTRA,
    _PATH_EXTRA,
    _SPECIAL_QUERY_EXTRA,
    _percent_encode,
    resolve_url,
)

BASES = [
    "https://www.example.com/base/dir/page.html?bq=1#bf",
    "http://example.com",
    "https://sub.host.example.co.uk:8443/a/b/",
    "https://user:pw@auth.example.com/in/dir/",     # userinfo
    "https://default.example.com:443/p",            # default port
    "http://ported.example.com:8080/p",             # non-default port
    "https://UPPER.Example.COM/Case/",              # uppercase host
    "https://bücher.example/straße",                # IDN host
    "https://bad host.example.com/x",               # invalid host
    "ftp://files.example.com/pub/",                 # non-http scheme
    "mailto:someone@example.com",
]

HREFS = [
    # absolute http(s) — the urljoin-bypass family
    "https://other.example.com/x/y?q=1#f",
    "http://other.example.com",
    "https://h.example.com/p/../q",          # dot segments kept either way
    "HTTPS://UPPER.EXAMPLE.COM/CasePath",    # uppercase scheme skips bypass
    "https://h.example.com:443/default-port",
    "https://h.example.com:8080/port",
    "https://user:pw@h.example.com/auth",
    "https://h.example.com/sp ace?q=a b#f g",
    "https://h.example.com/unié?q=ü#à",
    "https://h.example.com/it's?q=it's#it's",
    "https://h.example.com/%20kept",
    "https://bad host.example.com/x",        # bad host char → None
    "https://h.example.com/#",
    "https://h.example.com",
    # relative / special
    "/rooted/path", "rel/path", "../up", "./same", "", "#frag", "?q=2",
    "//protocol.relative.example.com/p",
    "mailto:a@b.com", "javascript:void(0)", "tel:+1-555", "data:text/plain,x",
    "p\\q", "a\\b/c",
    # root-relative — the origin + href fast path and its exclusions
    "/", "//h/x", "/\\x", "/a/../b", "/a/./b", "/.", "/..", "/.well-known/x",
    "/%2e%2e/x", "/p?q'x", "/p?", "/p?#f", "/p#", "/p#a'b", "/p#a?b",
    "/p?a#b?c", "/ü", "/a b", "/a\tb", "/a\nb", "/p;x", "/p;", "/a//b",
    "/a:b@c", "/x?q=1&r=/s?t#f#g", "/a{b}", "/a|b", "/a[1]",
]


def _reference_resolve(base: str, href: str):
    """The pre-fast-path implementation, kept verbatim for differencing."""
    from riptide_spark.html import urls as U

    # reconstruct: always urljoin, char-loop encode, char-scan host check
    if (U._scheme_of(href) or U._scheme_of(base)) in ("http", "https"):
        href = href.replace("\\", "/")
    try:
        joined = urljoin(base, href)
    except ValueError:
        return None
    had_fragment = "#" in href or "#" in joined
    from urllib.parse import urlsplit

    try:
        parts = urlsplit(joined)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme:
        return None
    if scheme not in ("http", "https"):
        return joined
    if not parts.netloc:
        return None
    try:
        host = (parts.hostname or "").lower()
        port = parts.port
    except ValueError:
        return None
    if not host or any(c in host for c in _BAD_HOST_CHARS):
        return None
    if not host.isascii():
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError:
            return None
    netloc = host
    if port is not None and port != U._DEFAULT_PORTS[scheme]:
        netloc = f"{netloc}:{port}"
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo = f"{userinfo}:{parts.password}"
        netloc = f"{userinfo}@{netloc}"

    def slow_encode(component: str, extra: str) -> str:
        out = []
        for ch in component:
            o = ord(ch)
            if o < 0x20 or o == 0x7F or o > 0x7E or ch in extra:
                out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
            else:
                out.append(ch)
        return "".join(out)

    path = slow_encode(parts.path.replace("\\", "/"), _PATH_EXTRA) or "/"
    out = f"{scheme}://{netloc}{path}"
    if parts.query:
        out += "?" + slow_encode(parts.query, _SPECIAL_QUERY_EXTRA)
    elif "?" in joined:
        out += "?"
    if parts.fragment:
        out += "#" + slow_encode(parts.fragment, _FRAG_EXTRA)
    elif had_fragment:
        out += "#"
    return out


def test_fast_paths_match_reference_impl():
    for base in BASES:
        for href in HREFS:
            assert resolve_url(base, href) == _reference_resolve(base, href), (
                base,
                href,
            )


def _seeded_pairs(n: int = 2000, seed: int = 5):
    """Every (page url, href/src/srcset/content value) on n seeded pages."""
    from riptide_spark.html import dom
    from riptide_spark.sources.pages import synth_page

    for i in range(n):
        page = synth_page(i, seed)
        root = dom.parse(page["html"].decode("utf-8", errors="replace"))
        for el in root.iter_elements():
            for name in ("href", "src", "content"):
                if name in el.attrs:
                    yield page["url"], el.attrs[name]
            for part in el.attrs.get("srcset", "").split(","):
                if part.split():
                    yield page["url"], part.split()[0]


def test_seeded_page_pairs_match_reference():
    pairs = list(_seeded_pairs())
    assert len(pairs) > 20_000
    assert sum(h.startswith("/") and not h.startswith("//") for _, h in pairs) > len(pairs) // 2
    for base, href in pairs:
        assert resolve_url(base, href) == _reference_resolve(base, href), (base, href)


def test_bare_query_kept_on_absolute_href():
    """Intentional divergence from the old urljoin round-trip: the url
    crate serializes a bare trailing '?' (Url::parse("https://h/?") keeps
    it), and the absolute-href bypass now preserves it where urljoin used
    to drop it — the '?' twin of the already-pinned trailing-'#' quirk."""
    assert (
        resolve_url("https://base.example.com/", "https://h.example.com/?")
        == "https://h.example.com/?"
    )


def test_percent_encode_fast_path_identity():
    cases = [
        ("clean-path/seg_1.html", _PATH_EXTRA),
        ("needs space", _PATH_EXTRA),
        ("café", _PATH_EXTRA),
        ("q=it's", _SPECIAL_QUERY_EXTRA),
        ("q=fine", _SPECIAL_QUERY_EXTRA),
        ("frag`tick", _FRAG_EXTRA),
        ("", _PATH_EXTRA),
        ("\x7f", _PATH_EXTRA),
        ("%41already", _PATH_EXTRA),
    ]
    for component, extra in cases:
        slow = []
        for ch in component:
            o = ord(ch)
            if o < 0x20 or o == 0x7F or o > 0x7E or ch in extra:
                slow.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
            else:
                slow.append(ch)
        assert _percent_encode(component, extra) == "".join(slow), (component, extra)
