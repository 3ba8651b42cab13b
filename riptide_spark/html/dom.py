"""Deterministic, dependency-free HTML DOM with pinned text-assembly semantics.

This module reimplements (from scratch, in Python, on top of the stdlib
``html.parser`` tokenizer) the *observable semantics* of the HTML engine used
by the reference extractor (RipTide's WASM component built on the ``tl`` 0.7
parser — see ``/root/reference/wasm/riptide-extractor-wasm/src/lib.rs:302-552``
and the golden snapshots in
``/root/reference/wasm/riptide-extractor-wasm/tests/golden/snapshots/``).

The contract, reverse-engineered node-for-node from the golden snapshots:

* ``inner_text`` of an element is the concatenation of **all** descendant
  text nodes in document order, with the raw inter-tag whitespace preserved
  verbatim (see ``news_site_article.json`` — source indentation is retained).
* HTML character references in text are decoded (``&copy;`` → ``©`` in
  ``news_site_full.json``).
* Comments, doctype and processing instructions contribute nothing (not even
  whitespace) — the comment in ``news_site.html:117`` leaves no trace in the
  full-mode snapshot.
* Tags are transparent: ``<strong>X</strong> - Y`` → ``X - Y``.
* ``<script>``/``<style>`` raw content is kept as a text child of its element
  (``tl`` keeps raw nodes; nothing in the goldens excludes them), with
  character references left undecoded inside those elements.

Parsing is lenient: unmatched close tags are ignored, unclosed tags are
closed by their ancestors, void elements never take children.

This is intentionally NOT a spec-compliant HTML5 tree builder — it is a
pinned, deterministic engine whose behavior is frozen by the golden-parity
tests in ``tests/test_golden.py``. Determinism matters more than spec
compliance here: the same bytes must produce the same text on every executor
of a 1000-node cluster, forever.
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    {
        "area",
        "base",
        "br",
        "col",
        "embed",
        "hr",
        "img",
        "input",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    }
)


class Element:
    """One element node: tag name, attributes, ordered children.

    Children are either ``Element`` instances or ``str`` text nodes.
    Attribute names are lowercased; for duplicate attributes the first
    occurrence wins. A valueless attribute maps to ``""``.

    ``pos`` is the element's document-order index, set by the parser. A
    node that selectors are run from (the document root, or a sub-element
    such as a table) lazily builds, in one walk of its subtree, a flat
    element list plus four indexes, each list in document order: by tag,
    by class token, by id and by attribute name. A simple selector then
    starts from the shortest list any of its parts selects and filters it
    with ``matches`` — the extraction UDF runs dozens of queries per
    document, and this is the difference between O(queries × nodes) and
    O(nodes + candidates).
    """

    __slots__ = ("tag", "attrs", "children", "parent", "pos", "_flat", "_idx")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "Element | None", pos: int = -1):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []
        self.parent = parent
        self.pos = pos
        self._flat: list["Element"] | None = None
        # (tag, class token, id, attribute name) → elements, in document order.
        self._idx: tuple[dict[str, list["Element"]], ...] | None = None

    def _ensure_index(self) -> None:
        if self._flat is not None:
            return
        flat: list[Element] = []
        tags: dict[str, list[Element]] = {}
        classes: dict[str, list[Element]] = {}
        ids: dict[str, list[Element]] = {}
        names: dict[str, list[Element]] = {}
        stack: list[object] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                continue
            flat.append(node)
            tags.setdefault(node.tag, []).append(node)
            attrs = node.attrs
            if attrs:
                for name in attrs:
                    names.setdefault(name, []).append(node)
                tokens = attrs.get("class", "").split()
                for token in dict.fromkeys(tokens) if len(tokens) > 1 else tokens:
                    classes.setdefault(token, []).append(node)
                if "id" in attrs:
                    ids.setdefault(attrs["id"], []).append(node)
            stack.extend(reversed(node.children))
        self._flat = flat
        self._idx = (tags, classes, ids, names)

    def get(self, name: str) -> str | None:
        return self.attrs.get(name)

    def inner_text(self) -> str:
        """Concatenate every descendant text node in document order."""
        out: list[str] = []
        stack: list[object] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, str):
                out.append(node)
            else:
                stack.extend(reversed(node.children))
        return "".join(out)

    def iter_elements(self):
        """Yield descendant elements (not self) in document order."""
        stack: list[object] = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if not isinstance(node, str):
                yield node
                stack.extend(reversed(node.children))

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"<Element {self.tag} attrs={self.attrs} children={len(self.children)}>"


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        # convert_charrefs=True decodes character references in text data
        # (but not inside script/style), matching the pinned semantics.
        super().__init__(convert_charrefs=True)
        self.root = Element("#document", {}, None)
        self._stack: list[Element] = [self.root]
        self._count = 0  # elements so far: the next one's document position

    # -- tag events -----------------------------------------------------
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        attr_map: dict[str, str] = {}
        for name, value in attrs:
            if name not in attr_map:
                attr_map[name] = value if value is not None else ""
        parent = self._stack[-1]
        el = Element(tag, attr_map, parent, self._count)
        self._count += 1
        parent.children.append(el)
        if tag not in VOID_ELEMENTS:
            self._stack.append(el)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        attr_map: dict[str, str] = {}
        for name, value in attrs:
            if name not in attr_map:
                attr_map[name] = value if value is not None else ""
        parent = self._stack[-1]
        parent.children.append(Element(tag, attr_map, parent, self._count))
        self._count += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_ELEMENTS:
            return
        # Pop to the nearest matching open tag; ignore unmatched closers.
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    # -- data events ----------------------------------------------------
    def handle_data(self, data: str) -> None:
        if not data:
            return
        children = self._stack[-1].children
        # Merge adjacent text nodes (the tokenizer may split arbitrarily).
        if children and isinstance(children[-1], str):
            children[-1] += data
        else:
            children.append(data)

    # Comments / doctype / PIs vanish entirely.
    def handle_comment(self, data: str) -> None:
        pass

    def handle_decl(self, decl: str) -> None:
        pass

    def handle_pi(self, data: str) -> None:
        pass

    def unknown_decl(self, data: str) -> None:
        pass


def parse(html: str) -> Element:
    """Parse HTML into the pinned DOM. Never raises on malformed input."""
    builder = _TreeBuilder()
    try:
        builder.feed(html)
        builder.close()
    except Exception:
        # html.parser is robust, but guarantee no row ever kills a task.
        pass
    return builder.root


# ---------------------------------------------------------------------------
# CSS selector subset
# ---------------------------------------------------------------------------
#
# Only the vocabulary actually used by the reference extractor is implemented
# (enumerated in SURVEY.md §7 "hard parts"): tag, ``#id``, ``.class``,
# ``[attr]``, ``[attr=v]``, ``[attr*=v]``, ``[attr^=v]``, compound simple
# selectors, the descendant combinator (whitespace) and comma groups.
# Matches are returned in document order (the order the goldens exhibit).


class _SimpleSelector:
    __slots__ = ("tag", "conds", "keys")

    def __init__(self, tag: str | None, conds: list[tuple[str, str, str]]):
        self.tag = tag
        self.conds = conds  # (attr, op, value); op in {"has", "=", "*=", "^=", "~="}
        # (Element._idx slot, key) of a list every match is on, per condition.
        self.keys = [
            (1, value) if (attr, op) == ("class", "~=")
            else (2, value) if (attr, op) == ("id", "=")
            else (3, attr)
            for attr, op, value in conds
        ]

    def matches(self, el: Element) -> bool:
        if self.tag is not None and el.tag != self.tag:
            return False
        for attr, op, value in self.conds:
            actual = el.attrs.get(attr)
            if actual is None:
                return False
            if op == "has":
                continue
            if op == "=":
                if actual != value:
                    return False
            elif op == "*=":
                if value not in actual:
                    return False
            elif op == "^=":
                if not actual.startswith(value):
                    return False
            elif op == "~=":
                if value not in actual.split():
                    return False
            else:  # pragma: no cover - parser only emits the ops above
                return False
        return True


def _parse_simple(token: str) -> _SimpleSelector | None:
    """Parse one compound simple selector like ``tag.cls[attr^='v']``."""
    tag: str | None = None
    conds: list[tuple[str, str, str]] = []
    i, n = 0, len(token)
    if n == 0:
        return None
    # Leading tag name or universal selector.
    if token[0] not in ".#[*":
        j = i
        while j < n and token[j] not in ".#[":
            j += 1
        tag = token[i:j].lower()
        i = j
    elif token[0] == "*":
        i = 1
    while i < n:
        c = token[i]
        if c == ".":
            j = i + 1
            while j < n and token[j] not in ".#[":
                j += 1
            conds.append(("class", "~=", token[i + 1 : j]))
            i = j
        elif c == "#":
            j = i + 1
            while j < n and token[j] not in ".#[":
                j += 1
            conds.append(("id", "=", token[i + 1 : j]))
            i = j
        elif c == "[":
            j = token.find("]", i)
            if j < 0:
                return None
            body = token[i + 1 : j]
            i = j + 1
            op = "has"
            value = ""
            for candidate in ("*=", "^=", "~=", "="):
                k = body.find(candidate)
                if k >= 0:
                    attr = body[:k].strip().lower()
                    op = candidate
                    value = body[k + len(candidate) :].strip()
                    if len(value) >= 2 and value[0] in "'\"" and value[-1] == value[0]:
                        value = value[1:-1]
                    break
            else:
                attr = body.strip().lower()
            if not attr:
                return None
            conds.append((attr, op, value))
        else:
            return None
    return _SimpleSelector(tag, conds)


def _split_selector_list(selector: str) -> list[str]:
    """Split on commas not inside brackets/quotes."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    for ch in selector:
        if quote:
            if ch == quote:
                quote = None
            cur.append(ch)
        elif ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch == "[":
            depth += 1
            cur.append(ch)
        elif ch == "]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


class _CompiledSelector:
    """A comma-group of descendant chains, matched in document order."""

    __slots__ = ("chains",)

    def __init__(self, chains: list[list[_SimpleSelector]]):
        self.chains = chains

    def _chain_matches(self, chain: list[_SimpleSelector], el: Element) -> bool:
        if not chain[-1].matches(el):
            return False
        # Ancestors must match the remaining chain, nearest-last semantics.
        idx = len(chain) - 2
        node = el.parent
        while idx >= 0 and node is not None and node.tag != "#document":
            if chain[idx].matches(node):
                idx -= 1
            node = node.parent
        return idx < 0

    def matches(self, el: Element) -> bool:
        return any(self._chain_matches(chain, el) for chain in self.chains)


_SELECTOR_CACHE: dict[str, _CompiledSelector | None] = {}


def compile_selector(selector: str) -> _CompiledSelector | None:
    cached = _SELECTOR_CACHE.get(selector)
    if cached is not None or selector in _SELECTOR_CACHE:
        return cached
    chains: list[list[_SimpleSelector]] = []
    for group in _split_selector_list(selector):
        chain: list[_SimpleSelector] = []
        ok = True
        for token in group.split():
            if token == ">":
                ok = False  # child combinator unsupported (unused by reference)
                break
            simple = _parse_simple(token)
            if simple is None:
                ok = False
                break
            chain.append(simple)
        if ok and chain:
            chains.append(chain)
    result = _CompiledSelector(chains) if chains else None
    if len(_SELECTOR_CACHE) < 4096:
        _SELECTOR_CACHE[selector] = result
    return result


def _candidates(root: Element, simple: _SimpleSelector):
    """The shortest index list that holds every match of ``simple`` under
    ``root``, in document order (``root`` indexed)."""
    idx = root._idx
    best = root._flat if simple.tag is None else idx[0].get(simple.tag, ())
    for slot, key in simple.keys:
        found = idx[slot].get(key, ())
        if len(found) < len(best):
            best = found
    return best


def _chain_feasible(root: Element, chain: list[_SimpleSelector]) -> bool:
    """Cheap pruning for descendant chains: if any ancestor simple matches
    NOTHING in the document (the common case for breadcrumb/nav selectors
    on ordinary pages), the chain can't match — one early-exit scan per
    ancestor beats an ancestor walk per candidate. Checked against the
    whole document, since a sub-element's matches may have their ancestors
    above it."""
    while root.parent is not None:
        root = root.parent
    root._ensure_index()
    for simple in chain[:-1]:
        if not any(simple.matches(el) for el in _candidates(root, simple)):
            return False
    return True


def query_selector_all(root: Element, selector: str) -> list[Element]:
    compiled = compile_selector(selector)
    if compiled is None:
        return []
    root._ensure_index()
    if len(compiled.chains) == 1:
        chain = compiled.chains[0]
        if len(chain) == 1:
            simple = chain[0]
            candidates = _candidates(root, simple)
            # Bare-tag selector ("p", "h2", …): the tag index IS the
            # answer — the hot case for the native content ladder.
            if simple.tag is not None and not simple.conds:
                return list(candidates)
            return [el for el in candidates if simple.matches(el)]
        if not _chain_feasible(root, chain):
            return []
        return [
            el
            for el in _candidates(root, chain[-1])
            if compiled._chain_matches(chain, el)
        ]
    seen: dict[int, Element] = {}
    for chain in compiled.chains:
        if len(chain) > 1 and not _chain_feasible(root, chain):
            continue
        for el in _candidates(root, chain[-1]):
            if el.pos not in seen and compiled._chain_matches(chain, el):
                seen[el.pos] = el
    return [seen[pos] for pos in sorted(seen)]


def query_selector(root: Element, selector: str) -> Element | None:
    compiled = compile_selector(selector)
    if compiled is None:
        return None
    root._ensure_index()
    if len(compiled.chains) == 1:
        chain = compiled.chains[0]
        candidates = _candidates(root, chain[-1])
        # First match in document order, without building the full list.
        if len(chain) == 1:
            simple = chain[0]
            if simple.tag is not None and not simple.conds:
                return candidates[0] if candidates else None
            for el in candidates:
                if simple.matches(el):
                    return el
            return None
        if not _chain_feasible(root, chain):
            return None
        for el in candidates:
            if compiled._chain_matches(chain, el):
                return el
        return None
    matched = query_selector_all(root, selector)
    return matched[0] if matched else None
