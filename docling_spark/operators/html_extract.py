"""Stage 2 — HTML DOM extraction + boilerplate strip (SURVEY.md §2.1 S2,
§2.2 F13/F14).

The reference extracts slov-lex HTML with BeautifulSoup selectors
(/root/reference/annex_processor.py:267-334, sequential_parser.py:4548-4661)
after IBM Docling has flattened the DOM into a reading-order item stream.
Here we do the flatten ourselves with the stdlib parser: the extractor turns
one HTML payload into the flat `(kind, text, media_ref)` span stream that the
hierarchy state machine consumes — identical in role to docling's HTML
backend, original in implementation.

Runs document-batched inside mapInArrow: one call per HTML payload, many
payloads per Arrow batch — never per inner element across rows.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Dict, List, Optional, Tuple

Span = Tuple[str, str, Optional[str]]  # (kind, text, media_ref)

# slov-lex structural classes → emitted span behavior.
_MARKER_CLASSES = {
    "castOznacenie",
    "paragrafOznacenie",
    "odsekOznacenie",
    "pismenoOznacenie",
    "bodOznacenie",
    "prilohaOznacenie",
    "poznamkaOznacenie",
}
_HEADING_CLASSES = {"castNadpis", "paragrafNadpis", "nadpis", "NADPIS"}
_FURNITURE_CLASSES = {"menu", "footer", "header", "navigacia", "toolbar"}

_WS_RE = re.compile(r"[ \t\r\n]+")


class _Node:
    __slots__ = ("tag", "attrs", "children", "text_parts")

    def __init__(self, tag: str, attrs: Dict[str, str]):
        self.tag = tag
        self.attrs = attrs
        self.children: List["_Node"] = []
        self.text_parts: List[Tuple[int, str]] = []  # (child_slot, text)


class _TreeBuilder(HTMLParser):
    """Minimal DOM builder on the stdlib tokenizer (no external deps)."""

    _VOID = {"img", "br", "hr", "meta", "link", "input"}

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {})
        self._stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self._stack[-1].children.append(node)
        if tag not in self._VOID:
            self._stack.append(node)

    def handle_endtag(self, tag):
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break

    def handle_data(self, data):
        top = self._stack[-1]
        top.text_parts.append((len(top.children), data))


def _node_text(node: _Node) -> str:
    """All text under node, document order, whitespace-collapsed."""
    if not node.children:  # leaf fast path — the common case
        joined = "".join(t for _slot, t in node.text_parts)
        if "\n" in joined or "\t" in joined or "  " in joined:
            return _WS_RE.sub(" ", joined).strip()
        return joined.strip()

    out: List[str] = []

    def walk(n: _Node) -> None:
        if not n.children:
            for _slot, t in n.text_parts:
                out.append(t)
            return
        parts = dict_groupby(n.text_parts)
        for slot in range(len(n.children) + 1):
            for t in parts.get(slot, ()):
                out.append(t)
            if slot < len(n.children):
                walk(n.children[slot])

    walk(node)
    joined = "".join(out)
    # collapse only when multi-whitespace actually present (hot path)
    if "\n" in joined or "\t" in joined or "  " in joined:
        return _WS_RE.sub(" ", joined).strip()
    return joined.strip()


def dict_groupby(pairs: List[Tuple[int, str]]) -> Dict[int, List[str]]:
    d: Dict[int, List[str]] = {}
    for k, v in pairs:
        d.setdefault(k, []).append(v)
    return d


# ---------------------------------------------------------------------------
# fast tokenizer: machine-generated (slov-lex-style) HTML is regular enough
# for a single-regex scan that builds the same _Node tree ~4× faster than
# html.parser. Anything suspicious (comments, scripts, CDATA, exotic
# constructs) falls back to the robust stdlib parser — outputs are asserted
# identical over the corpus in tests/test_extract_units.py.
# ---------------------------------------------------------------------------

_ATTR_RE = re.compile(
    r"([a-zA-Z][a-zA-Z0-9_-]*)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'>]+))"
)
_FAST_UNSAFE_RE = re.compile(r"<!--|<script|<style|<!\[CDATA\[|<\?")
_VOID_TAGS = {"img", "br", "hr", "meta", "link", "input"}


_TAG_HEAD_RE = re.compile(r"(/?)([a-zA-Z][a-zA-Z0-9]*)")

# machine-generated HTML repeats the same attribute strings (class="odsek",
# class="pismeno", …) thousands of times per corpus — memoize the parsed
# dict. The dicts are read-only downstream (attrs.get only), so sharing one
# instance is safe; the size bound keeps adversarial payloads from growing
# the cache without limit.
_ATTRS_CACHE: Dict[str, Dict[str, str]] = {}


def _parse_attrs(attrs_str: str) -> Dict[str, str]:
    cached = _ATTRS_CACHE.get(attrs_str)
    if cached is not None:
        return cached
    attrs = {}
    for am in _ATTR_RE.finditer(attrs_str):
        attrs[am.group(1).lower()] = am.group(2) or am.group(3) or am.group(4) or ""
    if len(_ATTRS_CACHE) < 4096:
        _ATTRS_CACHE[attrs_str] = attrs
    return attrs


# whole-tag memo for the balanced-quote fast path: a 300-doc sample shows
# 147k tags but only ~3.5k distinct tag strings ('/div', 'div class="text"',
# …) — one dict hit replaces head-regex + attr parse for ~98% of tags. Only
# the clean path caches: the quoted-'>' fallback re-parses from the full
# payload so its end offset is context-dependent.
_SEG_CACHE: Dict[str, tuple] = {}


def _fast_parse(payload: str) -> Optional[_Node]:
    """Scan parse; returns None when the payload needs the robust parser
    (caller falls back).

    Hot path: slice each tag at the first '>' (find is ~6× cheaper than the
    backtracking attr regex). A '>' hiding inside a quoted attribute value
    leaves the slice with an odd quote count — that rare tag re-parses with
    the full regex, so the two paths stay byte-equivalent (asserted against
    the stdlib parser over the corpus in tests/test_properties.py)."""
    if _FAST_UNSAFE_RE.search(payload):
        return None
    from html import unescape as _unescape

    root = _Node("#root", {})
    stack = [root]
    pos = 0
    n = len(payload)
    find = payload.find
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            text = payload[pos:]
            if text:
                top = stack[-1]
                top.text_parts.append(
                    (len(top.children), _unescape(text) if "&" in text else text)
                )
            break
        if lt > pos:
            text = payload[pos:lt]
            top = stack[-1]
            top.text_parts.append(
                (len(top.children), _unescape(text) if "&" in text else text)
            )
        gt = find(">", lt + 1)
        if gt == -1:
            return None  # truncated tag — robust parser decides
        seg = payload[lt + 1 : gt]
        if seg[:1] == "!":  # doctype (comments excluded by the unsafe guard)
            pos = gt + 1
            continue
        cached = _SEG_CACHE.get(seg)
        if cached is not None:
            is_closing, tag, attrs, opens = cached
            end = gt + 1
        elif ('"' in seg and seg.count('"') % 2) or ("'" in seg and seg.count("'") % 2):
            # a quote opened inside this tag closes beyond the first '>' —
            # either a legitimate quoted '>' in an attribute (rare) or
            # unterminated-quote garbage. Regex and html.parser tokenize the
            # garbage case differently, so the safe move is to defer the
            # whole payload to the robust parser (the equivalence arbiter).
            return None
        else:
            m = _TAG_HEAD_RE.match(seg)
            if not m:
                return None  # malformed — robust parser decides
            tag = m.group(2).lower()
            is_closing = bool(m.group(1))
            attrs_str = seg[m.end():]
            attrs = (
                _parse_attrs(attrs_str) if attrs_str and "=" in attrs_str else {}
            )
            opens = tag not in _VOID_TAGS and not seg.endswith("/")
            if len(_SEG_CACHE) < 16384:
                _SEG_CACHE[seg] = (is_closing, tag, attrs, opens)
            end = gt + 1
        if is_closing:
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    break
        else:
            node = _Node(tag, attrs)
            stack[-1].children.append(node)
            if opens:
                stack.append(node)
        pos = end
    return root


def _first_href(node: _Node) -> Optional[str]:
    if node.tag == "a" and node.attrs.get("href"):
        return node.attrs["href"]
    for c in node.children:
        h = _first_href(c)
        if h:
            return h
    return None


# inline formatting tags → flag chars (docling Formatting model,
# document.py:1607-1614: bold/italic/underline/strikethrough; the HTML
# backend maps b/strong→bold, i/em→italic, u→underline, del/s/strike→
# strikethrough)
_FMT_TAGS = {
    "b": "B", "strong": "B",
    "i": "I", "em": "I",
    "u": "U",
    "del": "S", "s": "S", "strike": "S",
}
_FMT_ORDER = "BIUS"


def _collect_fmt(node: _Node) -> Tuple[str, Optional[str]]:
    """(flags, href) union over a formatted inline subtree. One flag set per
    emitted span — the same granularity as docling's per-TextItem
    `Formatting` (document.py:1617-1639): a partially-bold run is emitted
    as a bold span, not split."""
    flags: set = set()
    href: List[Optional[str]] = [None]

    def rec(n: _Node) -> None:
        f = _FMT_TAGS.get(n.tag)
        if f:
            flags.add(f)
        if n.tag == "a" and n.attrs.get("href") and href[0] is None:
            href[0] = n.attrs["href"]
        for c in n.children:
            rec(c)

    rec(node)
    return "".join(x for x in _FMT_ORDER if x in flags), href[0]


def _classes(node: _Node) -> set:
    # memoized on the attrs dict itself under a reserved key: attrs dicts
    # are shared via _ATTRS_CACHE for machine-generated HTML, so one parse
    # serves every occurrence of the same class string (the walk calls this
    # ~3× per node)
    a = node.attrs
    c = a.get("\x00cls")
    if c is None:
        c = set((a.get("class") or "").split())
        a["\x00cls"] = c
    return c


def extract_html_spans(html: str, with_formatting: bool = False) -> List[Span]:
    """Flatten one slov-lex-shaped HTML payload into ordered spans.

    Structural divs keep their anchor ids as media_ref (the hyperlink-primary
    marker path, sequential_parser.py:129-178); furniture containers emit
    `page_footer`/`page_header` spans for the downstream strip; `<img>` →
    `media` spans; `<title>` → a `title` span.

    `with_formatting=True` returns 4-tuples (kind, text, media_ref, fmt)
    where fmt ⊆ "BIUS" captures inline <b>/<strong>/<i>/<em>/<u>/<del>/<s>
    runs in content divs (docling Formatting model, document.py:1607-1614).
    This flat formatted stream feeds the formatting-aware sinks directly;
    the hierarchy state machine merges spans and therefore drops the
    per-item flags (same granularity loss docling would hit merging items).
    """
    root = _fast_parse(html)
    if root is None:
        builder = _TreeBuilder()
        builder.feed(html)
        builder.close()  # flush buffered trailing data (e.g. a bare '&')
        root = builder.root
    return _extract_from_root(root, with_formatting)


def extract_html_spans_robust(html: str, with_formatting: bool = False) -> List[Span]:
    """Force the stdlib-parser path (the fast≡robust equivalence test uses
    this; production uses extract_html_spans which picks automatically)."""
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()  # flush buffered trailing data (e.g. a bare '&')
    return _extract_from_root(builder.root, with_formatting)


def _extract_from_root(root: _Node, with_formatting: bool = False) -> List[Span]:
    spans: List[Span] = []

    def emit(kind: str, text: str, media_ref: Optional[str], fmt: str = "") -> None:
        if text or kind == "media":
            if with_formatting:
                spans.append((kind, text, media_ref, fmt))
            else:
                spans.append((kind, text, media_ref))

    def walk(node: _Node, furniture: bool, unit_id: Optional[str]) -> None:
        cls = _classes(node)
        node_id = node.attrs.get("id")
        here_unit = f"#{node_id}" if node_id else unit_id
        here_furniture = furniture or bool(cls & _FURNITURE_CLASSES)

        if node.tag == "title":
            emit("title", _node_text(node), None)
            return
        if node.tag == "img":
            emit("media", node.attrs.get("alt", ""), node.attrs.get("src"))
            return
        if cls & _MARKER_CLASSES:
            # marker div: the hyperlink is the <a href> anchor ONLY — docling
            # models hyperlinks from anchor elements, never from div ids, and
            # the hierarchy stage's hyperlink-primary detection depends on
            # that (a bod marker must NOT inherit its pismeno ancestor's id)
            emit(
                "page_footer" if here_furniture else "text",
                _node_text(node),
                _first_href(node),
            )
            return
        if cls & _HEADING_CLASSES:
            emit(
                "page_footer" if here_furniture else "section_header",
                _node_text(node),
                _first_href(node),
            )
            return
        if "text" in cls or "poznamka" in cls or "clanok" in cls:
            # leaf content run — but nested structural divs (bod inside
            # pismeno text) must be walked, so split around child divs
            kind = "page_footer" if here_furniture else "text"
            parts = dict_groupby(node.text_parts)
            buf: List[str] = []
            # formatted mode keeps hyperlinks scoped to their anchor spans
            # (the legacy stream attaches a lone div-level href to every
            # run — the hyperlink-primary marker parity path)
            link = _first_href(node) if not with_formatting and not any(
                _classes(c) & (_MARKER_CLASSES | {"text"}) or c.tag == "div"
                for c in node.children
            ) else None

            # continuation tracking (formatted mode): the second and later
            # inline fragments of one content div carry a 'c' flag so the
            # sinks can rejoin them into a single flowing paragraph
            in_para = [False]

            def emit_inline(text: str, ref, flags: str = "") -> None:
                fmt = flags + ("c" if (with_formatting and in_para[0]) else "")
                emit(kind, text, ref, fmt)
                in_para[0] = True

            def flush() -> None:
                t = _WS_RE.sub(" ", "".join(buf)).strip()
                if t:
                    emit_inline(t, link)
                buf.clear()

            for slot in range(len(node.children) + 1):
                for t in parts.get(slot, ()):
                    buf.append(t)
                if slot < len(node.children):
                    child = node.children[slot]
                    if child.tag == "div":
                        flush()
                        in_para[0] = False  # nested block breaks the paragraph
                        walk(child, here_furniture, here_unit)
                    elif child.tag == "img":
                        flush()
                        in_para[0] = False
                        walk(child, here_furniture, here_unit)
                    elif child.tag == "a":
                        href = child.attrs.get("href")
                        t = _node_text(child)
                        if t:
                            flush()
                            # formatting tags nested inside the anchor
                            # (<a><b>x</b></a>) ride the same span
                            fmt = _collect_fmt(child)[0] if with_formatting else ""
                            emit_inline(t, href, fmt)
                    elif with_formatting and child.tag in _FMT_TAGS:
                        t = _node_text(child)
                        if t:
                            flush()
                            fmt, href = _collect_fmt(child)
                            emit_inline(t, href, fmt)
                    elif child.tag == "sup":
                        t = _node_text(child)
                        if t:
                            buf.append(t)
                    else:
                        buf.append(_node_text(child))
            flush()
            return

        # generic container: recurse
        parts = dict_groupby(node.text_parts)
        for slot in range(len(node.children) + 1):
            for t in parts.get(slot, ()):
                t2 = _WS_RE.sub(" ", t).strip()
                if t2:
                    emit("page_footer" if here_furniture else "text", t2, None)
            if slot < len(node.children):
                walk(node.children[slot], here_furniture, here_unit)

    walk(root, False, None)
    return spans
