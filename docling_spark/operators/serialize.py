"""Stage 6 — serialization sinks and chunking (SURVEY.md §2.1 S7/S8,
§2.8 C7-C10, §2.9 K1/K5).

Markdown rendering and law-level chunking over the *normalized* span table.
Both are per-document-local → the same zero-shuffle mapInArrow shape as the
extraction pipeline (schema.map_docs); the chunk table emits one row per
chunk from the same narrow stage (still no exchange).

Reference semantics mirrored (original implementation):
- markdown walk with #/##/### headings, bold markers, pipe tables
  (/root/reference/sequential_parser.py:5038-5186, format_table_as_markdown
  4958-5018)
- chunking at part/paragraph/odsek/pismeno level with parent-context
  headings (/root/reference/chunk_to_markdown.py:478-676; heading tracking
  hierarchical_chunker.py:148-163)
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator, List, Optional, Tuple

import pandas as pd

from docling_spark.schema import CHUNK_DDL, map_docs

Span = Tuple[str, str, Optional[str]]

# ---------------------------------------------------------------------------
# Inline formatting (optional 4th span element, flags ⊆ "BIUS"):
# B=bold I=italic U=underline S=strikethrough; a hyperlink rides the span's
# media_ref. Formatted spans follow docling-core's serializer rules exactly
# (fuzz-verified against the reference's own escaping functions in
# tests/test_serialize.py):
# - markdown: escape '_' outside image-URL patterns (markdown.py:745-776),
#   html.escape(quote=False) (markdown.py:778-792), then wrap in
#   **bold** / *italic* / ~~strike~~ (underline is a no-op in markdown —
#   common.py:537 default not overridden), hyperlink [text](url) OUTERMOST
#   (application order common.py:509-524).
# - html: escaped text wrapped in <strong>/<em>/<u>/<del>, hyperlink
#   <a href="..."> outermost (html.py:943-980).
# Unformatted spans keep the legacy byte-exact rendering (which mirrors the
# reference APPLICATION layer's own markdown sink, sequential_parser.py:
# 5038-5186 — that path does not escape).
# ---------------------------------------------------------------------------

_MD_IMG_URL_RE = re.compile(r"!\[.*?\]\((.*?)\)")
_MD_UNDERSCORE_RE = re.compile(r"(?<!\\)_")


def _md_escape_underscores(text: str) -> str:
    """Escape '_' but leave image URLs intact — the exact algorithm of
    MarkdownDocSerializer._escape_underscores (markdown.py:745-776)."""
    parts: List[str] = []
    last_end = 0
    for match in _MD_IMG_URL_RE.finditer(text):
        parts.append(_MD_UNDERSCORE_RE.sub(r"\\_", text[last_end:match.start()]))
        parts.append(match.group(0))
        last_end = match.end()
    if last_end < len(text):
        parts.append(_MD_UNDERSCORE_RE.sub(r"\\_", text[last_end:]))
    return "".join(parts)


def _md_post_process(text: str, fmt: str, hyperlink: Optional[str]) -> str:
    """docling-core markdown post_process for one formatted span."""
    import html as _h

    res = _h.escape(_md_escape_underscores(text or ""), quote=False)
    if "B" in fmt:
        res = f"**{res}**"
    if "I" in fmt:
        res = f"*{res}*"
    # underline: markdown has no override — no-op (common.py:537)
    if "S" in fmt:
        res = f"~~{res}~~"
    if hyperlink:
        res = f"[{res}]({hyperlink})"
    return res


def _html_post_process(text: str, fmt: str, hyperlink: Optional[str]) -> str:
    """docling-core HTML post_process for one formatted span."""
    res = _esc(text)
    if "B" in fmt:
        res = f"<strong>{res}</strong>"
    if "I" in fmt:
        res = f"<em>{res}</em>"
    if "U" in fmt:
        res = f"<u>{res}</u>"
    if "S" in fmt:
        res = f"<del>{res}</del>"
    if hyperlink:
        res = f'<a href="{_esc_attr(hyperlink)}">{res}</a>'
    return res


# key-value / form span kinds (docling-JSON reader flattening of
# document.py:2560-2562 GraphData items): a `kv`/`form_field` span carries a
# key cell's text, one or more `kv_value`/`form_value` spans carry values.
# The reference serializer groups ALL values per key cell in FIRST-SEEN
# order (value_links dict keyed on source_cell_id, html.py:556-598), so two
# links to the same key merge into one <dt> even when interleaved with other
# keys, and two distinct key cells with identical text stay separate. The
# reader threads that identity through the span ref ('#/<arr>/<i>/c<id>' on
# both the key and its value spans); refs without the '/c' suffix fall back
# to grouping by key text (still region-wide, the closest approximation
# identity-less spans allow). A ref whose item prefix changes opens a new
# region, matching the one-<div>-per-item reference output.
_KV_KEY_KINDS = {"kv": "key-value-region", "form_field": "form-container"}
_KV_VALUE_OF = {"kv_value": "kv", "form_value": "form_field"}


def _kv_item_prefix(ref: Optional[str]) -> Optional[str]:
    return ref.split("/c", 1)[0] if ref else ref


class _KvRegion:
    """Accumulates one key-value/form region (= one graph item) during a
    render, grouping values under keys by cell identity."""

    def __init__(self) -> None:
        self.kind: Optional[str] = None  # 'kv' | 'form_field'
        self.item: Optional[str] = None  # item ref prefix ('#/<arr>/<i>')
        # first-seen-ordered: identity -> [key_text, [values]]
        self._groups: dict = {}
        self._last_identity = None

    def items(self) -> List[Tuple[str, List[str]]]:
        return [(k, vals) for k, vals in self._groups.values()]

    @property
    def pairs(self):  # truthiness hook for the flush guards
        return self._groups

    def _identity(self, kind: str, text: str, ref: Optional[str]):
        if ref and "/c" in ref:
            return ref  # item prefix + key cell id: true reference identity
        return ("txt", text)  # identity-less fallback: group by key text

    def feed(self, kind: str, text: str, ref: Optional[str] = None) -> bool:
        """Consume a kv-family span; returns False if the span opens a NEW
        region (different family OR different graph item) and the current
        one must flush first."""
        fam = kind if kind in _KV_KEY_KINDS else _KV_VALUE_OF[kind]
        item = _kv_item_prefix(ref)
        if self.kind is not None and (self.kind != fam or self.item != item):
            return False
        self.kind, self.item = fam, item
        if kind in _KV_KEY_KINDS:
            ident = self._identity(kind, text, ref)
            g = self._groups.setdefault(ident, [text, []])
            g[0] = g[0] or text  # key may backfill a value-opened group
            self._last_identity = ident
        else:  # value span: attach by identity, else to the last key seen
            ident = (
                ref if (ref and "/c" in ref) else self._last_identity
            )
            if ident is None or ident not in self._groups:
                ident = ident if ident is not None else ("txt", "")
                self._groups.setdefault(ident, ["", []])
                self._last_identity = ident
            self._groups[ident][1].append(text)
        return True


def _with_fmt(spans) -> List[Tuple[str, str, Optional[str], str]]:
    """Normalize 3- or 4-element spans to 4-tuples (fmt defaults '')."""
    out = []
    for s in spans:
        if len(s) >= 4:
            out.append((s[0], s[1], s[2], s[3] or ""))
        else:
            out.append((s[0], s[1], s[2], ""))
    return out

_HEADING_LEVELS = {
    "title": "#",
    "part": "#",
    "section_header": "##",
    "paragraph": "##",
    "paragraph_title": "###",
    "annex": "##",
}


def render_markdown(spans: List[Span],
                    page_break_placeholder: "str | None" = None) -> str:
    """One document's normalized spans → markdown string.

    `page_break_placeholder` mirrors MarkdownParams.page_break_placeholder
    (reference markdown.py:89,795-810): 'page_break' spans (emitted by
    normalize_pdf_spans(emit_page_breaks=True)) render as the placeholder
    block when set and are dropped when None (the reference default).

    Two modes, switched by the span arity:
    - 3-tuples (kind, text, ref): the legacy byte-exact rendering mirroring
      the reference application layer's own sink (sequential_parser.py:
      5038-5186) — no escaping, one block per span.
    - any 4-tuple present → FORMATTED mode: every span renders under
      docling-core's serializer rules (_md_post_process: underscore +
      html escaping, **B** */I/* ~~S~~ wrappers, [text](url) hyperlinks),
      and fragments flagged 'c' (continuation) rejoin into one flowing
      paragraph with single-space joins — exactly how the reference's own
      inline-group serializer assembles parts (`" ".join(...)`,
      markdown.py:673) — the stream `extract_html_formatted` produces."""
    formatted = any(len(s) >= 4 for s in spans)
    out: List[str] = []
    table_rows: List[List[str]] = []
    table_idx: Optional[str] = None
    pending: List[str] = []  # inline fragments of the current paragraph
    kv = _KvRegion()

    def flush_para() -> None:
        if pending:
            out.append(" ".join(pending))
            out.append("")
            pending.clear()

    def flush_kv() -> None:
        # '**key**: v1, v2' definition lines (the reference's own markdown
        # serializer is a TODO stub emitting '<!-- missing-key-value-item
        # -->', markdown.py:553-573 — we render the content instead)
        nonlocal kv
        if kv.pairs:
            for k, vals in kv.items():
                out.append(f"**{k}**: {', '.join(vals)}")
            out.append("")
        kv = _KvRegion()

    def flush_table() -> None:
        nonlocal table_rows, table_idx
        if not table_rows:
            return
        header, *body = table_rows
        out.append("| " + " | ".join(header) + " |")
        out.append("| " + " | ".join("---" for _ in header) + " |")
        for row in body:
            out.append("| " + " | ".join(row) + " |")
        out.append("")
        table_rows = []
        table_idx = None

    for kind, text, ref, fmt in _with_fmt(spans):
        if kind in _KV_KEY_KINDS or kind in _KV_VALUE_OF:
            flush_para()
            flush_table()
            if not kv.feed(kind, text, ref):
                flush_kv()
                kv.feed(kind, text, ref)
            continue
        flush_kv()
        if kind == "table_cell":
            # ref shape '#/tables/i/rRcC' — row-major arrival order;
            # the structural ref is never a hyperlink
            flush_para()
            disp = _md_post_process(text, fmt, None) if formatted else text
            tid = (ref or "").split("/r")[0]
            if table_idx is not None and tid != table_idx:
                flush_table()
            table_idx = tid
            row_tag = (ref or "").rsplit("/r", 1)[-1]
            head = row_tag.split("c")[0]
            r = int(head) if head.isdigit() else 0
            while len(table_rows) <= r:
                table_rows.append([])
            table_rows[r].append(disp)
            continue
        flush_table()
        disp = _md_post_process(text, fmt, ref) if formatted else text
        if kind in _HEADING_LEVELS:
            flush_para()
            out.append(f"{_HEADING_LEVELS[kind]} {disp}")
            out.append("")
        elif kind in ("odsek", "pismeno", "subitem", "footnote"):
            flush_para()
            out.append(f"**{disp}**")
        elif kind == "media":
            flush_para()
            out.append(f"![{text}]({ref})")
            out.append("")
        elif kind == "page_break":
            flush_para()
            if page_break_placeholder is not None:
                out.append(page_break_placeholder)
                out.append("")
        elif kind == "list_item":
            flush_para()
            out.append(f"- {disp}")
        elif kind == "caption":
            flush_para()
            out.append(f"*{disp}*")
            out.append("")
        else:
            if "c" not in fmt:
                flush_para()
            pending.append(disp)
            if not formatted:
                flush_para()
    flush_table()
    flush_para()
    flush_kv()
    return "\n".join(out).strip() + "\n"


def markdown_sink(df, page_break_placeholder: "str | None" = None):
    """normalized documents → (doc_id, markdown). An optional `fmt` column
    (array<string> aligned with spans, flags ⊆ "BIUS") switches the spans it
    marks to docling-core-rule formatted rendering. `page_break_placeholder`
    renders 'page_break' spans as that block (reference
    MarkdownParams.page_break_placeholder); None (default) drops them."""
    return map_docs(
        df, "doc_id string, markdown string",
        lambda doc_id, spans: [(doc_id, render_markdown(spans, page_break_placeholder))],
        with_fmt=True,
    )


# ---------------------------------------------------------------------------
# HTML sink (the reference's serializer matrix ships an HTML serializer:
# docling_code/docling-core-main/docling_core/transforms/serializer/html.py
# — headings h1-h6 via escaped text :135-180, tables as
# <table><tbody><tr><th|td> with th for header cells :344-415, pictures as
# <figure><img/></figure> :336, captions via serialize_captions. Re-expressed
# here at our span granularity; same escaping rules.)
# ---------------------------------------------------------------------------

_HTML_HEADING_TAG = {
    "title": "h1",
    "part": "h1",
    "section_header": "h2",
    "paragraph": "h2",
    "paragraph_title": "h3",
    "annex": "h2",
}


def _esc(text: str) -> str:
    """html.escape(quote=False) + newline→<br>, as the reference's text
    serializer does (html.py:162-163)."""
    import html as _html

    return _html.escape(text or "", quote=False).replace("\n", "<br>")


def _esc_attr(text: str) -> str:
    """Attribute-position escaping (img src/alt): quote=True so a '"' in
    span text or media_ref cannot break out of the attribute."""
    import html as _html

    return _html.escape(text or "", quote=True).replace("\n", "<br>")


def render_html(spans: List[Span]) -> str:
    """One document's normalized spans → HTML string (body fragment).

    Mode switch mirrors render_markdown: 3-tuples = legacy byte-exact;
    any 4-tuple = formatted mode (docling-core wrapper/escaping rules,
    'c'-flagged fragments rejoin into one <p>)."""
    formatted = any(len(s) >= 4 for s in spans)
    out: List[str] = []
    table_rows: List[List[str]] = []
    table_idx: Optional[str] = None
    in_list = False
    pending: List[str] = []  # inline fragments of the current paragraph
    kv = _KvRegion()

    def flush_para() -> None:
        if pending:
            out.append(f"<p>{' '.join(pending)}</p>")
            pending.clear()

    def flush_kv() -> None:
        # flat <dl> inside a classed <div> — the reference's no-hierarchy
        # graph rendering (html.py:585-598; wrapper classes 654-726);
        # html.escape with default quote=True exactly as the reference does
        nonlocal kv
        if kv.pairs:
            import html as _h

            cls = _KV_KEY_KINDS[kv.kind or "kv"]
            out.append(f'<div class="{cls}">')
            out.append(f'<dl class="{cls}">')
            for k, vals in kv.items():
                out.append(f"<dt>{_h.escape(k)}</dt>")
                for v in vals:
                    out.append(f"<dd>{_h.escape(v)}</dd>")
            out.append("</dl>")
            out.append("</div>")
        kv = _KvRegion()

    def flush_list() -> None:
        nonlocal in_list
        if in_list:
            out.append("</ul>")
            in_list = False

    def flush_table() -> None:
        nonlocal table_rows, table_idx
        if not table_rows:
            return
        body = []
        for r, row in enumerate(table_rows):
            tag = "th" if r == 0 else "td"
            body.append(
                "<tr>" + "".join(f"<{tag}>{c}</{tag}>" for c in row) + "</tr>"
            )
        out.append("<table><tbody>" + "".join(body) + "</tbody></table>")
        table_rows = []
        table_idx = None

    for kind, text, ref, fmt in _with_fmt(spans):
        if kind in _KV_KEY_KINDS or kind in _KV_VALUE_OF:
            flush_para()
            flush_list()
            flush_table()
            if not kv.feed(kind, text, ref):
                flush_kv()
                kv.feed(kind, text, ref)
            continue
        flush_kv()
        if kind == "table_cell":
            flush_para()
            flush_list()
            tid = (ref or "").split("/r")[0]
            if table_idx is not None and tid != table_idx:
                flush_table()
            table_idx = tid
            row_tag = (ref or "").rsplit("/r", 1)[-1]
            head = row_tag.split("c")[0]
            r = int(head) if head.isdigit() else 0
            while len(table_rows) <= r:
                table_rows.append([])
            # cell text stripped + escaped like html.py:387; structural ref
            # is never a hyperlink
            cell = (text or "").strip()
            table_rows[r].append(
                _html_post_process(cell, fmt, None) if formatted else _esc(cell)
            )
            continue
        flush_table()
        disp = _html_post_process(text, fmt, ref) if formatted else _esc(text)
        if kind == "list_item":
            flush_para()
            if not in_list:
                out.append("<ul>")
                in_list = True
            out.append(f"<li>{disp}</li>")
            continue
        flush_list()
        if kind in _HTML_HEADING_TAG:
            flush_para()
            tag = _HTML_HEADING_TAG[kind]
            out.append(f"<{tag}>{disp}</{tag}>")
        elif kind in ("odsek", "pismeno", "subitem", "footnote"):
            flush_para()
            out.append(f"<p><b>{disp}</b></p>")
        elif kind == "media":
            flush_para()
            out.append(
                f'<figure><img src="{_esc_attr(ref)}" alt="{_esc_attr(text)}" /></figure>'
            )
        elif kind == "caption":
            flush_para()
            out.append(f"<figcaption>{disp}</figcaption>")
        elif kind == "page_break":
            flush_para()
        elif kind == "picture_annotation":
            # picture annotation text (classification class / description /
            # molecule SMILES — reader maps per common.py:136-151) rendered
            # as a caption under the preceding figure
            flush_para()
            out.append(f'<figcaption class="annotation">{disp}</figcaption>')
        else:
            if "c" not in fmt:
                flush_para()
            pending.append(disp)
            if not formatted:
                flush_para()
    flush_table()
    flush_list()
    flush_para()
    flush_kv()
    return "\n".join(out) + ("\n" if out else "")


def html_sink(df):
    """normalized documents → (doc_id, html). Same zero-shuffle mapInArrow
    shape as markdown_sink; honors the same optional `fmt` column."""
    return map_docs(df, "doc_id string, html string",
                    lambda doc_id, spans: [(doc_id, render_html(spans))], with_fmt=True)


# ---------------------------------------------------------------------------
# LaTeX sink (the reference serializer matrix's fourth format:
# transforms/serializer/latex.py — _escape_latex char map :99-122, title as
# \title :172, section levels 1-3 → \section/\subsection/\subsubsection
# :180-195, bold :600-602, itemize lists :515-527 with \item :167, tables
# as \begin{table}[h] + tabular with |l|...| colspec and
# "cells & ... \\ \hline" rows :325-356. Re-expressed at span granularity;
# parts joined with blank lines like the reference's "\n\n".join.)
# ---------------------------------------------------------------------------

_LATEX_ESCAPES = {
    "\\": r"\textbackslash{}",
    "{": r"\{",
    "}": r"\}",
    "#": r"\#",
    "$": r"\$",
    "%": r"\%",
    "&": r"\&",
    "_": r"\_",
    "~": r"\textasciitilde{}",
    "^": r"\textasciicircum{}",
}

_LATEX_HEADING_CMD = {
    "title": "title",
    "part": "section",
    "section_header": "subsection",
    "paragraph": "subsection",
    "annex": "subsection",
    "paragraph_title": "subsubsection",
}


def _latex_escape(text: str) -> str:
    """Per-char map, replacements never re-scanned (latex.py:99-122)."""
    return "".join(_LATEX_ESCAPES.get(ch, ch) for ch in (text or ""))


def _latex_post_process(text: str, fmt: str, hyperlink: Optional[str]) -> str:
    """docling-core LaTeX post_process for one formatted span: escaped text
    wrapped \\textbf/\\textit/\\underline/\\sout in the common.py:509-524
    application order, \\href (escaped URL argument) outermost
    (latex.py:599-639)."""
    res = _latex_escape(text or "")
    if "B" in fmt:
        res = f"\\textbf{{{res}}}"
    if "I" in fmt:
        res = f"\\textit{{{res}}}"
    if "U" in fmt:
        res = f"\\underline{{{res}}}"
    if "S" in fmt:
        res = f"\\sout{{{res}}}"
    if hyperlink:
        res = f"\\href{{{_latex_escape(hyperlink)}}}{{{res}}}"
    return res


def render_latex(spans: List[Span]) -> str:
    """One document's normalized spans → LaTeX body fragment.

    Mode switch mirrors render_markdown: any 4-tuple span enables the
    formatting wrappers and 'c'-continuation paragraph joining (the legacy
    3-tuple path is byte-exact unchanged)."""
    formatted = any(len(s) >= 4 for s in spans)
    out: List[str] = []
    table_rows: List[List[str]] = []
    table_idx: Optional[str] = None
    list_items: List[str] = []
    pending: List[str] = []
    kv = _KvRegion()

    def flush_para() -> None:
        if pending:
            out.append(" ".join(pending))
            pending.clear()

    def flush_kv() -> None:
        # description list — LaTeX's native key-value construct (the
        # reference LaTeX serializer has no kv branch; semantics follow the
        # HTML sink's grouped <dl> rendering, html.py:585-598)
        nonlocal kv
        if kv.pairs:
            items = "\n".join(
                f"\\item[{_latex_escape(k)}] "
                + ", ".join(_latex_escape(v) for v in vals)
                for k, vals in kv.items()
            )
            out.append("\\begin{description}\n" + items + "\n\\end{description}")
        kv = _KvRegion()

    def flush_list() -> None:
        nonlocal list_items
        if list_items:
            out.append(
                "\\begin{itemize}\n"
                + "\n".join(f"\\item {x}" for x in list_items)
                + "\n\\end{itemize}"
            )
            list_items = []

    def flush_table() -> None:
        nonlocal table_rows, table_idx
        if not table_rows:
            return
        ncols = max(len(r) for r in table_rows)
        colspec = "|" + "|".join(["l"] * ncols) + "|"
        lines = [f"\\begin{{tabular}}{{{colspec}}}", "\\hline"]
        for row in table_rows:
            lines.append(" & ".join(row) + r" \\ \hline")
        lines.append("\\end{tabular}")
        out.append("\\begin{table}[h]\n" + "\n".join(lines) + "\n\\end{table}")
        table_rows = []
        table_idx = None

    for kind, text, ref, fmt in _with_fmt(spans):
        if kind in _KV_KEY_KINDS or kind in _KV_VALUE_OF:
            flush_para()
            flush_list()
            flush_table()
            if not kv.feed(kind, text, ref):
                flush_kv()
                kv.feed(kind, text, ref)
            continue
        flush_kv()
        if kind == "table_cell":
            flush_para()
            flush_list()
            tid = (ref or "").split("/r")[0]
            if table_idx is not None and tid != table_idx:
                flush_table()
            table_idx = tid
            row_tag = (ref or "").rsplit("/r", 1)[-1]
            head = row_tag.split("c")[0]
            r = int(head) if head.isdigit() else 0
            while len(table_rows) <= r:
                table_rows.append([])
            cell = (text or "").strip()
            table_rows[r].append(
                _latex_post_process(cell, fmt, None) if formatted
                else _latex_escape(cell)
            )
            continue
        flush_table()
        disp = _latex_post_process(text, fmt, ref) if formatted else _latex_escape(text)
        if kind == "list_item":
            flush_para()
            list_items.append(disp)
            continue
        flush_list()
        if kind in _LATEX_HEADING_CMD:
            flush_para()
            out.append(f"\\{_LATEX_HEADING_CMD[kind]}{{{disp}}}")
        elif kind in ("odsek", "pismeno", "subitem", "footnote"):
            flush_para()
            out.append(f"\\textbf{{{disp}}}")
        elif kind == "page_break":
            flush_para()
        elif kind == "media":
            flush_para()
            body = f"\\includegraphics{{{ref}}}\n" if ref else ""
            out.append(
                "\\begin{figure}[h]\n" + body
                + f"\\caption{{{_latex_escape(text)}}}\n\\end{{figure}}"
            )
        elif kind == "caption":
            flush_para()
            out.append(f"\\caption{{{disp}}}")
        else:
            if "c" not in fmt:
                flush_para()
            pending.append(disp)
            if not formatted:
                flush_para()
    flush_table()
    flush_list()
    flush_para()
    flush_kv()
    return "\n\n".join(out) + ("\n" if out else "")


def latex_sink(df):
    """normalized documents → (doc_id, latex). Zero-shuffle mapInArrow;
    honors the same optional `fmt` column as markdown_sink/html_sink."""
    return map_docs(df, "doc_id string, latex string",
                    lambda doc_id, spans: [(doc_id, render_latex(spans))], with_fmt=True)


# ---------------------------------------------------------------------------
# doctags sink (the reference serializer matrix's third format:
# transforms/serializer/doctags.py — every item wrapped in its
# DocumentToken (<title>, <section_header_level_N>, <text>, <footnote>,
# <caption>, <picture>, <list_item> inside <unordered_list>), tables as
# OTSL token streams (types/doc/tokens.py:9-25 — <ched> column header,
# <fcel> full, <ecel> empty, <nl> row end; span-looking cells lcel/ucel/xcel
# don't occur in our span model), document wrapped in <doctag>.)
# ---------------------------------------------------------------------------

_DOCTAG_HEADING = {
    "title": "title",
    "part": "section_header_level_1",
    "section_header": "section_header_level_2",
    "paragraph": "section_header_level_2",
    "annex": "section_header_level_2",
    "paragraph_title": "section_header_level_3",
}


def render_doctags(spans: List[Span]) -> str:
    """One document's normalized spans → doctags token stream."""
    out: List[str] = []
    table_rows: List[List[str]] = []
    table_idx: Optional[str] = None
    in_list = False

    def flush_list() -> None:
        nonlocal in_list
        if in_list:
            out.append("</unordered_list>")
            in_list = False

    def flush_table() -> None:
        nonlocal table_rows, table_idx
        if not table_rows:
            return
        ncols = max(len(r) for r in table_rows)
        toks: List[str] = []
        for r, row in enumerate(table_rows):
            cell_tok = "ched" if r == 0 else "fcel"
            for c in range(ncols):
                text = row[c] if c < len(row) else ""
                toks.append(f"<{cell_tok}>{text}" if text else "<ecel>")
            toks.append("<nl>")
        out.append("<otsl>" + "".join(toks) + "</otsl>")
        table_rows = []
        table_idx = None

    for kind, text, ref in spans:
        if kind == "table_cell":
            flush_list()
            tid = (ref or "").split("/r")[0]
            if table_idx is not None and tid != table_idx:
                flush_table()
            table_idx = tid
            row_tag = (ref or "").rsplit("/r", 1)[-1]
            head = row_tag.split("c")[0]
            r = int(head) if head.isdigit() else 0
            while len(table_rows) <= r:
                table_rows.append([])
            table_rows[r].append((text or "").strip())
            continue
        flush_table()
        if kind == "list_item":
            if not in_list:
                out.append("<unordered_list>")
                in_list = True
            out.append(f"<list_item>{text}</list_item>")
            continue
        flush_list()
        if kind in _DOCTAG_HEADING:
            tok = _DOCTAG_HEADING[kind]
            out.append(f"<{tok}>{text}</{tok}>")
        elif kind == "page_break":
            out.append("<page_break>")
        elif kind == "media":
            out.append(f"<picture>{text}</picture>")
        elif kind == "caption":
            out.append(f"<caption>{text}</caption>")
        elif kind == "footnote":
            out.append(f"<footnote>{text}</footnote>")
        else:  # text, odsek, pismeno, subitem, error — plain text items
            out.append(f"<text>{text}</text>")
    flush_table()
    flush_list()
    return "<doctag>" + "\n".join(out) + "</doctag>\n"


def doctags_sink(df):
    """normalized documents → (doc_id, doctags). Zero-shuffle mapInArrow."""
    return map_docs(df, "doc_id string, doctags string",
                    lambda doc_id, spans: [(doc_id, render_doctags(spans))])


# ---------------------------------------------------------------------------
# law-level chunking (K5): one chunk per unit at the chosen level, with
# parent headings as context
# ---------------------------------------------------------------------------

_LEVEL_KINDS = ("part", "paragraph", "odsek", "pismeno")


def chunk_document(doc_id: str, spans: List[Span], level: str = "odsek") -> List[tuple]:
    """Chunk one document at `level`; annexes and footnotes chunk whole
    (chunk_to_markdown.py:679-733). Returns CHUNK_SCHEMA tuples."""
    cut_at = _LEVEL_KINDS.index(level)
    chunks: List[tuple] = []
    headings: List[str] = []  # heading stack: [title, part, §, ...]
    cur_key: Optional[str] = None
    cur_level: Optional[str] = None
    buf: List[str] = []

    def close() -> None:
        nonlocal buf, cur_key, cur_level
        if cur_key is not None and buf:
            content = "\n".join(buf)
            chunks.append(
                (
                    doc_id,
                    f"{doc_id}/{cur_key}",
                    cur_level,
                    content,
                    list(headings),
                    len(content),
                )
            )
        buf = []
        cur_key = None

    for kind, text, ref in spans:
        if kind == "title":
            headings = [text]
            continue
        if kind in ("part", "paragraph"):
            idx = _LEVEL_KINDS.index(kind)
            if idx <= cut_at:
                close()
                headings = headings[: 1 + idx] + [text]
                if idx == cut_at:
                    cur_key = (ref or text).lstrip("#")
                    cur_level = kind
                continue
        if kind in ("odsek", "pismeno"):
            idx = _LEVEL_KINDS.index(kind)
            if idx == cut_at:
                close()
                cur_key = (ref or text).lstrip("#")
                cur_level = kind
                buf.append(text)
                continue
            if idx < cut_at:
                close()
                continue
        if kind in ("annex", "footnote"):
            close()
            cur_key = (ref or text).lstrip("#")
            cur_level = kind
            buf.append(text)
            continue
        if kind in ("paragraph_title", "section_header"):
            if cur_key is None:
                headings = headings + [text]
            else:
                buf.append(text)
            continue
        if cur_key is not None and kind in ("text", "subitem", "table_cell", "list_item"):
            buf.append(text)
    close()
    return chunks


def export_chunks(chunks: List[tuple], fmt: str) -> str:
    """S8: one document's chunks → the reference's per-format payload
    (chunk_to_markdown.py:771-868 — save_chunks writes `.chunks.json`,
    `.chunks.md` with '---' separators, and `.rag.json`
    {"chunks":[{text, metadata}]}; byte-layout mirrored incl. indent=2)."""
    import json as _json

    dicts = [
        {
            "chunk_id": cid,
            "level": lvl,
            "content": content,
            "headings": list(heads),
            "content_length": clen,
        }
        for (_doc, cid, lvl, content, heads, clen) in chunks
    ]
    if fmt == "json":
        return _json.dumps(dicts, ensure_ascii=False, indent=2)
    if fmt == "md":
        parts: List[str] = []
        for i, d in enumerate(dicts):
            if i > 0:
                parts.append("\n\n---\n")
            parts.append(d["content"])
        return "\n".join(parts)
    if fmt == "rag":
        rag = {
            "chunks": [
                {
                    "text": d["content"],
                    "metadata": {
                        "chunk_id": d["chunk_id"],
                        "level": d["level"],
                        "headings": d["headings"],
                        "content_length": d["content_length"],
                    },
                }
                for d in dicts
            ]
        }
        return _json.dumps(rag, ensure_ascii=False, indent=2)
    raise ValueError(f"unknown chunk export format: {fmt!r}")


def chunk_export_sink(df, fmt: str, level: str = "odsek"):
    """normalized documents → (doc_id, payload) in the chosen export format
    ('json' | 'md' | 'rag'). Document-local: chunking + formatting fuse into
    the same zero-shuffle mapInArrow stage (the reference writes one file
    per law; the Spark-native form is one payload row per doc, written by
    the caller's sink of choice)."""
    return map_docs(
        df, "doc_id string, payload string",
        lambda doc_id, spans: [(doc_id, export_chunks(chunk_document(doc_id, spans, level), fmt))],
    )


def chunk_sink(df, level: str = "odsek"):
    """normalized documents → chunk table (CHUNK_DDL), one row per chunk."""
    return map_docs(df, CHUNK_DDL, lambda doc_id, spans: chunk_document(doc_id, spans, level))


# ---------------------------------------------------------------------------
# Azure sink (the reference serializer matrix's fifth format:
# transforms/serializer/azure.py — a JSON accumulator over the document
# traversal mirroring the Azure Document Intelligence layout output:
# pages :505-515, paragraphs with role mapping :176-230, tables with
# anchor-only spanning cells + header kinds :235-310, figures with resolved
# footnote refs :313-361, TOPLEFT polygon normalization :77-100,
# exclude_none model dump + json.dumps(ensure_ascii=False) :516-519.
# Operates on the raw docling-JSON payload (the serializer's input IS the
# DoclingDocument); traversal follows body.children pointer order like
# read_docling_json.)
# ---------------------------------------------------------------------------

_AZURE_ROLE = {
    "title": "title",
    "section_header": "sectionHeading",
    "footnote": "footnote",
    "page_header": "pageHeader",
    "page_footer": "pageFooter",
}


def _az_dict(x) -> dict:
    """Malformed payloads degrade per-item, never fail the task."""
    return x if isinstance(x, dict) else {}


def _az_list(x) -> list:
    return x if isinstance(x, list) else []


def _azure_polygon(prov, pages: dict) -> "tuple[list | None, int]":
    """First-provenance polygon [l,t, r,t, r,b, l,b], normalized to TOPLEFT
    origin when the page size is known (azure.py:77-100 + the reference
    BoundingBox.to_top_left_origin: t'=h-t, b'=h-b). Returns (polygon,
    page_no); polygon None when the item carries no usable bbox — the
    caller then SKIPS the item, exactly the reference's gating."""
    prov = _az_list(prov)
    if not prov:
        return None, 1
    p = _az_dict(prov[0])
    page_no = p.get("page_no", 1)
    if not isinstance(page_no, int):
        page_no = 1
    bbox = _az_dict(p.get("bbox"))
    l, t, r, b = (bbox.get(k) for k in ("l", "t", "r", "b"))
    if any(not isinstance(x, (int, float)) or isinstance(x, bool)
           for x in (l, t, r, b)):
        return None, page_no
    size = _az_dict(_az_dict(pages.get(str(page_no))).get("size"))
    h = size.get("height")
    if isinstance(h, (int, float)) and not isinstance(h, bool) \
            and str(bbox.get("coord_origin", "TOPLEFT")).upper() != "TOPLEFT":
        t, b = h - t, h - b
    return [l, t, r, t, r, b, l, b], page_no


def render_azure(payload: str, indent: "int | None" = None) -> str:
    """One docling-JSON payload → the Azure-layout JSON string.

    Structure and field order mirror the reference's pydantic models
    (azure.py:120-174): pages(pageNumber, width, height, words=[]),
    tables(rowCount, columnCount, boundingRegions, cells), figures
    (boundingRegions[, footnotes]), paragraphs(content, boundingRegions
    [, role]) — None-valued optionals dropped (model_dump(exclude_none)),
    json.dumps(ensure_ascii=False, indent=indent) byte-for-byte."""
    import json as _json

    d = _az_dict(_json.loads(payload) if isinstance(payload, str) else payload)
    pages = _az_dict(d.get("pages"))
    texts = _az_list(d.get("texts"))
    tables = _az_list(d.get("tables"))
    pictures = _az_list(d.get("pictures"))

    out_tables: list = []
    out_figures: list = []
    out_paragraphs: list = []

    def _text_paragraph(t: dict) -> "dict | None":
        t = _az_dict(t)
        poly, page_no = _azure_polygon(t.get("prov"), pages)
        content = t.get("text")
        content = content if isinstance(content, str) else ""
        if content == "" and poly is not None:
            return None
        if poly is None:
            return None
        para = {
            "content": content,
            "boundingRegions": [{"pageNumber": page_no, "polygon": poly}],
        }
        role = _AZURE_ROLE.get(t.get("label"))
        if role is not None:
            para["role"] = role
        return para

    def _visit_text(t: dict) -> None:
        para = _text_paragraph(t)
        if para is not None:
            out_paragraphs.append(para)

    def _visit_table(tb: dict) -> None:
        tb = _az_dict(tb)
        poly, page_no = _azure_polygon(tb.get("prov"), pages)
        if poly is None:
            return
        data = _az_dict(tb.get("data"))
        grid = _az_list(data.get("grid"))
        cells = []
        for i, row in enumerate(grid):
            for j, cell in enumerate(_az_list(row)):
                cell = cell if isinstance(cell, dict) else None
                if cell is None:
                    continue
                if (i != cell.get("start_row_offset_idx")
                        or j != cell.get("start_col_offset_idx")):
                    continue  # spanning cells materialize once, at the anchor
                ctext = cell.get("text")
                c = {
                    "content": (ctext if isinstance(ctext, str) else "").strip(),
                    "rowIndex": cell.get("start_row_offset_idx"),
                    "columnIndex": cell.get("start_col_offset_idx"),
                    "rowSpan": max(cell.get("row_span") or 1, 1),
                    "colSpan": max(cell.get("col_span") or 1, 1),
                }
                kind = ("columnHeader" if cell.get("column_header")
                        else ("rowHeader" if cell.get("row_header") else None))
                if kind is not None:
                    c["kind"] = kind
                cb = _az_dict(cell.get("bbox"))
                if all(isinstance(cb.get(k), (int, float))
                       and not isinstance(cb.get(k), bool)
                       for k in ("l", "t", "r", "b")):
                    l, t, r, b = (cb.get(k) for k in ("l", "t", "r", "b"))
                    size = _az_dict(_az_dict(pages.get(str(page_no))).get("size"))
                    h = size.get("height")
                    if isinstance(h, (int, float)) and not isinstance(h, bool) \
                            and str(cb.get("coord_origin", "TOPLEFT")).upper() != "TOPLEFT":
                        t, b = h - t, h - b
                    c["boundingRegions"] = [
                        {"pageNumber": page_no, "polygon": [l, t, r, t, r, b, l, b]}
                    ]
                cells.append(c)
        out_tables.append({
            "rowCount": data.get("num_rows"),
            "columnCount": data.get("num_cols"),
            "boundingRegions": [{"pageNumber": page_no, "polygon": poly}],
            "cells": cells,
        })

    def _visit_picture(pic: dict) -> None:
        pic = _az_dict(pic)
        poly, page_no = _azure_polygon(pic.get("prov"), pages)
        if poly is None:
            return
        fig = {"boundingRegions": [{"pageNumber": page_no, "polygon": poly}]}
        foots = []
        for ref in _az_list(pic.get("footnotes")):
            m = re.match(r"^#/texts/(\d+)$", str(_az_dict(ref).get("$ref", "")))
            if not m or int(m.group(1)) >= len(texts):
                continue
            tgt = _az_dict(texts[int(m.group(1))])
            f_poly, f_page = _azure_polygon(tgt.get("prov"), pages)
            if f_poly is not None:
                f_text = tgt.get("text")
                foots.append({
                    "content": f_text if isinstance(f_text, str) else "",
                    "boundingRegions": [{"pageNumber": f_page, "polygon": f_poly}],
                })
        if foots:
            fig["footnotes"] = foots
        out_figures.append(fig)

    groups = _az_list(d.get("groups"))
    seen_groups: set = set()

    def _visit_children(children: list) -> None:
        # groups (lists, inline containers) emit nothing themselves — their
        # children flatten into the traversal (azure.py:398-431)
        for ch in _az_list(children):
            ref = str(_az_dict(ch).get("$ref", ""))
            m = re.match(r"^#/(texts|tables|pictures|groups)/(\d+)$", ref)
            if not m:
                continue
            kind, idx = m.group(1), int(m.group(2))
            if kind == "texts" and idx < len(texts):
                _visit_text(texts[idx])
            elif kind == "tables" and idx < len(tables):
                _visit_table(tables[idx])
            elif kind == "pictures" and idx < len(pictures):
                _visit_picture(pictures[idx])
            elif kind == "groups" and idx < len(groups) and idx not in seen_groups:
                seen_groups.add(idx)  # cycle guard on malformed payloads
                _visit_children(_az_list(_az_dict(groups[idx]).get("children")))

    children = _az_dict(d.get("body")).get("children")
    children = children if isinstance(children, list) else None
    if children is not None:
        _visit_children(children)
    else:  # payloads without a body: texts, then tables, then pictures
        for t in texts:
            _visit_text(t)
        for tb in tables:
            _visit_table(tb)
        for pic in pictures:
            _visit_picture(pic)

    out_pages = []
    page_nos = sorted(int(k) for k in pages if str(k).lstrip("-").isdigit())
    for page_no in page_nos:
        size = _az_dict(pages.get(str(page_no))).get("size")
        if isinstance(size, dict):
            out_pages.append({
                "pageNumber": page_no,
                "width": size.get("width"),
                "height": size.get("height"),
                "words": [],
            })
    data = {
        "pages": out_pages,
        "tables": out_tables,
        "figures": out_figures,
        "paragraphs": out_paragraphs,
    }
    return _json.dumps(data, ensure_ascii=False, indent=indent)


def azure_sink(df, json_col: str = "payload", indent: "int | None" = None):
    """(doc_id, payload docling-JSON) → (doc_id, azure). Zero-shuffle
    mapInPandas over the payload column (it carries no spans to marshal);
    per-doc payload parse + accumulator fold is the serializer itself (the
    reference's is the same per-document fold over pydantic objects)."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rendered = [render_azure(p, indent) for p in pdf[json_col]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "azure": rendered})

    return df.mapInPandas(gen, schema="doc_id string, azure string")
