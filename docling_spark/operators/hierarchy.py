"""Stage 4 — hierarchy reconstruction state machine (SURVEY.md §2.5 W1–W5).

The core operator: a single ordered O(n) pass over one document's flat span
stream that reconstructs the law hierarchy (part → § → odsek → pismeno →
subitem), annexes, and footnotes, emitting the normalized span sequence.

Semantics mirror the reference's single-pass reconstruction
(/root/reference/sequential_parser.py:2297-2390 driver loop; dispatch
2457-3123; close functions 3945-4541), with the same ordering rules:
- marker precedence part > § > pismeno > odsek > subitem — pismeno is checked
  *before* odsek (sequential_parser.py:2781);
- hyperlink-primary marker detection guarded by pure-marker text checks
  (F10, 1582-1624) so cross-references never open units;
- pismeno-vs-reference disambiguation from a ≤3-span lookbehind (F11,
  549-681, 2793-2818);
- law-end marker flips annex mode (F6, 2586-2646); '#poznamky' flips footnote
  mode; furniture ends footnote mode (2484-2520);
- unit texts accumulate and join with the reference's punctuation rules (A2).

This function is document-local by construction — the Spark plan applies it
inside mapInArrow batches with zero cross-row communication.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from docling_spark.functions import markers as M
from docling_spark.functions.furniture import is_furniture_span
from docling_spark.functions.textnorm import join_tokens, normalize_nbsp

Span = Tuple[str, str, Optional[str]]  # (kind, text, media_ref)

_LEVELS = ("part", "paragraph", "odsek", "pismeno", "subitem")


class _State:
    __slots__ = (
        "out", "part", "part_no", "paragraph", "odsek", "pismeno", "subitem",
        "annex_no", "footnote_no", "in_annex", "in_footnotes", "buf",
        "last_structural", "prev_texts", "prev_links",
    )

    def __init__(self) -> None:
        self.out: List[Span] = []
        self.part: Optional[str] = None
        self.part_no = 0
        self.paragraph: Optional[str] = None
        self.odsek: Optional[str] = None
        self.pismeno: Optional[str] = None
        self.subitem: Optional[str] = None
        self.annex_no: Optional[str] = None
        self.footnote_no: Optional[str] = None
        self.in_annex = False
        self.in_footnotes = False
        self.buf: List[str] = []
        self.last_structural: Optional[str] = None
        self.prev_texts: List[str] = []
        self.prev_links: List[Optional[str]] = []

    # --- unit paths ---------------------------------------------------------

    def unit_ref(self) -> Optional[str]:
        if self.in_footnotes and self.footnote_no:
            return f"#poznamky.poznamka-{self.footnote_no}"
        if self.in_annex and self.annex_no:
            return f"#priloha-{self.annex_no}"
        parts = []
        if self.paragraph:
            parts.append(f"paragraf-{self.paragraph}")
        if self.odsek:
            parts.append(f"odsek-{self.odsek}")
        if self.pismeno:
            parts.append(f"pismeno-{self.pismeno}")
        if self.subitem:
            parts.append(f"bod-{self.subitem}")
        if parts:
            return "#" + ".".join(parts)
        if self.part:
            return f"#cast-{self.part_no}"
        return None

    # --- emission ------------------------------------------------------------

    def flush(self) -> None:
        if self.buf:
            text = join_tokens(self.buf)
            if text:
                self.out.append(("text", text, self.unit_ref()))
            self.buf = []

    def emit(self, kind: str, text: str, ref: Optional[str]) -> None:
        self.flush()
        self.out.append((kind, text, ref))
        self.last_structural = kind

    def close_below(self, level: str) -> None:
        """Close all open units strictly deeper than `level` (the reference's
        _close_* cascade, sequential_parser.py:3945-4541 — our emission is
        stream-ordered, so closing = flushing text + clearing state)."""
        self.flush()
        idx = _LEVELS.index(level)
        if idx < 4:
            self.subitem = None
        if idx < 3:
            self.pismeno = None
        if idx < 2:
            self.odsek = None
        if idx < 1:
            self.paragraph = None


def reconstruct(spans: List[Span]) -> List[Span]:
    """Run the state machine over one document's ordered flat spans."""
    st = _State()

    for kind, raw_text, link in spans:
        text = normalize_nbsp(raw_text)

        # furniture: structurally labeled or blocklisted (F13) — ends
        # footnote mode, otherwise dropped
        if is_furniture_span(kind, text):
            if st.in_footnotes:
                st.flush()
                st.in_footnotes = False
                st.footnote_no = None
            continue

        if kind == "title":
            st.emit("title", text, None)
            continue
        if kind == "media":
            st.flush()
            st.out.append(("media", text, link))
            continue
        if kind == "table_cell":
            st.flush()
            st.out.append(("table_cell", text, link))
            continue
        if kind == "list_item":
            st.flush()
            st.out.append(("list_item", text, link))
            continue
        if kind == "caption":
            # captions never join unit text (F16, common.py:391-394) —
            # emitted standalone next to their float
            st.flush()
            st.out.append(("caption", text, link))
            continue

        if not text:
            continue

        # ---- footnotes mode (W4) ------------------------------------------
        if st.in_footnotes:
            foot = M.detect_footnote_marker(text, link)
            if foot:
                st.flush()
                st.footnote_no = foot
                st.emit("footnote", f"{foot})", f"#poznamky.poznamka-{foot}")
                # definition text may share the span: "1) Zákon č. ..."
                rest = text[len(foot) + 1 :].strip()
                if rest:
                    st.buf.append(rest)
            else:
                st.buf.append(text)
            continue

        if M.detect_footnotes_section(text, link):
            st.flush()
            st.in_footnotes = True
            st.in_annex = False
            st.annex_no = None
            st.emit("section_header", text, "#poznamky")
            continue

        # ---- annex mode (W4) -----------------------------------------------
        annex = M.detect_annex_marker(text)
        if annex and (st.in_annex or kind == "section_header" or "k zákonu" in text.lower()):
            st.flush()
            st.in_annex = True
            st.annex_no = annex
            st.paragraph = st.odsek = st.pismeno = st.subitem = None
            st.emit("annex", text, f"#priloha-{annex}")
            continue

        if M.detect_law_end_marker(text):
            st.flush()
            st.buf.append(text)
            st.flush()
            st.in_annex = True
            continue

        if st.in_annex:
            st.buf.append(text)
            continue

        # ---- structural markers, precedence part > § > pismeno > odsek ------
        part = M.detect_part_marker(text)
        if part:
            st.close_below("part")
            st.part = part
            st.part_no += 1
            st.paragraph = st.odsek = st.pismeno = st.subitem = None
            st.emit("part", part, f"#cast-{st.part_no}")
            continue

        para = M.detect_paragraph_marker(text, link)
        if para and M.is_pure_section_marker(text):
            st.close_below("paragraph")
            st.paragraph = para
            st.odsek = st.pismeno = st.subitem = None
            st.emit("paragraph", f"§ {para}", f"#paragraf-{para}")
            continue

        if kind == "section_header":
            st.flush()
            if st.last_structural == "paragraph":
                st.out.append(("paragraph_title", text, None))
                st.last_structural = "paragraph_title"
            else:
                st.out.append(("section_header", text, None))
                st.last_structural = "section_header"
            continue

        # pismeno before odsek (sequential_parser.py:2781)
        pis = M.detect_pismeno_marker(text, link)
        if pis and st.paragraph and not M.is_pismeno_reference_in_context(
            st.prev_texts, st.prev_links
        ):
            pure = text.rstrip().endswith(")") and text.rstrip()[:-1].strip().isalpha()
            extracted = M.extract_marker_from_text(text, "pismeno")
            if link and "pismeno-" in str(link) or pure or extracted:
                st.close_below("pismeno")
                st.pismeno = pis
                st.subitem = None
                st.emit("pismeno", f"{pis})", st.unit_ref())
                if extracted and extracted[1]:
                    st.buf.append(extracted[1])
                st.prev_texts = (st.prev_texts + [text])[-3:]
                st.prev_links = (st.prev_links + [link])[-3:]
                continue

        ods = M.detect_odsek_marker(text, link)
        if ods and st.paragraph:
            pure_link = link and "odsek-" in str(link)
            extracted = M.extract_marker_from_text(text, "odsek")
            if pure_link or extracted or (text.startswith("(") and text.endswith(")")):
                st.close_below("odsek")
                st.odsek = ods
                st.pismeno = st.subitem = None
                st.emit("odsek", f"({ods})", st.unit_ref())
                if extracted and extracted[1]:
                    st.buf.append(extracted[1])
                st.prev_texts = (st.prev_texts + [text])[-3:]
                st.prev_links = (st.prev_links + [link])[-3:]
                continue

        sub = M.detect_subitem_marker(text)
        if sub and st.pismeno:
            extracted = M.extract_marker_from_text(text, "subitem")
            st.close_below("subitem")
            st.subitem = sub
            st.emit("subitem", f"{sub}.", st.unit_ref())
            if extracted and extracted[1]:
                st.buf.append(extracted[1])
            st.prev_texts = (st.prev_texts + [text])[-3:]
            st.prev_links = (st.prev_links + [link])[-3:]
            continue

        # ---- plain text ------------------------------------------------------
        st.buf.append(text)
        st.prev_texts = (st.prev_texts + [text])[-3:]
        st.prev_links = (st.prev_links + [link])[-3:]

    st.flush()
    return st.out
