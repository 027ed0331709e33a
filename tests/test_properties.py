"""Property-based tests (hypothesis) for invariants the goldens can't cover
exhaustively: parser equivalence, decode round-trips, reading-order
permutation invariance, extraction determinism."""

import random

from hypothesis import given, settings, strategies as st

from docling_spark.functions.textnorm import (
    decode_character_codes,
    join_tokens,
    normalize_nbsp,
    normalize_text_for_matching,
)
from docling_spark.operators.html_extract import (
    extract_html_spans,
    extract_html_spans_robust,
)
from docling_spark.operators.pdf_extract import normalize_pdf_spans
from docling_spark.pipeline import extract_document
from docling_spark.synth import synth_corpus, synth_html_law, synth_pdf_annex

# --- fast HTML tokenizer ≡ stdlib parser over the whole grammar space --------


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=10**9))
def test_fast_parser_equals_stdlib_on_grammar(seed):
    rng = random.Random(seed)
    html = synth_html_law(f"law-{seed}", rng)[0]["text"]
    assert extract_html_spans(html) == extract_html_spans_robust(html)


@settings(max_examples=60, deadline=None)
@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="<>&"),
        max_size=200,
    )
)
def test_fast_parser_equals_stdlib_on_arbitrary_text_payload(payload):
    html = f"<html><body><div class='text'>{payload}</div></body></html>"
    assert extract_html_spans(html) == extract_html_spans_robust(html)


# --- decode: round-trip + idempotence on code-free text -----------------------


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=200))
def test_decode_idempotent_without_codes(text):
    if "/c" not in text:
        assert decode_character_codes(text) == text


@settings(max_examples=80, deadline=None)
@given(st.lists(st.integers(min_value=32, max_value=0x2FFF), max_size=30))
def test_decode_all_codes_consumed(codes):
    encoded = "".join(f"/c{c}" for c in codes)
    decoded = decode_character_codes(encoded)
    assert "/c" not in (decoded or "")


# --- join_tokens invariants ----------------------------------------------------


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc ,.()", max_size=8).filter(lambda t: "  " not in t),
        max_size=12,
    )
)
def test_join_tokens_never_introduces_double_spaces(tokens):
    # joining never ADDS double spaces (internal token whitespace is
    # preserved by reference semantics — tokens are only edge-stripped)
    out = join_tokens(tokens)
    assert "  " not in out
    assert out == out.strip()


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=100))
def test_normalizers_total(text):
    # never raise, always return str
    assert isinstance(normalize_nbsp(text), str)
    assert isinstance(normalize_text_for_matching(text), str)
    assert "\xa0" not in normalize_nbsp(text)


# --- reading order: permutation invariance -------------------------------------


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10**6), st.integers(min_value=0, max_value=10**6))
def test_pdf_reading_order_permutation_invariant(seed, shuffle_seed):
    rng = random.Random(seed)
    spans = [(s["kind"], s["text"], s["media_ref"]) for s in synth_pdf_annex("a", rng)]
    out1 = normalize_pdf_spans(spans)
    shuffled = spans[:]
    random.Random(shuffle_seed).shuffle(shuffled)
    out2 = normalize_pdf_spans(shuffled)
    # geometry carries the truth: input order must not matter for cells with
    # geometry; media spans (no geometry) keep relative order — compare the
    # geometric part
    geo1 = [s for s in out1 if s[0] != "media"]
    geo2 = [s for s in out2 if s[0] != "media"]
    assert geo1 == geo2


# --- extraction determinism + structural invariants -----------------------------


def test_extraction_deterministic_and_offsets_dense():
    for doc_id, raw in synth_corpus(30, seed=7):
        spans = [(s["kind"], s["text"], s["media_ref"]) for s in raw]
        a = extract_document(spans)
        b = extract_document(spans)
        assert a == b
        # unit text spans always carry their unit ref right after a marker
        for i, (kind, text, ref) in enumerate(a):
            if kind in ("odsek", "pismeno", "subitem", "footnote"):
                assert ref, f"{doc_id}: structural span without unit ref at {i}"


def test_extraction_never_emits_raw_kinds():
    raw_only = {"html_bytes", "pdf_cell", "page_footer", "page_header"}
    for doc_id, raw in synth_corpus(30, seed=11):
        spans = [(s["kind"], s["text"], s["media_ref"]) for s in raw]
        for kind, _, _ in extract_document(spans):
            assert kind not in raw_only


def test_hybrid_chunker_budget_invariant_property():
    """Property: for random documents and budgets, every emitted chunk
    respects max_tokens (the single sanctioned overflow is a lone word whose
    own token count exceeds the whole budget), text survives in order, and
    chunk_no is dense."""
    from hypothesis import given, settings, strategies as st

    from docling_spark.operators.hybrid_chunker import (
        count_tokens,
        hybrid_chunk_document,
    )

    words = st.text(alphabet="abcdefgh", min_size=1, max_size=12)

    @st.composite
    def spans(draw):
        out = [("title", "Zákon", None)]
        n_para = draw(st.integers(1, 3))
        for p in range(1, n_para + 1):
            out.append(("paragraph", f"§ {p}", f"#paragraf-{p}"))
            for o in range(1, draw(st.integers(1, 3)) + 1):
                out.append(("odsek", f"({o})", f"#paragraf-{p}.odsek-{o}"))
                body = " ".join(draw(st.lists(words, min_size=1, max_size=60)))
                out.append(("text", body, f"#paragraf-{p}.odsek-{o}"))
        return out

    @settings(max_examples=60, deadline=None)
    @given(spans=spans(), max_tokens=st.integers(4, 96))
    def run(spans, max_tokens):
        chunks = hybrid_chunk_document("d", spans, max_tokens=max_tokens)
        assert [c[1] for c in chunks] == list(range(len(chunks)))
        for _d, _no, _cid, content, headings, n_tokens, _nu in chunks:
            if n_tokens > max_tokens:
                # sanctioned only when a single word alone busts the budget
                header = sum(count_tokens(h) for h in headings)
                words_ = content.split()
                assert len(words_) == 1 or header >= max_tokens or any(
                    count_tokens(w) > max_tokens - header for w in words_
                ), (content, headings, n_tokens, max_tokens)
        # order-preserving text survival
        src = " ".join(t for k, t, _ in spans if k == "text")
        got = " ".join(
            w for c in chunks for w in c[3].split() if not w.startswith(("§", "("))
        )
        for w in src.split():
            assert w in got

    run()


def test_fast_parser_equivalence_fuzzed():
    """Differential fuzz: on arbitrary tag soup (quotes, '>', entities,
    nesting, truncation), the fast tokenizer must either defer (None) or
    produce the exact span stream of the stdlib parser."""
    from hypothesis import given, settings, strategies as st

    from docling_spark.operators.html_extract import (
        extract_html_spans,
        extract_html_spans_robust,
    )

    tags = st.sampled_from(["div", "a", "span", "sup", "img", "title", "b"])
    klass = st.sampled_from(
        ["text", "odsek", "pismenoOznacenie", "nadpis", "menu", "x y", ""]
    )
    attr_val = st.text(
        alphabet="abc >/'\"&=#-", min_size=0, max_size=12
    )
    text_piece = st.text(
        alphabet="aá bč.(1)&amp;<>§ ", min_size=0, max_size=20
    )

    @st.composite
    def soup(draw):
        parts = []
        for _ in range(draw(st.integers(0, 12))):
            kind = draw(st.integers(0, 4))
            if kind == 0:
                t = draw(tags)
                c = draw(klass)
                v = draw(attr_val).replace('"', "")  # keep quotes balanced here
                parts.append(f'<{t} class="{c}" href="{v}">')
            elif kind == 1:
                parts.append(f"</{draw(tags)}>")
            elif kind == 2:
                parts.append(draw(text_piece))
            elif kind == 3:
                # attribute value with a quoted '>' — the odd-quote fallback path
                parts.append(f'<a title="x{draw(st.sampled_from([">", ">>", "a>b"]))}y">')
            else:
                parts.append(draw(st.sampled_from([
                    "<", ">", "<x", "< div>", "<a b='unterminated>",
                    "<!DOCTYPE html>", "<br/>", "&nbsp;",
                ])))
        return "".join(parts)

    @settings(max_examples=400, deadline=None)
    @given(payload=soup())
    def run(payload):
        fast = extract_html_spans(payload)       # auto path (fast or fallback)
        robust = extract_html_spans_robust(payload)
        assert fast == robust, payload

    run()


def test_pdf_normalize_never_raises_fuzz():
    """Robustness fuzz for the PDF path: arbitrary decoded/encoded cell
    streams with junk geometry must not crash, and outputs stay in the
    closed kind set."""
    from hypothesis import given, settings, strategies as st

    from docling_spark.operators.pdf_extract import normalize_pdf_spans
    from docling_spark.schema import NORMALIZED_KINDS

    kinds = st.sampled_from(["pdf_cell", "text", "section_header", "media", "list_item"])
    texts = st.text(
        alphabet="0123456789-. Odpisová skupina Príloha č/cPoznámky k zákonu a",
        min_size=0, max_size=30,
    )
    refs = st.one_of(
        st.none(),
        st.sampled_from(["p=1;l=10;t=100", "p=2;l=0;t=0", "p=1;l=-5;t=1e9",
                         "junk", "img://x.png"]),
    )
    stream = st.lists(st.tuples(kinds, texts, refs), min_size=0, max_size=25)

    @settings(max_examples=200, deadline=None)
    @given(spans=stream)
    def run(spans):
        out = normalize_pdf_spans(list(spans))
        for k, t, r in out:
            assert k in NORMALIZED_KINDS, (k, t)

    run()


# --- serializers never crash and respect structural invariants ---------------

_KINDS = st.sampled_from(
    ["title", "part", "paragraph", "paragraph_title", "section_header",
     "odsek", "pismeno", "subitem", "text", "list_item", "caption",
     "footnote", "annex", "media", "table_cell", "error"]
)
_SPAN = st.tuples(
    _KINDS,
    st.text(max_size=60),
    st.one_of(st.none(), st.just("#/tables/0/r0c0"), st.just("#/tables/0/r1c1"),
              st.just("#paragraf-1"), st.text(alphabet="abc#/r0c1", max_size=12)),
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_SPAN, max_size=40))
def test_serializers_total_on_arbitrary_streams(spans):
    from docling_spark.operators.serialize import (
        render_doctags,
        render_html,
        render_latex,
        render_markdown,
    )

    md = render_markdown(spans)
    h = render_html(spans)
    d = render_doctags(spans)
    tex = render_latex(spans)
    assert all(isinstance(x, str) for x in (md, h, d, tex))
    assert d.startswith("<doctag>") and d.rstrip().endswith("</doctag>")
    # html escaping: raw text '<' never leaks into html output unescaped
    # (every '<' in output starts one of our emitted tags)
    import re

    for frag in re.split(r"<[^>]*>", h):
        assert "<" not in frag


@settings(max_examples=60, deadline=None)
@given(st.lists(_SPAN, max_size=40), st.integers(min_value=4, max_value=64))
def test_hybrid_chunker_budget_invariant_on_arbitrary_streams(spans, budget):
    from docling_spark.operators.hybrid_chunker import (
        count_tokens,
        hybrid_chunk_document,
    )

    chunks = hybrid_chunk_document("d", spans, max_tokens=budget)
    for (_d, _no, _cid, content, headings, n_tokens, _units) in chunks:
        # a chunk over budget is only legal when it is a single unsplittable
        # word (emitted alone by the K3 fallback)
        if n_tokens > budget:
            assert len(content.split()) == 1


def test_parse_doctags_never_raises_fuzz():
    # ingestion paths must degrade, not crash, on arbitrary model output
    from hypothesis import given, settings, strategies as st

    from docling_spark.sources.readers import parse_doctags

    tags = st.sampled_from([
        "<doctag>", "</doctag>", "<text>", "</text>", "<otsl>", "</otsl>",
        "<ched>", "<fcel>", "<ecel>", "<nl>", "<title>", "</title>",
        "<section_header_level_2>", "</section_header_level_2>",
        "<picture>", "</picture>", "<list_item>", "</list_item>", "<",
    ])
    chunks = st.lists(st.one_of(tags, st.text(max_size=12)), max_size=24)

    @settings(max_examples=300, deadline=None)
    @given(parts=chunks)
    def run(parts):
        out = parse_doctags("".join(parts))
        assert isinstance(out, list)
        for k, t, r in out:
            assert isinstance(k, str) and isinstance(t, str)

    run()
