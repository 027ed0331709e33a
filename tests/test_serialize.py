"""Tests for markdown sink (S7/C7) and law-level chunking (K5)."""

import random

from docling_spark.operators.serialize import chunk_document, render_markdown
from docling_spark.pipeline import extract_document
from docling_spark.synth import synth_corpus

_SPANS = [
    ("title", "Zákon č. 1/2020 Z. z.", None),
    ("part", "PRVÁ ČASŤ", "#cast-1"),
    ("paragraph", "§ 1", "#paragraf-1"),
    ("paragraph_title", "Predmet", None),
    ("odsek", "(1)", "#paragraf-1.odsek-1"),
    ("text", "Obsah prvého odseku.", "#paragraf-1.odsek-1"),
    ("odsek", "(2)", "#paragraf-1.odsek-2"),
    ("text", "Obsah druhého odseku.", "#paragraf-1.odsek-2"),
    ("table_cell", "A", "#/tables/0/r0c0"),
    ("table_cell", "B", "#/tables/0/r0c1"),
    ("table_cell", "1", "#/tables/0/r1c0"),
    ("table_cell", "2", "#/tables/0/r1c1"),
    ("media", "obrázok", "img://x.png"),
    ("footnote", "1)", "#poznamky.poznamka-1"),
    ("text", "Poznámka text.", "#poznamky.poznamka-1"),
]


def test_render_markdown():
    md = render_markdown(_SPANS)
    assert "# Zákon č. 1/2020 Z. z." in md
    assert "## § 1" in md
    assert "### Predmet" in md
    assert "**(1)**" in md
    assert "| A | B |" in md
    assert "| --- | --- |" in md
    assert "| 1 | 2 |" in md
    assert "![obrázok](img://x.png)" in md


def test_chunk_document_odsek_level():
    chunks = chunk_document("doc1", _SPANS, level="odsek")
    by_id = {c[1]: c for c in chunks}
    assert "doc1/paragraf-1.odsek-1" in by_id
    c1 = by_id["doc1/paragraf-1.odsek-1"]
    assert c1[2] == "odsek"
    assert "Obsah prvého odseku." in c1[3]
    # heading context: title → part → § → § title (W2 heading-scope tracking)
    assert c1[4] == ["Zákon č. 1/2020 Z. z.", "PRVÁ ČASŤ", "§ 1", "Predmet"]
    # footnote chunks whole
    assert any(c[2] == "footnote" for c in chunks)


def test_chunk_document_paragraph_level():
    chunks = chunk_document("doc1", _SPANS, level="paragraph")
    para = [c for c in chunks if c[2] == "paragraph"]
    assert len(para) == 1
    assert "Obsah prvého odseku." in para[0][3]
    assert "Obsah druhého odseku." in para[0][3]


def test_chunk_and_markdown_over_corpus():
    for doc_id, spans in synth_corpus(20, seed=42):
        out = extract_document([(s["kind"], s["text"], s["media_ref"]) for s in spans])
        md = render_markdown(out)
        assert md.strip()
        chunks = chunk_document(doc_id, out, level="odsek")
        for c in chunks:
            assert c[5] == len(c[3])  # content_length consistent


def test_spark_sinks(spark, corpus_path):
    from docling_spark.operators.serialize import chunk_sink, markdown_sink
    from docling_spark.pipeline import extract

    normalized = extract(spark.read.parquet(corpus_path))
    md = markdown_sink(normalized)
    assert md.filter("markdown is null or markdown = ''").count() == 0
    assert md.count() == 60
    chunks = chunk_sink(normalized, level="odsek")
    assert chunks.filter("content_length != length(content)").count() == 0
    assert chunks.count() > 0
    for df in (md, chunks):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


def test_render_html():
    from docling_spark.operators.serialize import render_html

    spans = _SPANS + [
        ("list_item", "prvý bod", None),
        ("list_item", "a < b & c", None),
        ("caption", "Tabuľka 1", None),
    ]
    h = render_html(spans)
    assert "<h1>Zákon č. 1/2020 Z. z.</h1>" in h
    assert "<h1>PRVÁ ČASŤ</h1>" in h
    assert "<h2>§ 1</h2>" in h
    assert "<h3>Predmet</h3>" in h
    assert "<p><b>(1)</b></p>" in h
    assert "<table><tbody><tr><th>A</th><th>B</th></tr><tr><td>1</td><td>2</td></tr></tbody></table>" in h
    assert '<figure><img src="img://x.png" alt="obrázok" /></figure>' in h
    # list grouping + escaping
    assert "<ul>\n<li>prvý bod</li>\n<li>a &lt; b &amp; c</li>\n</ul>" in h
    assert "<figcaption>Tabuľka 1</figcaption>" in h


def test_html_goldens():
    """Committed HTML fixtures over the same golden docs as the span-sequence
    suite. Regenerate after a REVIEWED change with:
        python -c "from tests.test_serialize import regen_html; regen_html()"
    """
    import glob
    import json
    import os

    from docling_spark.operators.serialize import render_html

    gdir = os.path.join(os.path.dirname(__file__), "golden")
    fixtures = sorted(glob.glob(os.path.join(gdir, "*.html")))
    assert fixtures, "no committed .html goldens"
    for path in fixtures:
        doc_id = os.path.splitext(os.path.basename(path))[0]
        with open(os.path.join(gdir, f"{doc_id}.json")) as f:
            spans = [tuple(s) for s in json.load(f)]
        with open(path) as f:
            golden = f.read()
        assert render_html(spans) == golden, f"html mismatch for {doc_id}"


def test_html_sink_spark(spark, corpus_path):
    from docling_spark.operators.serialize import html_sink
    from docling_spark.pipeline import extract

    out = html_sink(extract(spark.read.parquet(corpus_path)))
    assert out.filter("html is null or html = ''").count() == 0
    assert out.count() == 60
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def regen_html():
    import glob
    import json
    import os

    from docling_spark.operators.serialize import render_html

    gdir = os.path.join(os.path.dirname(__file__), "golden")
    for jpath in sorted(glob.glob(os.path.join(gdir, "*.json"))):
        doc_id = os.path.splitext(os.path.basename(jpath))[0]
        with open(jpath) as f:
            spans = [tuple(s) for s in json.load(f)]
        with open(os.path.join(gdir, f"{doc_id}.html"), "w") as f:
            f.write(render_html(spans))


def test_export_chunks_formats():
    import json

    from docling_spark.operators.serialize import chunk_document, export_chunks

    chunks = chunk_document("doc1", _SPANS, level="odsek")
    j = json.loads(export_chunks(chunks, "json"))
    assert len(j) == len(chunks)
    assert j[0]["chunk_id"] == chunks[0][1]
    assert j[0]["content_length"] == len(j[0]["content"])

    rag = json.loads(export_chunks(chunks, "rag"))
    assert set(rag) == {"chunks"}
    assert rag["chunks"][0]["text"] == chunks[0][3]
    assert rag["chunks"][0]["metadata"]["chunk_id"] == chunks[0][1]

    md = export_chunks(chunks, "md")
    # reference separator layout: parts joined by '\n' with '\n\n---\n' items
    assert md.count("\n\n\n---\n\n") == len(chunks) - 1
    assert md.startswith(chunks[0][3])


def test_chunk_export_sink_spark(spark, corpus_path):
    from docling_spark.operators.serialize import chunk_export_sink
    from docling_spark.pipeline import extract

    out = chunk_export_sink(extract(spark.read.parquet(corpus_path)), fmt="rag")
    assert out.count() == 60
    assert out.filter("payload not like '{%'").count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_render_doctags():
    from docling_spark.operators.serialize import render_doctags

    spans = _SPANS + [("list_item", "bod", None)]
    d = render_doctags(spans)
    assert d.startswith("<doctag>")
    assert d.rstrip().endswith("</doctag>")
    assert "<title>Zákon č. 1/2020 Z. z.</title>" in d
    assert "<section_header_level_1>PRVÁ ČASŤ</section_header_level_1>" in d
    assert "<section_header_level_2>§ 1</section_header_level_2>" in d
    assert "<section_header_level_3>Predmet</section_header_level_3>" in d
    assert "<text>(1)</text>" in d
    assert "<otsl><ched>A<ched>B<nl><fcel>1<fcel>2<nl></otsl>" in d
    assert "<picture>obrázok</picture>" in d
    assert "<footnote>1)</footnote>" in d
    assert "<unordered_list>\n<list_item>bod</list_item>\n</unordered_list>" in d


def test_doctags_goldens():
    """Committed doctags fixtures; regen with
        python -c "from tests.test_serialize import regen_doctags; regen_doctags()"
    """
    import glob
    import json
    import os

    from docling_spark.operators.serialize import render_doctags

    gdir = os.path.join(os.path.dirname(__file__), "golden")
    fixtures = sorted(glob.glob(os.path.join(gdir, "*.dt")))
    assert fixtures, "no committed .dt goldens"
    for path in fixtures:
        doc_id = os.path.splitext(os.path.basename(path))[0]
        with open(os.path.join(gdir, f"{doc_id}.json")) as f:
            spans = [tuple(s) for s in json.load(f)]
        with open(path) as f:
            golden = f.read()
        assert render_doctags(spans) == golden, f"doctags mismatch for {doc_id}"


def test_doctags_sink_spark(spark, corpus_path):
    from docling_spark.operators.serialize import doctags_sink
    from docling_spark.pipeline import extract

    out = doctags_sink(extract(spark.read.parquet(corpus_path)))
    assert out.filter("doctags not like '<doctag>%'").count() == 0
    assert out.count() == 60
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def regen_doctags():
    import glob
    import json
    import os

    from docling_spark.operators.serialize import render_doctags

    gdir = os.path.join(os.path.dirname(__file__), "golden")
    for jpath in sorted(glob.glob(os.path.join(gdir, "*.json"))):
        doc_id = os.path.splitext(os.path.basename(jpath))[0]
        with open(jpath) as f:
            spans = [tuple(s) for s in json.load(f)]
        with open(os.path.join(gdir, f"{doc_id}.dt"), "w") as f:
            f.write(render_doctags(spans))


def test_render_latex():
    from docling_spark.operators.serialize import _latex_escape, render_latex

    assert _latex_escape("a_b & 100% {x} \\ ~z^2 $#") == (
        r"a\_b \& 100\% \{x\} \textbackslash{} \textasciitilde{}z"
        r"\textasciicircum{}2 \$\#"
    )
    spans = _SPANS + [("list_item", "prvý bod", None), ("list_item", "a_b", None)]
    tex = render_latex(spans)
    assert "\\title{Zákon č. 1/2020 Z. z.}" in tex
    assert "\\section{PRVÁ ČASŤ}" in tex
    assert "\\subsection{§ 1}" in tex
    assert "\\subsubsection{Predmet}" in tex
    assert "\\textbf{(1)}" in tex
    assert "\\begin{tabular}{|l|l|}" in tex
    assert "A & B \\\\ \\hline" in tex
    assert "\\includegraphics{img://x.png}" in tex
    assert "\\begin{itemize}\n\\item prvý bod\n\\item a\\_b\n\\end{itemize}" in tex


def test_latex_goldens():
    """Committed LaTeX fixtures; regen with
        python -c "from tests.test_serialize import regen_latex; regen_latex()"
    """
    import glob
    import json
    import os

    from docling_spark.operators.serialize import render_latex

    gdir = os.path.join(os.path.dirname(__file__), "golden")
    fixtures = sorted(glob.glob(os.path.join(gdir, "*.tex")))
    assert fixtures, "no committed .tex goldens"
    for path in fixtures:
        doc_id = os.path.splitext(os.path.basename(path))[0]
        with open(os.path.join(gdir, f"{doc_id}.json")) as f:
            spans = [tuple(s) for s in json.load(f)]
        with open(path) as f:
            golden = f.read()
        assert render_latex(spans) == golden, f"latex mismatch for {doc_id}"


def regen_latex():
    import glob
    import json
    import os

    from docling_spark.operators.serialize import render_latex

    gdir = os.path.join(os.path.dirname(__file__), "golden")
    for jpath in sorted(glob.glob(os.path.join(gdir, "*.json"))):
        doc_id = os.path.splitext(os.path.basename(jpath))[0]
        with open(jpath) as f:
            spans = [tuple(s) for s in json.load(f)]
        with open(os.path.join(gdir, f"{doc_id}.tex"), "w") as f:
            f.write(render_latex(spans))


def test_render_html_attribute_injection_escaped():
    # ADVICE regression: a '"' in span text or media_ref used to break out
    # of the img src/alt attribute and produce injectable HTML
    from docling_spark.operators.serialize import render_html

    h = render_html([
        ("media", 'x" onerror="alert(1)', 'img://a"b.png'),
    ])
    assert 'src="img://a&quot;b.png"' in h
    assert 'alt="x&quot; onerror=&quot;alert(1)"' in h
    assert '" onerror="' not in h


def test_render_kv_and_form_regions():
    # kv/form span pairs → markdown '**key**: v1, v2' lines (the reference's
    # own markdown KV serializer is a TODO stub, markdown.py:553-573) and
    # the reference's flat <dl> HTML rendering (html.py:585-598, 654-726)
    from docling_spark.operators.serialize import render_html, render_markdown

    kvref = "#/key_value_items/0"
    spans = [
        ("text", "intro", None),
        ("kv", "Meno", kvref),
        ("kv_value", "Ján & syn", kvref),
        ("kv", "Adresa", kvref),
        ("kv_value", "Bratislava", kvref),
        ("kv", "Adresa", kvref),                 # repeated key merges
        ("kv_value", "Slovensko", kvref),
        ("form_field", "Podpis", "#/form_items/0"),
        ("form_value", "áno", "#/form_items/0"),
        ("text", "záver", None),
    ]
    md = render_markdown(spans)
    assert "**Meno**: Ján & syn\n**Adresa**: Bratislava, Slovensko\n" in md
    assert "**Podpis**: áno" in md
    assert md.index("intro") < md.index("**Meno**") < md.index("záver")

    h = render_html(spans)
    assert (
        '<div class="key-value-region">\n<dl class="key-value-region">\n'
        "<dt>Meno</dt>\n<dd>Ján &amp; syn</dd>\n"
        "<dt>Adresa</dt>\n<dd>Bratislava</dd>\n<dd>Slovensko</dd>\n"
        "</dl>\n</div>" in h
    )
    assert (
        '<div class="form-container">\n<dl class="form-container">\n'
        "<dt>Podpis</dt>\n<dd>áno</dd>\n</dl>\n</div>" in h
    )
    assert h.index("<p>intro</p>") < h.index("key-value-region") < h.index("<p>záver</p>")


def test_render_kv_interleaved_links_group_by_key_cell():
    # The reference groups ALL values per key CELL in first-seen order
    # (value_links dict keyed on source_cell_id, html.py:556-598): k1→v1,
    # k2→v2, k1→v3 renders ONE <dt>k1</dt> with v1+v3 grouped, and two
    # distinct key cells with identical text stay separate <dt> entries.
    # The reader threads the identity through '/c<cell_id>' ref suffixes.
    from docling_spark.operators.serialize import (
        render_html,
        render_latex,
        render_markdown,
    )

    r = "#/key_value_items/0"
    spans = [
        ("kv", "Meno", f"{r}/c0"),
        ("kv_value", "Ján", f"{r}/c0"),
        ("kv", "Stav", f"{r}/c2"),
        ("kv_value", "platný", f"{r}/c2"),
        ("kv", "Meno", f"{r}/c0"),          # same key cell, interleaved
        ("kv_value", "Novák", f"{r}/c0"),
        ("kv", "Meno", f"{r}/c4"),          # DIFFERENT cell, same text
        ("kv_value", "iný", f"{r}/c4"),
    ]
    h = render_html(spans)
    assert (
        "<dt>Meno</dt>\n<dd>Ján</dd>\n<dd>Novák</dd>\n"
        "<dt>Stav</dt>\n<dd>platný</dd>\n"
        "<dt>Meno</dt>\n<dd>iný</dd>" in h
    )
    md = render_markdown(spans)
    assert "**Meno**: Ján, Novák\n**Stav**: platný\n**Meno**: iný\n" in md
    # latex sink now renders kv regions as a description list (was: generic
    # paragraph fallthrough)
    lx = render_latex(spans)
    assert (
        "\\begin{description}\n"
        "\\item[Meno] Ján, Novák\n"
        "\\item[Stav] platný\n"
        "\\item[Meno] iný\n"
        "\\end{description}" in lx
    )


def test_render_kv_region_splits_on_item_boundary():
    # adjacent graph ITEMS are separate regions (one <div> per item in the
    # reference, html.py:654-726) even when the same family runs on
    from docling_spark.operators.serialize import render_html

    spans = [
        ("kv", "A", "#/key_value_items/0/c0"),
        ("kv_value", "1", "#/key_value_items/0/c0"),
        ("kv", "B", "#/key_value_items/1/c0"),
        ("kv_value", "2", "#/key_value_items/1/c0"),
    ]
    h = render_html(spans)
    assert h.count('<div class="key-value-region">') == 2
