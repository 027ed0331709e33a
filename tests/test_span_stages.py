"""Every per-document span stage, run through Spark, must emit exactly what
its in-process per-document function returns for the same input.

The stages share one Arrow transport, so this pins the transport for each of
them: span order and offsets, NULL and empty `spans`, the optional `fmt`
channel, one-row-per-doc sinks and one-row-per-chunk sinks."""

import pytest

from docling_spark.schema import DOC_DDL

_EXTRA_DOCS = [("null-spans", None), ("empty-spans", [])]


def _frozen(value):
    """Rows → hashable, order-free comparable values (lists become tuples)."""
    if isinstance(value, (list, tuple)):  # pyspark Rows are tuples
        return tuple(_frozen(v) for v in value)
    return value


def _rows(df):
    return sorted(_frozen(r) for r in df.collect())


def _with_offsets(spans):
    return [(k, t, r, i) for i, (k, t, r) in enumerate(spans)]


@pytest.fixture(scope="module")
def raw_local():
    """doc_id → raw span tuples, as the stages see them (NULL → [])."""
    from docling_spark.synth import synth_corpus

    docs = {
        doc_id: [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        for doc_id, spans in synth_corpus(60, seed=42)
    }
    docs.update({doc_id: spans or [] for doc_id, spans in _EXTRA_DOCS})
    return docs


@pytest.fixture(scope="module")
def raw_df(spark, corpus_path):
    extra = spark.createDataFrame(_EXTRA_DOCS, DOC_DDL)
    return spark.read.parquet(corpus_path).unionByName(extra)


@pytest.fixture(scope="module")
def norm_local(raw_local):
    from docling_spark.pipeline import extract_document_safe

    return {d: extract_document_safe(s) for d, s in raw_local.items()}


@pytest.fixture(scope="module")
def norm_df(spark, norm_local):
    rows = [(d, None if d == "null-spans" else _with_offsets(s))
            for d, s in norm_local.items()]
    return spark.createDataFrame(rows, DOC_DDL)


@pytest.fixture(scope="module")
def fmt_local(raw_local):
    """doc_id → formatted 4-tuples; one doc carries a too-short fmt array
    (flags pad with "") and one a NULL fmt array."""
    from docling_spark.pipeline import extract_formatted_document

    docs = {d: extract_formatted_document(s) for d, s in raw_local.items()}
    docs["short-fmt"] = [("text", "a", None, "B"), ("text", "b", None, ""),
                         ("text", "c", None, "")]
    docs["null-fmt"] = [("text", "x", None, ""), ("title", "y", None, "")]
    return docs


@pytest.fixture(scope="module")
def fmt_df(spark, fmt_local):
    rows = []
    for doc_id, spans in fmt_local.items():
        fmt = [s[3] for s in spans]
        if doc_id == "short-fmt":
            fmt = ["B"]
        elif doc_id == "null-fmt":
            fmt = None
        rows.append((doc_id, _with_offsets([s[:3] for s in spans]), fmt))
    return spark.createDataFrame(rows, DOC_DDL + ", fmt array<string>")


def test_extract(raw_df, raw_local):
    from docling_spark.pipeline import extract, extract_document_safe

    expected = sorted(
        _frozen((d, _with_offsets(extract_document_safe(s))))
        for d, s in raw_local.items()
    )
    assert _rows(extract(raw_df)) == expected


def test_extract_html_formatted(raw_df, raw_local):
    from docling_spark.pipeline import extract_formatted_document, extract_html_formatted

    expected = []
    for doc_id, spans in raw_local.items():
        flat = extract_formatted_document(spans)
        expected.append(_frozen(
            (doc_id, _with_offsets([s[:3] for s in flat]), [s[3] for s in flat])
        ))
    assert _rows(extract_html_formatted(raw_df)) == sorted(expected)


def test_enrich(norm_df, norm_local):
    from docling_spark.operators.enrich import enrich, enrich_document

    expected = sorted(
        _frozen((d, _with_offsets(enrich_document(s)))) for d, s in norm_local.items()
    )
    assert _rows(enrich(norm_df)) == expected


@pytest.mark.parametrize("name", ["markdown", "html", "latex", "doctags"])
def test_render_sinks(norm_df, norm_local, name):
    from docling_spark.operators import serialize

    sink = getattr(serialize, f"{name}_sink")
    render = getattr(serialize, f"render_{name}")
    expected = sorted((d, render(s)) for d, s in norm_local.items())
    assert _rows(sink(norm_df)) == expected


@pytest.mark.parametrize("name", ["markdown", "html", "latex"])
def test_render_sinks_with_fmt(fmt_df, fmt_local, name):
    from docling_spark.operators import serialize

    sink = getattr(serialize, f"{name}_sink")
    render = getattr(serialize, f"render_{name}")
    expected = sorted((d, render(s)) for d, s in fmt_local.items())
    assert _rows(sink(fmt_df)) == expected


def test_markdown_sink_page_break_placeholder(norm_df, norm_local):
    from docling_spark.operators.serialize import markdown_sink, render_markdown

    expected = sorted((d, render_markdown(s, "<!-- pb -->")) for d, s in norm_local.items())
    assert _rows(markdown_sink(norm_df, page_break_placeholder="<!-- pb -->")) == expected


@pytest.mark.parametrize("fmt", ["json", "md", "rag"])
def test_chunk_export_sink(norm_df, norm_local, fmt):
    from docling_spark.operators.serialize import (
        chunk_document,
        chunk_export_sink,
        export_chunks,
    )

    expected = sorted(
        (d, export_chunks(chunk_document(d, s), fmt)) for d, s in norm_local.items()
    )
    assert _rows(chunk_export_sink(norm_df, fmt)) == expected


def test_chunk_sink(norm_df, norm_local):
    from docling_spark.operators.serialize import chunk_document, chunk_sink

    expected = sorted(
        _frozen(row) for d, s in norm_local.items() for row in chunk_document(d, s)
    )
    assert expected, "corpus produced no chunks"
    assert _rows(chunk_sink(norm_df)) == expected


def test_hybrid_chunk_sink(norm_df, norm_local):
    from docling_spark.operators.hybrid_chunker import (
        hybrid_chunk_document,
        hybrid_chunk_sink,
    )

    expected = sorted(
        _frozen(row)
        for d, s in norm_local.items()
        for row in hybrid_chunk_document(d, s, max_tokens=64)
    )
    assert expected, "corpus produced no chunks"
    assert _rows(hybrid_chunk_sink(norm_df, max_tokens=64)) == expected


def test_triplets_sink(norm_df, norm_local):
    from docling_spark.operators.grids import triplets_from_spans, triplets_sink

    expected = sorted(
        _frozen(row) for d, s in norm_local.items() for row in triplets_from_spans(d, s)
    )
    assert expected, "corpus produced no tables"
    assert _rows(triplets_sink(norm_df)) == expected


def test_read_doctags(spark, norm_local):
    from docling_spark.operators.serialize import render_doctags
    from docling_spark.sources.readers import parse_doctags, read_doctags

    payloads = {d: render_doctags(s) for d, s in norm_local.items()}
    payloads["null-payload"] = None
    df = spark.createDataFrame(list(payloads.items()), "doc_id string, doctags string")
    expected = sorted(
        _frozen((d, _with_offsets(parse_doctags(p)))) for d, p in payloads.items()
    )
    assert _rows(read_doctags(df)) == expected
