"""End-to-end extraction pipeline (SURVEY.md §3, §7).

Spark plan
----------
Every stage (sniff → HTML/PDF normalize → hierarchy state machine) is
document-local, so the whole pipeline compiles to **one narrow mapInArrow
stage over the scan: zero shuffles** (per the input_hint contract:
vectorized pandas/Arrow UDFs only — every span stage uses the Arrow-native
half of that contract, through the one marshaling path in
docling_spark.schema). At 100 TB that means:

- parallelism = input splits (`spark.sql.files.maxPartitionBytes`), no
  exchange, no skewed reducer;
- column pruning at the parquet/Iceberg scan (we only read doc_id + spans);
- skew inside a split (one mega-doc) is bounded by the Arrow batch size
  (`spark.sql.execution.arrow.maxRecordsPerBatch`) — a giant document ships
  alone in its batch instead of stalling a reducer, and `rebalance()` offers
  an explicit weight-aware repartition when input files are pathological.

The per-document logic is pure Python over one doc's spans (the reference's
own design: single-pass O(n), sequential_parser.py:5-15); the vectorization
axis is documents-per-Arrow-batch, per the input_hint contract (vectorized
pandas/Arrow UDFs, no per-row Python UDFs in the plan).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from docling_spark.operators import sniff
from docling_spark.operators.hierarchy import reconstruct
from docling_spark.operators.html_extract import extract_html_spans
from docling_spark.operators.pdf_extract import normalize_pdf_spans
from docling_spark.schema import DOC_DDL, doc_spans, map_docs, spans_array

Span = Tuple[str, str, Optional[str]]


def extract_document(raw_spans: List[Span], emit_page_breaks: bool = False) -> List[Span]:
    """Sniff one document's (kind, text, media_ref) spans and run the
    matching normalization path.

    `emit_page_breaks=True` threads the PDF path's page boundaries into the
    span stream as 'page_break' spans (see normalize_pdf_spans), which
    `markdown_sink(page_break_placeholder=...)` renders like docling-core's
    MarkdownParams.page_break_placeholder. Default False keeps the
    span-sequence contract unchanged (HTML/stream sources carry no page
    provenance, matching the reference where only paginated sources emit
    page-break nodes)."""
    fmt = sniff.sniff_doc(raw_spans)
    if fmt == sniff.HTML:
        flat: List[Span] = []
        for kind, text, ref in raw_spans:
            if kind == "html_bytes":
                flat.extend(extract_html_spans(text))
            else:
                flat.append((kind, text, ref))
        return reconstruct(flat)
    if fmt == sniff.PDF_LIKE:
        return normalize_pdf_spans(raw_spans, emit_page_breaks=emit_page_breaks)
    # docling stream (or unknown → treated as pre-parsed stream)
    return reconstruct(raw_spans)


def extract_document_safe(raw_spans: List[Span]) -> List[Span]:
    """Per-document fault isolation: at 10^12 docs one malformed document
    must not fail its whole task/partition — it emits a single `error` span
    (kind in the closed set, surfaced by the kind-histogram metrics and
    trivially filterable downstream) and the batch continues. The bucket
    lineage keeps the doc re-processable after a fix."""
    try:
        return extract_document(raw_spans)
    except Exception as exc:  # noqa: BLE001 — the isolation boundary
        return [("error", f"{type(exc).__name__}: {exc}"[:500], None)]


def extract_formatted_document(raw_spans: List[Span]) -> List[Tuple[str, str, Optional[str], str]]:
    """One document's raw spans → the flat formatted span stream: each
    html_bytes payload expands to (kind, text, media_ref, fmt) spans with
    inline-formatting flags (⊆ "BIUS"); every other span passes through with
    empty flags."""
    flat: List[Tuple[str, str, Optional[str], str]] = []
    for kind, text, ref in raw_spans:
        if kind == "html_bytes":
            flat.extend(extract_html_spans(text, with_formatting=True))
        else:
            flat.append((kind, text, ref, ""))
    return flat


def extract_html_formatted(df):
    """HTML documents → the flat formatted span stream:
    (doc_id, spans, fmt) where `spans` keeps the BASELINE 4-field shape and
    `fmt: array<string>` carries index-aligned inline-formatting flags
    (⊆ "BIUS"; hyperlinks ride media_ref as usual). Feeds the
    formatting-aware sinks — `markdown_sink`/`html_sink` detect the `fmt`
    column and render those spans under docling-core's serializer rules
    (bold/italic/strikethrough/hyperlink + escaping).

    Flat stream by design: the hierarchy state machine merges spans, which
    collapses per-item formatting (docling has the same per-TextItem
    granularity — document.py:1617-1639). Same narrow zero-shuffle
    mapInArrow shape as `extract`; per document it runs
    extract_formatted_document."""

    def per_doc(doc_id, raw_spans):
        flat = extract_formatted_document(raw_spans)
        return [(doc_id, flat, [f for (_k, _t, _r, f) in flat])]

    return map_docs(df, DOC_DDL + ", fmt array<string>", per_doc)


def _extract_record_batch(rb, declared_extra=None):
    """One Arrow RecordBatch of documents → one normalized RecordBatch,
    marshaled by schema.doc_spans / schema.spans_array (bulk columnar both
    ways, no per-span dicts)."""
    import pyarrow as pa

    names = rb.schema.names
    out_spans = spans_array(extract_document_safe(spans) for spans in doc_spans(rb))
    # emit in declared-schema order: doc_id, spans, then passthrough columns
    # ordered by the DECLARED extra-col names (mapInArrow binds positionally;
    # emitting in input-batch order would silently mislabel a caller whose
    # column order differs from its extra_cols string)
    arrays = [rb.column(names.index("doc_id")), out_spans]
    out_names = ["doc_id", "spans"]
    extra_names = (
        declared_extra
        if declared_extra is not None
        else [n for n in names if n not in ("doc_id", "spans")]
    )
    for name in extra_names:
        if name not in names:
            raise ValueError(
                f"extra_cols declares {name!r} but the input batch has {names}"
            )
        arrays.append(rb.column(names.index(name)))
        out_names.append(name)
    return pa.RecordBatch.from_arrays(arrays, out_names)


def extract(df, extra_cols: str = ""):
    """documents(doc_id, spans[, extra]) → normalized documents, same shape.

    One narrow mapInArrow stage; `extra_cols` (e.g. ", bucket int") are
    passed through untouched so the checkpointed runner can keep its lineage
    column without a join. Arrow-native marshaling — see
    _extract_record_batch."""
    schema = DOC_DDL + extra_cols
    # Parse declared names with a real DDL parse — naive ','-splitting
    # mis-tokenizes parameterized types like ", price decimal(10,2)".
    if extra_cols.strip():
        from pyspark.sql.types import _parse_datatype_string

        extra_struct = _parse_datatype_string(
            f"struct<{extra_cols.strip().lstrip(',')}>"
        )
        declared_extra = [f.name for f in extra_struct.fields]
    else:
        declared_extra = []

    def gen(batches):
        for rb in batches:
            if rb.num_rows:
                yield _extract_record_batch(rb, declared_extra)

    return df.mapInArrow(gen, schema=schema)


def extract_full(df):
    """The full flagship path: extract (sniff → HTML/PDF normalize →
    hierarchy state machine) followed by J4 paragraph enrichment
    (operators.enrich — re-extracts embedded pismeno runs into synthetic
    odseks). Still one narrow zero-shuffle chain: mapInArrow → mapInArrow.
    Annex integration (J5) composes on top via
    sources.readers.integrate_annexes(extract_full(df), manifest) — it
    returns an audit table, not the span shape, so it stays a separate
    stage."""
    from docling_spark.operators.enrich import enrich

    return enrich(extract(df))


def rebalance(df, num_partitions: int):
    """Optional explicit skew mitigation: hash-repartition documents so
    pathological input files (one giant doc per split) spread across the
    cluster. Costs one shuffle — only worth it when input layout is bad,
    which is why it is not part of the default zero-shuffle plan."""
    from pyspark.sql import functions as F

    return df.repartition(num_partitions, F.xxhash64("doc_id"))
