"""Canonical schemas for the extraction engine.

The document shape is authoritative from BASELINE.json `input_hint`:
``documents (doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>)``.

Reference data model this flattens (cited for parity, not ported):
- DoclingDocument flat typed arrays — /root/reference/docling_code/
  docling-core-main/docling_core/types/doc/document.py:2533-2564
- TextItem(label, text, hyperlink, prov) — document.py:1617-1639
- DocItemLabel closed label set — types/doc/labels.py:7-36
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, List, Sequence

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Span / document schema (input AND normalized output — same shape)
# ---------------------------------------------------------------------------

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    ]
)

# DDL forms (for mapInArrow / mapInPandas signatures)
SPAN_DDL = "kind string, text string, media_ref string, offset int"
DOC_DDL = f"doc_id string, spans array<struct<{SPAN_DDL}>>"

# ---------------------------------------------------------------------------
# Span marshaling: the one place that converts between the Arrow `spans`
# column and the per-document (kind, text, media_ref) tuple lists every
# per-document function consumes. Bulk columnar both ways: three child-array
# to_pylist calls in, flat arrays + list offsets out — no per-span dicts.
# ---------------------------------------------------------------------------


def doc_spans(rb, with_fmt: bool = False) -> Iterator[List[tuple]]:
    """A RecordBatch's `spans` column → one (kind, text, media_ref) tuple
    list per row, in row order (NULL spans → []).

    `with_fmt` and an `fmt` column (array<string>, index-aligned inline
    formatting flags) → 4-tuples carrying each span's flag; a NULL or short
    `fmt` array pads with ""."""
    import pyarrow.compute as pc

    names = rb.schema.names
    la = rb.column(names.index("spans"))
    vals = la.flatten()  # logical concatenation in row order, NULLs skipped
    kinds = vals.field("kind").to_pylist()
    texts = vals.field("text").to_pylist()
    refs = vals.field("media_ref").to_pylist()
    fmts = (
        rb.column(names.index("fmt")).to_pylist()
        if with_fmt and "fmt" in names
        else None
    )
    lo = 0
    for i, length in enumerate(pc.list_value_length(la).to_pylist()):
        hi = lo + (length or 0)
        spans = zip(kinds[lo:hi], texts[lo:hi], refs[lo:hi])
        if fmts is None:
            yield list(spans)
        else:
            flags = list(fmts[i] or [])
            flags += [""] * (hi - lo - len(flags))
            yield [(k, t, r, f) for (k, t, r), f in zip(spans, flags)]
        lo = hi


def spans_array(docs: Iterable[Sequence[tuple]]):
    """Per-document span tuple lists → the `spans` ListArray, each span's
    `offset` = its position in the document. Fields past media_ref (the
    formatted stream's flag) are ignored."""
    import pyarrow as pa

    flat: List[tuple] = []
    positions: List[int] = []
    offsets = [0]
    for spans in docs:
        flat.extend(spans)
        positions.extend(range(len(spans)))
        offsets.append(len(flat))
    struct = pa.StructArray.from_arrays(
        [
            pa.array([s[0] for s in flat], pa.string()),
            pa.array([s[1] for s in flat], pa.string()),
            pa.array([s[2] for s in flat], pa.string()),
            pa.array(positions, pa.int32()),
        ],
        ["kind", "text", "media_ref", "offset"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


def map_docs(df, ddl: str, per_doc: Callable[[str, List[tuple]], Iterable[tuple]],
             with_fmt: bool = False):
    """Run `per_doc(doc_id, spans)` over every document of `df` as one narrow
    mapInArrow stage (zero shuffles). `per_doc` returns the document's output
    rows as tuples in `ddl` column order; a `spans` output column takes a
    span tuple list and is built by spans_array. `with_fmt` as in
    doc_spans."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    out_schema = to_arrow_schema(_parse_datatype_string(ddl))

    def gen(batches):
        for rb in batches:
            ids = rb.column(rb.schema.names.index("doc_id")).to_pylist()
            rows = [
                row
                for doc_id, spans in zip(ids, doc_spans(rb, with_fmt))
                for row in per_doc(doc_id, spans)
            ]
            cols = list(zip(*rows)) or [()] * len(out_schema)
            yield pa.RecordBatch.from_arrays(
                [
                    spans_array(col) if field.name == "spans" else pa.array(col, field.type)
                    for col, field in zip(cols, out_schema)
                ],
                out_schema.names,
            )

    return df.mapInArrow(gen, schema=ddl)

# Raw ingest kinds (FIXTURES.md §1)
RAW_KINDS = {
    "html_bytes",
    "pdf_cell",
    "text",
    "section_header",
    "list_item",
    "table_cell",
    "media",
    "caption",
    "title",
    "page_footer",
    "page_header",
}

# Normalized output kinds — closed set derived from the reference's
# DocItemLabel (labels.py:7-36) plus the law-structure levels
# (sequential_parser.py:2212-2234).
NORMALIZED_KINDS = {
    "title",
    "part",            # ČASŤ level
    "paragraph",       # § level marker
    "paragraph_title",
    "odsek",           # (n) level marker
    "pismeno",         # a) level marker
    "subitem",         # 1. level marker
    "text",            # unit body text (joined)
    "section_header",
    "table_cell",
    "media",
    "footnote",        # footnote definition marker
    "annex",           # annex header
    "list_item",
    "caption",         # figure/table caption (F16: skipped in unit text,
                       #   kept as standalone span — common.py:391-394)
    "error",           # per-doc fault isolation: extraction raised; the doc
                       #   emits one error span instead of failing the task
}

# Additional kinds emitted only by the docling-JSON reader's graph-item
# deref (document.py:2560-2562): key/value and form field/value pairs.
# Not part of the extraction state machine's closed output set above —
# these reach the sinks directly from read_docling_json.
KV_KINDS = {"kv", "kv_value", "form_field", "form_value"}

# ---------------------------------------------------------------------------
# Metrics / lineage table (north_rule: per-partition checkpointed lineage)
# FIXTURES.md §4
# ---------------------------------------------------------------------------

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("docs", T.LongType(), True),
        T.StructField("spans_in", T.LongType(), True),
        T.StructField("spans_out", T.LongType(), True),
        T.StructField("tables_assigned", T.LongType(), True),
        T.StructField("tables_unassigned", T.LongType(), True),
        T.StructField("duplicates", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)

METRICS_DDL = (
    "run_id string, stage string, bucket int, docs long, spans_in long, "
    "spans_out long, tables_assigned long, tables_unassigned long, "
    "duplicates long, status string, wall_ms long"
)

# ---------------------------------------------------------------------------
# Chunk table (RAG layer — FIXTURES.md §3c; chunk_to_markdown.py:373-475)
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("level", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("headings", T.ArrayType(T.StringType()), True),
        T.StructField("content_length", T.IntegerType(), True),
    ]
)

CHUNK_DDL = (
    "doc_id string, chunk_id string, level string, content string, "
    "headings array<string>, content_length int"
)
