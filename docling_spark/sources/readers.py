"""Sources (SURVEY.md §2.1 S1-S5).

- read_documents: the corpus scan. Iceberg when a catalog table is named
  (`catalog.db.tbl`), plain parquet paths otherwise (sandbox). Column
  pruning/partition pruning come free from the declarative scan.
- read_docling_json: S3 — docling-JSON payload column → spans via
  `from_json` with an explicit schema (no inference; schema drift fails
  loudly). Mirrors DoclingDocument.load_from_json
  (/root/reference/sequential_parser.py:95-105) re-expressed as a columnar
  parse: the flat typed arrays of the pydantic model
  (document.py:2533-2564) map to nested arrays we explode into spans.
- read_manifest: S4 — YAML law manifests (annex_processor.py:137-232) into
  a small dimension DataFrame meant for `F.broadcast` joins (J5).
"""

from __future__ import annotations

import re
from typing import List, Optional

import yaml
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from docling_spark.schema import DOC_DDL, DOC_SCHEMA, spans_array

_GRAPH_ITEM_ARRAY = T.ArrayType(
    T.StructType(
        [
            T.StructField("self_ref", T.StringType()),
            T.StructField(
                "graph",
                T.StructType(
                    [
                        T.StructField(
                            "cells",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("cell_id", T.IntegerType()),
                                        T.StructField("label", T.StringType()),
                                        T.StructField("text", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                        T.StructField(
                            "links",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("label", T.StringType()),
                                        T.StructField(
                                            "source_cell_id", T.IntegerType()
                                        ),
                                        T.StructField(
                                            "target_cell_id", T.IntegerType()
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                ),
            ),
        ]
    )
)

# minimal docling-JSON shape: flat text items + tables, reading order given
# by body children indices (document.py:2533-2564 subset)
DOCLING_JSON_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField(
            "texts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("self_ref", T.StringType()),
                        T.StructField("label", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("hyperlink", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "body",
            T.StructType(
                [
                    T.StructField(
                        "children",
                        T.ArrayType(
                            T.StructType([T.StructField("$ref", T.StringType())])
                        ),
                    )
                ]
            ),
        ),
        T.StructField(
            "pictures",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("self_ref", T.StringType()),
                        T.StructField(
                            "image",
                            T.StructType([T.StructField("uri", T.StringType())]),
                        ),
                        # picture annotation model (document.py:107-151):
                        # classification / description / molecule_data — the
                        # union is read as one wide struct; absent fields
                        # null out per annotation kind
                        T.StructField(
                            "annotations",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("kind", T.StringType()),
                                        T.StructField("text", T.StringType()),
                                        T.StructField("smi", T.StringType()),
                                        T.StructField(
                                            "predicted_classes",
                                            T.ArrayType(
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "class_name",
                                                            T.StringType(),
                                                        ),
                                                        T.StructField(
                                                            "confidence",
                                                            T.DoubleType(),
                                                        ),
                                                    ]
                                                )
                                            ),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "tables",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("self_ref", T.StringType()),
                        T.StructField(
                            "cells",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("row", T.IntegerType()),
                                        T.StructField("col", T.IntegerType()),
                                        T.StructField("text", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        # key-value / form items (document.py:2560-2562): GraphData of
        # labeled cells + (source → target) links (document.py:2403-2436)
        T.StructField("key_value_items", _GRAPH_ITEM_ARRAY),
        T.StructField("form_items", _GRAPH_ITEM_ARRAY),
    ]
)


def read_documents(spark: SparkSession, source: str) -> DataFrame:
    """Scan the documents table from an Iceberg catalog table name or a
    parquet path."""
    if "/" not in source and source.count(".") >= 1:
        return spark.read.format("iceberg").load(source)
    return spark.read.schema(DOC_SCHEMA).parquet(source)


def write_documents(df: DataFrame, target: str, n_buckets: int = 64,
                    mode: str = "append") -> None:
    """Write a span table to an Iceberg catalog table name or a parquet path.

    Iceberg side (production): `writeTo(...).append()` against a table whose
    DDL declares `PARTITIONED BY (bucket(N, doc_id))` — the hash-bucket
    layout of SURVEY §1.3 that makes the resume anti-join and doc_id point
    lookups partition-prunable. Parquet side (sandbox fallback): an explicit
    `bucket` column (xxhash64 % n_buckets, same keying as checkpoint.py's
    ledger) used as the partition directory, giving the equivalent pruning
    via hive-style partition discovery."""
    if "/" not in target and target.count(".") >= 1:
        df.writeTo(target).append()
        return
    (
        df.withColumn(
            "bucket",
            (F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))).cast("int"),
        )
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(target)
    )


def read_docling_json(df: DataFrame, json_col: str = "payload",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, payload json-string) → (doc_id, spans) via from_json +
    native array ops — fully JVM-side, no UDF.

    Reading order: when `body.children` is present (the DoclingDocument
    pointer array — document.py:2533-2564; RefItem `$ref` like '#/texts/4')
    spans follow that pointer order, interleaving texts, tables and
    pictures exactly as the reference's iterate_items DFS would. Payloads
    without a body fall back to texts-then-tables order.

    Picture annotations (document.py:107-151): each classification /
    description / molecule_data annotation on a picture emits a
    `picture_annotation` span right after the picture's `media` span,
    with text per the reference's _get_annotation_text rules
    (common.py:136-151 — first predicted class_name with '_'→' ',
    description text, molecule SMILES) and media_ref '#/pictures/<i>';
    unrecognized or empty annotations are dropped per-annotation."""
    parsed = df.select(
        F.col(id_col).alias("doc_id"),
        F.from_json(F.col(json_col), DOCLING_JSON_SCHEMA).alias("d"),
    )
    text_spans = F.expr(
        """
        transform(d.texts, t -> struct(
            CASE WHEN t.label IN ('section_header', 'title', 'list_item',
                                  'page_footer', 'page_header')
                 THEN t.label ELSE 'text' END AS kind,
            t.text AS text,
            t.hyperlink AS media_ref))
        """
    )
    table_spans = F.expr(
        """
        flatten(transform(d.tables, (tb, ti) ->
            transform(tb.cells, c -> struct(
                'table_cell' AS kind,
                c.text AS text,
                concat('#/tables/', ti, '/r', c.row, 'c', c.col) AS media_ref))))
        """
    )
    one_text = (
        "CASE WHEN t.label IN ('section_header', 'title', 'list_item', "
        "'page_footer', 'page_header') THEN t.label ELSE 'text' END"
    )
    # Malformed refs must degrade per-document, not kill the distributed read:
    # under Spark 4 ANSI mode a non-numeric tail ('#/texts/abc') would raise
    # CAST_INVALID_INPUT and an out-of-range index ('#/tables/99') would raise
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT. The filter therefore requires a full
    # '#/<kind>/<digits>$' match AND an in-bounds try_cast index; the table
    # branch additionally uses try_element_at + coalesce as defense in depth.
    idx = "try_cast(regexp_extract(c.`$ref`, '/([0-9]+)$', 1) AS INT)"

    def _graph_pairs(arr: str, key_kind: str, val_kind: str) -> str:
        """Flatten one graph item's to_value links into (key, value) span
        pairs — each link whose source AND target cells resolve yields a
        `key_kind` span (the key cell text) followed by a `val_kind` span
        (the value cell text), both carrying the item ref SUFFIXED with the
        key cell id ('#/<arr>/<i>/c<key_cell_id>'): the sinks group all
        values under their key cell by that identity in first-seen order,
        exactly the reference serializer's value_links grouping
        (html.py:556-598), even for interleaved links, and two distinct key
        cells with identical text stay separate. Limitation: to_child
        hierarchy links are dropped (the reference renders a nested <ul>
        cell tree when roots exist, html.py:572-584); a flat span stream
        cannot carry the tree, so graph items always render as the
        reference's no-hierarchy <dl> fallback. Dangling links are dropped
        per-item, not fatal (ANSI-safe)."""
        g = f"try_element_at(d.{arr}, {idx} + 1).graph"
        by_id = "element_at(filter({g}.cells, cl -> cl.cell_id = l.{side}_cell_id), 1)"
        src = by_id.format(g=g, side="source")
        tgt = by_id.format(g=g, side="target")
        return f"""
              coalesce(flatten(transform(
                filter({g}.links, l -> l.label = 'to_value'
                  AND exists({g}.cells, cl -> cl.cell_id = l.source_cell_id)
                  AND exists({g}.cells, cl -> cl.cell_id = l.target_cell_id)),
                l -> array(
                  struct('{key_kind}' AS kind, {src}.text AS text,
                         concat('#/{arr}/', {idx}, '/c', l.source_cell_id)
                           AS media_ref),
                  struct('{val_kind}' AS kind, {tgt}.text AS text,
                         concat('#/{arr}/', {idx}, '/c', l.source_cell_id)
                           AS media_ref)))), array())"""

    ordered_spans = F.expr(
        f"""
        flatten(transform(
          filter(d.body.children, c ->
                 (c.`$ref` RLIKE '^#/texts/[0-9]+$' AND {idx} < size(d.texts))
              OR (c.`$ref` RLIKE '^#/tables/[0-9]+$' AND {idx} < size(d.tables))
              OR (c.`$ref` RLIKE '^#/pictures/[0-9]+$' AND {idx} < size(d.pictures))
              OR (c.`$ref` RLIKE '^#/key_value_items/[0-9]+$'
                  AND {idx} < size(d.key_value_items))
              OR (c.`$ref` RLIKE '^#/form_items/[0-9]+$'
                  AND {idx} < size(d.form_items))),
          c ->
          CASE
            WHEN c.`$ref` LIKE '#/texts/%' THEN
              transform(slice(d.texts, {idx} + 1, 1),
                t -> struct({one_text} AS kind, t.text AS text,
                            t.hyperlink AS media_ref))
            WHEN c.`$ref` LIKE '#/tables/%' THEN
              coalesce(
                transform(try_element_at(d.tables, {idx} + 1).cells,
                  cl -> struct('table_cell' AS kind, cl.text AS text,
                    concat('#/tables/', {idx}, '/r', cl.row, 'c', cl.col) AS media_ref)),
                array())
            WHEN c.`$ref` LIKE '#/key_value_items/%' THEN
              {_graph_pairs('key_value_items', 'kv', 'kv_value')}
            WHEN c.`$ref` LIKE '#/form_items/%' THEN
              {_graph_pairs('form_items', 'form_field', 'form_value')}
            ELSE
              coalesce(flatten(transform(slice(d.pictures, {idx} + 1, 1),
                p -> concat(
                  array(struct('media' AS kind, '' AS text,
                               p.image.uri AS media_ref)),
                  transform(
                    filter(coalesce(p.annotations, array()), an ->
                      CASE an.kind
                        WHEN 'description' THEN an.text IS NOT NULL
                        WHEN 'molecule_data' THEN an.smi IS NOT NULL
                        WHEN 'classification' THEN
                          size(coalesce(an.predicted_classes, array())) > 0
                          AND an.predicted_classes[0].class_name IS NOT NULL
                        ELSE false END),
                    an -> struct('picture_annotation' AS kind,
                      CASE an.kind
                        WHEN 'description' THEN an.text
                        WHEN 'molecule_data' THEN an.smi
                        ELSE replace(an.predicted_classes[0].class_name,
                                     '_', ' ') END AS text,
                      concat('#/pictures/', {idx}) AS media_ref))))),
                array())
          END))
        """
    )
    spans_noidx = F.when(
        F.expr("d.body IS NOT NULL AND d.body.children IS NOT NULL"),
        ordered_spans,
    ).otherwise(F.concat(text_spans, table_spans))
    return parsed.select(
        "doc_id",
        spans_noidx.alias("spans_noidx"),
    ).select(
        "doc_id",
        F.expr(
            "transform(spans_noidx, (s, i) -> struct(s.kind AS kind, s.text AS text,"
            " s.media_ref AS media_ref, CAST(i AS INT) AS offset))"
        ).alias("spans"),
    )


def read_manifest(spark: SparkSession, manifest_yaml: str) -> DataFrame:
    """One or more YAML law manifests → broadcastable dimension
    (law_id, annex_no, annex_title, annex_type, annex_url)."""
    docs = list(yaml.safe_load_all(manifest_yaml))
    rows: List[tuple] = []
    for m in docs:
        if not m:
            continue
        law_id = str(m.get("law_id", ""))
        for a in m.get("annexes", []) or []:
            rows.append(
                (
                    law_id,
                    int(a.get("number", 0)),
                    a.get("title"),
                    a.get("type", "inline"),
                    a.get("url"),
                )
            )
        if not m.get("annexes"):
            rows.append((law_id, 0, None, "none", None))
    return spark.createDataFrame(
        rows,
        "law_id string, annex_no int, annex_title string, annex_type string, annex_url string",
    )


def integrate_annexes(extracted: DataFrame, manifest: DataFrame) -> DataFrame:
    """J5 — broadcast left join of the manifest's annex list against the
    annexes found in extraction; missing ones get a placeholder row
    (annex_processor.py:1211-1312 semantics)."""
    from docling_spark.operators.tables import explode_spans

    found = (
        explode_spans(extracted)
        .filter(F.col("kind") == "annex")
        .select(
            F.regexp_extract("doc_id", r"-(\d+)$", 1).alias("law_id"),
            F.regexp_extract("media_ref", r"#priloha-(\d+)", 1).cast("int").alias("annex_no"),
            F.col("text").alias("found_title"),
        )
        .filter(F.col("annex_no").isNotNull())
    )
    return (
        manifest.join(F.broadcast(found), ["law_id", "annex_no"], "left")
        .select(
            "law_id",
            "annex_no",
            "annex_type",
            F.coalesce(F.col("found_title"), F.lit("[missing annex]")).alias("title"),
            F.col("found_title").isNotNull().alias("resolved"),
        )
    )


# ---------------------------------------------------------------------------
# DocTags source (S-family): parse the doctags token stream BACK into spans.
# DocTags is docling's model-output format (SmolDocling/VLM emission;
# reference serializer: transforms/serializer/doctags.py) — reading it means
# ingesting vision-model outputs directly. Inverse of
# operators.serialize.render_doctags at tag granularity: heading kinds
# coarsen to section_header with the level kept in media_ref ('#level-N'),
# plain-text kinds (text/odsek/pismeno/subitem) collapse to 'text', tables
# reconstruct from OTSL (ched/fcel/ecel/nl) into dense row-major
# table_cell spans with fresh '#/tables/{i}/r{r}c{c}' refs (i = per-doc
# stream ordinal). Like the format itself, unescaped: a literal closing
# tag inside text would truncate that item.
# ---------------------------------------------------------------------------

_DT_ITEM_RE = re.compile(
    r"<(section_header_level_\d+|title|text|caption|footnote|picture|list_item)>"
    r"(.*?)</\1>|<otsl>(.*?)</otsl>",
    re.DOTALL,
)
_DT_CELL_RE = re.compile(r"<(ched|fcel|ecel|nl)>([^<]*)")


def parse_doctags(payload: str):
    """One doctags document string → ordered (kind, text, media_ref) list."""
    body = payload or ""
    if body.startswith("<doctag>"):
        body = body[len("<doctag>"):]
    stripped = body.rstrip()
    if stripped.endswith("</doctag>"):
        body = stripped[: -len("</doctag>")]
    out = []
    ti = 0
    for m in _DT_ITEM_RE.finditer(body):
        if m.group(1):
            tag, text = m.group(1), m.group(2)
            if tag == "title":
                out.append(("title", text, None))
            elif tag.startswith("section_header_level_"):
                level = int(tag.rsplit("_", 1)[1])
                out.append(("section_header", text, f"#level-{level}"))
            elif tag == "picture":
                out.append(("media", text, None))
            elif tag in ("caption", "footnote", "list_item"):
                out.append((tag, text, None))
            else:
                out.append(("text", text, None))
        else:
            r = c = 0
            for cm in _DT_CELL_RE.finditer(m.group(3)):
                tok, txt = cm.group(1), cm.group(2)
                if tok == "nl":
                    r += 1
                    c = 0
                    continue
                out.append(
                    ("table_cell", "" if tok == "ecel" else txt,
                     f"#/tables/{ti}/r{r}c{c}")
                )
                c += 1
            ti += 1
    return out


def read_doctags(df: DataFrame, payload_col: str = "doctags",
                 id_col: str = "doc_id") -> DataFrame:
    """(doc_id, doctags string) → (doc_id, spans) in the canonical 4-field
    shape. Document-local parse → narrow mapInArrow, zero shuffle."""
    import pyarrow as pa

    def gen(batches):
        for rb in batches:
            names = rb.schema.names
            ids = rb.column(names.index(id_col)).to_pylist()
            payloads = rb.column(names.index(payload_col)).to_pylist()
            yield pa.RecordBatch.from_arrays(
                [pa.array([str(i) for i in ids], pa.string()),
                 spans_array(parse_doctags(p) for p in payloads)],
                ["doc_id", "spans"],
            )

    return df.mapInArrow(gen, schema=DOC_DDL)
