"""Table-grid operators (SURVEY.md §2.4 A10/A11, §2.8 C8).

A10 — grid densification: sparse spanned cells → dense num_rows × num_cols
grid with span fill (reference: TableData.grid computed property,
docling_core/types/doc/document.py:389-422). Native form: a `sequence()`
cross per cell (explode row_span × col_span) then a left join against the
dense coordinate lattice — all JVM-side.

A11 — export to a header-stacked dataframe: count leading column_header
rows, concat stacked headers with '.', body rows follow
(document.py:2129-2180 export_to_dataframe).

C8 — triplet serialization for chunk text: cell → "row_header, col_header =
value. " sentences (TripletTableSerializer,
transforms/chunker/hierarchical_chunker.py:44-90).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from docling_spark.schema import map_docs

# cell = (row, col, row_span, col_span, text, is_header)
Cell = Tuple[int, int, int, int, str, bool]


def densify_grid(cells: Sequence[Cell], num_rows: int, num_cols: int) -> List[List[str]]:
    """A10 per-table form: spanned cells fill every covered coordinate."""
    grid = [["" for _ in range(num_cols)] for _ in range(num_rows)]
    for row, col, row_span, col_span, text, _hdr in cells:
        for r in range(row, min(row + max(row_span, 1), num_rows)):
            for c in range(col, min(col + max(col_span, 1), num_cols)):
                grid[r][c] = text
    return grid


def densify_grid_spark(tables: DataFrame) -> DataFrame:
    """A10 native form over a table of
    (table_id, num_rows, num_cols, cells: array<struct<row,col,row_span,
    col_span,text,is_header>>) → one row per dense grid coordinate
    (table_id, r, c, text). Spanned cells explode via sequence(); empty
    coordinates come from a lattice left join. No UDF."""
    covered = tables.select(
        "table_id",
        F.explode("cells").alias("cell"),
    ).select(
        "table_id",
        F.explode(
            F.expr("sequence(cell.row, cell.row + greatest(cell.row_span, 1) - 1)")
        ).alias("r"),
        F.col("cell").alias("cell"),
    ).select(
        "table_id",
        "r",
        F.explode(
            F.expr("sequence(cell.col, cell.col + greatest(cell.col_span, 1) - 1)")
        ).alias("c"),
        F.col("cell.text").alias("text"),
    )
    lattice = tables.select(
        "table_id",
        F.explode(F.expr("sequence(0, num_rows - 1)")).alias("r"),
        F.col("num_cols"),
    ).select(
        "table_id", "r", F.explode(F.expr("sequence(0, num_cols - 1)")).alias("c")
    )
    return (
        lattice.join(covered, ["table_id", "r", "c"], "left")
        .groupBy("table_id", "r", "c")
        # min() for determinism when spans overlap (first() is order-dependent)
        .agg(F.coalesce(F.min("text"), F.lit("")).alias("text"))
    )


def export_to_dataframe(cells: Sequence[Cell], num_rows: int, num_cols: int):
    """A11: pandas DataFrame with stacked multi-row headers joined by '.'."""
    import pandas as pd

    grid = densify_grid(cells, num_rows, num_cols)
    header_rows = 0
    header_flags = {}
    for row, col, rs, cs, text, hdr in cells:
        header_flags.setdefault(row, hdr)
    while header_flags.get(header_rows, False):
        header_rows += 1
    if header_rows == 0:
        return pd.DataFrame(grid)
    columns = [
        ".".join(dict.fromkeys(filter(None, (grid[r][c] for r in range(header_rows)))))
        for c in range(num_cols)
    ]
    return pd.DataFrame(grid[header_rows:], columns=columns)


def render_triplets(cells: Sequence[Cell], num_rows: int, num_cols: int) -> str:
    """C8: '<row_header>, <col_header> = <value>. ' per body cell, skipping
    empty values (TripletTableSerializer semantics)."""
    grid = densify_grid(cells, num_rows, num_cols)
    if num_rows < 2 or num_cols < 2:
        return ""
    col_headers = grid[0]
    parts: List[str] = []
    for r in range(1, num_rows):
        row_header = grid[r][0]
        for c in range(1, num_cols):
            val = grid[r][c]
            if val:
                parts.append(f"{row_header}, {col_headers[c]} = {val}. ")
    return "".join(parts).strip()


def json_sink(df: DataFrame) -> DataFrame:
    """S6 — debug/export sink: (doc_id, json) of the normalized spans."""
    return df.select("doc_id", F.to_json("spans").alias("json"))


_CELL_REF_RE = None  # lazily compiled inside the worker


def triplets_from_spans(doc_id: str, spans) -> List[tuple]:
    """One normalized document → (doc_id, table_id, triplets) per table.

    Reconstructs each table from its `table_cell` spans (media_ref shape
    '#/tables/<i>/r<R>c<C>', row-major) and renders the C8 triplet text
    (TripletTableSerializer semantics — reference
    transforms/chunker/hierarchical_chunker.py:44-90). Pure per-document
    function, shared by the Spark sink and tests."""
    import re

    global _CELL_REF_RE
    if _CELL_REF_RE is None:
        _CELL_REF_RE = re.compile(r"#/tables/(\d+)/r(\d+)c(\d+)$")
    tables: dict = {}
    for kind, text, ref in spans:
        if kind != "table_cell" or not ref:
            continue
        m = _CELL_REF_RE.match(ref)
        if not m:
            continue
        tid, r, c = int(m.group(1)), int(m.group(2)), int(m.group(3))
        tables.setdefault(tid, []).append((r, c, 1, 1, text, r == 0))
    out = []
    for tid in sorted(tables):
        cells = tables[tid]
        nr = max(c[0] for c in cells) + 1
        nc = max(c[1] for c in cells) + 1
        out.append((doc_id, tid, render_triplets(cells, nr, nc)))
    return out


def triplets_sink(df: DataFrame) -> DataFrame:
    """C8 sink: normalized documents → (doc_id, table_id, triplets), one row
    per reconstructed table. Document-local → same zero-shuffle mapInArrow
    shape as the other sinks."""
    return map_docs(df, "doc_id string, table_id int, triplets string", triplets_from_spans)
