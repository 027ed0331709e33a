"""Seeded workload generator for the extraction benchmark.

Reuses the per-document grammars of `docling_spark.synth` but fixes the
mix, the corpus size and the parquet row-group layout here, so that a
change to the program never changes what the benchmark feeds it.  Every
corpus is described by `input_properties` (sizes, doc-type mix, mega-law
share and a digest of the exact input), so a later change to the grammars
in `synth.py` shows up as an input change rather than a speed change.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Dict, List, Tuple

from docling_spark import synth

ROW_GROUP_DOCS = 64
FILES = 8  # one input split per file: two per core at nproc=4
MEGA_BYTES = (260_000, 360_000)  # mega-law text size band, in bytes


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int
    # exact per-type document counts as shares of `docs`
    laws: float
    mega_laws: float  # share of all docs that are mega-laws (part of `laws`)
    annexes: float
    streams: float
    checkpointed: bool = False  # write path (checkpoint.run_extract + RAG sink)


WORKLOADS: Dict[str, Workload] = {
    "extract_mixed": Workload("extract_mixed", 800, 0.70, 0.01, 0.20, 0.10),
    "extract_pdf": Workload("extract_pdf", 2400, 0.0, 0.0, 2 / 3, 1 / 3),
    "checkpoint_rag": Workload("checkpoint_rag", 400, 0.70, 0.01, 0.20, 0.10, checkpointed=True),
}

Doc = Tuple[str, List[dict]]


def _file_kinds(w: Workload, n_docs: int, seed: int) -> List[List[str]]:
    """Exact type counts (not per-doc coin flips), spread evenly over the
    files and shuffled within each file by the seed, so every seed and every
    split carries the same amount of each kind of work."""
    n_mega = round(n_docs * w.mega_laws)
    n_law = round(n_docs * w.laws) - n_mega
    n_annex = round(n_docs * w.annexes)
    n_stream = n_docs - n_mega - n_law - n_annex
    files: List[List[str]] = [[] for _ in range(FILES)]
    for kind, count in (("mega", n_mega), ("law", n_law), ("annex", n_annex), ("stream", n_stream)):
        for j in range(count):
            files[(j * FILES) // count].append(kind)
    for f, kinds in enumerate(files):
        random.Random(f"{w.name}/{seed}/file{f}").shuffle(kinds)
    return files


def _text_bytes(spans: List[dict]) -> int:
    return sum(len((s["text"] or "").encode()) for s in spans)


def _mega_law(doc_id: str, key: str) -> List[dict]:
    """A mega-law inside MEGA_BYTES: redraw until one fits, so that the
    size of the few heaviest documents does not swing with the seed."""
    for attempt in range(1000):
        spans = synth.synth_html_law(doc_id, random.Random(f"{key}/{attempt}"), mega=True)
        if MEGA_BYTES[0] <= _text_bytes(spans) <= MEGA_BYTES[1]:
            return spans
    raise RuntimeError(f"no mega-law within {MEGA_BYTES} bytes for {key}")


def generate(w: Workload, seed: int, n_docs: int | None = None) -> List[List[Doc]]:
    """The corpus as FILES lists of (doc_id, spans)."""
    n_docs = w.docs if n_docs is None else n_docs
    files: List[List[Doc]] = []
    i = 0
    for kinds in _file_kinds(w, n_docs, seed):
        docs: List[Doc] = []
        for kind in kinds:
            key = f"{w.name}/{seed}/{i}"
            rng = random.Random(key)
            if kind == "mega":
                doc_id = f"law-{seed}-{i:06d}"
                spans = _mega_law(doc_id, key)
            elif kind == "law":
                doc_id = f"law-{seed}-{i:06d}"
                spans = synth.synth_html_law(doc_id, rng)
            elif kind == "annex":
                doc_id = f"annex-{seed}-{i:06d}"
                spans = synth.synth_pdf_annex(doc_id, rng)
            else:
                doc_id = f"stream-{seed}-{i:06d}"
                spans = synth.synth_docling_stream(doc_id, rng)
            docs.append((doc_id, spans))
            i += 1
        files.append(docs)
    return files


def write_parquet(files: List[List[Doc]], path: str) -> None:
    """One parquet file per entry of `files` under the directory `path`."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    span_type = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    os.makedirs(path)
    for f, docs in enumerate(files):
        table = pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.string()),
                "spans": pa.array([s for _, s in docs], pa.list_(span_type)),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"), row_group_size=ROW_GROUP_DOCS)


def input_properties(files: List[List[Doc]]) -> dict:
    """What the corpus is, independent of how fast the program eats it."""
    docs = [d for f in files for d in f]
    h = hashlib.sha256()
    spans_in = text_bytes = 0
    mix = {"law": 0, "annex": 0, "stream": 0}
    mega = 0
    for doc_id, spans in docs:
        h.update(doc_id.encode())
        mix[doc_id.split("-", 1)[0]] += 1
        spans_in += len(spans)
        for s in spans:
            h.update(f"\x1e{s['kind']}\x1f{s['text']}\x1f{s['media_ref']}".encode())
        doc_bytes = _text_bytes(spans)
        text_bytes += doc_bytes
        if doc_id.startswith("law") and doc_bytes >= MEGA_BYTES[0]:
            mega += 1
    return {
        "files": len(files),
        "docs": len(docs),
        "spans_in": spans_in,
        "text_mb": round(text_bytes / 1e6, 3),
        "mix": mix,
        "mega_laws": mega,
        "mega_share": round(mega / max(len(docs), 1), 4),
        "digest": h.hexdigest()[:16],
    }
