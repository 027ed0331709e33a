"""Output checks: every document the program emits is compared with the
in-process `pipeline.extract_document_safe` on the same input.

A timed extract pass returns, for every emitted row, the doc's (span count,
xxhash64 of the spans) computed in the JVM; the in-process output is hashed
by the same JVM expression (`sparkjob.expected_digests`) and the two must
match.  The checkpoint output is read back with pyarrow and compared span
for span.
"""

from __future__ import annotations

import hashlib
import multiprocessing
from typing import Dict, List, NamedTuple, Optional, Tuple

from perfbench.sparkjob import N_BUCKETS, Digests

Span = Tuple[str, str, Optional[str]]


class Expected(NamedTuple):
    spans: List[Span]  # in-process normalized output
    has_error: bool  # the pipeline emitted its `error` span
    rag: str  # sha256 of the in-process RAG payload ("" when not asked for)


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _reference_chunk(args) -> Dict[str, Expected]:
    docs, with_rag = args
    from docling_spark.operators.enrich import enrich_document
    from docling_spark.operators.serialize import chunk_document, export_chunks
    from docling_spark.pipeline import extract_document_safe

    out: Dict[str, Expected] = {}
    for doc_id, spans in docs:
        norm = extract_document_safe([(s["kind"], s["text"], s["media_ref"]) for s in spans])
        rag = ""
        if with_rag:
            rag = _sha(export_chunks(chunk_document(doc_id, enrich_document(norm)), "rag"))
        out[doc_id] = Expected(norm, any(k == "error" for k, _t, _r in norm), rag)
    return out


def reference(docs: List[tuple], workers: int, with_rag: bool = False) -> Dict[str, Expected]:
    """In-process expected output, spread over `workers` spawned processes."""
    chunks = [(docs[i::workers], with_rag) for i in range(workers)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        parts = pool.map(_reference_chunk, chunks)
    ref: Dict[str, Expected] = {}
    for p in parts:
        ref.update(p)
    return ref


def errored(ref: Dict[str, Expected]) -> set:
    return {d for d, e in ref.items() if e.has_error}


def compare_digests(got: Digests, expected: Digests, bad: set) -> int:
    """Failed docs of one extract pass.  A doc passes when it was emitted
    exactly once with its expected digest and is not in `bad` (whose
    expected output is the pipeline's `error` span); every row of a doc that
    should not be there counts as one more failure."""
    failed = sum(len(rows) for d, rows in got.items() if d not in expected)
    for doc_id, digest in expected.items():
        if doc_id in bad or got.get(doc_id) != digest:
            failed += 1
    return failed


def check_checkpoint(paths: Dict[str, str], ref: Dict[str, Expected]) -> Tuple[int, int]:
    """Failed docs of one crash+resume+RAG pass, and the number of buckets
    that were written more than once.

    A doc passes when it was written exactly once with the expected spans,
    its bucket has exactly one `ok` metrics row, and it has exactly one RAG
    payload equal to the in-process export."""
    import pyarrow.parquet as pq

    out = pq.read_table(paths["output"], columns=["doc_id", "spans", "bucket"]).to_pydict()
    written: Dict[str, List[List[Span]]] = {}
    bucket_of: Dict[str, int] = {}
    rows_per_bucket: Dict[int, int] = {}
    for doc_id, spans, bucket in zip(out["doc_id"], out["spans"], out["bucket"]):
        bucket = int(bucket)
        written.setdefault(doc_id, []).append(
            [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        )
        bucket_of[doc_id] = bucket
        rows_per_bucket[bucket] = rows_per_bucket.get(bucket, 0) + 1

    metrics = pq.read_table(paths["metrics"], columns=["bucket", "status"]).to_pydict()
    ok_rows: Dict[int, int] = {}
    for bucket, status in zip(metrics["bucket"], metrics["status"]):
        if status == "ok":
            ok_rows[bucket] = ok_rows.get(bucket, 0) + 1
    bad_buckets = {b for b in range(N_BUCKETS) if ok_rows.get(b, 0) != 1}

    rag = pq.read_table(paths["rag"]).to_pydict()
    payloads: Dict[str, List[str]] = {}
    for doc_id, payload in zip(rag["doc_id"], rag["payload"]):
        payloads.setdefault(doc_id, []).append(_sha(payload))

    failed = sum(1 for d in written if d not in ref)
    for doc_id, exp in ref.items():
        if (
            exp.has_error
            or written.get(doc_id) != [exp.spans]
            or bucket_of.get(doc_id) in bad_buckets
            or payloads.get(doc_id) != [exp.rag]
        ):
            failed += 1
    docs_per_bucket: Dict[int, int] = {}
    for b in bucket_of.values():
        docs_per_bucket[b] = docs_per_bucket.get(b, 0) + 1
    recomputed = sum(
        1
        for b in range(N_BUCKETS)
        if ok_rows.get(b, 0) > 1 or rows_per_bucket.get(b, 0) > docs_per_bucket.get(b, 0)
    )
    return failed, recomputed
