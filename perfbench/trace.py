"""Per-layer tracing from outside the program.

`Tracer` wraps the module attributes the pipeline's entry points call and
records one span per call (name, start, end, parent) plus counts at the same
boundaries; a layer's self time is its span durations minus the part its
child spans cover.  `spark_events` summarises an uncompressed Spark event
log (tasks, CPU, GC, jobs and input scans per benchmark phase).
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter, defaultdict
from typing import Callable, Dict, List, Optional

ARROW_BATCH_ROWS = 64  # spark.sql.execution.arrow.maxRecordsPerBatch set by get_spark


class Tracer:
    def __init__(self) -> None:
        self.spans: List[list] = []  # [name, start, end, parent index]
        self.counts: Counter = Counter()
        self._stack: List[int] = []
        self._patched: List[tuple] = []

    def wrap(self, module, attr: str, name: str, count: Optional[Callable] = None) -> None:
        """Replace `module.attr` by a recording wrapper until `restore`."""
        fn = getattr(module, attr)
        spans, stack, counts = self.spans, self._stack, self.counts

        def traced(*args, **kwargs):
            idx = len(spans)
            spans.append([name, time.perf_counter(), 0.0, stack[-1] if stack else -1])
            stack.append(idx)
            try:
                result = fn(*args, **kwargs)
            finally:
                stack.pop()
                spans[idx][2] = time.perf_counter()
            counts[f"{name}.calls"] += 1
            if count is not None:
                count(counts, args, result)
            return result

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times(self) -> Dict[str, float]:
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: Dict[str, float] = defaultdict(float)
        for i, (name, start, end, _parent) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


def _count_sniff(counts, args, result) -> None:
    counts[f"sniff.{result}"] += 1


def _count_html(counts, args, result) -> None:
    counts["html_extract.bytes_in"] += len((args[0] or "").encode())
    counts["html_extract.spans_out"] += len(result)


def _count_pdf(counts, args, result) -> None:
    counts["pdf_extract.cells_in"] += len(args[0])
    counts["pdf_extract.spans_out"] += len(result)


def _count_hierarchy(counts, args, result) -> None:
    counts["hierarchy.spans_in"] += len(args[0])
    counts["hierarchy.spans_out"] += len(result)


def _count_document(counts, args, result) -> None:
    counts["pipeline.error_docs"] += any(k == "error" for k, _t, _r in result)


def _count_enrich(counts, args, result) -> None:
    counts["enrich.docs_changed"] += list(result) != list(args[0])


def _count_chunks(counts, args, result) -> None:
    counts["serialize.chunks_out"] += len(result)


def _count_export(counts, args, result) -> None:
    counts["serialize.payload_bytes"] += len(result.encode())


def install(tracer: Tracer) -> None:
    """Wrap every layer boundary the extraction and RAG export pass through."""
    from docling_spark import pipeline
    from docling_spark.operators import enrich, serialize, sniff

    tracer.wrap(pipeline, "_extract_record_batch", "pipeline.batch")
    tracer.wrap(pipeline, "extract_document_safe", "pipeline.document", _count_document)
    tracer.wrap(sniff, "sniff_doc", "sniff", _count_sniff)
    tracer.wrap(pipeline, "extract_html_spans", "html_extract", _count_html)
    tracer.wrap(pipeline, "normalize_pdf_spans", "pdf_extract", _count_pdf)
    tracer.wrap(pipeline, "reconstruct", "hierarchy", _count_hierarchy)
    tracer.wrap(enrich, "enrich_document", "enrich", _count_enrich)
    tracer.wrap(serialize, "chunk_document", "serialize.chunk", _count_chunks)
    tracer.wrap(serialize, "export_chunks", "serialize.export", _count_export)


def run_in_process(input_path: str, with_rag: bool) -> float:
    """Drive the per-document layers in this process, through the same entry
    points the Spark job calls, file by file in the Arrow batch size Spark
    uses.  Looks the functions up at call time so an installed tracer sees
    them."""
    import pyarrow.parquet as pq

    from docling_spark import pipeline
    from docling_spark.operators import enrich, serialize

    batches = (
        rb
        for name in sorted(os.listdir(input_path))
        for rb in pq.ParquetFile(os.path.join(input_path, name)).iter_batches(ARROW_BATCH_ROWS)
    )
    t0 = time.perf_counter()
    for rb in batches:
        out = pipeline._extract_record_batch(rb)
        if not with_rag:
            continue
        col = out.to_pydict()
        for doc_id, spans in zip(col["doc_id"], col["spans"]):
            norm = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
            chunks = serialize.chunk_document(doc_id, enrich.enrich_document(norm))
            serialize.export_chunks(chunks, "rag")
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _scan_row_accumulators(plan: dict, location: str, found: set) -> None:
    """Accumulator ids of 'number of output rows' on scans of `location`."""
    if plan.get("nodeName", "").startswith("Scan") and location in plan.get("simpleString", ""):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                found.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_row_accumulators(child, location, found)


def spark_events(log_dir: str, input_path: str) -> Dict[str, dict]:
    """Per benchmark phase (the `perfbench.phase` local property, suffixed
    with `/<perfbench.step>` when set): jobs, task durations, executor CPU
    and GC time, and how many input splits were scanned (tasks that produced
    rows from a scan of `input_path`)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    location = os.path.abspath(input_path)
    stage_phase: Dict[int, str] = {}
    scan_accs: set = set()
    phases: Dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "task_s": [], "cpu_s": 0.0, "gc_s": 0.0, "input_scans": 0}
    )
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _scan_row_accumulators(ev.get("sparkPlanInfo", {}), location, scan_accs)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                phase = props.get("perfbench.phase") or "other"
                if props.get("perfbench.step"):
                    phase += "/" + props["perfbench.step"]
                phases[phase]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_phase[sid] = phase
            elif kind == "SparkListenerTaskEnd":
                p = phases[stage_phase.get(ev["Stage ID"], "other")]
                m = ev.get("Task Metrics") or {}
                p["task_s"].append(m.get("Executor Run Time", 0) / 1000)
                p["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                p["gc_s"] += m.get("JVM GC Time", 0) / 1000
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("ID") in scan_accs and int(acc.get("Update", 0) or 0) > 0:
                        p["input_scans"] += 1
    return dict(phases)
