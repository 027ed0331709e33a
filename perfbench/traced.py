"""--trace 1: the per-layer run.

A separate run from the timed ones.  It runs the workload once more on a
Spark session with an uncompressed event log (task, CPU, GC and scan
figures per phase), repeats the extract pass at local[1] for the parallel
efficiency, and drives the same input through the per-document layers in
this process with and without the tracer (self time per layer, counts,
and the tracing overhead).
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import check, sparkjob, trace

EXTRACT_PASSES = 2
SCAN_PASSES = 3
IN_PROCESS_PAIRS = 4

# name → unit, in report order; every traced run prints all of them
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "peak_rss_mb": "MB",
    "pipeline.scan_s": "s",
    "pipeline.marshal_s": "s",
    "pipeline.doc_self_s": "s",
    "pipeline.batches": "count",
    "pipeline.error_docs": "count",
    "pipeline.tasks": "count",
    "pipeline.task_median_s": "s",
    "pipeline.task_max_s": "s",
    "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.docs_per_s_1core": "1/s",
    "pipeline.parallel_eff": "ratio",
    "sniff.calls": "count",
    "sniff.self_s": "s",
    "sniff.html": "count",
    "sniff.pdf_like": "count",
    "sniff.docling_stream": "count",
    "sniff.unknown": "count",
    "html_extract.calls": "count",
    "html_extract.self_s": "s",
    "html_extract.bytes_in": "bytes",
    "html_extract.spans_out": "count",
    "pdf_extract.calls": "count",
    "pdf_extract.self_s": "s",
    "pdf_extract.cells_in": "count",
    "pdf_extract.spans_out": "count",
    "hierarchy.calls": "count",
    "hierarchy.self_s": "s",
    "hierarchy.spans_in": "count",
    "hierarchy.spans_out": "count",
    "enrich.calls": "count",
    "enrich.self_s": "s",
    "enrich.docs_changed": "count",
    "enrich.changed_ratio": "ratio",
    "serialize.chunk_self_s": "s",
    "serialize.export_self_s": "s",
    "serialize.chunks_out": "count",
    "serialize.payload_mb": "MB",
    "checkpoint.run_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.rag_s": "s",
    "checkpoint.groups_run": "count",
    "checkpoint.spark_jobs": "count",
    "checkpoint.input_scan_ratio": "ratio",
    "checkpoint.recomputed_buckets": "count",
    "checkpoint.output_mb": "MB",
    "trace.untraced_s": "s",
    "trace.traced_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _timed(fn, *args):
    t = time.perf_counter()
    res = fn(*args)
    return time.perf_counter() - t, res


def _spark_side(w, docs, input_path: str, work: str, ref, v: dict) -> int:
    """Event-logged session at local[nproc]; returns failed docs."""
    log_dir = os.path.join(work, "events")
    cores = sparkjob.cores()
    start_s, spark = _timed(sparkjob.start_session, work, cores, log_dir)
    sc = spark.sparkContext
    v["session.start_s"] = start_s

    sc.setLocalProperty("perfbench.phase", "warm")
    # memory over a fixed amount of work, the set-up pass: the JVM keeps
    # growing slowly with every further pass
    with sparkjob.RssSampler(sparkjob.jvm_pid(spark)) as rss:
        if w.checkpointed:
            warm_s, _ = _timed(
                sparkjob.checkpoint_pass, spark, input_path, os.path.join(work, "warm")
            )
        else:
            warm_s, _ = _timed(sparkjob.extract_pass, spark, input_path)
    v["session.warm_s"] = warm_s
    v["peak_rss_mb"] = rss.peak_mb
    warm_end = time.perf_counter() + sparkjob.WARM_S
    while time.perf_counter() < warm_end:
        sparkjob.extract_pass(spark, input_path)

    failed = 0
    rates = []
    sc.setLocalProperty("perfbench.phase", "check")
    expected = sparkjob.expected_digests(spark, {d: e.spans for d, e in ref.items()})
    bad = check.errored(ref)
    for _ in range(EXTRACT_PASSES):
        sc.setLocalProperty("perfbench.phase", "extract")
        dt, got = _timed(sparkjob.extract_pass, spark, input_path)
        rates.append(len(docs) / dt)
        failed += check.compare_digests(got, expected, bad)

    if w.checkpointed:
        sc.setLocalProperty("perfbench.phase", "ckpt")
        ck = sparkjob.checkpoint_pass(spark, input_path, os.path.join(work, "ckpt"))
        ck_failed, recomputed = check.check_checkpoint(ck["paths"], ref)
        failed += ck_failed
        v["checkpoint.run_s"] = ck["run_s"]
        v["checkpoint.resume_s"] = ck["resume_s"]
        v["checkpoint.rag_s"] = ck["rag_s"]
        v["checkpoint.groups_run"] = ck["first"]["groups_run"] + ck["resumed"]["groups_run"]
        v["checkpoint.recomputed_buckets"] = recomputed
        v["checkpoint.output_mb"] = _dir_mb(ck["paths"]["output"])

    scans = []
    for _ in range(SCAN_PASSES):
        sc.setLocalProperty("perfbench.phase", "scan")
        scans.append(_timed(sparkjob.scan_pass, spark, input_path)[0])
    v["pipeline.scan_s"] = statistics.median(scans)
    sc.setLocalProperty("perfbench.phase", None)
    spark.stop()

    phases = trace.spark_events(log_dir, input_path)
    ex = phases["extract"]
    v["pipeline.tasks"] = len(ex["task_s"]) / EXTRACT_PASSES
    v["pipeline.task_median_s"] = statistics.median(ex["task_s"])
    v["pipeline.task_max_s"] = max(ex["task_s"])
    v["pipeline.executor_cpu_s"] = ex["cpu_s"] / EXTRACT_PASSES
    v["pipeline.gc_s"] = ex["gc_s"] / EXTRACT_PASSES
    splits = phases["scan"]["input_scans"] / SCAN_PASSES
    if not splits:
        raise RuntimeError("no input scan found in the event log's scan phase")
    if w.checkpointed:
        ck_phases = [phases.get(p, {}) for p in ("ckpt/ckpt_run", "ckpt/ckpt_resume")]
        v["checkpoint.spark_jobs"] = sum(p.get("jobs", 0) for p in ck_phases)
        v["checkpoint.input_scan_ratio"] = sum(p.get("input_scans", 0) for p in ck_phases) / splits

    # single-core baseline for the parallel efficiency, a new context in
    # the same JVM
    spark1 = sparkjob.start_session(os.path.join(work, "one_core"), 1)
    sparkjob.extract_pass(spark1, input_path)
    dt1, got = _timed(sparkjob.extract_pass, spark1, input_path)
    sparkjob.shutdown(spark1)
    failed += check.compare_digests(got, expected, bad)
    rate_1 = len(docs) / dt1
    v["pipeline.docs_per_s_1core"] = rate_1
    v["pipeline.parallel_eff"] = statistics.median(rates) / rate_1 / cores
    return failed


def _in_process(w, input_path: str, trace_path: str, v: dict) -> None:
    """Untraced and traced passes in pairs, alternating which side runs
    first, after one untraced pass that pays imports and regex compilation;
    the overhead is the median of the per-pair ratios.  The spans of the
    last traced pass are written out."""
    def untraced_pass() -> float:
        return trace.run_in_process(input_path, w.checkpointed)

    def traced_pass() -> float:
        nonlocal tracer
        tracer = trace.Tracer()
        trace.install(tracer)
        try:
            return trace.run_in_process(input_path, w.checkpointed)
        finally:
            tracer.restore()

    tracer = None
    untraced_pass()
    untraced, traced = [], []
    for i in range(IN_PROCESS_PAIRS):
        if i % 2:
            traced.append(traced_pass())
            untraced.append(untraced_pass())
        else:
            untraced.append(untraced_pass())
            traced.append(traced_pass())
    tracer.dump(trace_path)
    v["trace.untraced_s"] = statistics.median(untraced)
    v["trace.traced_s"] = statistics.median(traced)
    v["trace.overhead_ratio"] = statistics.median(t / u for t, u in zip(traced, untraced))

    self_s = tracer.self_times()
    counts = tracer.counts
    v["pipeline.marshal_s"] = self_s.get("pipeline.batch", 0.0)
    v["pipeline.doc_self_s"] = self_s.get("pipeline.document", 0.0)
    v["pipeline.batches"] = counts["pipeline.batch.calls"]
    v["pipeline.error_docs"] = counts["pipeline.error_docs"]
    for layer in ("sniff", "html_extract", "pdf_extract", "hierarchy", "enrich"):
        v[f"{layer}.self_s"] = self_s.get(layer, 0.0)
    v["serialize.chunk_self_s"] = self_s.get("serialize.chunk", 0.0)
    v["serialize.export_self_s"] = self_s.get("serialize.export", 0.0)
    v["serialize.payload_mb"] = counts["serialize.payload_bytes"] / 1e6
    for name in PER_LAYER:
        if name in counts:
            v[name] = counts[name]
    v["enrich.changed_ratio"] = counts["enrich.docs_changed"] / max(counts["enrich.calls"], 1)


def traced_run(w, docs, input_path: str, work: str, trace_path: str):
    """Returns (metric name → value for every PER_LAYER name, docs attempted,
    docs failed)."""
    v = {name: 0 for name in PER_LAYER}
    ref = check.reference(docs, sparkjob.cores(), with_rag=w.checkpointed)
    failed = _spark_side(w, docs, input_path, work, ref, v)
    _in_process(w, input_path, trace_path, v)
    passes = EXTRACT_PASSES + 1 + (1 if w.checkpointed else 0)
    return v, len(docs) * passes, failed
