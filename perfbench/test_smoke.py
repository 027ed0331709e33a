"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json is emitted with its unit,
that the output checks reject corrupted output, and that the traced run
sees no HTML extraction on the PDF-only workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import check
from perfbench.run import ROOT
from perfbench.workloads import WORKLOADS, generate

TINY = 48


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
            "--workload", workload, "--seed", "5", "--seconds", "1",
            "--trace", str(trace), "--docs", str(TINY),
        ],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= TINY
    assert {m["name"]: m["unit"] for m in spec} == {
        name: m["unit"] for name, m in result["metrics"].items()
    }


@pytest.mark.parametrize("workload", ["extract_pdf", "checkpoint_rag"])
def test_timed_run_emits_end_to_end_metrics(workload):
    result = _run(workload, trace=0)
    _assert_metrics(result, _bench_spec()["end_to_end"])
    assert result["metrics"]["ok_ratio"]["value"] == 1.0


def test_traced_run_emits_per_layer_metrics_and_skips_html_on_pdf():
    result = _run("extract_pdf", trace=1)
    _assert_metrics(result, _bench_spec()["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["html_extract.calls"] == 0 and m["html_extract.self_s"] == 0
    assert m["pdf_extract.calls"] > 0 and m["sniff.calls"] == TINY


def _docs(workload: str, n_docs: int):
    return [d for f in generate(WORKLOADS[workload], seed=3, n_docs=n_docs) for d in f]


def test_extract_check_rejects_corrupted_output():
    ref = check.reference(_docs("extract_mixed", 12), workers=2)
    good = {d: [(len(e.spans), hash(tuple(e.spans)))] for d, e in ref.items()}
    assert check.compare_digests(dict(good), good, set()) == 0

    doc_id, [(n, h)] = next(iter(good.items()))
    corrupted = dict(good, **{doc_id: [(n, h + 1)]})
    assert check.compare_digests(corrupted, good, set()) == 1
    missing = {d: v for d, v in good.items() if d != doc_id}
    assert check.compare_digests(missing, good, set()) == 1
    duplicated = dict(good, **{doc_id: [(n, h), (n, h)]})
    assert check.compare_digests(duplicated, good, set()) == 1
    extra = dict(good, **{"stray-doc": [(1, 0), (1, 0)]})
    assert check.compare_digests(extra, good, set()) == 2
    assert check.compare_digests(dict(good), good, {doc_id}) == 1  # expected `error` span


def _write_checkpoint(root, ref, duplicate=None, skip_payload=None) -> dict:
    """A checkpoint output laid out as run_extract + the RAG sink write it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_spark.operators.enrich import enrich_document
    from docling_spark.operators.serialize import chunk_document, export_chunks

    from perfbench.sparkjob import N_BUCKETS

    out = {"doc_id": [], "spans": [], "bucket": []}
    rag = {"doc_id": [], "payload": []}
    for i, (doc_id, exp) in enumerate(ref.items()):
        spans = [{"kind": k, "text": t, "media_ref": r, "offset": j} for j, (k, t, r) in enumerate(exp.spans)]
        for _ in range(2 if doc_id == duplicate else 1):
            out["doc_id"].append(doc_id)
            out["spans"].append(spans)
            out["bucket"].append(i % N_BUCKETS)
        if doc_id != skip_payload:
            rag["doc_id"].append(doc_id)
            rag["payload"].append(export_chunks(chunk_document(doc_id, enrich_document(exp.spans)), "rag"))
    paths = {k: str(root / k) for k in ("output", "metrics", "rag")}
    pq.write_to_dataset(pa.table(out), paths["output"], partition_cols=["bucket"])
    pq.write_to_dataset(
        pa.table({"bucket": list(range(N_BUCKETS)), "status": ["ok"] * N_BUCKETS}), paths["metrics"]
    )
    pq.write_to_dataset(pa.table(rag), paths["rag"])
    return paths


def test_checkpoint_check_rejects_duplicates_and_missing_payloads(tmp_path):
    ref = check.reference(_docs("checkpoint_rag", 20), workers=2, with_rag=True)
    ok = _write_checkpoint(tmp_path / "ok", ref)
    assert check.check_checkpoint(ok, ref) == (0, 0)

    ids = list(ref)
    bad = _write_checkpoint(tmp_path / "bad", ref, duplicate=ids[0], skip_payload=ids[1])
    assert check.check_checkpoint(bad, ref) == (2, 1)


def test_stop_all_ends_orphaned_descendants():
    """A grandchild whose parent has exited, and one that ignores SIGTERM,
    are both gone once stop_all returns."""
    script = (
        "import os, subprocess, time\n"
        "from perfbench import procs\n"
        "procs.become_subreaper()\n"
        "subprocess.Popen(['sh', '-c', \"sleep 60 & (trap '' TERM; exec sleep 61) &\"]).wait()\n"
        "time.sleep(0.5)\n"
        "before = len(procs.descendants(os.getpid()))\n"
        "procs.stop_all()\n"
        "print(before, len(procs.descendants(os.getpid())))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, stdout=subprocess.PIPE, text=True,
        timeout=60, check=True,
    )
    before, after = map(int, proc.stdout.split())
    assert (before, after) == (2, 0)
