"""Extraction benchmark: one workload, one process, local[nproc].

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Generates the workload's corpus from the seed, runs it through the
program's public entry points on a SparkSession from
`docling_spark.session.get_spark`, checks every output against the
in-process pipeline, and prints one line per metric followed by one JSON
object as the last line of stdout.

--trace 0 reports the end-to-end metrics (docs_per_s, setup_s, ok_ratio);
--trace 1 is a separate run that reports the per-layer metrics (see
perfbench/README.md).  Everything the run writes goes under
.bench_work/ in the checkout and is removed at exit; traces are kept under
.bench_out/.  Every process the run starts (the JVM, its Python workers,
the reference pool) has ended before it exits, on every path out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import check, procs, sparkjob  # noqa: E402 — needs ROOT on sys.path

MIN_TIMED_PASSES = 2

def _process_age_s() -> float:
    """Seconds since this process started (interpreter start-up included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _report(metrics: dict, correct: bool, attempted: int, failed: int) -> None:
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )


def _run_pass(spark, w, input_path: str, out_dir: str):
    if w.checkpointed:
        return sparkjob.checkpoint_pass(spark, input_path, out_dir)
    return sparkjob.extract_pass(spark, input_path)


def timed_run(args, w, docs, input_path: str, work: str, setup0: float, spark) -> None:
    """--trace 0: set-up pass, sparkjob.WARM_S of untimed passes, then timed
    passes for --seconds, all with tracing off; every pass's output is
    checked."""
    results = []

    def one_pass() -> float:
        t = time.perf_counter()
        results.append(_run_pass(spark, w, input_path, os.path.join(work, f"pass{len(results)}")))
        return time.perf_counter() - t

    one_pass()
    setup_s = setup0 + time.perf_counter()
    warm_end = time.perf_counter() + sparkjob.WARM_S
    while time.perf_counter() < warm_end:
        one_pass()

    pass_s = []
    t_end = time.perf_counter() + args.seconds
    # start a pass only if it is likely to end inside the window
    while len(pass_s) < MIN_TIMED_PASSES or time.perf_counter() + statistics.median(pass_s) <= t_end:
        pass_s.append(one_pass())

    ref = check.reference(docs, sparkjob.cores(), with_rag=w.checkpointed)
    if w.checkpointed:
        failed = sum(check.check_checkpoint(res["paths"], ref)[0] for res in results)
    else:
        expected = sparkjob.expected_digests(spark, {d: e.spans for d, e in ref.items()})
        failed = sum(check.compare_digests(res, expected, check.errored(ref)) for res in results)
    sparkjob.shutdown(spark)
    attempted = len(docs) * len(results)

    rates = [len(docs) / s for s in pass_s]
    print(f"timed passes = {len(rates)}, docs_per_s per pass = {[round(r, 1) for r in rates]}")
    print("docs_per_s is their median; below 20 passes no percentile has ten beyond it")
    metrics = {
        "docs_per_s": _metric(statistics.median(rates), "1/s"),
        "setup_s": _metric(setup_s, "s"),
        "ok_ratio": _metric((attempted - failed) / attempted, "ratio"),
    }
    _report(metrics, failed == 0, attempted, failed)


def main(argv=None) -> int:
    age0, t0 = _process_age_s(), time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, help="override the workload's corpus size (smoke test)")
    args = ap.parse_args(argv)
    procs.become_subreaper()
    procs.exit_on_sigterm()

    try:
        import pyarrow.parquet  # noqa: F401 — paid by every submission
        import pyspark  # noqa: F401

        import docling_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS, generate, input_properties, write_parquet
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        w = WORKLOADS[args.workload]
        t_gen = time.perf_counter()
        files = generate(w, args.seed, args.docs)
        input_path = os.path.join(work, "input")
        write_parquet(files, input_path)
        props = input_properties(files)
        docs = [d for f in files for d in f]
        gen_s = time.perf_counter() - t_gen
        print(f"input {args.workload} seed={args.seed}: {json.dumps(props)}")

        if args.trace:
            from perfbench.traced import PER_LAYER, traced_run

            trace_path = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json")
            v, attempted, failed = traced_run(w, docs, input_path, work, trace_path)
            metrics = {name: _metric(v[name], unit) for name, unit in PER_LAYER.items()}
            _report(metrics, failed == 0, attempted, failed)
            return 0
        setup0 = age0 - t0 - gen_s  # process age at perf_counter()==0, minus load generation
        spark = sparkjob.start_session(work, sparkjob.cores())
        timed_run(args, w, docs, input_path, work, setup0, spark)
        return 0
    finally:
        procs.stop_all()  # a run that fails keeps nothing running either
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
