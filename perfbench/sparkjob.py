"""The Spark side of the benchmark: one session through
`docling_spark.session.get_spark`, the timed passes of each workload, and a
sampler of the job's resident memory.

Everything a run writes (Spark local dirs, JVM temp files, the worker
package, checkpoint output) goes under the run's work directory.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional, Tuple

from perfbench import procs

# untimed passes after the set-up pass, in seconds: the JVM is still
# compiling the hot path, and throughput climbs for about this long
WARM_S = 8
N_BUCKETS = 16
GROUP_SIZE = 4
FAIL_AFTER_GROUPS = 2  # crash halfway: 2 of the 4 groups complete
RSS_INTERVAL_S = 0.05  # /proc sampling period of RssSampler


def cores() -> int:
    """The cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def start_session(work: str, cores: int, event_log: Optional[str] = None):
    """get_spark at local[cores] with its own defaults (heap, shuffle
    partitions, Arrow batch size) and every temporary path inside `work`,
    then ship the docling_spark package to the Python workers."""
    from docling_spark.session import get_spark
    from tools.package_pyfiles import build

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # plan strings must carry the scan's full input path
                "spark.sql.maxMetadataStringLength": "100000",
            }
        )
    spark = get_spark(app="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.addPyFile(build(os.path.join(work, "pyfiles", "docling_spark.zip")))
    return spark


Digests = Dict[str, List[Tuple[int, int]]]


def doc_digests(df) -> Digests:
    """doc_id → [(span count, xxhash64 of the spans)] of a document table, one
    entry per row, so a doc emitted twice shows up twice."""
    from pyspark.sql import functions as F

    rows = df.select("doc_id", F.size("spans").alias("n"), F.xxhash64("spans").alias("h")).collect()
    out: Digests = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append((r["n"], r["h"]))
    return out


def expected_digests(spark, expected: Dict[str, list]) -> Digests:
    """The same digests over in-process output (doc_id → span tuples), so the
    JVM hashes both sides of the comparison."""
    import pandas as pd

    from docling_spark.schema import DOC_DDL

    pdf = pd.DataFrame(
        {
            "doc_id": list(expected),
            "spans": [
                [{"kind": k, "text": t, "media_ref": r, "offset": i} for i, (k, t, r) in enumerate(sp)]
                for sp in expected.values()
            ],
        }
    )
    return doc_digests(spark.createDataFrame(pdf, schema=DOC_DDL))


def extract_pass(spark, input_path: str) -> Digests:
    """The read path: extract over the scan, aggregated to per-doc digests."""
    from docling_spark.pipeline import extract

    return doc_digests(extract(spark.read.parquet(input_path)))


def checkpoint_pass(spark, input_path: str, out_dir: str) -> dict:
    """The write path: checkpointed extract that crashes halfway, the resume,
    then the RAG export of the written table.  Each step's Spark jobs carry
    the `perfbench.step` local property, so the event log can split them."""
    from docling_spark.checkpoint import run_extract
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.serialize import chunk_export_sink

    paths = {k: os.path.join(out_dir, k) for k in ("output", "metrics", "rag")}
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sc.setLocalProperty("perfbench.step", "ckpt_run")
    first = run_extract(
        spark, input_path, paths["output"], paths["metrics"],
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE, fail_after_groups=FAIL_AFTER_GROUPS,
    )
    t1 = time.perf_counter()
    sc.setLocalProperty("perfbench.step", "ckpt_resume")
    resumed = run_extract(
        spark, input_path, paths["output"], paths["metrics"],
        n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
    )
    t2 = time.perf_counter()
    sc.setLocalProperty("perfbench.step", "rag")
    written = spark.read.parquet(paths["output"])
    chunk_export_sink(enrich(written), fmt="rag").write.parquet(paths["rag"])
    t3 = time.perf_counter()
    sc.setLocalProperty("perfbench.step", None)
    return {
        "paths": paths,
        "first": first,
        "resumed": resumed,
        "run_s": t1 - t0,
        "resume_s": t2 - t1,
        "rag_s": t3 - t2,
    }


def scan_pass(spark, input_path: str) -> int:
    """Scan-only pass: the same columns read, no Python."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(input_path)
    return df.select(F.sum(F.size("spans"))).collect()[0][0]


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (its Python workers end with it)."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits when its stdin closes
    proc.wait(timeout=60)


def _tree_rss_kb(root: int) -> int:
    total = 0
    for pid in [root] + procs.descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, ValueError, IndexError):
            pass  # process ended while we looked
    return total


class RssSampler:
    """Peak summed RSS of a process tree (the JVM and its Python workers),
    sampled from /proc on a background thread."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(self.root_pid))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
