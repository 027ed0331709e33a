"""Physical-plan regression guards for the scale paths.

These assert the *shape* Catalyst picks, not results: the LSH/IVF/near-dup
joins must stay bucket equi-joins (a broken join condition silently degrades
to a cartesian product that still returns correct rows at test scale but
explodes at 100 TB), and dimension joins must broadcast.
"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"word{i} common tokens here for doc {i}", "en") for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_minhash_band_pairs_is_equi_join(docs):
    from docling_spark.ops.dedup import minhash_band_pairs

    plan = _plan(minhash_band_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_embedding_neardup_is_equi_join(emb):
    from docling_spark.ops.similarity import embedding_neardup_pairs

    plan = _plan(embedding_neardup_pairs(emb, bits=4, dim=8))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_ann_bucketed_join_shape(emb):
    from docling_spark.ops.similarity import ann_bucketed_topk

    plan = _plan(ann_bucketed_topk(emb, query_ids=[0], k=3, bits=4, dim=8))
    assert "CartesianProduct" not in plan


def test_ann_ivf_cell_join_broadcasts_queries(emb):
    from docling_spark.ops.similarity import ann_ivf_topk

    plan = _plan(ann_ivf_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2, dim=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the tiny probed-query side


def test_ann_ivf_join_condition_binds_distinct_attributes(emb):
    # Both join sides descend from the same `emb` lineage; without explicit
    # aliases Spark resolved cell == cell via its trivially-true-predicate
    # self-join heuristic (logged WARN, version-fragile). The analyzed plan
    # must show the equi-join bound to two DIFFERENT expression IDs.
    import re

    from docling_spark.ops.similarity import ann_ivf_topk

    df = ann_ivf_topk(emb, query_ids=[0], k=3, n_cells=4, n_probe=2, dim=8)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    m = re.search(r"cell#(\d+)L? = cell#(\d+)L?", analyzed)
    assert m, f"no cell equi-join found in analyzed plan:\n{analyzed}"
    assert m.group(1) != m.group(2), "join condition collapsed to cell == cell"


def test_exact_cosine_broadcasts_query_side(emb):
    from docling_spark.ops.similarity import cosine_topk

    # brute-force path: the deliberate cross join must broadcast the tiny
    # query side (BroadcastNestedLoopJoin), never shuffle the corpus twice
    plan = _plan(cosine_topk(emb, query_ids=[0], k=3))
    assert "BroadcastNestedLoopJoin" in plan


def test_dedup_exact_shuffles_hash_only(docs):
    from docling_spark.ops.dedup import exact_dup_groups

    plan = _plan(exact_dup_groups(docs))
    # the exchange key is the md5 hash; the raw text column must be pruned
    # before the shuffle (project-then-aggregate, partial+final)
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Exchange") == 1


def test_tpch_q5_shape_broadcasts_dims(spark):
    import __spark_entry__ as E

    df = E.q_local_supplier_volume(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # nation/region build sides


def test_scan_prunes_columns(spark):
    # column pruning reaches the parquet scan: a 2-column projection must
    # not read the full lineitem schema
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    plan = _plan(df)
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "l_extendedprice" not in scan[0]
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan

def test_simhash_neardup_plan_is_equi_join(docs):
    from docling_spark.ops.dedup import simhash_neardup_pairs

    plan = simhash_neardup_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_components_plan_has_no_cartesian(spark):
    from docling_spark.ops.dedup import dup_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    plan = dup_components(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join(spark):
    """The session's AQE config actually engages on a skewed shuffle join:
    the finalized adaptive plan shows SortMergeJoin(skew=true) with skewed
    AQEShuffleReads — the runtime re-plan the north rule relies on for
    cross-document joins (thresholds lowered so local-scale data skews)."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.range(0, 60000).select(
            F.when(F.col("id") < 50000, F.lit(7)).otherwise(F.col("id") % 40).alias("k"),
            F.concat(F.lit("x" * 200), F.col("id").cast("string")).alias("payload"),
        )
        other = spark.range(0, 60000).select(
            (F.col("id") % 40).alias("k"), F.col("id").alias("v")
        )
        j = big.join(other, "k").select(F.sum(F.length("payload") + F.col("v")))
        j.collect()  # finalize THIS DataFrame's adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semdedup_pairs_are_cell_equi_join(emb):
    from docling_spark.ops.similarity import semdedup

    plan = _plan(semdedup(emb, n_cells=4, dim=8, threshold=0.95))
    # the corpus-side self-compare must be a hash equi-join on cell; the
    # only nested-loop allowed is the broadcast of the tiny centroid table
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # centroid assign + cent_cos


def test_c4_clean_has_no_cartesian(docs):
    from docling_spark.ops.textstats import c4_clean

    plan = _plan(c4_clean(docs))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan


def test_bm25_topk_uses_take_ordered(docs):
    from docling_spark.ops.retrieval import bm25_topk

    plan = _plan(bm25_topk(docs, ["common", "tokens"], k=5))
    # global top-k must be TakeOrderedAndProject (per-partition heap),
    # never a full Sort feeding a single-partition window over the corpus
    assert "TakeOrderedAndProject" in plan


def test_semdedup_reuse_plan_recomputes_no_assignment(spark):
    """The pay-once-assign-twice composition (semdedup_reuse): the
    localCheckpointed ivf_assign output feeds BOTH the cell-population
    rollup and semdedup's clustering, so the composed physical plan must
    contain no assignment machinery at all — no cross/nested-loop join
    against a centroid table survives the checkpoint boundary."""
    import numpy as np

    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(64)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    from docling_spark.ops.similarity import ivf_assign, semdedup

    assigned = ivf_assign(emb, n_cells=32).localCheckpoint(eager=False)
    pop = assigned.groupBy("cell").agg(F.count("*").alias("cell_n"))
    sd = semdedup(emb, threshold=0.35, n_cells=32, assigned=assigned)
    out = sd.join(pop, "cell").select("vec_id", "cell", "cell_n",
                                      "cent_cos_e6", "kept")
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # flat-assign fingerprint
    # the assignment sits behind exactly the checkpoint scans
    assert "ExistingRDD" in plan


def _span_stages():
    """Every per-document span stage, as (name, df → stage output)."""
    from docling_spark.operators import serialize
    from docling_spark.operators.enrich import enrich
    from docling_spark.operators.grids import triplets_sink
    from docling_spark.operators.hybrid_chunker import hybrid_chunk_sink
    from docling_spark.pipeline import extract, extract_html_formatted
    from docling_spark.sources.readers import read_doctags

    return [
        ("extract", extract),
        ("extract_html_formatted", extract_html_formatted),
        ("enrich", enrich),
        ("markdown_sink", serialize.markdown_sink),
        ("html_sink", serialize.html_sink),
        ("latex_sink", serialize.latex_sink),
        ("doctags_sink", serialize.doctags_sink),
        ("chunk_export_sink", lambda df: serialize.chunk_export_sink(df, "rag")),
        ("chunk_sink", serialize.chunk_sink),
        ("hybrid_chunk_sink", hybrid_chunk_sink),
        ("triplets_sink", triplets_sink),
        ("read_doctags",
         lambda df: read_doctags(df.select("doc_id", F.lit("").alias("doctags")))),
    ]


def test_span_stages_are_narrow_map_in_arrow(spark, corpus_path):
    """Each span stage is one narrow Arrow map over the scan: the executed
    plan has MapInArrow, no MapInPandas, and no shuffle."""
    docs = spark.read.parquet(corpus_path)
    bad = {}
    for name, stage in _span_stages():
        plan = _plan(stage(docs))
        if "MapInArrow" not in plan or "MapInPandas" in plan or "Exchange" in plan:
            bad[name] = plan
    assert not bad, "\n\n".join(f"{n}:\n{p}" for n, p in bad.items())
