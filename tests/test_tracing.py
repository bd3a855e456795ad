"""Search/build tracing-metrics parity (r5 verdict #7; reference wraps
every index verb in a tracer span, src/index/index.cc:131-162): job
descriptions label the op's jobs, and `last_metrics` carries config
attrs, per-stage driver wall, and kernel-side counters (live Spark
accumulators, resolved by `.snapshot()` after the result is consumed)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowhere_spark.config import HnswConfig, IvfConfig
from knowhere_spark.operators.hnsw import HNSWIndex
from knowhere_spark.operators.ivf import IVFFlatIndex

from conftest import QUERY_SCHEMA, dense_df, gen_dense


def _desc(spark):
    return spark.sparkContext.getLocalProperty("spark.job.description") or ""


def test_ivf_build_and_driver_search_metrics(spark):
    base = gen_dense(600, 16, seed=21)
    qs = gen_dense(7, 16, seed=22)
    idx = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=8, nprobe=3))
    bm = idx.last_metrics.snapshot()
    assert bm["op"] == "IVF_FLAT.build" and bm["n"] == 600 and bm["nlist"] == 8
    assert bm["train_backend"] == "driver"
    assert bm["stages"]["build_plan_sec"] > 0
    assert "knowhere:IVF_FLAT.build" in _desc(spark)

    res = idx.search(dense_df(spark, qs, QUERY_SCHEMA), k=5, strategy="driver")
    assert "knowhere:IVF_FLAT.search" in _desc(spark)   # span open pre-consume
    res.count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == "IVF_FLAT.search"
    assert sm["strategy"] == "driver" and sm["k"] == 5 and sm["nprobe"] == 3
    assert sm["nq"] == 7 and sm["cells_probed"] == 7 * 3
    # the kernel-side counter finalized at consumption: at least the
    # probed cells' rows, at most the corpus per scan
    assert 0 < sm["rows_scanned"] <= 600
    assert sm["stages"]["probe_sec"] >= 0


def test_ivf_distributed_search_metrics(spark):
    base = gen_dense(500, 16, seed=23)
    idx = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=8, nprobe=2))
    qs = dense_df(spark, base[:20], QUERY_SCHEMA)
    res = idx.search(qs, k=5, strategy="distributed")
    res.count()
    sm = idx.last_metrics.snapshot()
    assert sm["strategy"] == "distributed"
    assert sm["rows_scanned"] > 0          # cogroup GEMM counter fired
    assert "knowhere:IVF_FLAT.search" in sm["description"]


@pytest.mark.parametrize("family", ["IVF_FLAT", "IVF_SQ8", "IVF_PQ"])
def test_dense_ivf_search_span(spark, family):
    """Every dense IVF family's search opens the same span through the
    shared front end: op, strategy, nq, cells probed, kernel rows."""
    from knowhere_spark.config import IvfPqConfig, IvfSq8Config
    from knowhere_spark.operators.pq import IVFPqIndex
    from knowhere_spark.operators.sq import IVFSq8Index

    cls, cfg = {
        "IVF_FLAT": (IVFFlatIndex, IvfConfig),
        "IVF_SQ8": (IVFSq8Index, IvfSq8Config),
        "IVF_PQ": (IVFPqIndex, IvfPqConfig),
    }[family]
    base = dense_df(spark, gen_dense(400, 16, seed=29))
    idx = cls.build(base, cfg(metric_type="L2", nlist=6, nprobe=2))
    idx.search(dense_df(spark, gen_dense(6, 16, seed=30), QUERY_SCHEMA), k=4).count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == f"{family}.search" and sm["strategy"] == "driver"
    assert sm["nq"] == 6 and sm["cells_probed"] == 6 * 2
    assert 0 < sm["rows_scanned"] <= 400
    assert f"knowhere:{family}.search" in sm["description"]


def test_hnsw_search_metrics_both_strategies(spark):
    base = gen_dense(400, 16, seed=24)
    qs = gen_dense(5, 16, seed=25)
    idx = HNSWIndex.build(dense_df(spark, base), HnswConfig(metric_type="L2", M=8, ef=16))
    bm = idx.last_metrics.snapshot()
    assert bm["op"] == "HNSW.build" and bm["n"] == 400 and bm["M"] == 8
    q_df = dense_df(spark, qs, QUERY_SCHEMA)

    idx.search(q_df, k=4, ef=16, strategy="broadcast").count()
    sm = idx.last_metrics.snapshot()
    assert sm["strategy"] == "broadcast"
    assert sm["nodes_scored"] > 0          # beam counter fired at consume
    assert "strategy=broadcast" in _desc(spark)

    idx.search(q_df, k=4, ef=16, strategy="bfs", max_hops=2).count()
    sm2 = idx.last_metrics.snapshot()
    assert sm2["strategy"] == "bfs" and sm2["max_hops"] == 2
    assert sm2["bfs_frames"] >= 1
    assert "strategy=bfs" in _desc(spark)


def test_description_overwritten_by_next_op(spark):
    """One active span per thread: the next op's label replaces the
    previous one (depth-1 span stack, the reference's per-call shape)."""
    base = gen_dense(300, 8, seed=26)
    idx = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=4, nprobe=2))
    q = dense_df(spark, base[:3], QUERY_SCHEMA)
    idx.search(q, k=3, strategy="driver").count()
    assert "IVF_FLAT.search" in _desc(spark)
    idx2 = IVFFlatIndex.build(dense_df(spark, base), IvfConfig(metric_type="L2", nlist=4, nprobe=2))
    assert "IVF_FLAT.build" in _desc(spark)


def test_sparse_search_span(spark):
    from knowhere_spark.config import SparseConfig
    from knowhere_spark.operators.sparse import SparseInvertedIndex

    base = spark.createDataFrame(
        [(0, {1: 1.0, 2: 0.5}), (1, {2: 2.0}), (2, {1: 0.2, 3: 1.0})],
        "id long, vec map<int,float>",
    )
    idx = SparseInvertedIndex.build(
        base, SparseConfig(metric_type="IP", inverted_index_algo="DAAT_MAXSCORE", k=2)
    )
    q = spark.createDataFrame([(0, {1: 1.0, 2: 1.0})], "query_id long, vec map<int,float>")
    idx.search(q, k=2).count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == "SPARSE.search" and sm["k"] == 2
    assert sm["algo"] == "DAAT_MAXSCORE" and sm["prune_terms"] is True
    assert "knowhere:SPARSE.search" in _desc(spark)


def test_sharded_hnsw_search_span(spark):
    from knowhere_spark.operators.hnsw_sharded import ShardedHNSWIndex

    base = gen_dense(300, 8, seed=27)
    idx = ShardedHNSWIndex.build(
        dense_df(spark, base), HnswConfig(metric_type="L2", M=6, ef=12, k=3),
        n_shards=3,
    )
    idx.search(dense_df(spark, gen_dense(4, 8, seed=28), QUERY_SCHEMA), k=3).count()
    sm = idx.last_metrics.snapshot()
    assert sm["op"] == "SHARDED_HNSW.search"
    assert sm["shards_searched"] == 3 and sm["waves"] >= 1
    assert "knowhere:SHARDED_HNSW.search" in sm["description"]
