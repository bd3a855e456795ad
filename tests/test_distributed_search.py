"""Large-nq distributed search paths: no driver collect of the query set.

The driver path's Arrow collect of the query set is the reference's
nq<=10k serving contract; corpus-vs-corpus workloads (semantic dedup of a
100 TB table against itself) need probe assignment and scoring to
distribute.  These tests assert (a) the distributed plans are built
without ever collecting the query DataFrame, (b) results equal the
driver path exactly, and (c) the driver path itself never Row-collects
and serves an empty query set as an empty result.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowhere_spark.config import IvfConfig
from knowhere_spark.operators.brute_force import BruteForce
from knowhere_spark.operators.ivf import IVFFlatIndex

from tests.conftest import QUERY_SCHEMA, dense_df, gen_dense


def _rows(df):
    # 6 decimals: the ADC LUT sums per subspace, the GEMM over full dim —
    # same math, different FP association order (~1e-9 relative)
    return sorted(
        (r["query_id"], r["neighbor_id"], round(r["distance"], 6), r["rank"])
        for r in df.collect()
    )


class _NoCollect:
    """Context manager: any DataFrame.collect() during plan construction
    fails the test (toPandas/toLocalIterator ride on collect too)."""

    def __init__(self, monkeypatch):
        self.monkeypatch = monkeypatch

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame as CDF

        def banned(self_, *a, **kw):
            raise AssertionError("Row collect() while building or running a search")

        self.monkeypatch.setattr(CDF, "collect", banned)
        return self

    def __exit__(self, *exc):
        self.monkeypatch.undo()


@pytest.fixture(scope="module")
def ivf_fixture(spark):
    base = gen_dense(2000, 16, seed=31)
    qmat = gen_dense(300, 16, seed=32)
    base_df = dense_df(spark, base)
    q_df = dense_df(spark, qmat, QUERY_SCHEMA)
    idx = IVFFlatIndex.build(base_df, IvfConfig(metric_type="L2", nlist=16, nprobe=4))
    idx.assignments.cache().count()
    return idx, q_df


def test_ivf_distributed_matches_driver(spark, ivf_fixture, monkeypatch):
    idx, q_df = ivf_fixture
    with _NoCollect(monkeypatch):
        dist_df = idx.search(q_df, k=10, nprobe=4, strategy="distributed")
    driver_df = idx.search(q_df, k=10, nprobe=4, strategy="driver")
    assert _rows(dist_df) == _rows(driver_df)


def test_ivf_distributed_cosine_matches_driver(spark, monkeypatch):
    base = gen_dense(800, 12, seed=33)
    q = gen_dense(100, 12, seed=34)
    idx = IVFFlatIndex.build(
        dense_df(spark, base), IvfConfig(metric_type="COSINE", nlist=8, nprobe=8)
    )
    q_df = dense_df(spark, q, QUERY_SCHEMA)
    with _NoCollect(monkeypatch):
        dist_df = idx.search(q_df, k=5, strategy="distributed")
    assert _rows(dist_df) == _rows(idx.search(q_df, k=5, strategy="driver"))


def test_ivf_distributed_with_filter(spark, ivf_fixture, monkeypatch):
    idx, q_df = ivf_fixture
    flt = F.col("id") % 3 != 0
    with _NoCollect(monkeypatch):
        dist_df = idx.search(q_df, k=10, nprobe=4, strategy="distributed", filter_expr=flt)
    assert _rows(dist_df) == _rows(
        idx.search(q_df, k=10, nprobe=4, strategy="driver", filter_expr=flt)
    )


def test_ivf_distributed_ensure_topk_full(spark, monkeypatch):
    """Underfilled queries (tiny probed cells) refill distributedly —
    ivf.cc:753-762 semantics, no driver qid lists."""
    import dataclasses

    base = gen_dense(500, 8, seed=35)
    idx = IVFFlatIndex.build(
        dense_df(spark, base), IvfConfig(metric_type="L2", nlist=25, nprobe=1)
    )
    idx = IVFFlatIndex(
        idx.centroids,
        idx.assignments,
        dataclasses.replace(idx.config, ensure_topk_full=True),
    )
    q_df = dense_df(spark, gen_dense(40, 8, seed=36), QUERY_SCHEMA)
    k = 30   # > any single cell's population at nlist=25
    idx._get_cell_counts()   # index stats (computed once per index, not per query)
    with _NoCollect(monkeypatch):
        out = idx.search(q_df, k=k, nprobe=1, strategy="distributed")
    counts = {r["query_id"]: r["cnt"] for r in
              out.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    assert len(counts) == 40 and all(c == k for c in counts.values())
    # refilled results equal an all-cells exact search
    exact = idx.search(q_df, k=k, nprobe=25, strategy="driver")
    assert _rows(out) == _rows(exact)


@pytest.mark.parametrize(
    "metric,filtered",
    [("L2", False), ("IP", False), ("COSINE", False), ("L2", True)],
    ids=["L2", "IP", "COSINE", "L2-filter"],
)
def test_sq8_distributed_matches_driver(spark, monkeypatch, metric, filtered):
    from knowhere_spark.config import IvfSq8Config
    from knowhere_spark.operators.sq import IVFSq8Index

    base = gen_dense(1200, 16, seed=41)
    q = gen_dense(150, 16, seed=42)
    idx = IVFSq8Index.build(
        dense_df(spark, base), IvfSq8Config(metric_type=metric, nlist=12, nprobe=4)
    )
    idx.assignments.cache().count()
    q_df = dense_df(spark, q, QUERY_SCHEMA)
    flt = F.col("id") % 3 != 0 if filtered else None
    with _NoCollect(monkeypatch):
        dist_df = idx.search(
            q_df, k=10, nprobe=4, strategy="distributed", filter_expr=flt
        )
    assert _rows(dist_df) == _rows(
        idx.search(q_df, k=10, nprobe=4, strategy="driver", filter_expr=flt)
    )


def test_pq_distributed_matches_driver(spark, monkeypatch):
    """Decode-then-GEMM == ADC LUT sum, distributed vs driver."""
    from knowhere_spark.config import IvfPqConfig
    from knowhere_spark.operators.pq import IVFPqIndex

    base = gen_dense(1000, 16, seed=43)
    q = gen_dense(120, 16, seed=44)
    idx = IVFPqIndex.build(
        dense_df(spark, base), IvfPqConfig(metric_type="L2", nlist=10, nprobe=4, m=8)
    )
    idx.codes.cache().count()
    q_df = dense_df(spark, q, QUERY_SCHEMA)
    with _NoCollect(monkeypatch):
        dist_df = idx.search(q_df, k=10, nprobe=4, strategy="distributed")
    assert _rows(dist_df) == _rows(idx.search(q_df, k=10, nprobe=4, strategy="driver"))


def test_ivf_distributed_range_matches_driver(spark, ivf_fixture, monkeypatch):
    import dataclasses

    idx, q_df = ivf_fixture
    cfg = dataclasses.replace(idx.config, radius=15_000.0, range_filter=0.0)
    idx2 = IVFFlatIndex(idx.centroids, idx.assignments, cfg)
    with _NoCollect(monkeypatch):
        dist_df = idx2.range_search(q_df, nprobe=4, strategy="distributed")
    driver_df = idx2.range_search(q_df, nprobe=4, strategy="driver")
    d = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in dist_df.collect())
    v = sorted((r["query_id"], r["neighbor_id"], round(r["distance"], 6))
               for r in driver_df.collect())
    assert d == v and len(d) > 0


def test_bf_distributed_matches_gemm(spark, monkeypatch):
    base = gen_dense(1500, 16, seed=37)
    q = gen_dense(200, 16, seed=38)
    base_df = dense_df(spark, base)
    q_df = dense_df(spark, q, QUERY_SCHEMA)
    with _NoCollect(monkeypatch):
        dist_df = BruteForce.search_distributed(base_df, q_df, 10, "L2", n_blocks=7)
    assert _rows(dist_df) == _rows(
        BruteForce.search(base_df, q_df, 10, "L2", strategy="gemm")
    )


def test_bf_distributed_ip_with_filter(spark, monkeypatch):
    base = gen_dense(900, 10, seed=39)
    q = gen_dense(80, 10, seed=40)
    base_df = dense_df(spark, base)
    q_df = dense_df(spark, q, QUERY_SCHEMA)
    flt = F.col("id") % 2 == 0
    with _NoCollect(monkeypatch):
        dist_df = BruteForce.search_distributed(
            base_df, q_df, 8, "IP", n_blocks=5, filter_expr=flt
        )
    assert _rows(dist_df) == _rows(
        BruteForce.search(base_df, q_df, 8, "IP", strategy="sql", filter_expr=flt)
    )


def test_bin_ivf_distributed_matches_driver(spark, monkeypatch):
    from knowhere_spark.operators.bin_ivf import BinaryIVFIndex
    from tests.conftest import BIN_QUERY_SCHEMA, binary_df, gen_binary

    base = gen_binary(1200, 64, seed=51)
    q = gen_binary(150, 64, seed=52)
    idx = BinaryIVFIndex.build(
        binary_df(spark, base), IvfConfig(metric_type="HAMMING", nlist=8, nprobe=4)
    )
    idx.assignments.cache().count()
    q_df = binary_df(spark, q, BIN_QUERY_SCHEMA)
    with _NoCollect(monkeypatch):
        dist_df = idx.search(q_df, k=10, nprobe=4, strategy="distributed")
    driver_df = idx.search(q_df, k=10, nprobe=4, strategy="driver")
    assert _rows(dist_df) == _rows(driver_df)


def test_scann_distributed_matches_driver(spark, monkeypatch):
    from knowhere_spark.config import ScannConfig
    from knowhere_spark.operators.refine import ScannIndex

    base = gen_dense(1500, 16, seed=55)
    q = gen_dense(200, 16, seed=56)
    idx = ScannIndex.build(
        dense_df(spark, base),
        ScannConfig(metric_type="L2", nlist=12, nprobe=4, reorder_k=30),
    )
    q_df = dense_df(spark, q, QUERY_SCHEMA)
    with _NoCollect(monkeypatch):
        dist_df = idx.search(q_df, k=10, strategy="distributed")
    driver_df = idx.search(q_df, k=10, strategy="driver")
    assert _rows(dist_df) == _rows(driver_df)


@pytest.fixture(scope="module")
def family_indexes(spark):
    """One small index per IVF family, each with a 20-query frame."""
    from knowhere_spark.config import IvfPqConfig, IvfSq8Config
    from knowhere_spark.operators.bin_ivf import BinaryIVFIndex
    from knowhere_spark.operators.pq import IVFPqIndex
    from knowhere_spark.operators.sq import IVFSq8Index
    from tests.conftest import BIN_QUERY_SCHEMA, binary_df, gen_binary

    base_df = dense_df(spark, gen_dense(600, 16, seed=61))
    q_df = dense_df(spark, gen_dense(20, 16, seed=62), QUERY_SCHEMA)
    bin_base = binary_df(spark, gen_binary(600, 64, seed=63))
    bin_q = binary_df(spark, gen_binary(20, 64, seed=64), BIN_QUERY_SCHEMA)
    cfg = dict(metric_type="L2", nlist=6, nprobe=2)
    return {
        "IVF_FLAT": (IVFFlatIndex.build(base_df, IvfConfig(**cfg)), q_df),
        "IVF_SQ8": (IVFSq8Index.build(base_df, IvfSq8Config(**cfg)), q_df),
        "IVF_PQ": (IVFPqIndex.build(base_df, IvfPqConfig(**cfg, m=4, nbits=4)), q_df),
        "BIN_IVF_FLAT": (
            BinaryIVFIndex.build(
                bin_base, IvfConfig(metric_type="HAMMING", nlist=6, nprobe=2)
            ),
            bin_q,
        ),
    }


@pytest.mark.parametrize("strategy", ["auto", "driver"])
@pytest.mark.parametrize("family", ["IVF_FLAT", "IVF_SQ8", "IVF_PQ", "BIN_IVF_FLAT"])
def test_empty_query_set_returns_empty_result(family_indexes, family, strategy):
    idx, q_df = family_indexes[family]
    out = idx.search(q_df.limit(0), k=5, strategy=strategy)
    assert out.columns == ["query_id", "neighbor_id", "distance", "rank"]
    assert out.count() == 0


@pytest.mark.parametrize("strategy", ["auto", "driver"])
@pytest.mark.parametrize("family", ["IVF_FLAT", "IVF_SQ8", "IVF_PQ"])
def test_driver_path_collects_queries_without_rows(
    family_indexes, family, strategy, monkeypatch
):
    """The driver path brings its query set home through Arrow: neither
    building the plan nor consuming it calls a Row collect()."""
    idx, q_df = family_indexes[family]
    with _NoCollect(monkeypatch):
        out = idx.search(q_df, k=5, strategy=strategy).toArrow()
    assert idx.last_metrics["strategy"] == "driver"
    assert out.num_rows == 20 * 5
