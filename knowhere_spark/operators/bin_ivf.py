"""BIN_IVF_FLAT — IVF over packed-bit binary vectors with HAMMING/JACCARD
(reference: src/index/ivf/ivf.cc:607-620 `IvfBin`, faiss binary kmeans).

Spark-first split of the reference's binary IVF:

- **Train**: binary k-means (Lloyd iterations with hamming assignment and
  majority-vote centroid update) over a bounded driver-side sample — the
  centroid matrix is tiny (``nlist × dim/8`` bytes); the sample bound keeps
  the driver safe at 100 TB while the full assignment pass stays
  distributed.
- **Add**: hamming argmin against broadcast centroids via ``mapInPandas``
  (Arrow-batched numpy popcount), assignments partitioned by ``cell_id``.
- **Search**: the shared IVF query front end (operators/ivf.py) resolves
  the strategy and collects the queries; probe ``nprobe`` nearest cells
  per query by hamming (driver-side over the tiny centroid matrix),
  broadcast the probe list, scan only probed cells with the binary
  distance expression, partial-then-final top-k — partition pruning on
  ``cell_id`` does the byte-skipping at scale.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from knowhere_spark.config import IndexType, IvfConfig, MetricType
from knowhere_spark.functions.arrowio import binary_matrix, scalar_column
from knowhere_spark.functions.binary import binary_distance_expr
from knowhere_spark.operators.ivf import collect_queries, query_frame
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key

_TRAIN_SAMPLE_MAX = 100_000


def _hamming_matrix(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, nbytes) × (nlist, nbytes) → (n, nlist) hamming distances — the
    shared 16-bit-LUT all-pairs kernel (functions/binary.binary_pairwise,
    ~7x the byte-LUT broadcast this used before)."""
    from knowhere_spark.functions.binary import binary_pairwise

    return binary_pairwise(X, C, MetricType.HAMMING)


def _binary_kmeans(X: np.ndarray, nlist: int, seed: int, n_iter: int = 10) -> np.ndarray:
    """Lloyd with hamming assignment + per-bit majority-vote update — the
    binary analog of faiss kmeans used by the reference's BIN_IVF train."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=nlist, replace=False)].copy()
    for _ in range(n_iter):
        assign = _hamming_matrix(X, C).argmin(axis=1)
        bits = np.unpackbits(X, axis=1)  # (n, dim)
        newC = np.zeros((nlist, bits.shape[1]), dtype=np.uint8)
        for c in range(nlist):
            members = bits[assign == c]
            if len(members) == 0:
                newC[c] = np.unpackbits(X[rng.integers(len(X))])
            else:
                newC[c] = (members.mean(axis=0) >= 0.5).astype(np.uint8)
        C_next = np.packbits(newC, axis=1)
        if np.array_equal(C_next, C):
            break
        C = C_next
    return C


class BinaryIVFIndex:
    """Built BIN_IVF_FLAT: packed-byte centroids + cell-partitioned rows."""

    def __init__(self, centroids: np.ndarray, assignments: DataFrame, config: IvfConfig):
        self.centroids = centroids          # (nlist, dim/8) uint8
        self.assignments = assignments      # (id, cell_id, vec binary)
        self.config = config
        self.index_type = IndexType.BIN_IVF_FLAT

    def count(self) -> int:
        return self.assignments.count()

    def dim(self) -> int:
        return int(self.centroids.shape[1] * 8)

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        return True


    def get_index_meta(self, **kw):
        """Parity with the reference: GetIndexMeta is implemented for
        IVF_FLAT only (ivf.cc:291-293 IVFBaseTag -> not_implemented)."""
        raise NotImplementedError("GetIndexMeta not implemented")

    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """``GetVectorByIds`` (index_node.h:340-350) — broadcast semi-join
        against the cell-partitioned raw bytes."""
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.assignments.select("id", "vec").join(F.broadcast(ids), "id")

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "BinaryIVFIndex":
        """``scalar_cols``: hot scalar payload columns carried into the
        assignments table, same contract as the dense IVF
        (operators/ivf.py — the materialized_view.h:23-36 analog): a
        ``filter_expr`` over them evaluates join-free at the scan, and
        ``save(path, scalar_partition_cols=...)`` prunes whole parquet
        partitions for the loaded index."""
        scalar_cols = tuple(scalar_cols)
        clash = {"id", "vec", "cell_id", "qvec"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        base = base_df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vec"),
            *scalar_cols,
        )
        n = base.count()
        nlist = config.match_nlist(n)
        # content-keyed + id-sorted over-cap sample (r11, shared rule):
        # membership and row order must not depend on partition layout —
        # _binary_kmeans's seeded init is position-dependent
        from knowhere_spark.session import content_keyed_sample

        sample = content_keyed_sample(base, n, _TRAIN_SAMPLE_MAX, seed=config.seed)
        rows = sample.select("vec").collect()
        X = np.frombuffer(b"".join(r["vec"] for r in rows), dtype=np.uint8).reshape(
            len(rows), -1
        )
        centroids = _binary_kmeans(X, nlist, config.seed)
        assignments = _assign_binary(base, centroids, scalar_cols)
        import dataclasses

        cfg = dataclasses.replace(config, nlist=nlist)
        return cls(centroids, assignments, cfg)

    def _scalar_payload(self) -> list[str]:
        return [
            c for c in self.assignments.columns if c not in ("id", "cell_id", "vec")
        ]

    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "BinaryIVFIndex":
        """Append rows: hamming-argmin against the existing binary
        centroids, no retrain (``IndexNode::Add``, index_node.h:120-121).
        Scalar payload columns the index carries must arrive with every
        Add batch — NULL-padding would silently break filtered search."""
        scalars = self._scalar_payload()
        missing = [c for c in scalars if c not in new_df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vec"),
            *scalars,
        )
        assigned = _assign_binary(new, self.centroids, tuple(scalars))
        return BinaryIVFIndex(
            self.centroids, self.assignments.unionByName(assigned), self.config
        )

    def probe_assign(self, queries: DataFrame, nprobe: int) -> DataFrame:
        """Distributed probe assignment: ``mapInPandas`` over the query set
        against the broadcast packed-byte centroid matrix, one
        ``(query_id, cell_id, qvec)`` row per probed cell.  The query set
        never touches the driver — the binary twin of
        :func:`knowhere_spark.operators.ivf.probe_assign_df`."""
        spark = queries.sparkSession
        nprobe = min(nprobe, len(self.centroids))
        bc = spark.sparkContext.broadcast((self.centroids, nprobe))
        schema = StructType(
            [
                StructField("query_id", LongType()),
                StructField("cell_id", IntegerType()),
                StructField("qvec", BinaryType()),
            ]
        )

        def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            C, npb = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.frombuffer(
                    b"".join(bytes(v) for v in pdf["qvec"]), dtype=np.uint8
                ).reshape(len(pdf), -1)
                order = np.argsort(
                    _hamming_matrix(Q, C), axis=1, kind="stable"
                )[:, :npb]
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(pdf["query_id"].to_numpy(), npb),
                        "cell_id": order.ravel().astype(np.int32),
                        "qvec": [
                            bytes(v) for v in np.repeat(pdf["qvec"].to_numpy(), npb)
                        ],
                    }
                )

        from knowhere_spark.session import ensure_parallelism

        return ensure_parallelism(queries).mapInPandas(kernel, schema)

    def _scored(
        self,
        query_df: DataFrame,
        nprobe: int,
        *,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Candidate scoring within probed cells — the shared sub-plan of
        top-k and range search.

        ``strategy`` mirrors the dense IVF contract: ``driver`` collects
        the query set once (nq<=10k serving regime), prunes candidate
        cells statically and broadcasts the probe list; ``distributed``
        never collects — probe assignment runs as ``mapInPandas`` and the
        probe table joins candidates on ``cell_id`` (Catalyst/AQE picks
        the join strategy).  ``auto`` cuts over by query count."""
        metric = MetricType(self.config.metric_type)
        spark = self.assignments.sparkSession

        queries = query_frame(query_df, query_id_col, query_vec_col)
        strategy, tbl = collect_queries(queries, strategy)

        cand = self.assignments
        if filter_expr is not None:
            cand = cand.filter(filter_expr)

        if strategy == "distributed":
            probe_df = self.probe_assign(queries, nprobe)
            joined = cand.join(probe_df, "cell_id")
        else:
            qids = scalar_column(tbl, "query_id", np.int64)
            Q = binary_matrix(tbl, "qvec").reshape(len(qids), self.centroids.shape[1])
            # probe by hamming-to-centroid regardless of scan metric (the
            # reference's binary coarse quantizer is hamming-based)
            order = np.argsort(
                _hamming_matrix(Q, self.centroids), axis=1, kind="stable"
            )[:, :nprobe]
            probe_df = spark.createDataFrame(
                [
                    (int(q), int(c), q_bytes.tobytes())
                    for q, q_bytes, cells in zip(qids, Q, order)
                    for c in cells
                ],
                "query_id long, cell_id int, qvec binary",
            )
            joined = cand.filter(F.col("cell_id").isin(np.unique(order).tolist())).join(
                F.broadcast(probe_df), "cell_id"
            )

        return joined.select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            binary_distance_expr(metric, F.col("vec"), F.col("qvec")).alias("distance"),
        )

    def search(
        self,
        query_df: DataFrame,
        k: int | None = None,
        nprobe: int | None = None,
        *,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Top-k within probed cells; metric from config (HAMMING/JACCARD).
        See :meth:`_scored` for the strategy contract."""
        k = k if k is not None else self.config.k
        nprobe = min(nprobe if nprobe is not None else self.config.nprobe, self.config.nlist)
        scored = self._scored(
            query_df, nprobe, filter_expr=filter_expr,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            strategy=strategy,
        )
        return topk_per_key(
            scored, "query_id", "distance", k, ascending=True, tie_breaker="neighbor_id"
        )

    def range_search(
        self,
        query_df: DataFrame,
        config=None,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """``RangeSearch`` within probed cells — binary metrics are
        distance-like, so the half-open bounds are
        ``range_filter <= d < radius`` (range_util.h:22-25); coverage is
        bounded by the probed cells like the reference's IVF range path."""
        cfg = config or self.config
        nprobe = min(
            nprobe if nprobe is not None else cfg.nprobe, self.config.nlist
        )
        scored = self._scored(
            query_df, nprobe, filter_expr=filter_expr,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            strategy=strategy,
        )
        return apply_range_bounds(scored, cfg)


    # -- Serialize / Deserialize (index_node.h:371-401) -----------------------
    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist as a cell-partitioned parquet layout.
        ``scalar_partition_cols`` (must be among the index's
        ``scalar_cols``) layer hot scalar fields ABOVE ``cell_id`` in the
        directory tree — same pruning contract as ``IVFFlatIndex.save``."""
        from knowhere_spark.sources.index_store import IndexStore

        scalars = list(scalar_partition_cols or [])
        payload = self._scalar_payload()
        bad = [c for c in scalars if c not in payload]
        if bad:
            raise ValueError(
                f"scalar_partition_cols must be among the index's scalar_cols"
                f" {payload}: {bad}"
            )
        store = IndexStore(path)
        store.write_manifest(
            {
                "index_type": self.index_type.value,
                "metric_type": self.config.metric_type.value,
                "nlist": self.config.nlist,
                "nprobe": self.config.nprobe,
                "dim": self.dim(),
                "count": self.count(),
                "centroids_hex": self.centroids.tobytes().hex(),
                "centroid_bytes": int(self.centroids.shape[1]),
                # declared schema pins partition-column types on load
                # (string label '01' must not merge with int partition 1)
                "assignments_schema": self.assignments.schema.json(),
            }
        )
        store.write_table(
            "assignments", self.assignments, partition_by=[*scalars, "cell_id"]
        )

    @classmethod
    def load(cls, spark, path: str) -> "BinaryIVFIndex":
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        nbytes = int(m["centroid_bytes"])
        centroids = np.frombuffer(
            bytes.fromhex(m["centroids_hex"]), dtype=np.uint8
        ).reshape(-1, nbytes)
        cfg = IvfConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
        )
        schema = None
        if m.get("assignments_schema"):
            import json

            from pyspark.sql.types import StructType as _ST

            schema = _ST.fromJson(json.loads(m["assignments_schema"]))
        return cls(centroids, store.read_table(spark, "assignments", schema=schema), cfg)


def _assign_binary(
    df: DataFrame, centroids: np.ndarray, scalar_cols: tuple[str, ...] = ()
) -> DataFrame:
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    keep = ["id", "cell_id", "vec", *scalar_cols]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.frombuffer(b"".join(pdf["vec"]), dtype=np.uint8).reshape(len(pdf), -1)
            out = pdf.copy()
            out["cell_id"] = _hamming_matrix(X, C).argmin(axis=1).astype(np.int32)
            yield out[keep]

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cell_id", IntegerType()),
            StructField("vec", BinaryType()),
            *(df.schema[c] for c in scalar_cols),
        ]
    )
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(df).mapInPandas(kernel, schema)
