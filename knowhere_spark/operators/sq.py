"""IVF_SQ — IVF with scalar-quantized codes (src/index/ivf/ivf.cc:587-606,
faiss QT_8bit semantics: per-dimension min/max affine quantization; the
``code_size`` axis 4/6/8/16 mirrors IVF_SQ_CC, ivf.cc:621-648).

Storage: the assignment table keeps ``codes ARRAY<SMALLINT>`` (uint8 range)
instead of raw floats — 4× smaller scans at probe time; the per-dim
``(vmin, vdiff)`` training stats live in the manifest and travel with the
decode hook (:meth:`IVFSq8Index.row_matrix`).  Search is the shared IVF driver-search core
(operators/ivf.py) with SQ's decode as its ``row_matrix`` hook: the
masked ``mapInArrow`` cell scan on the driver path, the per-cell cogroup
on the distributed and range paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from knowhere_spark.config import IndexType, IvfSq8Config, MetricType
from knowhere_spark.functions.arrowio import list_matrix
from knowhere_spark.functions.distance import normalize_expr
from knowhere_spark.operators.ivf import (
    IVFFlatIndex,
    _assign_cells,
    clustered_search_view,
    cogroup_cells_range,
    cogroup_cells_topk,
    open_search,
    probe_assign_df,
    query_frame,
    scan_cells_topk,
    scan_metric,
)
from knowhere_spark.operators.topk import apply_range_bounds
from knowhere_spark.sources.index_store import IndexStore


def array_minmax(df: DataFrame, col: str, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Element-wise min/max over an array column: per-partition numpy
    partials combined on the driver (no dim×n explode shuffle)."""
    schema = StructType(
        [
            StructField("mins", ArrayType(DoubleType())),
            StructField("maxs", ArrayType(DoubleType())),
        ]
    )

    def kernel(batches):
        lo = np.full(dim, np.inf)
        hi = np.full(dim, -np.inf)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf[col].to_numpy()), dtype=np.float64)
            lo = np.minimum(lo, X.min(axis=0))
            hi = np.maximum(hi, X.max(axis=0))
            seen = True
        if seen:
            yield pd.DataFrame({"mins": [lo.tolist()], "maxs": [hi.tolist()]})

    parts = df.select(col).mapInPandas(kernel, schema).collect()
    lo = np.min([r["mins"] for r in parts], axis=0)
    hi = np.max([r["maxs"] for r in parts], axis=0)
    return lo, hi


def _levels(code_size: int) -> int:
    """Quantization level count - 1 for a code width: SQ maps each dim to
    ``round((x - vmin)/vdiff * levels)`` in ``[0, levels]`` — the faiss
    QT_{4,6,8}bit / QT_16bit family the reference exposes as IVF_SQ_CC
    ``code_size`` 4/6/8/16 (src/index/ivf/ivf.cc:621-648)."""
    return (1 << code_size) - 1


def _quantize_df(
    assigned: DataFrame,
    lo: np.ndarray,
    vdiff: np.ndarray,
    with_raw_data: bool,
    code_size: int = 8,
    scalar_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, cell_id, vec[, scalars]) → (id, cell_id, codes[, vec][, scalars]):
    per-dim affine quantization at ``code_size`` bits with a FIXED scale
    (the trained ``vmin/vdiff``) — shared by build and Add, so added rows
    are encoded exactly like the original corpus (faiss QT train-once
    contract).  ``scalar_cols`` ride along untouched (the hot-scalar
    filtered-search layout)."""
    spark = assigned.sparkSession
    levels = _levels(code_size)
    bc = spark.sparkContext.broadcast((lo, vdiff, float(levels)))

    # SMALLINT holds codes up to 2^8 (and 2^14); 16-bit codes reach 65535
    # and need INT storage (parquet bit-packs either way on disk)
    code_type = ShortType() if levels <= 32767 else IntegerType()
    np_type = np.int16 if levels <= 32767 else np.int32
    out_fields = [
        StructField("id", LongType()),
        StructField("cell_id", IntegerType()),
        StructField("codes", ArrayType(code_type)),
    ]
    if with_raw_data:
        out_fields.append(assigned.schema["vec"])
    out_fields.extend(assigned.schema[c] for c in scalar_cols)
    schema = StructType(out_fields)

    def quantize(batches):
        lo_, diff_, lv = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["vec"].to_numpy()), dtype=np.float64)
            codes = np.clip(
                np.round((X - lo_) / diff_ * lv), 0, lv
            ).astype(np_type)
            out = {
                "id": pdf["id"].to_numpy(),
                "cell_id": pdf["cell_id"].to_numpy(),
                "codes": list(codes),
            }
            if with_raw_data:
                out["vec"] = pdf["vec"]
            for c in scalar_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return assigned.mapInPandas(quantize, schema)


class IVFSq8Index:
    """IVF probe plan over quantized codes; optionally keeps raw vectors
    (``with_raw_data``) to serve SCANN-style refine (ivf_config.h:101-162)."""

    def __init__(
        self,
        centroids: np.ndarray,
        assignments: DataFrame,   # (id, cell_id, codes [, vec])
        vmin: np.ndarray,
        vdiff: np.ndarray,
        config: IvfSq8Config,
        *,
        with_raw_data: bool = False,
        index_type: IndexType = IndexType.IVF_SQ8,
    ):
        self.centroids = centroids
        self.assignments = assignments
        self.vmin = vmin
        self.vdiff = vdiff
        self.config = config
        self.with_raw_data = with_raw_data
        self.index_type = index_type

    def count(self) -> int:
        return self.assignments.count()

    def dim(self) -> int:
        return int(self.centroids.shape[1])

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        # SQ8 drops raw data unless refine keeps it (flat.cc:257-285 rules)
        return self.with_raw_data

    def get_index_meta(self, **kw):
        """Parity with the reference: GetIndexMeta is implemented for
        IVF_FLAT only (ivf.cc:291-293 IVFBaseTag -> not_implemented)."""
        raise NotImplementedError("GetIndexMeta not implemented")

    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        """``GetVectorByIds`` (index_node.h:340-350) — legal only with
        ``with_raw_data`` (HasRawData rules)."""
        if not self.with_raw_data:
            raise ValueError(
                f"{self.type()} built without with_raw_data keeps no raw "
                "vectors; GetVectorByIds is unsupported"
            )
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.assignments.select("id", "vec").join(F.broadcast(ids), "id")

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfSq8Config,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        with_raw_data: bool = False,
        index_type: IndexType = IndexType.IVF_SQ8,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "IVFSq8Index":
        """``scalar_cols``: hot scalar payload carried through assignment
        AND quantization into the codes table (the dense-IVF
        materialized_view.h:23-36 contract) — a ``filter_expr`` over them
        is join-free, and ``save(scalar_partition_cols=...)`` prunes
        parquet partitions on the loaded index."""
        scalar_cols = tuple(scalar_cols)
        clash = {"codes", "qvec"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        flat = IVFFlatIndex.build(
            base_df, config, id_col=id_col, vec_col=vec_col, scalar_cols=scalar_cols
        )
        dim = flat.dim()
        lo, hi = array_minmax(flat.assignments, "vec", dim)
        vdiff = hi - lo
        vdiff[vdiff == 0] = 1.0
        b_lo, b_diff = lo, vdiff

        import dataclasses

        assignments = _quantize_df(
            flat.assignments, lo, vdiff, with_raw_data, config.code_size,
            scalar_cols,
        )
        cfg = dataclasses.replace(config, nlist=flat.config.nlist)
        return cls(
            flat.centroids, assignments, lo, vdiff, cfg,
            with_raw_data=with_raw_data, index_type=index_type,
        )

    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "IVFSq8Index":
        """Append rows with frozen train state — existing centroids assign
        the cell, the trained ``vmin/vdiff`` scale encodes the codes
        (``IndexNode::Add``, index_node.h:120-121; out-of-range values
        clip exactly as faiss SQ8 does)."""
        metric = MetricType(self.config.metric_type)
        scalars = self._scalar_payload()
        missing = [c for c in scalars if c not in new_df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vec"),
            *scalars,
        )
        if metric == MetricType.COSINE:
            new = new.select(
                "id", normalize_expr(F.col("vec")).alias("vec"), *scalars
            )
        assigned = _assign_cells(new, self.centroids, tuple(scalars))
        quantized = _quantize_df(
            assigned, self.vmin, self.vdiff, self.with_raw_data,
            self.config.code_size, tuple(scalars),
        )
        return IVFSq8Index(
            self.centroids,
            self.assignments.unionByName(quantized),
            self.vmin,
            self.vdiff,
            self.config,
            with_raw_data=self.with_raw_data,
            index_type=self.index_type,
        )

    def row_matrix(self):
        """The cell scans' ``row_matrix`` hook: a ``codes`` batch →
        ``(n, dim)`` float64 decoded vectors ``vmin + code/levels·vdiff``
        (the quantized-scan analog of the reference's SQ distance
        computers).  Shared by the driver, distributed and range paths;
        the closure carries only the tiny per-dim train arrays."""
        lo, diff, levels = self.vmin, self.vdiff, float(_levels(self.config.code_size))

        def decode(tbl):
            return lo + list_matrix(tbl, "codes") / levels * diff

        return decode

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
        """Probe + decode-and-score over quantized codes (ivf.cc:587-606).

        ``strategy`` mirrors :meth:`IVFFlatIndex.search`: ``distributed``
        never collects the query set — probe assignment distributes and
        scoring cogroups cells with their probing queries, decoding codes
        inside the GEMM kernel."""
        k = k if k is not None else self.config.k
        nprobe = min(nprobe if nprobe is not None else self.config.nprobe, self.config.nlist)
        metric = MetricType(self.config.metric_type)
        front = open_search(
            self, query_df, k, nprobe, strategy, query_id_col, query_vec_col
        )
        rows_acc = front.metrics["rows_scanned"]
        if front.strategy == "distributed":
            probes = probe_assign_df(front.queries, self.centroids, metric, nprobe)
            return cogroup_cells_topk(
                clustered_search_view(self), probes, k, scan_metric(metric),
                filter_expr=filter_expr, row_matrix=self.row_matrix(),
                rows_acc=rows_acc,
            )
        return scan_cells_topk(
            self.assignments, front.probed, front.qids, front.qmat, k,
            scan_metric(metric), filter_expr=filter_expr,
            row_matrix=self.row_matrix(), rows_acc=rows_acc,
        )

    def range_search(
        self,
        query_df: DataFrame,
        config: IvfSq8Config | None = None,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """Distance-in-range over decoded codes within probed cells —
        the IVF range path on quantized storage (half-open bounds per
        range_util.h:22-25).  Served through the cogroup machinery, which
        is correct at any nq."""
        cfg = config or self.config
        nprobe = min(
            nprobe if nprobe is not None else cfg.nprobe, self.config.nlist
        )
        metric = MetricType(cfg.metric_type)
        queries = query_frame(query_df, query_id_col, query_vec_col)
        probes = probe_assign_df(queries, self.centroids, metric, nprobe)
        lo, hi, sim = cfg.range_bounds()
        out = cogroup_cells_range(
            clustered_search_view(self), probes, lo, hi, sim, scan_metric(metric),
            filter_expr=filter_expr, row_matrix=self.row_matrix(),
        )
        return apply_range_bounds(out, cfg, already_bounded=True)

    def raw_vectors(self) -> DataFrame:
        if not self.with_raw_data:
            raise ValueError("index built without raw data (with_raw_data=False)")
        return self.assignments.select("id", "vec")

    def _scalar_payload(self) -> list[str]:
        return [
            c
            for c in self.assignments.columns
            if c not in ("id", "cell_id", "codes", "vec")
        ]

    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist the codes table cell-partitioned; ``scalar_partition_cols``
        (must be among the index's ``scalar_cols``) layer hot scalar fields
        ABOVE ``cell_id`` — same pruning contract as ``IVFFlatIndex.save``."""
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
                "code_size": self.config.code_size,
                "dim": self.dim(),
                "count": self.count(),
                "with_raw_data": self.with_raw_data,
                "centroids": self.centroids.tolist(),
                "vmin": self.vmin.tolist(),
                "vdiff": self.vdiff.tolist(),
                # declared schema pins partition-column types on load
                "assignments_schema": self.assignments.schema.json(),
            }
        )
        store.write_table(
            "assignments", self.assignments, partition_by=[*scalars, "cell_id"]
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFSq8Index":
        store = IndexStore(path)
        m = store.read_manifest()
        cfg = IvfSq8Config(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
            code_size=int(m.get("code_size", 8)),
        )
        schema = None
        if m.get("assignments_schema"):
            import json

            schema = StructType.fromJson(json.loads(m["assignments_schema"]))
        return cls(
            np.array(m["centroids"], dtype=np.float64),
            store.read_table(spark, "assignments", schema=schema),
            np.array(m["vmin"], dtype=np.float64),
            np.array(m["vdiff"], dtype=np.float64),
            cfg,
            with_raw_data=bool(m.get("with_raw_data", False)),
            index_type=IndexType(m["index_type"]),
        )
