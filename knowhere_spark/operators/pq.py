"""IVF_PQ — product quantization over an IVF coarse partition
(reference: src/index/ivf/ivf.cc:535-554; params m / nbits with
``dim % m == 0``, src/index/ivf/ivf_config.h:68-98).

Spark-first split:

- **Train**: IVF coarse centroids via MLlib KMeans (shared with IVF_FLAT),
  then ``m`` per-subspace codebooks of ``2^nbits`` centroids fit with a
  small numpy Lloyd on a bounded driver-side sample — the codebook tensor
  is tiny (``m × 2^nbits × dim/m`` floats) and broadcasts everywhere.
- **Add**: encode every row to ``m`` uint8 codes (nearest codebook entry
  per subspace) in a ``mapInPandas`` pass; the index table stores ONLY
  ``(id, cell_id, codes ARRAY<SMALLINT>)`` — a ~dim/ m·4-fold byte
  reduction, which is the whole point at 100 TB: the probe scan reads
  codes, never raw vectors.
- **Search (ADC)**: the shared IVF query front end (operators/ivf.py)
  collects and probes the queries; each task builds the per-query
  ``(m, 2^nbits)`` lookup tables of sub-distances from the broadcast
  query matrix and codebooks, and one ``mapInArrow`` kernel loops over
  CELLS —
  scoring each cell's rows against all its probing queries in a single
  vectorized LUT gather (the classic asymmetric-distance scan) and
  reducing to the partition's exact per-query top-k before the final
  shuffle.  Optional ``refine_k`` re-ranks survivors by exact distance
  against stored raw vectors (``with_raw_data``) — the reference's ADC
  error correction (SCANN ``reorder_k``, ivf_config.h:101-115).

Vectors are encoded directly (no residual subtraction) — the
``by_residual=false`` faiss variant — so one LUT per query serves every
probed cell and the plan stays a single masked cell scan.  COSINE follows
the normalize-at-train contract (ivf.cc:462-470): encode normalized
vectors and score IP.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

from knowhere_spark.config import IndexType, IvfPqConfig, MetricType
from knowhere_spark.functions.arrowio import list_matrix, scalar_column
from knowhere_spark.functions.distance import normalize_expr
from knowhere_spark.operators.brute_force import RESULT_SCHEMA
from knowhere_spark.operators.ivf import (
    IVFFlatIndex,
    _assign_cells,
    clustered_search_view,
    cogroup_cells_range,
    cogroup_cells_topk,
    open_search,
    probe_assign_df,
    query_frame,
    scan_metric,
)
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key

_TRAIN_SAMPLE_MAX = 100_000


def _lloyd(X: np.ndarray, k: int, seed: int, n_iter: int = 15) -> np.ndarray:
    """One subspace codebook ((n, subdim) → (k, subdim)) — the shared
    vectorized Lloyd (functions/distance.numpy_kmeans: GEMM assignment +
    sort/reduceat update; no per-centroid Python loop)."""
    from knowhere_spark.functions.distance import numpy_kmeans

    return numpy_kmeans(X, k, iters=n_iter, seed=seed)


def _encode_df(
    assigned: DataFrame, codebooks: np.ndarray, with_raw_data: bool = False
) -> DataFrame:
    """(id, cell_id, vec) → (id, cell_id, codes[, vec]): nearest-codeword
    per subspace against FIXED codebooks — shared by build and Add so
    appended rows encode exactly like the original corpus.  Raw vectors
    ride along only when refine needs them (``with_raw_data``)."""
    spark = assigned.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    # codeword ids reach ksub-1 = 2^nbits - 1; nbits=16 (allowed by
    # IvfPqConfig) overflows SMALLINT/int16 — switch to INT exactly like
    # the SQ code_size axis does
    ksub_max = codebooks.shape[1] - 1
    code_type = ShortType() if ksub_max <= 32767 else IntegerType()
    np_code = np.int16 if ksub_max <= 32767 else np.int32

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CB = bc.value
        mm, _, sd = CB.shape
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(list(pdf["vec"].to_numpy()), dtype=np.float64)
            codes = np.empty((len(X), mm), dtype=np_code)
            for j in range(mm):
                sub = X[:, j * sd : (j + 1) * sd]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    - 2.0 * sub @ CB[j].T
                    + (CB[j] * CB[j]).sum(axis=1)[None, :]
                )
                codes[:, j] = d.argmin(axis=1)
            out = {
                "id": pdf["id"].to_numpy(),
                "cell_id": pdf["cell_id"].to_numpy(),
                "codes": list(codes),
            }
            if with_raw_data:
                out["vec"] = pdf["vec"]
            yield pd.DataFrame(out)

    fields = [
        StructField("id", LongType()),
        StructField("cell_id", IntegerType()),
        StructField("codes", ArrayType(code_type)),
    ]
    if with_raw_data:
        fields.append(assigned.schema["vec"])
    return assigned.mapInPandas(encode, StructType(fields))


class IVFPqIndex:
    """Built IVF_PQ: coarse centroids + per-subspace codebooks + codes table."""

    def __init__(
        self,
        centroids: np.ndarray,       # (nlist, dim)
        codebooks: np.ndarray,       # (m, ksub, dim/m) float64
        codes: DataFrame,            # (id, cell_id, codes ARRAY<SMALLINT>[, vec])
        config: IvfPqConfig,
        *,
        with_raw_data: bool = False,
        n_rows: int | None = None,
    ):
        self.centroids = centroids
        self.codebooks = codebooks
        self.codes = codes
        self.config = config
        self.with_raw_data = with_raw_data
        #: known row count (from build/load) — sizes the driver-path scan
        #: partitioning without an extra count action; None = unknown
        self.n_rows = n_rows
        self.index_type = IndexType.IVF_PQ

    def count(self) -> int:
        return self.codes.count()

    def dim(self) -> int:
        return int(self.codebooks.shape[0] * self.codebooks.shape[2])

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        # PQ drops raw data (flat.cc:257-285 HasRawData rules) unless the
        # refine path keeps it (the SCANN with_raw_data contract)
        return self.with_raw_data

    def get_index_meta(self, **kw):
        """Parity with the reference: GetIndexMeta is implemented for
        IVF_FLAT only (ivf.cc:291-293 IVFBaseTag -> not_implemented)."""
        raise NotImplementedError("GetIndexMeta not implemented")

    def raw_vectors(self) -> DataFrame:
        if not self.with_raw_data:
            raise ValueError("index built without raw data (with_raw_data=False)")
        return self.codes.select("id", "vec")

    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfPqConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        codebooks: np.ndarray | None = None,
    ) -> "IVFPqIndex":
        """``codebooks``: pass a pinned ``(m, ksub, dim/m)`` tensor to skip
        the Lloyd fit — makes the whole build/encode/ADC pipeline
        deterministic end-to-end (tests / oracle gates), the same pinning
        contract as ``semdedup(centroids=...)``."""
        metric = MetricType(config.metric_type)
        base = base_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        # coarse quantizer shared with IVF_FLAT (normalizes for COSINE)
        flat = IVFFlatIndex.build(base, config, index_type=IndexType.IVF_PQ)
        dim = flat.dim()
        config.validate_dim(dim)
        m, ksub = config.m, 1 << config.nbits
        subdim = dim // m

        n = flat.assignments.count()
        if codebooks is not None:
            codebooks = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
            if codebooks.shape[0] != m or codebooks.shape[2] != subdim:
                raise ValueError(
                    f"pinned codebooks shape {codebooks.shape} does not match"
                    f" (m={m}, *, subdim={subdim})"
                )
        else:
            # content-keyed + id-sorted over-cap sample (r11, shared
            # rule): _lloyd's seeded init is position-dependent, so both
            # membership and row order key off the data, never the layout
            from knowhere_spark.session import (
                collect_vec_matrix,
                content_keyed_sample,
            )

            sample = content_keyed_sample(
                flat.assignments, n, _TRAIN_SAMPLE_MAX, seed=config.seed
            )

            S = collect_vec_matrix(sample, "vec")
            codebooks = np.stack(
                [
                    _lloyd(S[:, j * subdim : (j + 1) * subdim], ksub, config.seed + j)
                    for j in range(m)
                ]
            )  # (m, ksub', subdim) — ksub' may be < ksub on tiny samples
        codes_df = _encode_df(flat.assignments, codebooks, config.with_raw_data)
        import dataclasses

        cfg = dataclasses.replace(config, nlist=flat.config.nlist)
        return cls(
            flat.centroids, codebooks, codes_df, cfg,
            with_raw_data=config.with_raw_data, n_rows=int(n),
        )

    def add(
        self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec"
    ) -> "IVFPqIndex":
        """Append rows with frozen train state — existing coarse centroids
        assign the cell, existing codebooks encode the codes
        (``IndexNode::Add``, index_node.h:120-121)."""
        metric = MetricType(self.config.metric_type)
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec")
        )
        if metric == MetricType.COSINE:
            new = new.select("id", normalize_expr(F.col("vec")).alias("vec"))
        assigned = _assign_cells(new, self.centroids)
        encoded = _encode_df(assigned, self.codebooks, self.with_raw_data)
        return IVFPqIndex(
            self.centroids,
            self.codebooks,
            self.codes.unionByName(encoded),
            self.config,
            with_raw_data=self.with_raw_data,
            # the appended count is unknown without an action; the stale
            # total stays a LOWER bound, which only under-sizes the
            # driver-path partition heuristic slightly (None would
            # disable it entirely)
            n_rows=self.n_rows,
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
        refine_k: int | None = None,
    ) -> DataFrame:
        """ADC top-k over probed cells (the LUT-scan of ivf.cc's PQ path).

        ``strategy='distributed'`` never collects the query set: probes
        assign via ``mapInArrow`` and scoring cogroups cells with their
        probing queries, reconstructing vectors from codes inside the GEMM
        kernel — decode-then-GEMM is arithmetically identical to the ADC
        LUT sum (each LUT entry IS the sub-distance to the decoded
        codeword).

        ``refine_k`` (or ``config.refine_k``) re-ranks the ADC
        top-``refine_k`` by exact distance against the stored raw vectors —
        the reference's ADC-error correction (SCANN ``reorder_k``,
        ivf_config.h:101-115; iterator ``refine_ratio``,
        index_node.h:527-570).  Requires ``with_raw_data``."""
        k = k if k is not None else self.config.k
        refine_k = refine_k if refine_k is not None else self.config.refine_k
        if refine_k:
            if not self.with_raw_data:
                raise ValueError("refine_k requires with_raw_data=True at build")
            refine_k = max(refine_k, k)
        stage_k = refine_k or k
        nprobe = min(
            nprobe if nprobe is not None else self.config.nprobe, self.config.nlist
        )
        metric = MetricType(self.config.metric_type)
        spark = self.codes.sparkSession

        front = open_search(
            self, query_df, k, nprobe, strategy, query_id_col, query_vec_col
        )
        rows_acc = front.metrics["rows_scanned"]
        if front.strategy == "distributed":
            # decode-then-GEMM per cell; project away the optional raw-vec
            # column BEFORE the cell shuffle — refine re-joins raw vectors
            approx = cogroup_cells_topk(
                clustered_search_view(
                    self, self.codes.select("id", "cell_id", "codes")
                ),
                probe_assign_df(front.queries, self.centroids, metric, nprobe),
                stage_k, scan_metric(metric),
                filter_expr=filter_expr, row_matrix=self.row_matrix(),
                rows_acc=rows_acc,
            )
            return self._maybe_refine(approx, front.queries, k, refine_k, metric)

        sim = metric.is_similarity
        qids = front.qids
        # per-cell probing-query index lists: the kernel loops over CELLS
        # (<= nlist per partition), never over queries
        cells = np.flatnonzero(front.probed.any(axis=1)).tolist()
        probe_q_by_cell = {c: np.flatnonzero(front.probed[c]) for c in cells}

        cand = self.codes
        if filter_expr is not None:
            cand = cand.filter(filter_expr)
        # prune to probed cells and the code columns BEFORE the kernel (the
        # optional raw-vec column stays out of the Arrow transfer)
        cand = cand.select("id", "cell_id", "codes").filter(
            F.col("cell_id").isin(cells)
        )
        # size partitions so the per-partition per-query candidate pool is
        # a few multiples of stage_k — otherwise the kernel's partial
        # top-k cannot reduce anything (tiny partitions emitted ~every
        # scored row into the final shuffle, the r3 bottleneck).
        # repartition, NOT coalesce: coalesce(n) narrows the WHOLE lineage
        # (the uncached encode pass would run in n tasks — measured 6x
        # slower at n=1); the repartition shuffle only moves the pruned
        # candidate set, which is small exactly when fewer partitions are
        # wanted — at corpus scale `want` exceeds the parallelism and the
        # natural (large) partitioning stands untouched
        if self.n_rows:
            want = max(
                1, (self.n_rows * nprobe) // (self.config.nlist * stage_k * 4)
            )
            if want < spark.sparkContext.defaultParallelism:
                cand = cand.repartition(want)

        # ADC + per-partition exact top-stage_k INSIDE one mapInArrow
        # kernel: the r3 path shuffled EVERY scored (query, candidate) row
        # into topk_per_key — ~nq·nprobe·cellsize rows — where only
        # nq·stage_k per partition can survive.  The kernel loops over
        # CELLS (<= nlist), scoring each cell's rows against all its
        # probing queries in one vectorized LUT gather (the
        # asymmetric-distance scan), then a single lexsort-based grouped
        # top-k keeps the partition's exact top-stage_k per query with the
        # (distance, id) tie-break — partial-then-final equals the global
        # top-k bit-for-bit.
        # The broadcast carries the query MATRIX + codebooks (≈ nq·dim + m·
        # ksub·subdim floats), NOT the (nq, m, ksub) LUT tensor: at nq=1000
        # the tensor is 32 MB and its first touch across every Python
        # worker cost ~5 s per search; each task instead rebuilds the LUTs
        # from the same float64 inputs with the same expressions —
        # bit-identical tables for ~10 ms of GEMM.
        bc = spark.sparkContext.broadcast(
            (qids, front.qmat, self.codebooks, probe_q_by_cell)
        )
        kk, lg = stage_k, sim

        def kernel(batches):
            b_qids, b_qmat, CB3, by_cell = bc.value
            mm, b_ksub, sd = CB3.shape
            L = np.empty((len(b_qids), mm, b_ksub))
            for j in range(mm):
                qsub = b_qmat[:, j * sd : (j + 1) * sd]
                CBj = CB3[j]
                if lg:
                    L[:, j, :] = qsub @ CBj.T
                else:
                    L[:, j, :] = (
                        (qsub * qsub).sum(axis=1)[:, None]
                        - 2.0 * qsub @ CBj.T
                        + (CBj * CBj).sum(axis=1)[None, :]
                    )
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                tbl = pa.Table.from_batches([rb])
                codes = list_matrix(tbl, "codes", np.int64)
                ids = scalar_column(tbl, "id", np.int64)
                cell = scalar_column(tbl, "cell_id", np.int64)
                if rows_acc is not None:
                    rows_acc.add(len(ids))
                rorder = np.argsort(cell, kind="stable")
                csort = cell[rorder]
                uniq, starts = np.unique(csort, return_index=True)
                ends = np.append(starts[1:], len(csort))
                q_parts, i_parts, d_parts = [], [], []
                for c, s, e in zip(uniq, starts, ends):
                    pq_idx = by_cell.get(int(c))
                    if pq_idx is None or len(pq_idx) == 0:
                        continue
                    rows = rorder[s:e]
                    cc = codes[rows]                       # (nc, m)
                    # gather straight from L — `L[pq_idx]` would COPY the
                    # probing queries' full (nqc, m, ksub) LUT block per
                    # cell (32 MB x n_cells of memcpy at nq=1000), where
                    # the sum only needs (nqc, nc) elements per subspace
                    qcol = pq_idx[:, None]
                    D = L[qcol, 0, cc[None, :, 0]]         # (nqc, nc)
                    for j in range(1, mm):
                        D += L[qcol, j, cc[None, :, j]]
                    q_parts.append(np.repeat(pq_idx, len(rows)))
                    i_parts.append(np.tile(ids[rows], len(pq_idx)))
                    d_parts.append(D.ravel())
                if not q_parts:
                    continue
                q_all = np.concatenate(q_parts)
                i_all = np.concatenate(i_parts)
                d_all = np.concatenate(d_parts)
                key = -d_all if lg else d_all
                sel = np.lexsort((i_all, key, q_all))      # (q, key, id)
                q_s = q_all[sel]
                new_grp = np.r_[True, q_s[1:] != q_s[:-1]]
                grp_start = np.maximum.accumulate(
                    np.where(new_grp, np.arange(len(q_s)), 0)
                )
                keep = (np.arange(len(q_s)) - grp_start) < kk
                take = sel[keep]
                yield pa.record_batch(
                    [
                        pa.array(b_qids[q_all[take]], type=pa.int64()),
                        pa.array(i_all[take], type=pa.int64()),
                        pa.array(d_all[take], type=pa.float64()),
                    ],
                    names=["query_id", "neighbor_id", "distance"],
                )

        scored = cand.mapInArrow(kernel, RESULT_SCHEMA)
        approx = topk_per_key(
            scored, "query_id", "distance", stage_k,
            ascending=not sim, tie_breaker="neighbor_id",
        )
        return self._maybe_refine(approx, front.queries, k, refine_k, metric)

    def _maybe_refine(self, approx, queries, k, refine_k, metric):
        """Exact re-rank of the ADC survivors (stage 2 of quantize-then-
        refine, shared with SCANN via operators/refine.refine)."""
        if not refine_k:
            return approx
        from knowhere_spark.operators.refine import refine

        # materialize the (nq x refine_k)-bounded survivor set before the
        # refine joins: composed lazily, the optimizer's join planning
        # re-executed the whole ADC stage (measured ~2.7x on the composed
        # query); eager localCheckpoint (not cache — callers may chain)
        # pins it at its natural size
        approx = approx.localCheckpoint(eager=True)

        # COSINE stores normalized vectors (normalize-at-train contract);
        # the cosine expression is scale-invariant so re-scoring them
        # against the raw query vectors is exact
        return refine(
            approx, self.raw_vectors(), queries, k, metric,
            query_vec_col="qvec",
        )

    def row_matrix(self):
        """The cell scans' ``row_matrix`` hook: a ``codes`` batch →
        ``(n, dim)`` float64 reconstructed vectors (each subspace's
        codeword).  Decode-then-GEMM is arithmetically the ADC LUT sum —
        each LUT entry IS the sub-distance to the decoded codeword.
        Shared by the distributed and range paths; the closure carries
        only the small codebook tensor."""
        CB = self.codebooks   # (m, ksub, subdim)

        def decode(tbl):
            codes = list_matrix(tbl, "codes", np.int64)   # (n, m)
            return np.concatenate(
                [CB[j][codes[:, j]] for j in range(CB.shape[0])], axis=1
            )

        return decode

    def range_search(
        self,
        query_df: DataFrame,
        config: IvfPqConfig | None = None,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
    ) -> DataFrame:
        """ADC distance-in-range within probed cells (half-open bounds per
        range_util.h:22-25) — codeword reconstruction inside the cogroup
        kernel, identical arithmetic to the LUT sum."""
        cfg = config or self.config
        nprobe = min(
            nprobe if nprobe is not None else cfg.nprobe, self.config.nlist
        )
        metric = MetricType(cfg.metric_type)
        queries = query_frame(query_df, query_id_col, query_vec_col)
        probes = probe_assign_df(queries, self.centroids, metric, nprobe)
        lo, hi, sim = cfg.range_bounds()
        out = cogroup_cells_range(
            clustered_search_view(
                self, self.codes.select("id", "cell_id", "codes")
            ),
            probes, lo, hi, sim,
            scan_metric(metric), filter_expr=filter_expr,
            row_matrix=self.row_matrix(),
        )
        return apply_range_bounds(out, cfg, already_bounded=True)

    # -- Serialize / Deserialize (index_node.h:371-401) -----------------------
    def save(self, path: str) -> None:
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        store.write_manifest(
            {
                "index_type": self.index_type.value,
                "metric_type": self.config.metric_type.value,
                "nlist": self.config.nlist,
                "nprobe": self.config.nprobe,
                "m": self.config.m,
                "nbits": self.config.nbits,
                "k": self.config.k,
                "refine_k": self.config.refine_k,
                "with_raw_data": self.with_raw_data,
                "dim": self.dim(),
                "count": self.count(),
                "centroids": self.centroids.tolist(),
                "codebooks": self.codebooks.tolist(),
            }
        )
        store.write_table("codes", self.codes, partition_by=["cell_id"])

    @classmethod
    def load(cls, spark, path: str) -> "IVFPqIndex":
        from knowhere_spark.sources.index_store import IndexStore

        store = IndexStore(path)
        m = store.read_manifest()
        refine_k = int(m.get("refine_k", 0))
        # the manifest persists build-time k because IvfPqConfig validates
        # refine_k >= k: an index saved with refine_k < default-k (10) would
        # otherwise be unloadable (ConfigError on reconstruction).  Older
        # manifests without "k" fall back to a k the refine_k can satisfy.
        k = int(m.get("k", min(10, refine_k) if refine_k else 10))
        cfg = IvfPqConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
            m=int(m["m"]),
            nbits=int(m["nbits"]),
            k=k,
            refine_k=refine_k,
            with_raw_data=bool(m.get("with_raw_data", False)),
        )
        return cls(
            np.array(m["centroids"], dtype=np.float64),
            np.array(m["codebooks"], dtype=np.float64),
            store.read_table(spark, "codes"),
            cfg,
            with_raw_data=bool(m.get("with_raw_data", False)),
            n_rows=int(m["count"]) if m.get("count") is not None else None,
        )
