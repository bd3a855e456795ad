"""IVF index family — the reference's workhorse ANN structure
(src/index/ivf/ivf.cc: IVF_FLAT train at 492-512, search at 715-800;
configs src/index/ivf/ivf_config.h).

Spark-first design (SURVEY.md §2.3):

- **Train** = kmeans over a sample capped at 256 points/centroid (the
  reference's faiss ``max_points_per_centroid``, ivf.cc:492-512).  The
  capped sample is small by construction, so the default path collects it
  and runs a vectorized numpy Lloyd on the driver — the same single-node
  training regime as faiss, without ~20 distributed-job round-trips; an
  MLlib KMeans fit takes over only when ``nlist`` is so large the sample
  exceeds driver memory.  Either way the driver ends up holding only the
  ``nlist × dim`` centroid matrix.
- **Add** = assign every row to its nearest centroid and persist the
  assignment table **partitioned by cell_id**.  On disk this is Hive-style
  Parquet partitioning, so a probe of ``nprobe`` cells prunes to
  ``nprobe/nlist`` of the bytes — the scan-what-you-probe behavior that
  makes IVF the DiskANN analog at 100 TB (index ≫ RAM, SURVEY.md §2.3).
- **Search** = pick top-``nprobe`` cells per query (a driver-side numpy
  computation over the tiny centroid matrix), then one masked
  ``mapInArrow`` scan of the probed cells against the broadcast query
  matrix and ``(nlist, nq)`` probe membership (no join, no shuffle of
  the base side), exact distance within probed cells,
  partial-then-final top-k.
- **ensure_topk_full** (ivf.cc:753-762): queries that got fewer than k
  results re-probe all cells (driver loop, one extra job).

One driver-search core serves every IVF family (SURVEY.md §2: IVF_SQ8,
IVF_PQ and BIN_IVF_FLAT are the same IVF plan, differing only in how a
cell's rows are decoded and scored): the query front end
(:func:`collect_queries` makes the ``auto`` cutover decision and
collects through Arrow, :func:`open_search` adds the COSINE normalize,
the L2 probe order and the search span) and :func:`scan_cells_topk`, the
masked cell scan, whose ``row_matrix`` hook is the same decode hook
:func:`cogroup_cells_topk` takes on the distributed path.

COSINE follows the reference's normalize-at-train contract
(ivf.cc:462-470): vectors are stored normalized and the search metric
becomes IP on normalized queries.  Centroids are kmeans means of the
normalized vectors (not themselves unit-norm), which is why probe
ranking uses the L2 assignment geometry, never raw IP against the
centroids (see probe_order).
"""

from __future__ import annotations

import dataclasses
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from knowhere_spark.config import IndexType, IvfConfig, MetricType
from knowhere_spark.functions.arrowio import list_matrix, scalar_column
from knowhere_spark.functions.distance import (
    distance_expr,
    normalize_expr,
    pairwise_distances,
)
from knowhere_spark.operators.topk import apply_range_bounds, topk_per_key
from knowhere_spark.sources.index_store import IndexStore


class IVFFlatIndex:
    """Built IVF_FLAT index: centroid matrix + cell-partitioned assignments."""

    #: train-sample collect threshold: rows*dim <= 2^25 (~268 MB fp64).
    #: At 256 points/centroid this covers nlist up to ~1024 at dim 128 —
    #: beyond that the distributed MLlib fit takes over.
    _DRIVER_TRAIN_MAX_ELEMS = 1 << 25

    def __init__(
        self,
        centroids: np.ndarray,          # (nlist, dim) float64
        assignments: DataFrame,          # (id, cell_id, vec [, extra cols])
        config: IvfConfig,
        *,
        index_type: IndexType = IndexType.IVF_FLAT,
    ):
        self.centroids = centroids
        self.assignments = assignments
        self.config = config
        self.index_type = index_type
        self._cell_counts: dict[int, int] | None = None   # lazy stats

    # -- introspection verbs (index_node.h:411-434) -------------------------
    def count(self) -> int:
        return self.assignments.count()

    def dim(self) -> int:
        return int(self.centroids.shape[1])

    def type(self) -> str:
        return self.index_type.value

    def has_raw_data(self) -> bool:
        # IVF_FLAT keeps raw codes (flat.cc:257-285 HasRawData rules)
        return True

    # -- Build ---------------------------------------------------------------
    @classmethod
    def build(
        cls,
        base_df: DataFrame,
        config: IvfConfig,
        *,
        id_col: str = "id",
        vec_col: str = "vec",
        index_type: IndexType = IndexType.IVF_FLAT,
        scalar_cols: tuple[str, ...] | list[str] = (),
    ) -> "IVFFlatIndex":
        """Train (kmeans) + Add (assign) — ``IndexNode::Build`` (index_node.h:70-74).

        ``scalar_cols``: hot scalar payload columns to carry into the
        assignments table so a ``filter_expr`` over them is evaluated
        join-free at the scan — and, after ``save(path,
        scalar_partition_cols=...)``, prunes parquet partitions outright
        (the reference's scalar-filter-aware MaterializedViewSearchInfo,
        include/knowhere/comp/materialized_view.h:23-36, re-expressed as
        Spark partition layout)."""
        from knowhere_spark.functions.distance import numpy_kmeans
        from knowhere_spark.tracing import OpMetrics, op_description

        t_build0 = time.monotonic()
        scalar_cols = tuple(scalar_cols)
        clash = {"id", "vec", "cell_id"} & set(scalar_cols)
        if clash:
            raise ValueError(f"scalar_cols collide with index columns: {sorted(clash)}")
        metric = MetricType(config.metric_type)
        base = base_df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(vec_col).alias("vec"),
            *scalar_cols,
        )
        if metric == MetricType.COSINE:
            # normalize-at-train contract (ivf.cc:462-470)
            base = base.select(
                "id", normalize_expr(F.col("vec")).alias("vec"), *scalar_cols
            )

        n = base.count()
        nlist = config.match_nlist(n)
        # faiss trains on <= 256 points per centroid (its default
        # max_points_per_centroid); the same subsampling bounds the training
        # set regardless of table size
        train_cap = 256 * nlist
        # content-keyed sample + id-sorted collect (r11, closing the r10
        # NOTE here): a partition-seeded .sample() draws a different train
        # set when the same data arrives in a different partition layout,
        # so the trained centroids — and downstream recall — depended on
        # the caller input's shuffle history.  The shared helper keys
        # membership on xxhash64(id) and sorts the over-cap sample, making
        # Train(shuffled input) == Train(stable input); sub-cap trains are
        # untouched (existing artifacts keep their exact centroids).
        from knowhere_spark.session import content_keyed_sample

        train_df = content_keyed_sample(
            base, n, train_cap, seed=config.seed, sort=False
        )
        head = base.select("vec").head()
        dim = len(head["vec"]) if head else 0
        if min(n, train_cap) * max(dim, 1) <= cls._DRIVER_TRAIN_MAX_ELEMS:
            # the capped sample fits the driver comfortably — train exactly
            # where the reference does (single-node over the subsample),
            # skipping ~20 distributed-job round-trips of an MLlib fit
            from knowhere_spark.session import (
                collect_vec_matrix,
                collect_vec_matrix_sorted,
            )

            if n > train_cap:
                # cap binds: the content-keyed contract id-sorts the
                # sample; sort driver-side after the collect instead of
                # paying a distributed total sort (bit-identical matrix,
                # one less exchange — guide §2.4)
                X = collect_vec_matrix_sorted(train_df, "id", "vec")
            else:
                # sub-cap trains keep their exact (arrival-order) train
                # sets — existing artifacts unchanged
                X = collect_vec_matrix(train_df, "vec")
            centroids = numpy_kmeans(X, nlist, iters=20, seed=config.seed)
            nlist = len(centroids)
            assignments = _assign_cells(base, centroids, scalar_cols)
        else:
            # huge nlist (sample beyond driver memory): distributed fit
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            feats = base.withColumn(
                "__features", array_to_vector(F.col("vec").cast("array<double>"))
            )
            # membership is content-keyed here too; the distributed
            # kmeans|| init remains layout-sensitive by nature (MLlib
            # samples per partition internally), so only the driver path
            # above carries the full shuffle-invariance guarantee
            train_feats = content_keyed_sample(
                feats, n, train_cap, seed=config.seed, sort=False
            )
            km = KMeans(
                k=nlist,
                seed=config.seed,
                maxIter=20,
                featuresCol="__features",
                predictionCol="cell_id",
            )
            model = km.fit(train_feats)
            centroids = np.array(
                [np.asarray(c) for c in model.clusterCenters()], dtype=np.float64
            )
            assignments = model.transform(feats).select(
                "id", F.col("cell_id").cast("int"), "vec", *scalar_cols
            )
        cfg = dataclasses.replace(config, nlist=nlist)
        idx = cls(centroids, assignments, cfg, index_type=index_type)
        # span close (index.cc:131-148 Build span): config attrs + the
        # eager portion's wall (train + assign plan; assignments stay lazy)
        m = OpMetrics(
            op=f"{index_type.value}.build", n=n, dim=dim, nlist=nlist,
            train_backend="driver"
            if min(n, train_cap) * max(dim, 1) <= cls._DRIVER_TRAIN_MAX_ELEMS
            else "mllib",
            stages={"build_plan_sec": round(time.monotonic() - t_build0, 6)},
        )
        m["description"] = op_description(
            base.sparkSession.sparkContext, m["op"], n=n, nlist=nlist
        )
        idx.last_metrics = m
        return idx

    # -- Add (append new rows to a trained index) ----------------------------
    def add(self, new_df: DataFrame, *, id_col: str = "id", vec_col: str = "vec") -> "IVFFlatIndex":
        """Assign new rows to existing centroids and append
        (``IndexNode::Add``, index_node.h:120-121; the *_CC growing-segment
        behavior, ivf.cc:513-534)."""
        metric = MetricType(self.config.metric_type)
        # scalar payload columns the index carries must arrive with every
        # Add batch — a NULL-padded union would silently break the
        # partition-pruned filtered search on the saved layout
        extra = tuple(
            c for c in self.assignments.columns if c not in ("id", "cell_id", "vec")
        )
        missing = [c for c in extra if c not in new_df.columns]
        if missing:
            raise ValueError(f"Add batch is missing the index's scalar_cols: {missing}")
        new = new_df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"), *extra
        )
        if metric == MetricType.COSINE:
            new = new.select("id", normalize_expr(F.col("vec")).alias("vec"), *extra)
        assigned = _assign_cells(new, self.centroids, extra)
        return IVFFlatIndex(
            self.centroids,
            self.assignments.unionByName(assigned),
            self.config,
            index_type=self.index_type,
        )

    # -- Search ---------------------------------------------------------------
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
        """Top-k over the probed cells (ivf.cc:715-800).

        Returns ``(query_id, neighbor_id, distance, rank)``.  Distances for
        COSINE are true cosine similarities (computed on the normalized
        stored vectors).

        ``strategy``: ``driver`` collects the query set once and broadcasts
        it (the reference's nq<=10k serving regime); ``distributed`` never
        collects — probe assignment runs as ``mapInArrow`` against
        broadcast centroids and scoring cogroups base cells with their
        probing queries (the corpus-vs-corpus regime, e.g. semantic dedup
        of 100 TB against itself).  ``auto`` picks by query count.
        """
        from knowhere_spark.tracing import StageTimer

        k = k if k is not None else self.config.k
        nprobe = min(nprobe if nprobe is not None else self.config.nprobe, self.config.nlist)
        front = open_search(
            self, query_df, k, nprobe, strategy, query_id_col, query_vec_col
        )
        m = front.metrics
        if front.strategy == "distributed":
            return self._search_distributed(
                front.queries, k, nprobe, filter_expr, rows_acc=m["rows_scanned"]
            )

        dist_metric = scan_metric(MetricType(self.config.metric_type))
        qids = front.qids
        with StageTimer(m).stage("scan_plan_sec"):
            out = scan_cells_topk(
                self.assignments, front.probed, qids, front.qmat, k, dist_metric,
                filter_expr=filter_expr, rows_acc=m["rows_scanned"],
            )

        if self.config.ensure_topk_full:
            # probe-all fallback for underfilled queries (ivf.cc:753-762)
            if filter_expr is None:
                # cheap path: per-query candidate counts from cell stats —
                # no filter means candidates >= k guarantees k results,
                # so no extra Spark job at all in the common case
                sizes = np.zeros(len(front.probed), dtype=np.int64)
                for cell, cnt in self._get_cell_counts().items():
                    sizes[cell] = cnt
                refill = np.flatnonzero(sizes @ front.probed < k)
            else:
                out = out.cache()   # the count below must not recompute twice
                counts = {r["query_id"]: r["cnt"] for r in out.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
                refill = np.flatnonzero([counts.get(int(q), 0) < k for q in qids])
            if len(refill):
                probed = np.zeros_like(front.probed)
                probed[:, refill] = True
                m["cells_probed"] += int(probed.sum())
                refill_out = scan_cells_topk(
                    self.assignments, probed, qids, front.qmat, k, dist_metric,
                    filter_expr=filter_expr, rows_acc=m["rows_scanned"],
                )
                kept = out.filter(~F.col("query_id").isin(qids[refill].tolist()))
                out = kept.unionByName(refill_out)
        return out

    def _get_cell_counts(self) -> dict[int, int]:
        """Rows per cell — computed once, the index's only statistic
        (the reference tracks live counts per segment similarly)."""
        if self._cell_counts is None:
            self._cell_counts = {
                int(r["cell_id"]): int(r["cnt"])
                for r in self.assignments.groupBy("cell_id")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        return self._cell_counts

    def probe_assign(self, queries: DataFrame, nprobe: int) -> DataFrame:
        """Distributed probe assignment — see :func:`probe_assign_df`."""
        return probe_assign_df(
            queries, self.centroids, MetricType(self.config.metric_type), nprobe
        )

    def _search_distributed(self, queries, k, nprobe, filter_expr, rows_acc=None):
        """Corpus-vs-corpus scoring: cogroup base cells with their probing
        queries on ``cell_id`` and GEMM within each cell — one shuffle of
        each side keyed by cell, no driver collect, no broadcast of the
        query set.  ``ensure_topk_full`` refills underfilled queries with
        an all-cells probe, decided distributedly."""
        probes = self.probe_assign(queries, nprobe)
        out = self._cogroup_topk(probes, k, filter_expr, rows_acc=rows_acc)
        if not self.config.ensure_topk_full:
            return out
        spark = self.assignments.sparkSession
        if filter_expr is None:
            # candidate counts >= k guarantee k results when unfiltered
            cc = self._get_cell_counts()
            cc_df = spark.createDataFrame(
                [(int(c), int(n)) for c, n in cc.items()], "cell_id int, cnt long"
            )
            under = (
                probes.join(F.broadcast(cc_df), "cell_id", "left")
                .groupBy("query_id")
                .agg(F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("cand"))
                .filter(F.col("cand") < k)
                .select("query_id")
            )
        else:
            out = out.cache()
            under = (
                out.groupBy("query_id")
                .agg(F.count("*").alias("cnt"))
                .filter(F.col("cnt") < k)
                .select("query_id")
            )
            # queries with zero results never appear in `out` at all
            under = queries.select("query_id").exceptAll(
                out.select("query_id").distinct()
            ).unionByName(under)
        # short-circuit: the common case has NO underfilled query (every
        # probe set covers >= k candidates), and composing the refill
        # anyway costs a second full cogroup subplan + a 1M-row anti-join
        # at action time (~0.9 s measured on the 100k selfsearch).  The
        # emptiness probe itself is cheap: the unfiltered branch reads the
        # cached probe table against a broadcast of per-cell counts; the
        # filtered branch reads the `out` cache the refill path needs
        # materialized anyway.  Results are identical — an empty `under`
        # makes refill_out empty and kept == out by construction.
        if under.isEmpty():
            return out
        all_cells = spark.createDataFrame(
            [(int(c),) for c in range(self.config.nlist)], "cell_id int"
        )
        refill_probes = (
            probes.join(F.broadcast(under), "query_id", "left_semi")
            .select("query_id", "qvec")
            .dropDuplicates(["query_id"])
            .crossJoin(F.broadcast(all_cells))
            .select("query_id", "qvec", "cell_id")
        )
        refill_out = self._cogroup_topk(refill_probes, k, filter_expr, rows_acc=rows_acc)
        kept = out.join(F.broadcast(under), "query_id", "left_anti")
        return kept.unionByName(refill_out)

    def _cogroup_topk(self, probes: DataFrame, k, filter_expr, rows_acc=None):
        return cogroup_cells_topk(
            clustered_search_view(self), probes, k,
            scan_metric(MetricType(self.config.metric_type)),
            filter_expr=filter_expr,
            rows_acc=rows_acc,
        )

    def _range_search_distributed(self, queries, nprobe, filter_expr):
        """Distributed range search: probes assign via ``mapInArrow``,
        in-range pairs stream out of per-cell cogroups; ``range_search_k``
        truncates per query at the end (config.h:665-669)."""
        probes = self.probe_assign(queries, nprobe)
        lo, hi, sim = self.config.range_bounds()
        out = cogroup_cells_range(
            clustered_search_view(self), probes, lo, hi, sim,
            scan_metric(MetricType(self.config.metric_type)),
            filter_expr=filter_expr,
        )
        return apply_range_bounds(out, self.config, already_bounded=True)

    # -- RangeSearch (index_node.h:169-326; ivf.cc range path) ----------------
    def range_search(
        self,
        query_df: DataFrame,
        *,
        nprobe: int | None = None,
        filter_expr: Column | str | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "vec",
        strategy: str = "auto",
    ) -> DataFrame:
        """Distance-in-range neighbors within probed cells — the same
        half-open semantics as BruteForce.range_search (range_util.h:22-25);
        probe-limited like the reference's IVF range path.  ``nprobe=nlist``
        makes it exact.  ``strategy`` mirrors :meth:`search`:
        ``distributed`` assigns probes via ``mapInArrow`` and scores in
        per-cell cogroups, never collecting the query set."""
        nprobe = min(
            nprobe if nprobe is not None else self.config.nprobe, self.config.nlist
        )
        metric = MetricType(self.config.metric_type)
        spark = self.assignments.sparkSession

        queries = query_frame(query_df, query_id_col, query_vec_col)
        strategy, tbl = collect_queries(queries, strategy)
        if strategy == "distributed":
            return self._range_search_distributed(queries, nprobe, filter_expr)
        qids, qmat = driver_queries(tbl, metric, self.dim())
        qvec_df = spark.createDataFrame(
            [(int(q), [float(x) for x in qmat[i]]) for i, q in enumerate(qids)],
            "query_id long, qvec array<double>",
        )
        order = probe_order(self.centroids, qmat, nprobe)          # (nprobe, nq)
        probe_df = spark.createDataFrame(
            list(zip(np.repeat(qids, nprobe).tolist(), order.T.ravel().tolist())),
            "query_id long, cell_id int",
        )
        cand = self.assignments
        if filter_expr is not None:
            cand = cand.filter(filter_expr)
        cand = cand.filter(F.col("cell_id").isin(np.unique(order).tolist()))
        scored = (
            cand.join(F.broadcast(probe_df), "cell_id")
            .join(F.broadcast(qvec_df), "query_id")
            .select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                distance_expr(
                    scan_metric(metric), F.col("vec"), F.col("qvec")
                ).alias("distance"),
            )
        )
        return apply_range_bounds(scored, self.config)

    # -- GetVectorByIds (index_node.h:340-350; HasRawData true for IVF_FLAT) --
    def get_vector_by_ids(self, ids_df: DataFrame, *, id_col: str = "id") -> DataFrame:
        ids = ids_df.select(F.col(id_col).cast("long").alias("id"))
        return self.assignments.select("id", "vec").join(F.broadcast(ids), "id")

    # -- GetIndexMeta (index_node.h:363; feder/IVFFlat.h:25-87) ---------------
    def get_index_meta(self, *, with_node_ids: bool = True) -> DataFrame:
        """The index view feder renders (ivf.cc:1066-1100: one ``ClusterInfo``
        per inverted list — cluster id, member node ids, centroid vector) as
        a DataFrame: ``(cluster_id INT, size BIGINT, node_ids ARRAY<BIGINT>,
        centroid ARRAY<FLOAT>)``, one row per centroid — empty cells appear
        with ``size = 0`` exactly like an empty inverted list does.

        ``with_node_ids=False`` keeps only the per-cluster sizes: at corpus
        scale a cluster's id list is ``ntotal/nlist`` rows wide, and a
        visualization that only draws cluster sizes shouldn't pay the
        ``collect_list`` memory (one cell's ids — the same working-set bound
        the per-cell search scan already lives with)."""
        spark = self.assignments.sparkSession
        cents = spark.createDataFrame(
            [
                (int(i), [float(x) for x in row])
                for i, row in enumerate(self.centroids)
            ],
            "cluster_id int, centroid array<float>",
        )
        aggs = [F.count("*").alias("size")]
        if with_node_ids:
            aggs.append(F.sort_array(F.collect_list("id")).alias("node_ids"))
        sizes = self.assignments.groupBy(
            F.col("cell_id").cast("int").alias("cluster_id")
        ).agg(*aggs)
        out = cents.join(sizes, "cluster_id", "left").withColumn(
            "size", F.coalesce(F.col("size"), F.lit(0)).cast("long")
        )
        if with_node_ids:
            empty = F.array().cast("array<bigint>")
            out = out.withColumn("node_ids", F.coalesce(F.col("node_ids"), empty))
            return out.select("cluster_id", "size", "node_ids", "centroid")
        return out.select("cluster_id", "size", "centroid")

    # -- Serialize / Deserialize (index_node.h:371-401) ------------------------
    def save(self, path: str, *, scalar_partition_cols: list[str] | None = None) -> None:
        """Persist as a cell-partitioned parquet layout.

        ``scalar_partition_cols`` (must be among the index's
        ``scalar_cols``) layer hot scalar fields ABOVE ``cell_id`` in the
        directory tree, so a filtered search on the loaded index prunes
        whole scalar partitions at the scan — the 100 TB shape of the
        reference's scalar-filter-aware search
        (materialized_view.h:23-36): equality/IN predicates on the hot
        field never read a byte of the other partitions."""
        scalars = list(scalar_partition_cols or [])
        payload = [
            c for c in self.assignments.columns if c not in ("id", "cell_id", "vec")
        ]
        bad = [c for c in scalars if c not in payload]
        if bad:
            # 'cell_id' would partitionBy twice, 'id' would write one
            # directory per row, 'vec' fails on the array type — only the
            # scalar payload columns are legal partition levels
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
                "centroids": self.centroids.tolist(),
                # partition-column types are NOT stored in parquet data
                # files; without the declared schema, read-time inference
                # would coerce a string label '01' to int 1 and merge it
                # with partition '1'
                "assignments_schema": self.assignments.schema.json(),
            }
        )
        # scalar fields coarsest-first, then cell: probe-time pruning on
        # cell_id composes with scalar-predicate pruning
        store.write_table(
            "assignments", self.assignments, partition_by=[*scalars, "cell_id"]
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFFlatIndex":
        store = IndexStore(path)
        m = store.read_manifest()
        centroids = np.array(m["centroids"], dtype=np.float64)
        schema = None
        if m.get("assignments_schema"):
            import json

            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m["assignments_schema"]))
        assignments = store.read_table(spark, "assignments", schema=schema)
        cfg = IvfConfig(
            metric_type=MetricType(m["metric_type"]),
            nlist=int(m["nlist"]),
            nprobe=int(m["nprobe"]),
        )
        return cls(centroids, assignments, cfg, index_type=IndexType(m["index_type"]))


#: auto-strategy cutover: beyond this many queries the driver no longer
#: collects the query set; probe assignment and scoring both distribute
DRIVER_NQ_MAX = 10_000


def query_frame(
    query_df: DataFrame, query_id_col: str = "query_id", query_vec_col: str = "vec"
) -> DataFrame:
    """The ``(query_id long, qvec)`` query side every search path reads."""
    return query_df.select(
        F.col(query_id_col).cast("long").alias("query_id"),
        F.col(query_vec_col).alias("qvec"),
    )


def collect_queries(
    queries: DataFrame, strategy: str = "driver"
) -> tuple[str, pa.Table | None]:
    """Resolve ``strategy`` and bring a driver-path query set home as one
    Arrow table (no per-row ``Row`` boxing).

    ``auto`` peeks one row past :data:`DRIVER_NQ_MAX` with a single
    ``limit(...).toArrow()``: a small set is then already in hand for the
    driver path, a larger one goes ``distributed`` without a collect.
    Returns ``(strategy, table)``; ``table`` is ``None`` when distributed."""
    if strategy == "auto":
        tbl = queries.limit(DRIVER_NQ_MAX + 1).toArrow()
        if tbl.num_rows > DRIVER_NQ_MAX:
            return "distributed", None
        return "driver", tbl
    if strategy == "driver":
        return strategy, queries.toArrow()
    if strategy == "distributed":
        return strategy, None
    raise ValueError(f"unknown strategy {strategy!r}")


def unit_rows(Q: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm (zero rows kept) — the COSINE
    normalize-at-train contract applied to queries (ivf.cc:462-470)."""
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    return Q / qn


def driver_queries(
    tbl: pa.Table, metric: MetricType, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """``(qids, qmat)`` of a collected query table: ``qmat`` is the
    ``(nq, dim)`` float64 query matrix, COSINE rows normalized.  An empty
    set comes out as ``(0, dim)``, so it flows through every plan as zero
    probed cells and an empty result."""
    qids = scalar_column(tbl, "query_id", np.int64)
    qmat = list_matrix(tbl, "qvec").reshape(len(qids), dim)
    if metric == MetricType.COSINE:
        qmat = unit_rows(qmat)
    return qids, qmat


def scan_metric(metric: MetricType) -> MetricType:
    """The in-cell scoring metric: COSINE rows and queries are both
    normalized (ivf.cc:462-470), so COSINE scores as IP."""
    return MetricType.IP if metric == MetricType.COSINE else metric


def probe_order(centroids: np.ndarray, qmat: np.ndarray, nprobe: int) -> np.ndarray:
    """Driver-side top-``nprobe`` cells per query over the tiny centroid
    matrix, as an ``(nprobe, nq)`` array of cell ids.

    Probe ranking uses **L2 — the assignment geometry** — for every
    float metric: cells are L2-Voronoi regions (_assign_cells), and
    COSINE data/queries are already normalized, so nearest-by-L2 IS
    the cell ordering consistent with where vectors live.  Ranking by
    raw IP against unnormalized centroids would disagree with
    assignment (a query equal to a stored vector could miss its own
    cell).  faiss probes with the quantizer's own metric for the same
    reason; scoring inside cells still uses the true metric."""
    d = pairwise_distances(centroids, qmat, MetricType.L2)   # (nlist, nq)
    return np.argsort(d, axis=0, kind="stable")[:nprobe, :]


@dataclasses.dataclass
class SearchFront:
    """A top-k search after the front end: the resolved strategy and the
    open span; on the driver path also the collected queries and their
    ``(nlist, nq)`` boolean probe membership."""

    queries: DataFrame
    strategy: str
    metrics: dict
    qids: np.ndarray | None = None
    qmat: np.ndarray | None = None
    probed: np.ndarray | None = None


def open_search(
    index, query_df: DataFrame, k: int, nprobe: int, strategy: str,
    query_id_col: str, query_vec_col: str,
) -> SearchFront:
    """The front end of every dense IVF top-k search (IVF_FLAT, IVF_SQ,
    IVF_PQ): resolve the strategy and collect the queries
    (:func:`collect_queries`), open the search span on
    ``index.last_metrics`` (index.cc:149-162: the op label names the
    consuming jobs; ``rows_scanned`` is a live kernel counter resolved by
    ``last_metrics.snapshot()``), and on the driver path normalize the
    queries and probe the centroids."""
    from knowhere_spark.tracing import OpMetrics, StageTimer, op_description

    queries = query_frame(query_df, query_id_col, query_vec_col)
    strategy, tbl = collect_queries(queries, strategy)
    sc = queries.sparkSession.sparkContext
    m = OpMetrics(
        op=f"{index.index_type.value}.search", k=k, nprobe=nprobe,
        nlist=index.config.nlist, strategy=strategy,
        rows_scanned=sc.accumulator(0),
    )
    m["description"] = op_description(
        sc, m["op"], k=k, nprobe=nprobe, strategy=strategy
    )
    index.last_metrics = m
    front = SearchFront(queries, strategy, m)
    timer = StageTimer(m)
    if tbl is None:
        return front
    front.qids, front.qmat = driver_queries(
        tbl, MetricType(index.config.metric_type), index.centroids.shape[1]
    )
    nq = len(front.qids)
    with timer.stage("probe_sec"):
        order = probe_order(index.centroids, front.qmat, nprobe)
        front.probed = np.zeros((len(index.centroids), nq), dtype=bool)
        front.probed[order, np.arange(nq)[None, :]] = True
    m["nq"] = nq
    m["cells_probed"] = order.size
    return front


def scan_cells_topk(
    assignments: DataFrame,
    probed: np.ndarray,
    qids: np.ndarray,
    qmat: np.ndarray,
    k: int,
    dist_metric: MetricType,
    *,
    filter_expr: Column | str | None = None,
    row_matrix=None,
    rows_acc=None,
) -> DataFrame:
    """Driver-path top-k over the probed cells: one ``mapInArrow`` pass
    over the cell-pruned rows against the broadcast query matrix and the
    ``(nlist, nq)`` boolean ``probed`` membership, then the final window.
    ``row_matrix`` is the decode hook :func:`cogroup_cells_topk` takes
    (raw vectors by default, decoded codes for the quantized families).

    Each batch emits at most ``nq·k`` rows plus boundary ties — the same
    parallelism inversion as BruteForce's gemm path (SURVEY.md §3.2); a
    naive SQL-distance + global window would shuffle every scored
    candidate instead."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    if row_matrix is None:
        row_matrix = _raw_vectors
    cand = assignments
    if filter_expr is not None:
        cand = cand.filter(filter_expr)
    # literal IN-list → partition pruning when assignments are read from
    # a cell-partitioned parquet index (see save/load)
    cells = np.flatnonzero(probed.any(axis=1)).tolist()
    cand = cand.filter(F.col("cell_id").isin(cells))
    bc = cand.sparkSession.sparkContext.broadcast((qids, qmat, probed))
    largest = dist_metric.is_similarity

    def kernel(batches):
        b_qids, b_qmat, b_probed = bc.value
        nq = len(b_qids)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = row_matrix(tbl)
            ids = scalar_column(tbl, "id", np.int64)
            cell = scalar_column(tbl, "cell_id", np.int64)
            n = len(ids)
            if rows_acc is not None:
                rows_acc.add(n)
            dist = pairwise_distances(X, b_qmat, dist_metric)   # (n, nq)
            member = b_probed[cell]                            # (n, nq)
            key = -dist if largest else dist
            key = np.where(member, key, np.inf)                # mask non-probed
            kk = min(k, n)
            sel = np.zeros((n, nq), dtype=bool)
            if kk < n:
                part = np.argpartition(key, kk - 1, axis=0)[:kk]  # (kk, nq)
                col = np.arange(nq)
                sel[part, col[None, :]] = True
                # widen to rows tied at a FINITE per-query boundary so a
                # smallest-id duplicate can't be dropped at the partial
                # cut (the final window tie-breaks (distance, id));
                # quantized distances tie often (identical codes decode
                # equal)
                bnd = key[part, col[None, :]].max(axis=0)         # (nq,)
                finite_b = np.isfinite(bnd)
                if finite_b.any():
                    sel |= (key == bnd[None, :]) & finite_b[None, :]
            else:
                sel[:] = True
            sel &= member
            rows_f, q_f = np.nonzero(sel)
            if len(rows_f) == 0:
                continue
            yield pa.record_batch(
                [
                    pa.array(b_qids[q_f], type=pa.int64()),
                    pa.array(ids[rows_f], type=pa.int64()),
                    pa.array(dist[rows_f, q_f], type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "distance"],
            )

    scored = cand.mapInArrow(kernel, RESULT_SCHEMA)
    return topk_per_key(
        scored, "query_id", "distance", k,
        ascending=not largest, tie_breaker="neighbor_id",
    )


def _raw_vectors(tbl: pa.Table) -> np.ndarray:
    """Default ``row_matrix`` hook: the stored raw vectors."""
    return list_matrix(tbl, "vec")


def probe_assign_df(
    queries: DataFrame, centroids: np.ndarray, metric: MetricType, nprobe: int
) -> DataFrame:
    """Distributed probe assignment: ``mapInArrow`` over the query set
    against the broadcast ``nlist × dim`` centroid matrix, emitting one
    ``(query_id, qvec, cell_id)`` row per probed cell.  The query set never
    touches the driver — the large-nq half of the reference's search
    fan-out (ivf.cc:715-800) with Spark's data parallelism on the query
    axis.  COSINE queries come out normalized (ivf.cc:462-470 contract)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    # probe ranking = assignment geometry (L2 — see probe_order); only
    # query normalization depends on the true metric
    spark = queries.sparkSession
    normalize = metric == MetricType.COSINE
    bc = spark.sparkContext.broadcast((centroids, MetricType.L2.value, normalize))
    # qvec payload type: COSINE must ship the float64-normalized vectors
    # (ivf.cc:462-470 contract — scorers IP them against normalized rows);
    # every other metric passes the INPUT values through untouched, so the
    # probe table keeps the caller's (usually float32) element type — the
    # scorers' float64 upcast is exact, and the per-probe duplicated qvec
    # payload shuffles at half the bytes (guide §2.3: narrower types,
    # §4.2: no needless float64 list materialization in the kernel)
    qvec_type = (
        ArrayType(DoubleType()) if normalize else queries.schema["qvec"].dataType
    )
    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("qvec", qvec_type),
            StructField("cell_id", IntegerType()),
        ]
    )

    def kernel(batches):
        from knowhere_spark.functions.arrowio import (
            matrix_to_list_array,
            repeat_list_column,
        )

        C, pm, normalize = bc.value
        pm = MetricType(pm)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            Q = list_matrix(tbl, "qvec")
            if normalize:
                Q = unit_rows(Q)
            d = pairwise_distances(C, Q, pm)                  # (nlist, nq)
            key = -d if pm.is_similarity else d
            npb = min(nprobe, len(C))
            order = (
                np.argpartition(key, npb - 1, axis=0)[:npb, :]
                if npb < len(C)
                else np.argsort(key, axis=0)
            )                                                  # (npb, nq)
            qids = scalar_column(tbl, "query_id", np.int64)
            # Arrow-native emission (guide §4.2): COSINE builds ONE values
            # buffer + arithmetic offsets for the normalized float64
            # vectors; every other metric re-emits the INPUT list rows via
            # one vectorized take — the element type (usually float32)
            # passes through untouched, so probe payload bytes stay halved
            out_q = (
                matrix_to_list_array(np.repeat(Q, npb, axis=0), pa.float64())
                if normalize
                else repeat_list_column(tbl, "qvec", npb)
            )
            yield pa.record_batch(
                [
                    pa.array(np.repeat(qids, npb), type=pa.int64()),
                    out_q,
                    pa.array(order.T.ravel().astype(np.int32), type=pa.int32()),
                ],
                names=["query_id", "qvec", "cell_id"],
            )

    # a small/cached query side can arrive as one split, which would run
    # the whole assignment kernel on a single core; at real scale (many
    # scan splits) this is a no-op
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(queries).mapInArrow(kernel, schema)


def clustered_search_view(index, frame: DataFrame | None = None) -> DataFrame:
    """Cell-clustered, SEARCH-ONLY view of an index's assignments.

    Lazily repartitions by ``cell_id`` and persists on the index object,
    so every distributed cogroup search after the first reads a corpus
    side that already satisfies the cogroup's clustering — the
    per-search corpus Exchange disappears (guide §2.4; the serving
    memoization analog of the sharded-HNSW graph-broadcast cache, and of
    ``save()``'s physical cell layout).  The first search pays one
    exchange + persist; repeats skip both.

    CRITICAL: this view must never feed a trainer.  Sub-cap PQ/SQ trains
    are arrival-order-exact ("existing artifacts keep their exact
    centroids"), and re-laying out the frame they consume re-draws their
    codebooks (r12 A/B: pq recall 0.7264 → 0.726).  Only the search
    cogroups read it; ``index.assignments`` keeps the arrival-order
    layout for trainers, save(), metadata and the driver scan path."""
    cached = getattr(index, "_clustered_assign", None)
    if cached is None:
        src = frame if frame is not None else index.assignments
        cached = src.repartition("cell_id").persist()
        index._clustered_assign = cached
    return cached


def cogroup_cells_topk(
    assignments: DataFrame,
    probes: DataFrame,
    k: int,
    dist_metric: MetricType,
    *,
    filter_expr: Column | str | None = None,
    row_matrix=None,
    rows_acc=None,
) -> DataFrame:
    """Per-cell GEMM top-k via cogrouped ``applyInArrow``: base cells meet
    their probing queries after one shuffle of each side keyed by
    ``cell_id``; a final window reduces <= cells_probed·k candidates per
    query.  ``row_matrix(tbl: pa.Table) -> (n, dim) float64`` turns a
    cell's rows into the GEMM operand — raw vectors for IVF_FLAT, decoded
    codes for the quantized families (decode-then-GEMM is arithmetically
    identical to the reference's ADC/affine scan: the LUT entry IS the
    sub-distance to the decoded centroid).  Shared by every IVF-family
    distributed search.

    Arrow-native kernel (guide §4.2): the ``(n, dim)`` operands come from
    one flatten+reshape+astype over each list column's contiguous values
    buffer.  The former pandas kernel boxed every vector row into a
    Python object and re-stacked with ``np.array(list(...))`` — measured
    1.5-2x the whole cogroup stage at the 100k-selfsearch shape.  Float
    bytes and selection arithmetic are unchanged → results bit-identical."""
    from knowhere_spark.functions.distance import local_topk
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    if row_matrix is None:
        row_matrix = _raw_vectors
    largest = dist_metric.is_similarity
    cand = assignments
    if filter_expr is not None:
        cand = cand.filter(filter_expr)
    # the probe table feeds two plan branches (cell prune + cogroup) —
    # cache it so the mapInArrow probe assignment runs once
    probes = probes.cache()
    # prune unprobed cells before the shuffle (cheap when nq·nprobe covers
    # most cells, decisive when it doesn't)
    cand = cand.join(probes.select("cell_id").distinct(), "cell_id", "left_semi")
    _empty = pa.schema(
        [("query_id", pa.int64()), ("neighbor_id", pa.int64()),
         ("distance", pa.float64())]
    )

    def cell_kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _empty.empty_table()
        X = row_matrix(left)
        ids = scalar_column(left, "id", np.int64)
        Q = list_matrix(right, "qvec")
        qids = scalar_column(right, "query_id", np.int64)
        if rows_acc is not None:
            rows_acc.add(len(ids))    # rows GEMMed in this probed cell
        dist = pairwise_distances(X, Q, dist_metric)          # (n, nq)
        qidx, nid, dd = local_topk(dist, ids, k, largest)
        return pa.table(
            {
                "query_id": pa.array(qids[qidx], type=pa.int64()),
                "neighbor_id": pa.array(nid.astype(np.int64, copy=False),
                                        type=pa.int64()),
                "distance": pa.array(dd.astype(np.float64, copy=False),
                                     type=pa.float64()),
            }
        )

    scored = (
        cand.groupby("cell_id")
        .cogroup(probes.groupby("cell_id"))
        .applyInArrow(cell_kernel, RESULT_SCHEMA)
    )
    return topk_per_key(
        scored, "query_id", "distance", k,
        ascending=not largest, tie_breaker="neighbor_id",
    )


def cogroup_cells_range(
    assignments: DataFrame,
    probes: DataFrame,
    lo: float,
    hi: float,
    sim: bool,
    dist_metric: MetricType,
    *,
    filter_expr: Column | str | None = None,
    row_matrix=None,
) -> DataFrame:
    """Distributed range scoring: per-cell cogroup emits every in-range
    ``(query_id, neighbor_id, distance)`` pair — half-open semantics per
    metric direction (range_util.h:22-25).  Same shuffle shape as
    :func:`cogroup_cells_topk` (and the same Arrow-native kernel layout)."""
    from knowhere_spark.operators.brute_force import RESULT_SCHEMA

    if row_matrix is None:
        row_matrix = _raw_vectors
    cand = assignments
    if filter_expr is not None:
        cand = cand.filter(filter_expr)
    probes = probes.cache()
    cand = cand.join(probes.select("cell_id").distinct(), "cell_id", "left_semi")
    _empty = pa.schema(
        [("query_id", pa.int64()), ("neighbor_id", pa.int64()),
         ("distance", pa.float64())]
    )

    def cell_kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0 or right.num_rows == 0:
            return _empty.empty_table()
        X = row_matrix(left)
        ids = scalar_column(left, "id", np.int64)
        Q = list_matrix(right, "qvec")
        qids = scalar_column(right, "query_id", np.int64)
        dist = pairwise_distances(X, Q, dist_metric)          # (n, nq)
        if sim:
            mask = (dist > lo) & (dist <= hi)
        else:
            mask = (dist >= lo) & (dist < hi)
        ri, qi = np.nonzero(mask)
        return pa.table(
            {
                "query_id": pa.array(qids[qi], type=pa.int64()),
                "neighbor_id": pa.array(ids[ri], type=pa.int64()),
                "distance": pa.array(dist[ri, qi], type=pa.float64()),
            }
        )

    return (
        cand.groupby("cell_id")
        .cogroup(probes.groupby("cell_id"))
        .applyInArrow(cell_kernel, RESULT_SCHEMA)
    )


def _assign_cells(
    df: DataFrame, centroids: np.ndarray, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-centroid assignment via a broadcast numpy GEMM kernel —
    ``ClusterNode::Assign`` analog (cluster_node.h:26-50).  ``extra_cols``
    (scalar payload columns already present on ``df``) pass through
    untouched — the hot-scalar-field index layout (SURVEY §4's
    materialized-view analog, include/knowhere/comp/materialized_view.h)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    keep = ["id", "cell_id", "vec", *extra_cols]

    def kernel(batches):
        # Arrow-native (guide §4.2): id/vec/extra columns pass through the
        # output batch untouched (no pandas materialization); only cell_id
        # is computed
        C = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            X = list_matrix(tbl, "vec")
            d = pairwise_distances(X, C, MetricType.L2)
            cell = pa.array(d.argmin(axis=1).astype(np.int32), type=pa.int32())
            cols = [
                cell if c == "cell_id"
                else tbl.column(c).combine_chunks()
                for c in keep
            ]
            cols[0] = cols[0].cast(pa.int64())   # id long per the schema
            yield pa.record_batch(cols, names=keep)

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    vec_type = df.schema["vec"].dataType
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("cell_id", IntegerType()),
            StructField("vec", vec_type),
        ]
        + [df.schema[c] for c in extra_cols]
    )
    from knowhere_spark.session import ensure_parallelism

    return ensure_parallelism(df).mapInArrow(kernel, schema)
