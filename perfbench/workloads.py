"""The workloads: what each sets up, what one loop cycle calls, and how
every result is checked against the oracle.

A workload builds its input DataFrames in ``__init__``, before any timing
starts.  ``setup`` builds the indexes the loop reads, ``warm`` makes the
first call of each loop op, and ``cycle`` makes one call of each op in the
loop.  The oracle runs inside each op's check, which is never timed.
Every call draws a fresh query batch under query ids unique to the call,
and every append uses fresh row ids, so no plan repeats within a run.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from knowhere_spark.config import IvfConfig
from knowhere_spark.operators.ivf import IVFFlatIndex
from knowhere_spark.operators.semdedup import semdedup

import oracle
from counters import SparkCounters
from harness import Op, Runner, to_arrow
from inputs import N, N_APPEND, N_QUERIES, Inputs

K = 10
NLIST = 64
NPROBE = 8

#: recall below these floors makes a run incorrect (correct=false); they
#: sit well under what the current tree reaches on every seed
RECALL_FLOORS = {
    "ivf_flat.search": 0.6,
    "ivf_flat.search_distributed": 0.5,
}
PLANTED_DUP_FLOOR = 0.9

#: every op a workload may call; a traced run reports each op's layer
#: quantities in every workload, as 0 for ops the workload does not call
LAYER_OPS = (
    "ivf_flat.build", "ivf_flat.search", "ivf_flat.search_distributed",
    "ivf_flat.add", "semdedup",
)


def vec_frame(spark: SparkSession, mat: np.ndarray, ids: np.ndarray, id_col: str,
              parts: int = 1) -> DataFrame:
    """``(id_col, vec array<float>)`` frame in ``parts`` partitions (Spark
    makes one partition per Arrow record batch)."""
    flat = pa.array(np.ascontiguousarray(mat, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, len(flat) + 1, mat.shape[1], dtype=np.int32))
    tbl = pa.table({
        id_col: pa.array(ids, pa.int64()),
        "vec": pa.ListArray.from_arrays(offsets, flat),
    })
    rows = -(-len(ids) // parts)
    return spark.createDataFrame(pa.Table.from_batches(tbl.to_batches(max_chunksize=rows)))


def with_local_ids(tbl: pa.Table, col: str, first: int, fresh_first: int) -> pa.Table:
    """Map ids ``>= fresh_first`` (rows appended under fresh ids) back onto
    the oracle's row numbers ``first, first+1, ...``."""
    ids = tbl.column(col).to_numpy()
    local = np.where(ids >= first, ids - fresh_first + first, ids)
    return tbl.set_column(tbl.schema.get_field_index(col), col, pa.array(local, pa.int64()))


def materialize(index):
    """Cache and count a built index's assignments table: the loop serves
    from a materialized index, as a deployment would."""
    agg = index.assignments.cache().groupBy().count()
    agg.collect()
    return None, agg


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, inputs: Inputs, cpus: int,
                 counters: SparkCounters):
        self.spark = spark
        self.inp = inputs
        self.counters = counters
        self.input_rdds: set[int] = set()   # RDDs caching the benchmark's input frames
        self.index_rdds: set[int] = set()   # RDDs caching the indexes it materialized
        self._qcursor = 0
        self._calls = 0
        self.corpus_df = vec_frame(spark, inputs.corpus, np.arange(N), "id", parts=cpus)
        self.cache_inputs()

    def cache_inputs(self) -> None:
        self.corpus_df.cache().count()
        self.input_rdds.add(self.counters.cache_rdd_id(self.corpus_df))

    def setup(self, run: Runner):
        """Build the IVF_FLAT index the loop reads."""
        config = IvfConfig(metric_type="L2", nlist=NLIST, nprobe=NPROBE)
        flat, _ = run.must(Op("ivf_flat.build",
                              lambda: IVFFlatIndex.build(self.corpus_df, config),
                              materialize, rows=N))
        self.index_rdds.add(self.counters.cache_rdd_id(flat.assignments))
        return flat

    def warm(self, run: Runner, state) -> None:
        """One call of each loop op, so the loop measures warm paths."""
        self.cycle(run, state, -1)

    def cycle(self, run: Runner, state, i: int) -> None:
        raise NotImplementedError

    def next_queries(self, nq: int) -> tuple[DataFrame, np.ndarray, np.ndarray]:
        """The next ``nq`` rows of the query pool (wrapping round) as a
        frame under query ids unique to this call; also returns the ids and
        the pool rows."""
        pos = (self._qcursor + np.arange(nq)) % N_QUERIES
        self._qcursor = (self._qcursor + nq) % N_QUERIES
        self._calls += 1
        qids = self._calls * N_QUERIES + pos
        return vec_frame(self.spark, self.inp.queries[pos], qids, "query_id"), qids, pos

    def knn_op(self, name: str, index, nq: int, base: np.ndarray, *, fresh_first: int = 0) -> Op:
        """A driver-path top-k search over the next query batch, checked
        against the exact k-th distance over ``base`` (row i has id i;
        rows from ``len(corpus)`` on were appended under ids starting at
        ``fresh_first``)."""
        qdf, qids, pos = self.next_queries(nq)
        queries = self.inp.queries

        def check(tbl, _):
            if fresh_first:
                tbl = with_local_ids(tbl, "neighbor_id", N, fresh_first)
            oracle.check_topk(tbl, K, qids, len(base))
            kth = np.full(N_QUERIES, np.nan)
            kth[pos] = oracle.kth_l2(base, queries[pos], K)
            q = tbl.column("query_id").to_numpy() % N_QUERIES
            d = oracle.pair_l2(base, queries, q, tbl.column("neighbor_id").to_numpy())
            return oracle.knn_hits(tbl.column("distance").to_numpy(), d, kth[q]), nq * K

        return Op(name, lambda: index.search(qdf, k=K, nprobe=NPROBE), to_arrow, check,
                  rows=nq, queries=nq)


class Serve(Workload):
    """Read-only batch serving from one IVF_FLAT index: top-k search
    through the driver-side probe and Arrow scan."""

    name = "serve"
    NQ = 1_000

    def cycle(self, run: Runner, flat, i: int) -> None:
        run.run(self.knn_op("ivf_flat.search", flat, self.NQ, self.inp.corpus))


class Bulk(Workload):
    """Corpus-scale jobs and appends on an IVF_FLAT index: corpus-vs-corpus
    distributed search, SemDeDup, and an append followed by a search of
    the grown index."""

    name = "bulk"
    NPROBE_SELF = 4
    NQ_AFTER_ADD = 200
    EPS = 0.96
    DEDUP_CLUSTERS = 32
    SELF_RECALL_SAMPLE = 2_000

    def __init__(self, spark, inputs, cpus, counters):
        super().__init__(spark, inputs, cpus, counters)
        self.grown = np.concatenate([inputs.corpus, inputs.append])
        self.planted_hits = 0
        self.planted_total = 0

    def cycle(self, run: Runner, flat, i: int) -> None:
        run.run(self.self_search_op(flat, i))
        run.run(self.dedup_op())
        fresh = N + (i + 1) * N_APPEND     # the warm cycle has i = -1
        add_df = vec_frame(self.spark, self.inp.append, fresh + np.arange(N_APPEND), "id")
        grown, _ = run.run(Op("ivf_flat.add", lambda: flat.add(add_df), rows=N_APPEND))
        if grown is None:
            run.skip("ivf_flat.search", "ivf_flat.add failed")
        else:
            run.run(self.knn_op("ivf_flat.search", grown, self.NQ_AFTER_ADD, self.grown,
                                fresh_first=fresh))

    def self_search_op(self, flat, i: int) -> Op:
        """Every corpus row queries the index (``strategy="distributed"``),
        under query ids offset per cycle.  Shape and distances are checked
        on every row, recall on a fixed sample of rows."""
        offset = (i + 1) * N
        qdf = self.corpus_df.select((F.col("id") + F.lit(offset)).alias("query_id"), "vec")
        c = self.inp.corpus
        sample = np.arange(0, N, max(1, N // self.SELF_RECALL_SAMPLE))
        kth = np.full(N, np.nan)
        kth[sample] = oracle.kth_l2(c, c[sample], K)

        def check(tbl, _):
            oracle.check_topk(tbl, K, np.arange(N) + offset, N)
            q = tbl.column("query_id").to_numpy() - offset
            nb = tbl.column("neighbor_id").to_numpy()
            d = oracle.pair_l2(c, c, q, nb)
            # kth is NaN outside the sample, so only sampled rows can hit
            return oracle.knn_hits(tbl.column("distance").to_numpy(), d, kth[q]), len(sample) * K

        return Op("ivf_flat.search_distributed",
                  lambda: flat.search(qdf, k=K, nprobe=self.NPROBE_SELF, strategy="distributed"),
                  to_arrow, check, rows=N, queries=N)

    def dedup_op(self) -> Op:
        c = self.inp.corpus

        def check(tbl, _):
            ids = tbl.column("id").to_numpy()
            if len(ids) != len(c) or len(np.unique(ids)) != len(ids):
                raise oracle.CheckError("semdedup must return one verdict per row")
            dropped = ids[~tbl.column("keep").to_numpy(zero_copy_only=False)]
            lonely = dropped[~oracle.has_near_dup(c, dropped, self.EPS)]
            if len(lonely):
                raise oracle.CheckError(
                    f"{len(lonely)} rows dropped with no neighbour above eps, e.g. {lonely[:3]}")
            gone = np.isin(self.inp.dup_pairs, dropped)
            self.planted_hits += int((gone[:, 0] != gone[:, 1]).sum())
            self.planted_total += len(gone)
            return None

        return Op("semdedup",
                  lambda: semdedup(self.corpus_df, self.EPS, num_clusters=self.DEDUP_CLUSTERS,
                                   seed=11),
                  to_arrow, check, rows=len(c))

    def planted_dup_recall(self) -> float:
        return self.planted_hits / self.planted_total if self.planted_total else 0.0


WORKLOADS = {w.name: w for w in (Serve, Bulk)}
