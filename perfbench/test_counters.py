"""Pins the unit and meaning of every Spark counter the benchmark reads.

Run from the repository root:

    python -m pytest perfbench/test_counters.py -q

The plan is a tiny ``mapInArrow`` feeding a ``groupBy``: four partitions,
each task sleeping a fixed time inside the Python worker, on two cores.
A second plan caches the ``mapInArrow`` output and reads it twice.
"""

from __future__ import annotations

import time

import numpy as np
import pytest
from py4j.protocol import Py4JError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from counters import PY_RECV, PY_SENT, SparkCounters

ROWS = 40_000
PARTS = 4
CORES = 2
SLEEP_S = 0.3


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    local = tmp_path_factory.mktemp("spark-local")
    s = (
        SparkSession.builder.master(f"local[{CORES}]")
        .config("spark.sql.shuffle.partitions", str(PARTS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(local))
        .getOrCreate()
    )
    yield s
    s.stop()


def two_columns(spark):
    return spark.range(0, ROWS, numPartitions=PARTS).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )


@pytest.fixture(scope="module")
def probe(spark):
    """Run the plan once between two counter marks; return what was read."""
    c = SparkCounters(spark, plan_names=(PY_SENT, PY_RECV, "pythonTotalTime",
                                         "shuffleBytesWritten"))
    df = two_columns(spark)

    def slow_identity(batches):
        time.sleep(SLEEP_S)
        yield from batches

    agg = df.mapInArrow(slow_identity, df.schema).groupBy("k").count()
    mark = c.mark()
    t0 = time.perf_counter()
    rows = agg.collect()
    wall = time.perf_counter() - t0
    delta = c.delta(mark)
    plan = c.plan_metrics(agg, mark)
    return {"counters": c, "agg": agg, "rows": rows, "wall": wall, "delta": delta, "plan": plan}


def test_stage_list_needs_five_arguments(spark):
    store = spark.sparkContext._jsc.sc().statusStore()
    with pytest.raises(Py4JError, match="does not exist"):
        store.stageList(None)
    assert SparkCounters(spark).mark().stage >= -1


def test_task_time_is_summed_milliseconds(probe):
    d = probe["delta"]
    # every task sleeps SLEEP_S, so the sum over PARTS tasks is at least
    # PARTS * SLEEP_S; read as wall time it could not exceed wall * CORES
    assert d.task_s >= PARTS * SLEEP_S
    assert d.task_s <= probe["wall"] * CORES + 0.5
    # seconds, not milliseconds or nanoseconds, after the /1000
    assert d.task_s < 60


def test_jobs_and_stages_are_the_ones_the_action_ran(probe):
    d = probe["delta"]
    assert d.jobs >= 1
    assert d.stages >= 2          # map side + reduce side of the groupBy
    assert d.spill_bytes == 0


def test_shuffle_bytes_agree_between_stage_and_plan(probe):
    d, plan = probe["delta"], probe["plan"]
    assert d.shuffle_write_bytes > 0
    assert d.shuffle_write_bytes == plan["shuffleBytesWritten"]


def test_python_bytes_are_bytes_through_the_aqe_wrapper(probe):
    plan = probe["plan"]
    root = probe["agg"]._jdf.queryExecution().executedPlan()
    assert root.nodeName() == "AdaptiveSparkPlan"   # found only by unwrapping
    # two int64 columns cross the boundary each way: at least 16 B a row,
    # and Arrow framing adds far less than the payload again
    for key in (PY_SENT, PY_RECV):
        assert 16 * ROWS <= plan[key] <= 2 * 16 * ROWS


def test_cached_python_bytes_count_once(spark):
    # the mapInArrow runs inside the cached relation, behind an
    # InMemoryTableScan leaf: the first read builds the cache and pays the
    # Python round trip, the second read only scans the cache
    c = SparkCounters(spark)
    df = two_columns(spark)
    cached = df.mapInArrow(lambda batches: batches, df.schema).cache()
    try:
        for expect_bytes in (True, False):
            agg = cached.groupBy("k").count()
            mark = c.mark()
            agg.collect()
            plan = c.plan_metrics(agg, mark)
            for key in (PY_SENT, PY_RECV):
                if expect_bytes:
                    assert 16 * ROWS <= plan[key] <= 2 * 16 * ROWS
                else:
                    assert plan[key] == 0
    finally:
        cached.unpersist(blocking=True)


def test_python_time_is_summed_milliseconds(probe):
    total_ms = probe["plan"]["pythonTotalTime"]
    assert total_ms >= PARTS * SLEEP_S * 1000
    assert total_ms <= (probe["wall"] * CORES + 0.5) * 1000


def test_result_is_right(probe):
    counts = {r["k"]: r["count"] for r in probe["rows"]}
    assert counts == {k: int(np.sum(np.arange(ROWS) % 7 == k)) for k in range(7)}


def test_cached_bytes_and_persistent_rdds(spark):
    c = SparkCounters(spark)
    before = c.persistent_rdds()
    df = spark.range(0, ROWS, numPartitions=PARTS).select(F.rand(1).alias("x")).cache()
    df.count()
    assert c.persistent_rdds() - before == {c.cache_rdd_id(df)}
    # random doubles do not compress: bytes, about 8 a row
    assert 8 * ROWS <= c.cached_rdd_bytes()[c.cache_rdd_id(df)] <= 2 * 8 * ROWS
    df.unpersist(blocking=True)
    assert c.persistent_rdds() == before


def test_gc_time_is_monotone_milliseconds(spark):
    c = SparkCounters(spark)
    g0 = c.gc_ms()
    spark.sparkContext._jvm.java.lang.System.gc()
    assert c.gc_ms() >= g0
