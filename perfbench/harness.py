"""Runs public calls one at a time, times them, reads counters around
them, checks their results and keeps the tallies the metrics come from.

Every call goes through :meth:`Runner.run`, which never raises: an
exception, a malformed result or a failed check is recorded as a failed
op with its error text, and the workload carries on.
"""

from __future__ import annotations

import statistics
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import DataFrame

from counters import SparkCounters, host_cpu_s

#: the quantities recorded per call in a traced run
LAYER_QUANTITIES = (
    "driver_s", "exec_s", "task_s", "jobs", "shuffle_write_bytes",
    "spill_bytes", "py_sent_bytes", "py_recv_bytes",
)


@dataclass
class Op:
    """One public call and how the benchmark consumes and checks it.

    ``call`` runs the program's public method and returns what it
    returned.  ``consume`` materializes that result the way a user would
    (``toArrow`` for result frames, cache + count for a built index) and
    returns ``(table, frame)``: the rows to check, and the DataFrame whose
    executed plan carries the node metrics.  ``check`` raises on a
    malformed result and returns ``(hits, expected)`` for recall, or
    ``None`` when the op has no recall."""

    name: str
    call: Callable[[], Any]
    consume: Callable[[Any], tuple[pa.Table | None, DataFrame | None]] = (
        lambda result: (None, None)
    )
    check: Callable[[pa.Table | None, Any], tuple[int, int] | None] | None = None
    rows: int = 0          # rows handed to the call (queries, corpus or appended rows)
    queries: int = 0       # query vectors the call answers


class OpFailed(Exception):
    """Raised by :meth:`Runner.run` callers that need the result of an op
    that failed; the failure itself is already recorded."""


def to_arrow(df: DataFrame) -> tuple[pa.Table, DataFrame]:
    return df.toArrow(), df


@dataclass
class Tally:
    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)      # host busy CPU seconds per call
    layers: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    hits: int = 0
    expected: int = 0


class Runner:
    def __init__(self, spark, traced: bool):
        self.counters = SparkCounters(spark)
        self.traced = traced
        self.tallies: dict[str, Tally] = defaultdict(Tally)
        self.errors: list[str] = []
        self.attempted = 0
        self.cache_samples: list[dict[int, int]] = []   # cached bytes by RDD, after each call
        self.probe_s = 0.0          # time spent reading counters (traced runs)
        self.op_s = 0.0             # time spent inside public calls
        self.op_cpu_s = 0.0         # host CPU busy inside public calls
        self.op_steal_s = 0.0       # host CPU stolen inside public calls
        self.rows = 0
        self.queries = 0

    def fail(self, name: str, why: str) -> None:
        self.errors.append(f"{name}: {why}")

    def skip(self, name: str, why: str) -> None:
        """Count an op that could not run because an op it needs failed."""
        self.attempted += 1
        self.fail(name, f"not run: {why}")

    def run(self, op: Op) -> tuple[Any, float]:
        """Run ``op``; return ``(result, wall seconds)``.  ``result`` is
        ``None`` when the op failed."""
        self.attempted += 1
        if self.traced:
            p0 = time.perf_counter()
            mark = self.counters.mark()
            self.probe_s += time.perf_counter() - p0
        c0, s0 = host_cpu_s()
        t0 = time.perf_counter()
        try:
            result = op.call()
            t1 = time.perf_counter()
            tbl, frame = op.consume(result)
            t2 = time.perf_counter()
        except Exception as exc:  # the op failed: record it and carry on
            wall = time.perf_counter() - t0
            self.op_s += wall
            self.fail(op.name, _short(exc))
            return None, wall
        c1, s1 = host_cpu_s()
        wall = t2 - t0
        self.op_s += wall
        self.op_cpu_s += c1 - c0
        self.op_steal_s += s1 - s0
        tally = self.tallies[op.name]
        tally.walls.append(wall)
        tally.cpus.append(c1 - c0)
        self.rows += op.rows
        self.queries += op.queries
        if self.traced:
            p0 = time.perf_counter()
            delta = self.counters.delta(mark)
            plan = self.counters.plan_metrics(frame, mark) if frame is not None else {}
            self.probe_s += time.perf_counter() - p0
            for key, val in (
                ("driver_s", t1 - t0), ("exec_s", t2 - t1),
                ("task_s", delta.task_s), ("jobs", delta.jobs),
                ("shuffle_write_bytes", delta.shuffle_write_bytes),
                ("spill_bytes", delta.spill_bytes),
                ("py_sent_bytes", plan.get("pythonDataSent", 0)),
                ("py_recv_bytes", plan.get("pythonDataReceived", 0)),
            ):
                tally.layers[key].append(float(val))
        if op.check is not None:
            try:
                rec = op.check(tbl, result)
            except Exception as exc:  # a wrong result counts as a failed op
                self.fail(op.name, _short(exc))
                rec = None
            if rec is not None:
                tally.hits += rec[0]
                tally.expected += rec[1]
        self.cache_samples.append(self.counters.cached_rdd_bytes())
        return result, wall

    def must(self, op: Op) -> tuple[Any, float]:
        """:meth:`run`, raising :class:`OpFailed` if the op failed, for
        callers whose next ops need the result."""
        result, wall = self.run(op)
        if result is None:
            raise OpFailed(op.name)
        return result, wall

    # -- read-outs ------------------------------------------------------------

    def recall(self, name: str) -> float | None:
        t = self.tallies.get(name)
        if t is None or t.expected == 0:
            return None
        return t.hits / t.expected

    def cached_peak_bytes(self, exclude: set[int], calls: int | None) -> int:
        """Peak over the first ``calls`` calls (all when ``None``) of the
        bytes cached in RDDs not in ``exclude``."""
        return max((sum(b for rdd, b in sample.items() if rdd not in exclude)
                    for sample in self.cache_samples[:calls]), default=0)

    def layer_median(self, name: str, quantity: str) -> float:
        t = self.tallies.get(name)
        if t is None or not t.layers.get(quantity):
            return 0.0
        return float(statistics.median(t.layers[quantity]))


def _short(exc: BaseException) -> str:
    last = traceback.format_exception_only(type(exc), exc)[-1].strip()
    return last[:300]
