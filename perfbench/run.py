"""knowhere_spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 16 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones.  Lines before
it describe the run (seed, cpus, load, Spark conf, per-op walls, errors).
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

from harness import LAYER_QUANTITIES, OpFailed, Runner
from inputs import generate

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work" / str(os.getpid())
SETUP_REPEATS = 3
#: cycles keep getting cheaper through a run, so a run that fits fewer
#: cycles into --seconds would report a colder median
MIN_CYCLES = 3


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def point_env_into_checkout() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the program."""
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def spark_conf(cpus: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "knowhere-perfbench",
        "spark.driver.memory": "4g",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "tmp"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.knowhere.spill.dir": str(WORK / "spill"),
    }


def proc_state(pid: int) -> tuple[str, int] | None:
    """(state letter, parent pid) of a process, None once it is gone."""
    try:
        fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> set[int]:
    """Every process below ``pid``, zombies included, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := proc_state(int(entry))) is not None:
            children.setdefault(st[1], []).append(int(entry))
    found, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            if child not in found:
                found.add(child)
                todo.append(child)
    return found


def become_subreaper() -> None:
    """Have processes orphaned below this one (the JVM launcher spark-submit
    leaves behind, Python workers) reparented to this process instead of
    init, so ``reap_children`` can collect them.  Linux only."""
    with contextlib.suppress(OSError, AttributeError):
        import ctypes
        pr_set_child_subreaper = 36
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and every process below it
    (Python workers included), and wait until each has ended.

    ``SparkSession.stop()`` leaves the JVM running until the Python process
    exits; here the JVM is told to exit (EOF on its stdin), given
    ``grace_s`` seconds, then sent SIGTERM and SIGKILL."""
    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None and jvm.stdin is not None:
            with contextlib.suppress(OSError):
                jvm.stdin.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in procs:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        deadline = time.monotonic() + (grace_s if sig is None else 10.0)
        while time.monotonic() < deadline:
            reap_children()
            procs = ({p for p in procs if (st := proc_state(p)) and st[0] != "Z"}
                     | descendants(os.getpid()))
            if not procs:
                return
            time.sleep(0.05)
    raise RuntimeError(f"perfbench: processes {sorted(procs)} did not end")


def git_sha() -> str:
    if not (ROOT / ".git").exists():
        return "unknown (not a git checkout)"
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return "unknown"
    return out.stdout.strip() or "unknown"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        from workloads import WORKLOADS   # imports the program under test
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    conf = spark_conf(cpus)
    meta = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "loadavg_start": os.getloadavg(),
        "git_sha": git_sha(), "spark_conf": conf,
    }

    # SIGTERM unwinds through the finally below, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    become_subreaper()
    point_env_into_checkout()
    inputs = generate(args.seed)
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = builder.getOrCreate()
        meta["session_start_s"] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setLogLevel("ERROR")
        result = run_workload(spark, WORKLOADS[args.workload], inputs, cpus, args, meta)
    finally:
        t0 = time.perf_counter()
        try:
            if spark is not None:
                spark.stop()
        finally:
            stop_processes()
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            WORK.parent.rmdir()        # only when no other run is using it
        meta["session_stop_s"] = round(time.perf_counter() - t0, 3)
    meta["loadavg_end"] = os.getloadavg()
    print(f"# meta {json.dumps(meta, sort_keys=True)}", flush=True)
    print(json.dumps(result), flush=True)
    return 0


def run_workload(spark, workload_cls, inputs, cpus, args, meta) -> dict:
    from workloads import LAYER_OPS, PLANTED_DUP_FLOOR, RECALL_FLOORS

    t_prep = time.perf_counter()
    run = Runner(spark, traced=bool(args.trace))
    counters = run.counters
    wl = workload_cls(spark, inputs, cpus, counters)   # input frames + oracle, untimed
    meta["prepare_s"] = round(time.perf_counter() - t_prep, 3)
    gc0 = counters.gc_ms()

    # set-up: the builds several times (each after clearing every cache),
    # then one warm call of each loop op on the last build
    builds, state = [], None
    for rep in range(SETUP_REPEATS):
        if rep:
            spark.catalog.clearCache()
            wl.cache_inputs()
        op_s0 = run.op_s
        try:
            state = wl.setup(run)
        except OpFailed:
            state = None
            break
        builds.append(run.op_s - op_s0)
    op_s0 = run.op_s
    setup_ops = set(run.tallies)
    if state is not None:
        wl.warm(run, state)
    warm_s = run.op_s - op_s0
    for name in set(run.tallies) - setup_ops:   # loop ops: layers from loop calls only
        run.tallies[name].layers.clear()

    # the measured loop: whole cycles until the calls have run --seconds
    # and at least MIN_CYCLES cycles have run
    cycles, cycle_cpus = [], []
    rows0, queries0 = run.rows, run.queries
    # the program may keep caches per call, so cache peaks are read over
    # the calls up to MIN_CYCLES cycles: the same work in every run
    fixed_calls = None
    i = 0
    while state is not None and (len(cycles) < MIN_CYCLES or sum(cycles) < args.seconds):
        op_s0, cpu_s0 = run.op_s, run.op_cpu_s
        wl.cycle(run, state, i)
        cycles.append(run.op_s - op_s0)
        cycle_cpus.append(run.op_cpu_s - cpu_s0)
        if len(cycles) == MIN_CYCLES:
            fixed_calls = len(run.cache_samples)
        i += 1
    rdds_end = len(counters.persistent_rdds() - wl.input_rdds - wl.index_rdds)
    loop_s = sum(cycles)
    gc_s = (counters.gc_ms() - gc0) / 1000.0

    recalls = {n: r for n in RECALL_FLOORS if (r := run.recall(n)) is not None}
    planted = wl.planted_dup_recall() if hasattr(wl, "planted_dup_recall") else None
    below = [n for n, r in recalls.items() if r < RECALL_FLOORS[n]]
    if planted is not None and planted < PLANTED_DUP_FLOOR:
        below.append("semdedup.planted_dup_recall")
    failed = len(run.errors)
    meta.update({
        "setup_build_s_each": [round(s, 4) for s in builds], "setup_warm_s": round(warm_s, 4),
        "cycle_s_each": [round(c, 4) for c in cycles],
        "cycle_cpu_s_each": [round(c, 3) for c in cycle_cpus],
        "loop_queries_per_s": (run.queries - queries0) / loop_s if loop_s else 0.0,
        "loop_rows_per_s": (run.rows - rows0) / loop_s if loop_s else 0.0,
        "recall": recalls, "planted_dup_recall": planted,
        "op_walls_s": {n: [round(w, 4) for w in t.walls] for n, t in run.tallies.items()},
        "op_cpu_s": {n: [round(w, 3) for w in t.cpus] for n, t in run.tallies.items()},
        "op_steal_frac": run.op_steal_s / max(run.op_s * cpus, 1e-9),
        "errors": run.errors, "recall_below_floor": below,
    })

    if args.trace:
        metrics = {}
        for op in LAYER_OPS:
            for q in LAYER_QUANTITIES:
                unit = "s" if q.endswith("_s") else ("bytes" if q.endswith("_bytes") else "count")
                metrics[f"{op}.{q}"] = {"value": run.layer_median(op, q), "unit": unit}
        for op in RECALL_FLOORS:
            metrics[f"{op}.recall"] = {"value": recalls.get(op) or 0.0, "unit": "ratio"}
        metrics["semdedup.planted_dup_recall"] = {"value": planted or 0.0, "unit": "ratio"}
        metrics["cache.rdds_end"] = {"value": rdds_end, "unit": "count"}
        metrics["cache.program_mb_peak"] = {
            "value": run.cached_peak_bytes(wl.input_rdds | wl.index_rdds, fixed_calls) / 2**20,
            "unit": "MB"}
        metrics["jvm.gc_s"] = {"value": gc_s, "unit": "s"}
        metrics["ops_failed_frac"] = {"value": failed / max(run.attempted, 1), "unit": "ratio"}
        metrics["trace.overhead_frac"] = {
            "value": run.probe_s / max(run.op_s, 1e-9), "unit": "ratio"}
    else:
        metrics = {
            "setup_s": {"value": statistics.median(builds) + warm_s if builds else 0.0,
                        "unit": "s"},
            "cycle_cpu_s": {"value": statistics.median(cycle_cpus) if cycles else 0.0,
                            "unit": "s"},
            "recall_min": {"value": min(recalls.values()) if recalls else 0.0, "unit": "ratio"},
            "cached_mb_peak": {"value": run.cached_peak_bytes(wl.input_rdds, fixed_calls) / 2**20,
                               "unit": "MB"},
        }
    return {
        "correct": failed == 0 and not below,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
