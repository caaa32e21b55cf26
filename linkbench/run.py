"""Link-graph benchmark: one workload per run, one JSON result line.

Usage (from the repository root)::

    python3 linkbench/run.py --workload round-floor --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
schedule with a Spark event log and one job group per call, and prints
the per-layer metrics.  The last stdout line is the JSON result; the
lines before it are a human-readable report.  README.md documents the
workloads, the metrics and the warm-up choice.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

import eventlog
import probes
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SLOTS = 2  # local[SLOTS]; also the shuffle-partition and bucket count
DRIVER_HEAP = "2g"
# C1-only JIT: a pass runs at its steady time right after the cold pass,
# where tiered C2 keeps speeding passes up for more passes than a run can
# afford.  The serial collector keeps the heap small and its peak steady.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
SETUP_REPS = 3  # set-up is session start + the median of these builds
# Measured passes: one per PASS_S of --seconds, at least MIN_PASSES.  The
# count depends on --seconds only, never on how fast the host runs: the
# passes still shed C1 compile CPU, so a count that grew on a fast host
# would move the median.
PASS_S = 7.5
MIN_PASSES = 2

PASS_LAYER = (
    "wall_s", "edges_per_s", "cold_s", "heap_peak_mb", "setup_wall_s", "session.start_s",
    "driver.gap_s", "error_rate", "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.task_s", "spark.idle_s", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb", "udf.rows", "udf.mb_sent", "pregel.round_s", "codegen.compiles",
    "codegen.compile_ms", "jvm.jit_s", "jvm.gc_s", "jvm.jit_s.cold", "jvm.gc_s.cold",
)
CALL_COUNTERS = ("jobs", "stages", "tasks", "task_s")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Pass:
    """One pass's spans (one per timed call) and what was checked."""

    def __init__(self, index: int):
        self.index = index
        self.spans: list[dict] = []
        self.wall = 0.0
        self.cpu = 0.0
        self.ok: dict[str, bool] = {}
        self.rounds: dict[str, int] = {}
        self.edge_work: dict[str, int] = {}
        self.saves: list[tuple[float, float]] = []
        self.jvm: dict = {}

    def call_s(self, call: str) -> float:
        return sum(s["s"] for s in self.spans if s["call"] == call)

    def edges_per_s(self) -> float:
        """Σ(supersteps × |E|) over the iterative calls ÷ their time."""
        return sum(self.edge_work.values()) / sum(self.call_s(c) for c in self.edge_work)


def run_pass(spark, wl, index: int, trace: bool) -> Pass:
    sc = spark.sparkContext
    # every pass starts from the same state: no frames cached by an
    # earlier pass, and unreferenced checkpoint blocks released
    spark.catalog.clearCache()
    gc.collect()
    sc._jvm.System.gc()
    p = Pass(index)
    start = probes.snapshot(spark) if trace else None

    def span(module: str, call: str, fn):
        if trace:
            sc.setJobGroup(f"{wl.name}:{call}:{index}", call)
            cached = probes.cached_frames(spark)
        t0 = time.perf_counter()
        out = fn()
        rec = {"module": module, "call": call, "s": time.perf_counter() - t0}
        if trace:
            rec["leaked"] = probes.cached_frames(spark) - cached
        p.spans.append(rec)
        return out

    cpu0 = probes.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    outputs = wl.run_pass(span)
    p.wall = time.perf_counter() - t0
    p.cpu = probes.tree_cpu_s(os.getpid()) - cpu0
    if trace:
        p.jvm = probes.diff(probes.snapshot(spark), start)
        sc.setJobGroup(f"{wl.name}:check:{index}", "check")
    p.rounds = dict(wl.rounds)
    p.edge_work = wl.edge_work()
    p.saves = list(getattr(wl, "checkpoints", []))
    p.ok = wl.check(outputs)
    return p


def layer_metric_names() -> list[str]:
    """Every per-layer metric of every workload; a call that a workload
    does not make reads 0 there."""
    names = []
    for wl in workloads.WORKLOADS.values():
        for module, call, iterative in wl.CALLS:
            names.append(f"{module}.{call}_s")
            if iterative:
                names += [f"algorithms.{call}_rounds", f"algorithms.{call}_s_per_round"]
            names.append(f"cache.leaked_frames.{call}")
            names += [f"spark.{c}.{call}" for c in CALL_COUNTERS]
        names += wl.PASS_LAYER
    return list(dict.fromkeys(names + list(PASS_LAYER)))


def per_layer(wl, cold: Pass, measured: list[Pass], groups: dict) -> dict:
    """Per-call and per-pass layer metrics: medians over the measured
    passes, from the spans, the event log and the JVM counters."""

    def group(p: Pass, call: str) -> dict:
        return groups.get(f"{wl.name}:{call}:{p.index}", dict.fromkeys(eventlog.COUNTERS, 0.0))

    m: dict[str, float] = {}
    calls = [(s["module"], s["call"]) for s in measured[0].spans]
    for module, call in calls:
        m[f"{module}.{call}_s"] = median([p.call_s(call) for p in measured])
        if measured[0].rounds.get(call):
            m[f"algorithms.{call}_rounds"] = median([p.rounds[call] for p in measured])
            m[f"algorithms.{call}_s_per_round"] = median(
                [p.call_s(call) / p.rounds[call] for p in measured]
            )
        m[f"cache.leaked_frames.{call}"] = median(
            [s["leaked"] for p in measured for s in p.spans if s["call"] == call]
        )
        for c in CALL_COUNTERS:
            m[f"spark.{c}.{call}"] = median([group(p, call)[c] for p in measured])

    for c in eventlog.COUNTERS:
        total = median([sum(group(p, call)[c] for _, call in calls) for p in measured])
        m[c.replace("udf_", "udf.") if c.startswith("udf_") else f"spark.{c}"] = total
    m["spark.idle_s"] = SLOTS * median(
        [sum(s["s"] for s in p.spans) for p in measured]
    ) - m["spark.task_s"]
    m["pregel.round_s"] = median([m[f"algorithms.{c}_s_per_round"] for c in wl.PREGEL_CALLS])
    m["codegen.compiles"] = median([p.jvm["codegen_compiles"] for p in measured])
    m["codegen.compile_ms"] = median([p.jvm["codegen_ms"] for p in measured])
    m["jvm.jit_s"] = median([p.jvm["jit_s"] for p in measured])
    m["jvm.gc_s"] = median([p.jvm["gc_s"] for p in measured])
    m["jvm.jit_s.cold"] = cold.jvm["jit_s"]
    m["jvm.gc_s.cold"] = cold.jvm["gc_s"]
    m["driver.gap_s"] = median([p.wall - sum(s["s"] for s in p.spans) for p in measured])
    return m


def unit(name: str) -> str:
    if name == "edges_per_s":
        return "edges/s"
    if name.endswith("pages_per_s"):
        return "pages/s"
    if name.endswith("_mb") or ".mb" in name:
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or "_s." in name or name.endswith("_s_per_round"):
        return "s"
    if name == "error_rate":
        return "ratio"
    return "count"


def environment(spark) -> dict:
    import pyspark

    try:
        thp = Path("/sys/kernel/mm/transparent_hugepage/enabled").read_text().strip()
    except OSError:
        thp = "unknown"
    return {
        "master": spark.sparkContext.master,
        "task_slots": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "jvm_opts": JVM_OPTS,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "thp": thp,
        "worker_pythonpath": os.environ["PYTHONPATH"],
        "nproc": os.cpu_count(),
    }


def stop_jvm() -> None:
    """End the driver JVM and wait for it.  ``spark.stop()`` leaves the
    py4j gateway process running until Python exits; the gateway exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "alp_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"linkbench: no alp_spark source tree at {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"linkbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)

    # everything a run writes stays under linkbench/.work
    work = HERE / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True)
    sys.path.insert(0, str(ROOT))
    # Python workers import alp_spark from the tree under test
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",  # no zstd decoder to read it with
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
        })

    from alp_spark.session import get_spark

    cpu0 = probes.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"linkbench-{args.workload}", master=f"local[{SLOTS}]",
        shuffle_partitions=SLOTS, extra_conf=conf,
    )
    session_s = time.perf_counter() - t0
    session_cpu = probes.tree_cpu_s(os.getpid()) - cpu0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        env = environment(spark)
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        setups, setup_cpu = [], []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            c0 = probes.tree_cpu_s(os.getpid())
            wl.setup()
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(probes.tree_cpu_s(os.getpid()) - c0)
        cold = run_pass(spark, wl, 0, trace)
        n_measured = max(MIN_PASSES, round(args.seconds / PASS_S))
        measured = [run_pass(spark, wl, i, trace) for i in range(1, n_measured + 1)]
        wl.close()
        heap_mb = probes.heap_peak_mb(spark)
    finally:
        spark.stop()
        stop_jvm()

    passes = [cold] + measured
    attempted = sum(len(p.ok) for p in passes)
    failed = sum(not ok for p in passes for ok in p.ok.values())
    print(f"env {json.dumps(env, sort_keys=True)}")
    print(f"session.start_s {session_s:.3f}  setup builds {[round(s, 3) for s in setups]}")
    for p in passes:
        calls = " ".join(f"{s['call']}={s['s']:.3f}" for s in p.spans)
        bad = [c for c, ok in p.ok.items() if not ok]
        kind = "cold" if p is cold else "measured"
        print(f"pass {p.index} {kind:8s} {p.wall:7.3f}s cpu {p.cpu:7.3f}s  {calls}  failed={bad}")
    wall_s = median([p.wall for p in measured])
    layer = {
        "wall_s": wall_s,
        "edges_per_s": median([p.edges_per_s() for p in measured]),
        "cold_s": cold.wall,
        "heap_peak_mb": heap_mb,
        "setup_wall_s": session_s + median(setups),
        "error_rate": failed / attempted,
        **wl.layer_metrics(measured),
    }

    untraced = HERE / ".work" / f"untraced-{args.workload}.json"
    if trace:
        # Spark 4 rolls the log into events_<k>_<app> files in one directory
        logs = sorted(
            (work / "eventlog").rglob("events_*"), key=lambda f: int(f.name.split("_")[1])
        )
        layer.update(per_layer(wl, cold, measured, eventlog.parse_files([str(f) for f in logs])))
        layer["session.start_s"] = session_s
        metrics = {k: layer.get(k, 0.0) for k in layer_metric_names()}
        if untraced.exists():
            ref = json.loads(untraced.read_text())["wall_s"]
            print(f"trace.overhead_s {wall_s - ref:.3f} (traced {wall_s:.3f} - untraced {ref:.3f})")
    else:
        # CPU seconds of this process tree: the host's steal time is not
        # in them, so they hold still while the wall times above drift
        metrics = {
            "cpu_s": median([p.cpu for p in measured]),
            "setup_s": session_cpu + median(setup_cpu),
        }
        untraced.write_text(json.dumps({"wall_s": wall_s}))
        for k, v in layer.items():
            print(f"{k:40s} {v:14.4f} {unit(k)}")
    shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{k:40s} {v:14.4f} {unit(k)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
