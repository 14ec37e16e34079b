#!/usr/bin/env python3
"""CASIE pipeline benchmark: one workload, one seed, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload model_articles --seed 3 --seconds 1 --trace 0

``--trace 0`` times units of the workload and prints the end-to-end
metrics; ``--trace 1`` runs two untraced units, then a traced one, and
prints the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The program's local-mode default heap (24g) exceeds the reference
# host's 15 GB of RAM; get_spark reads this variable.
DRIVER_MEM = "4g"


def calibration_ms() -> float:
    """Fixed pure-Python CPU probe, best of 3: host speed and throttling
    drift show next to the figures."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best * 1000


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    calib = calibration_ms()

    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import casie_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    try:
        return run(args, work, calib, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, calib: float, t_setup: float) -> int:
    import pyspark
    from casie_spark.session import get_spark

    import layers
    import workloads

    spec = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.security.manager=allow -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "events")})
    spark = get_spark("perfbench", master=master, shuffle_partitions=nproc, extra_conf=conf)
    session_s = time.perf_counter() - t_setup
    sc = spark.sparkContext
    java = sc._gateway.proc
    try:
        t = time.perf_counter()
        docs, pages, urls = workloads.build_inputs(spark, args.workload, args.seed, nproc)
        build_s = time.perf_counter() - t
        setup_s = session_s + build_s
        host = {
            "nproc": nproc, "master": master, "spark": spark.version,
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "jdk": sc._jvm.System.getProperty("java.version"),
            "calibration_ms": calib, "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        }

        def unit(tracer=None):
            if spec["kind"] == "graph":
                out_dir = os.path.join(work, "graph")
                res = workloads.graph_unit(spark, docs, spec, urls, out_dir, tracer)
                res["sink_files"], res["sink_bytes"] = dir_stats(out_dir)
                shutil.rmtree(out_dir)
            else:
                res = workloads.pipeline_unit(spark, docs, spec, urls, tracer)
            res["wall_s"] = res["t1"] - res["t0"]
            workloads.check_expected(args.workload, args.seed, res)
            return res

        if not args.trace:
            units = []
            start = time.perf_counter()
            while not units or time.perf_counter() - start < args.seconds:
                units.append(unit())
            metrics = {
                "pages_per_s": (statistics.median(pages / u["wall_s"] for u in units), "pages/s"),
                "setup_s": (setup_s, "s"),
            }
        else:
            with layers.BarrierTimer() as barriers:
                plain = unit()
            hwm = {"process.java_hwm_mb": vm_hwm_mb(java.pid),
                   "process.python_hwm_mb": max(
                       vm_hwm_mb(p) for p in [os.getpid()] + descendants(java.pid))}
            # the tracing overhead compares two warm units
            warm = unit()
            tracer = layers.Tracer(spark, "perfbench-layer-")
            with tracer:
                traced = unit(tracer=tracer)
            tracer.release()
            units = [plain, warm, traced]
    finally:
        spark.stop()
        # the gateway JVM exits when its stdin closes; wait for it
        java.stdin.close()
        java.wait(timeout=60)

    if args.trace:
        log_dir = os.path.join(work, "events")
        log = layers.read_event_log(os.path.join(log_dir, os.listdir(log_dir)[0]))
        metrics = trace_metrics(layers, log, tracer, plain, warm, traced, barriers, hwm)
        with open(os.path.join(ROOT, ".perfbench_work",
                               f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"unit": {k: traced[k] for k in ("t0", "t1")},
                       "spans": tracer.spans}, f, indent=1)

    failed = sum(bool(u["errors"]) for u in units)
    detail = {"workload": args.workload, "seed": args.seed,
              "window": workloads.window(args.seed), "pages": pages, "host": host,
              "input_build_s": build_s, "session_s": session_s,
              "units": [{k: v for k, v in u.items() if k not in ("t0", "t1")} for u in units]}
    print(json.dumps(detail))
    for u in units:
        for err in u["errors"]:
            print(f"perfbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(units), "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_name} for k, (v, unit_name) in metrics.items()},
    }))
    return 0


def trace_metrics(layers, log, tracer, plain, warm, traced, barriers, hwm) -> dict:
    """Every per-layer metric -> (value, unit).  Marks a later unit
    failed when its output differs from the first unit's, and the traced
    unit failed when the layer self times and driver.gap_s miss its wall
    by more than 10%."""
    out, unexplained = layers.layer_metrics(log, tracer.spans, traced["t0"], traced["t1"])
    jobs, stages = layers.job_counts(log, plain["t0"], plain["t1"])

    def rows_of(fn):
        return sum(sp["rows"] for sp in tracer.spans if sp["fn"] == fn)

    cand = rows_of("candidate_frame")
    edges = plain.get("edges", 0)
    out.update(hwm)
    out.update({
        "spark.jobs": jobs, "spark.stages": stages,
        "util.barriers": barriers.calls, "util.barrier_s": barriers.seconds,
        "linker.candidates": cand,
        "linker.yield": rows_of("link_trained") / cand if cand else 0.0,
        "sinks.files": plain.get("sink_files", 0),
        "sinks.mb": plain.get("sink_bytes", 0) / 1e6,
        "sinks.bytes_per_edge": plain.get("sink_bytes", 0) / edges if edges else 0.0,
        "trace.overhead_ratio": traced["wall_s"] / warm["wall_s"],
    })
    for u in (warm, traced):
        if u["fp"] != plain["fp"]:
            u["errors"].append(f"output {u['fp']} != first unit's {plain['fp']}")
    if unexplained > 0.10:
        traced["errors"].append(
            f"layer self times + driver.gap_s miss the traced wall by {unexplained:.1%}")
    return {name: (out[name], unit) for name, unit in layers.per_layer_units().items()}


if __name__ == "__main__":
    sys.exit(main())
