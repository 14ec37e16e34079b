"""Per-layer tracing from outside the program.

The tracer wraps the public functions of ``casie_spark`` at run time (the
package's files are not changed).  Each wrapped call is one span: it runs
under its own Spark job group, and when the call returns a DataFrame the
tracer persists and counts it, so the lazy layer's work runs inside its
own span instead of inside whichever later barrier happens to force it.
Spark's event log then supplies job intervals, task CPU, GC and shuffle
bytes per job group, and PySpark's session UDF profiler supplies Python
time.  Layers are named after the module that defines the function.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import json
import sys
import time

# (module, function, layer).  Every listed function that returns a
# DataFrame has its output forced inside its span.
LAYER_FUNCTIONS = [
    ("casie_spark.operators.tokenizer", "tokenize", "tokenizer"),
    ("casie_spark.operators.tagging", "tag_rules", "tagging"),
    ("casie_spark.operators.model_tagger", "tag_model", "model_tagger"),
    ("casie_spark.operators.rules", "apply_rules", "rules"),
    ("casie_spark.pipeline", "run_pipeline", "pipeline"),
    ("casie_spark.pipeline", "tagged_tokens", "pipeline"),
    ("casie_spark.pipeline", "triples_from_tagged", "pipeline"),
    ("casie_spark.operators.begin_repair", "events_with_context", "begin_repair"),
    ("casie_spark.operators.begin_repair", "arguments_with_context", "begin_repair"),
    ("casie_spark.operators.begin_repair", "repair_edges", "begin_repair"),
    ("casie_spark.operators.linking", "extract_events", "linking"),
    ("casie_spark.operators.linking", "extract_arguments", "linking"),
    ("casie_spark.operators.linking", "link", "linking"),
    ("casie_spark.operators.realis", "with_realis", "realis"),
    ("casie_spark.operators.linker", "candidate_frame", "linker"),
    ("casie_spark.operators.linker", "link_trained", "linker"),
    ("casie_spark.operators.roles", "assign_roles", "roles"),
    ("casie_spark.operators.coref", "cluster_events", "coref"),
    ("casie_spark.operators.canonicalize", "default_dictionary", "canonicalize"),
    ("casie_spark.operators.canonicalize", "canonicalize_surfaces", "canonicalize"),
    ("casie_spark.sources.sinks", "build_graph", "sinks"),
    ("casie_spark.sources.sinks", "write_graph", "sinks"),
]
LAYERS = list(dict.fromkeys(layer for _, _, layer in LAYER_FUNCTIONS))
# layers whose work runs in Python workers (they also report .udf_s);
# the linker ranker scores in the JVM, so it has no Python time
UDF_LAYERS = ["tokenizer", "model_tagger", "begin_repair", "realis",
              "roles", "coref"]
BARRIERS = ["materialize", "truncate"]

LAYER_STATS = [("s", "s"), ("jobs", "count"), ("tasks", "count"),
               ("task_cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB"),
               ("rows_out", "count")]
EXTRA_METRICS = [
    ("driver.gap_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("util.barriers", "count"), ("util.barrier_s", "s"),
    ("linker.candidates", "count"), ("linker.yield", "ratio"),
    ("sinks.files", "count"), ("sinks.mb", "MB"), ("sinks.bytes_per_edge", "B/edge"),
    ("process.java_hwm_mb", "MB"), ("process.python_hwm_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {f"{layer}.{stat}": unit for layer in LAYERS for stat, unit in LAYER_STATS}
    out.update({f"{layer}.udf_s": "s" for layer in UDF_LAYERS})
    out.update(dict(EXTRA_METRICS))
    return out


def _import_program() -> None:
    """Import every module the tracer patches before patching, so no
    module imported later binds a wrapper that outlives its scope."""
    for mod_name in {m for m, _, _ in LAYER_FUNCTIONS} | {"casie_spark.util"}:
        importlib.import_module(mod_name)


def _patch(target, replacement) -> list:
    """Rebind every ``casie_spark`` module attribute that is ``target``
    (``from x import f`` copies the binding into each importer)."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("casie_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is target:
                setattr(mod, attr, replacement)
                undo.append((mod, attr, target))
    return undo


def _unpatch(undo: list) -> None:
    for mod, attr, target in reversed(undo):
        setattr(mod, attr, target)


class BarrierTimer:
    """Counts the program's eager ``util`` barrier calls and times the
    outermost ones.  Adds no Spark job, so it may run inside an untraced
    unit."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0
        self._depth = 0
        self._undo: list = []

    def __enter__(self):
        _import_program()
        util = importlib.import_module("casie_spark.util")
        for name in BARRIERS:
            self._undo += _patch(getattr(util, name), self._wrap(getattr(util, name)))
        return self

    def __exit__(self, *exc):
        _unpatch(self._undo)
        self._undo = []

    def _wrap(self, fn):
        def barrier(*args, **kwargs):
            self.calls += 1
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self.seconds += time.perf_counter() - t0
        return barrier


class Tracer:
    """Spans around layer calls; use as a context manager around one unit."""

    def __init__(self, spark, group_prefix: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.prefix = group_prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._forced: list = []
        self._undo: list = []

    def __enter__(self):
        _import_program()
        for mod_name, fn_name, layer in LAYER_FUNCTIONS:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            self._undo += _patch(fn, self._wrap(fn, layer))
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        return self

    def __exit__(self, *exc):
        _unpatch(self._undo)
        self._undo = []
        self.spark.conf.unset("spark.sql.pyspark.udf.profiler")

    def release(self) -> None:
        """Unpersist the frames the tracer forced."""
        for df in self._forced:
            df.unpersist()
        self._forced = []

    @contextlib.contextmanager
    def span(self, layer: str):
        """A benchmark-side span, e.g. around the final action of a unit."""
        rec = self._open(layer, "action")
        try:
            yield rec
        finally:
            self._close(rec)

    def _udf_total(self) -> float:
        # the session's UDF profiler keeps cumulative pstats per UDF id;
        # PySpark exposes no public accessor for the totals
        results = self.spark._profiler_collector._perf_profile_results
        return sum(st.total_tt for st in results.values())

    def _open(self, layer: str, fn: str) -> dict:
        rec = {"id": next(self._ids), "layer": layer, "fn": fn,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "rows": 0, "udf0": self._udf_total(), "t0": time.time()}
        rec["group"] = f"{self.prefix}{rec['id']}"
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], layer)
        return rec

    def _close(self, rec: dict) -> None:
        rec["t1"] = time.time()
        rec["udf_s"] = self._udf_total() - rec.pop("udf0")
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(parent["group"], parent["layer"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.spans.append(rec)

    def _wrap(self, fn, layer: str):
        from pyspark.sql import DataFrame

        def traced(*args, **kwargs):
            rec = self._open(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    rec["rows"] = out.count()
                    self._forced.append(out)
                return out
            finally:
                self._close(rec)

        traced.__wrapped__ = fn
        return traced


# --- Spark event log ------------------------------------------------------

_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageCompleted", "SparkListenerTaskEnd")


def read_event_log(path: str) -> dict:
    """Jobs (group, start, end, stages), completed stages and per-stage
    task totals from one uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    completed: set[int] = set()
    tasks: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            kind = line[10:50].split('"', 1)[0]
            if kind not in _WANTED:
                continue
            ev = json.loads(line)
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                             "start": ev["Submission Time"] / 1000.0,
                             "stages": ev["Stage IDs"]}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            else:
                m = ev.get("Task Metrics") or {}
                t = tasks.setdefault(ev["Stage ID"], {"tasks": 0, "cpu": 0.0,
                                                      "gc": 0.0, "shuffle": 0})
                t["tasks"] += 1
                t["cpu"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc"] += m.get("JVM GC Time", 0) / 1e3
                t["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stage_job": stage_job, "completed": completed,
            "tasks": tasks}


def _union_seconds(intervals) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def job_counts(log: dict, t0: float, t1: float) -> tuple[int, int]:
    """(jobs, completed stages) submitted between epoch seconds t0 and t1."""
    jids = [j for j, job in log["jobs"].items() if t0 <= job["start"] <= t1]
    stages = {s for j in jids for s in log["jobs"][j]["stages"]
              if s in log["completed"] and log["stage_job"].get(s) == j}
    return len(jids), len(stages)


def layer_metrics(log: dict, spans: list[dict], t0: float, t1: float) -> tuple[dict, float]:
    """Per-layer stats of one traced unit (epoch seconds ``t0``..``t1``),
    plus the share of the unit's wall that the layer self times and
    ``driver.gap_s`` leave unexplained.

    ``<layer>.s`` is the time during which a job launched from the
    layer's own code (not from a nested layer's) was running;
    ``driver.gap_s`` is the unit's wall during which no job at all was
    running.  A job that ran inside the unit under no layer's group is
    in neither, so it shows up as unexplained time.
    """
    wall_s = t1 - t0
    by_group = {sp["group"]: sp for sp in spans}
    children_udf: dict[int, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children_udf[sp["parent"]] = children_udf.get(sp["parent"], 0.0) + sp["udf_s"]
    out = {f"{layer}.{stat}": 0 for layer in LAYERS for stat, _ in LAYER_STATS}
    out.update({f"{layer}.udf_s": 0.0 for layer in UDF_LAYERS})
    intervals: dict[str, list] = {layer: [] for layer in LAYERS}
    all_intervals = []
    for jid, job in log["jobs"].items():
        iv = (job["start"], job.get("end", job["start"]))
        if t0 <= iv[0] <= t1:
            all_intervals.append(iv)
        sp = by_group.get(job["group"])
        if sp is None:
            continue
        layer = sp["layer"]
        intervals[layer].append(iv)
        out[f"{layer}.jobs"] += 1
        for sid in job["stages"]:
            if log["stage_job"].get(sid) != jid:
                continue
            t = log["tasks"].get(sid)
            if t:
                out[f"{layer}.tasks"] += t["tasks"]
                out[f"{layer}.task_cpu_s"] += t["cpu"]
                out[f"{layer}.gc_s"] += t["gc"]
                out[f"{layer}.shuffle_mb"] += t["shuffle"] / 1e6
    for layer in LAYERS:
        out[f"{layer}.s"] = _union_seconds(intervals[layer])
    for sp in spans:
        out[f"{sp['layer']}.rows_out"] += sp["rows"]
        if sp["layer"] in UDF_LAYERS:
            out[f"{sp['layer']}.udf_s"] += sp["udf_s"] - children_udf.get(sp["id"], 0.0)
    busy = _union_seconds(all_intervals)
    out["driver.gap_s"] = max(wall_s - busy, 0.0)
    explained = sum(out[f"{layer}.s"] for layer in LAYERS) + out["driver.gap_s"]
    return out, abs(explained - wall_s) / wall_s
