"""Spans around calls into the engine, and the Spark event-log rollup.

The traced run wraps every public function of the engine modules
listed in ``LAYERS`` so that each call opens a span (name, layer,
start, end, parent, thread). Spans stay in memory. After the run the
Spark event log is parsed and every job is attributed to the
innermost span whose time window holds the job's submission time.
Attribution is by time window, not by job group, because
``session.run_concurrent`` runs its legs on plain threads, which drop
the job group.
"""

from __future__ import annotations

import importlib
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager

PKG = "data_lake_with_spark_spark"

#: layer name -> engine modules whose public functions get spans
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "sources.catalog": ("sources.catalog",),
    "sources.cow": ("sources.cow",),
    "sources.sinks": ("sources.sinks",),
    "plans.docs_pipeline": ("plans.docs_pipeline",),
    "operators.graph": ("operators.graph",),
    "operators.similarity": ("operators.similarity",),
    "operators.text": ("operators.text",),
    "operators.dedup": ("operators.dedup",),
    "functions": (
        "functions.bpe",
        "functions.keys",
        "functions.langid_ngram",
        "functions.temporal",
        "functions.texthash",
        "functions.tokenizers",
        "functions.zorder",
    ),
}

MB = 1024.0 * 1024.0


class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open
    span of its own (a ``run_concurrent`` leg) take the innermost open
    span of the main thread as parent."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else sid,
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)


class _Traced:
    """Callable stand-in for an engine function. Pickles as a reference
    to the module attribute, so a closure shipped to a Python worker
    unpickles the worker's own (untraced) function."""

    def __init__(self, tracer: Tracer, fn, layer: str) -> None:
        self._fn = fn
        self._tracer = tracer
        self._layer = layer
        self._span = f"{layer}.{fn.__name__}"
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__module__ = fn.__module__
        self.__doc__ = fn.__doc__
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._span, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return self.__qualname__


def instrument(tracer: Tracer) -> int:
    """Replace every public function of the ``LAYERS`` modules with a
    traced stand-in, also where another engine module imported it by
    name. Returns the number of functions wrapped."""
    wrapped: dict[int, _Traced] = {}
    for layer, mods in LAYERS.items():
        for short in mods:
            mod = importlib.import_module(f"{PKG}.{short}")
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                ):
                    continue
                wrapped[id(obj)] = _Traced(tracer, obj, layer)
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in wrapped:
                setattr(mod, name, wrapped[id(obj)])
    return len(wrapped)


# --- event log -------------------------------------------------------------


def parse_event_log(lines) -> dict[int, dict]:
    """Reduce a Spark JSON event log to ``{job_id: job}``, each job with
    its submission/completion times (seconds since the epoch), the
    number of stages it ran and the summed task metrics of those
    stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": 0,
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "result_b": 0,
                "spill_b": 0,
                "shuffle_read_b": 0,
                "shuffle_write_b": 0,
                "input_b": 0,
                "output_b": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if jid is None or not m:
                continue
            j = jobs[jid]
            j["tasks"] += 1
            j["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            j["result_b"] += m.get("Result Size", 0)
            j["spill_b"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            j["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            j["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            j["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            j["output_b"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return jobs


def _covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    clipped = [(max(a, start), min(b, end)) for a, b in intervals if b > start and a < end]
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[int, dict]:
    """Map each job to the innermost span whose window holds its
    submission time (latest start wins; ties go to the shorter span).
    Jobs outside every span are left out."""
    out: dict[int, dict] = {}
    ordered = sorted(spans, key=lambda s: s["start"])
    for jid, job in jobs.items():
        best = None
        for s in ordered:
            if s["start"] > job["submit"]:
                break
            if s["end"] >= job["submit"]:
                if best is None or s["start"] > best["start"] or (
                    s["start"] == best["start"]
                    and s["end"] - s["start"] < best["end"] - best["start"]
                ):
                    best = s
        if best is not None:
            out[jid] = best
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its child spans cover
    (children of concurrent legs may overlap; their union counts)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = _covered(kids.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


SPARK_METRICS = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_mb", "MB"),
    ("spark.task_run_s", "s"),
    ("spark.task_wait_s", "s"),
    ("spark.result_mb", "MB"),
    ("spark.output_mb", "MB"),
)


def rollup(spans: list[dict], jobs: dict[int, dict], op_roots: set[int]) -> dict:
    """Per-layer view of a traced run.

    ``op_roots`` are the ids of the timed-op spans; only jobs and spans
    under them count toward the ``spark.*`` totals and the per-function
    times. Returns ``{"spark": {...}, "functions": {name: s},
    "layers": {layer: {...}}}``."""
    by_id = {s["id"]: s for s in spans}
    timed = [s for s in spans if s["root"] in op_roots]
    owner = attribute_jobs(timed, jobs)
    spark = {name: 0.0 for name, _ in SPARK_METRICS}
    layers: dict[str, dict] = {}
    job_windows: dict[int, list[tuple[float, float]]] = {}
    for jid, span in owner.items():
        j = jobs[jid]
        spark["spark.jobs"] += 1
        spark["spark.stages"] += j["stages"]
        spark["spark.tasks"] += j["tasks"]
        spark["spark.task_cpu_s"] += j["cpu_s"]
        spark["spark.task_run_s"] += j["run_s"]
        spark["spark.gc_s"] += j["gc_s"]
        spark["spark.shuffle_read_mb"] += j["shuffle_read_b"] / MB
        spark["spark.shuffle_write_mb"] += j["shuffle_write_b"] / MB
        spark["spark.spill_mb"] += j["spill_b"] / MB
        spark["spark.input_mb"] += j["input_b"] / MB
        spark["spark.output_mb"] += j["output_b"] / MB
        spark["spark.result_mb"] += j["result_b"] / MB
        end = j["end"] if j["end"] is not None else span["end"]
        job_windows.setdefault(span["root"], []).append((j["submit"], end))
        lay = layers.setdefault(span["layer"], _empty_layer())
        lay["jobs"] += 1
        lay["tasks"] += j["tasks"]
        lay["task_run_s"] += j["run_s"]
    spark["spark.task_wait_s"] = max(0.0, spark["spark.task_run_s"] - spark["spark.task_cpu_s"])
    for rid in op_roots:
        root = by_id.get(rid)
        if root is None:
            continue
        busy = _covered(job_windows.get(rid, []), root["start"], root["end"])
        spark["spark.driver_gap_s"] += max(0.0, (root["end"] - root["start"]) - busy)
    selfs = self_times(spans)
    fn_time: dict[str, float] = {}
    for s in timed:
        lay = layers.setdefault(s["layer"], _empty_layer())
        lay["calls"] += 1
        lay["self_s"] += selfs[s["id"]]
        # count a function once per outermost call (no double count on
        # recursion through the same public name)
        p, nested = s["parent"], False
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            fn_time[s["name"]] = fn_time.get(s["name"], 0.0) + (s["end"] - s["start"])
        # a layer's total counts each entry from another layer once
        if s["parent"] is None or by_id[s["parent"]]["layer"] != s["layer"]:
            lay["total_s"] += s["end"] - s["start"]
    return {"spark": spark, "functions": fn_time, "layers": layers}


def _empty_layer() -> dict:
    return {"calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0, "task_run_s": 0.0}


#: per-function span metrics printed by the traced run
NAMED_FUNCTIONS = tuple(
    f"{layer}.{fn}_s"
    for layer, fns in (
        ("operators.graph", ("merge_related_items_state", "delete_from_related_items_state", "compact_related_items_state", "related_items_topk")),
        ("operators.similarity", ("merge_ivfpq_index", "delete_from_ivfpq_index", "compact_ivfpq_index", "ivfpq_topk_indexed")),
        ("operators.text", ("merge_bm25_index", "delete_from_bm25_index", "compact_bm25_index", "bm25_topk_indexed")),
        ("sources.cow", ("set_current", "get_current", "vacuum_index")),
        ("plans.docs_pipeline", ("run_pipeline",)),
        ("operators.dedup", ("minhash_dedup",)),
        ("queries", ("plan",)),
        ("sources.catalog", ("load_table",)),
    )
    for fn in fns
)
