"""Spans, counters and Spark event-log attribution for the benchmark.

A ``Tracer`` records one span per call into an engine module's public
function. In a traced run every listed function is wrapped from here
(the engine itself is not edited): each span gets its own Spark job
group, so the jobs it launches, and their stages in the event log,
attribute to it. Jobs without one of our groups (launched from the
engine's own background threads, which do not inherit the group) are
attributed to the innermost span open on the main thread when they
were submitted, and counted as *untagged*.

Spans are kept in memory and turned into per-layer metrics after the
run, once ``SparkContext.stop`` has closed the event log.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# (module, function, span name). The span name's first component is the
# layer; metrics are named after the span.
TRACED = (
    ("pyspark_mrdf_spark.sources.fvecs", "read_fvecs", "sources.read_fvecs"),
    ("pyspark_mrdf_spark.sources.fvecs", "read_ivecs", "sources.read_ivecs"),
    ("pyspark_mrdf_spark.io", "load_table", "io.load_table"),
    ("pyspark_mrdf_spark.io", "write_partitioned", "io.write_partitioned"),
    ("pyspark_mrdf_spark.algorithms.mrdf", "knn_graph", "mrdf.knn_graph"),
    ("pyspark_mrdf_spark.algorithms.recall", "recall_vs_groundtruth", "recall.recall_vs_groundtruth"),
    ("pyspark_mrdf_spark.algorithms.graph_append", "knn_graph_append", "graph_append.knn_graph_append"),
    ("pyspark_mrdf_spark.operators.graph_search", "graph_knn_search", "graph_search.graph_knn_search"),
    ("pyspark_mrdf_spark.operators.dedup_index", "write_dedup_index", "dedup_index.write"),
    ("pyspark_mrdf_spark.operators.dedup_index", "append_dedup_index", "dedup_index.append"),
    ("pyspark_mrdf_spark.operators.dedup_index", "near_dedup_against_index", "dedup_index.near_dedup"),
    ("pyspark_mrdf_spark.operators.dedup", "scrub_dup_substrings", "dedup.scrub_dup_substrings"),
    ("pyspark_mrdf_spark.operators.dedup", "jaccard_pairs", "dedup.jaccard_pairs"),
    ("pyspark_mrdf_spark.operators.dedup", "connected_components", "dedup.connected_components"),
    ("pyspark_mrdf_spark.operators.lm", "lm_train", "lm.lm_train"),
    ("pyspark_mrdf_spark.operators.lm", "lm_score", "lm.lm_score"),
    ("pyspark_mrdf_spark.operators.quality", "quality_report", "quality.quality_report"),
    ("pyspark_mrdf_spark.operators.graph", "pagerank", "graph.pagerank"),
    ("pyspark_mrdf_spark.cache", "pin_stats", "cache.pin_stats"),
)

# Physical operators that run Python (Arrow/pandas kernels) inside a
# stage; a stage whose RDD scopes name one of them counts as Python.
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow", "AggregateInPandas",
    "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "PythonUDTF", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)

_PKG = "pyspark_mrdf_spark"


def rebind(original, replacement) -> int:
    """Point every loaded engine-module attribute that is ``original``
    at ``replacement`` (modules bind imported functions by name)."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == _PKG or name.startswith(_PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


class Tracer:
    """Span recorder. With ``enabled`` false only the cache counters
    run (they back the cold-run self-check in every run)."""

    def __init__(self, run_id: str, enabled: bool, sc):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        parent = stack[-1] if stack else None
        sp = {
            "id": sid,
            "name": name,
            "layer": name.split(".")[0],
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{sid}",
            "thread": threading.get_ident(),
            "start": time.time(),
            "end": None,
        }
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(sp)

    # -- wrapping -----------------------------------------------------
    def install(self) -> None:
        """Wrap the engine's public functions (spans only when enabled)
        and count materialization-registry calls and hits (always)."""
        import importlib

        from pyspark_mrdf_spark import cache

        orig_memo = cache.memoized_df

        @functools.wraps(orig_memo)
        def memoized_df(spark, key, builder, eager=True):
            full = (spark.sparkContext.applicationId,) + tuple(key)
            with self._lock:
                self.counts["cache.memoized_df_calls"] += 1
                if full in cache._CACHE:
                    self.counts["cache.hits"] += 1
            with self.span("cache.memoized_df"):
                return orig_memo(spark, key, builder, eager)

        self._undo.append((orig_memo, memoized_df))
        rebind(orig_memo, memoized_df)
        if not self.enabled:
            return
        for mod_name, fn_name, span_name in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, fn_name)
            wrapped = self._wrap(orig, span_name)
            self._undo.append((orig, wrapped))
            rebind(orig, wrapped)

    def _wrap(self, fn, span_name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def uninstall(self) -> None:
        for orig, wrapped in reversed(self._undo):
            rebind(wrapped, orig)
        self._undo.clear()


# -- event log ---------------------------------------------------------


def _acc(stage_info: dict) -> dict:
    out = {}
    for a in stage_info.get("Accumulables", []):
        name = a.get("Name")
        try:
            out[name] = float(a.get("Value"))
        except (TypeError, ValueError):
            pass
    return out


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        text = rdd.get("Name", "") + " " + str(rdd.get("Scope", ""))
        if any(node in text for node in PYTHON_NODES):
            return True
    return False


def event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a single file, or the numbered
    ``events_<n>_<app>`` parts of a rolling (v2) log directory."""
    out = []
    for d, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("appstatus") or f.endswith(".crc"):
                continue
            n = f.split("_")[1] if f.startswith("events_") else "0"
            out.append((int(n) if n.isdigit() else 0, os.path.join(d, f)))
    return [p for _, p in sorted(out)]


def parse_event_log(log_dir: str) -> tuple[dict, dict, int]:
    """(jobs, stages, task_retries) from the event log(s) in ``log_dir``.

    jobs:   id -> {group, submit (s)}
    stages: (id, attempt) -> {job, run_s, shuffle_write_b, spill_b, gc_s,
                              tasks, python}
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple, dict] = {}
    retries = 0
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = _acc(si)
                    stages[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = {
                        "job": stage_job.get(si["Stage ID"]),
                        "run_s": acc.get("internal.metrics.executorRunTime", 0.0) / 1000.0,
                        "shuffle_write_b": acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0),
                        "spill_b": acc.get("internal.metrics.diskBytesSpilled", 0.0),
                        "gc_s": acc.get("internal.metrics.jvmGCTime", 0.0) / 1000.0,
                        "tasks": si.get("Number of Tasks", 0),
                        "python": _is_python_stage(si),
                    }
                elif kind == "SparkListenerTaskEnd":
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success" or (ev.get("Task Info") or {}).get("Attempt", 0) > 0:
                        retries += 1
    return jobs, stages, retries


def _self_time(span: dict, children: list[dict]) -> float:
    covered = sum(min(c["end"], span["end"]) - max(c["start"], span["start"]) for c in children)
    return max(0.0, (span["end"] - span["start"]) - max(0.0, covered))


def layer_metrics(
    spans: list[dict], jobs: dict, stages: dict, window: tuple[float, float], n_cpu: int
) -> dict[str, float]:
    """Derive per-span-name and per-layer numbers from spans + event log.

    ``<span>_s``            summed self time of that span name
    ``<layer>.jobs``        jobs attributed to the layer's spans
    ``<layer>.untagged_jobs`` of those, jobs that carried no group
    ``<layer>.shuffle_write_mb`` / ``executor_busy_share`` likewise
    ``spark.*``             every job submitted inside ``window``
    """
    by_group = {s["group"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    self_t: dict[str, float] = defaultdict(float)
    for s in spans:
        t = _self_time(s, children[s["id"]])
        out[f"{s['name']}_s"] += t
        self_t[s["layer"]] += t

    main = threading.main_thread().ident
    main_spans = [s for s in spans if s["thread"] == main]

    def innermost(ts: float) -> dict | None:
        best = None
        for s in main_spans:
            if s["start"] <= ts <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    job_layer: dict[int, str] = {}
    for jid, j in jobs.items():
        sp = by_group.get(j["group"]) if j["group"] else None
        if sp is None:
            sp = innermost(j["submit"])
            if sp is None:
                continue
            out[f"{sp['layer']}.untagged_jobs"] += 1
        job_layer[jid] = sp["layer"]
        out[f"{sp['layer']}.jobs"] += 1

    run_by_layer: dict[str, float] = defaultdict(float)
    for st in stages.values():
        layer = job_layer.get(st["job"])
        if layer is None:
            continue
        run_by_layer[layer] += st["run_s"]
        out[f"{layer}.shuffle_write_mb"] += st["shuffle_write_b"] / 1e6
    for layer, run_s in run_by_layer.items():
        if self_t[layer] > 0:
            out[f"{layer}.executor_busy_share"] = run_s / (self_t[layer] * n_cpu)

    lo, hi = window
    win_jobs = {jid for jid, j in jobs.items() if lo <= j["submit"] <= hi}
    win_stages = [st for st in stages.values() if st["job"] in win_jobs]
    run_s = sum(st["run_s"] for st in win_stages)
    py_s = sum(st["run_s"] for st in win_stages if st["python"])
    out["spark.jobs"] = len(win_jobs)
    out["spark.stages"] = len(win_stages)
    out["spark.tasks"] = sum(st["tasks"] for st in win_stages)
    out["spark.executor_run_s"] = run_s
    out["spark.executor_busy_share"] = run_s / max(1e-9, (hi - lo) * n_cpu)
    out["spark.shuffle_write_mb"] = sum(st["shuffle_write_b"] for st in win_stages) / 1e6
    out["spark.spill_mb"] = sum(st["spill_b"] for st in win_stages) / 1e6
    out["spark.gc_s"] = sum(st["gc_s"] for st in win_stages)
    out["functions.python_exec_s"] = py_s
    out["functions.python_stage_share"] = py_s / run_s if run_s > 0 else 0.0
    return dict(out)
