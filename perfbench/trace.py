"""Spans around the benchmark's calls into the package, and the two
Spark-side sources that split those spans further: the event log (task
and SQL metrics) and the Python UDF profiler (per-function time inside
the workers).  Nothing here reaches into the package; every number is
taken at a public call boundary or from what Spark itself records.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, layer, start, end and parent span id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- event log ---------------------------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
    "number of output rows": "rows_out",
}


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", []):
        yield from _walk_plan(child)


class EventLog:
    """The parts of one application's event log the layers need: every
    task with its timing, shuffle, spill and Python-node metrics, and
    every SQL execution with its plan text and interval."""

    def __init__(self, path: str):
        py_ids: dict[int, str] = {}
        self.tasks: list[dict] = []
        self.executions: dict[int, dict] = {}
        with open(path) as fh:
            events = [json.loads(line) for line in fh]
        for ev in events:
            kind = ev["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart",
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                for node in _walk_plan(ev["sparkPlanInfo"]):
                    if node["nodeName"] == "MapInArrow":
                        for m in node["metrics"]:
                            if m["name"] in _PY_METRICS:
                                py_ids[m["accumulatorId"]] = \
                                    _PY_METRICS[m["name"]]
            if kind == "SparkListenerSQLExecutionStart":
                self.executions[ev["executionId"]] = {
                    "start": ev["time"] / 1000.0, "end": None,
                    "plan": ev.get("physicalPlanDescription", "")}
            elif kind == "SparkListenerSQLExecutionEnd":
                ex = self.executions.get(ev["executionId"])
                if ex is not None:
                    ex["end"] = ev["time"] / 1000.0
        for ev in events:
            if ev["Event"] != "SparkListenerTaskEnd":
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            task = {"launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics")
                                            or {}).get("Shuffle Bytes Written",
                                                       0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "python": {}}
            for acc in info.get("Accumulables", []):
                key = py_ids.get(acc.get("ID"))
                if key is not None and acc.get("Update") is not None:
                    task["python"][key] = (task["python"].get(key, 0)
                                           + int(acc["Update"]))
            self.tasks.append(task)

    @classmethod
    def latest(cls, event_dir: str) -> "EventLog":
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)
                if not f.startswith(".")]
        return cls(max(logs, key=os.path.getmtime))

    def tasks_in(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["launch"] <= t1]

    def executions_in(self, t0: float, t1: float) -> list[dict]:
        return sorted((e for e in self.executions.values()
                       if e["end"] is not None and t0 <= e["start"] <= t1),
                      key=lambda e: e["start"])


def extract_task_stats(tasks: list[dict]) -> dict:
    """JVM-side view of the fused extract stage: tasks that ran the
    MapInArrow node."""
    ex = [t for t in tasks if t["python"]]
    if not ex:
        return {"tasks": 0}
    durations = sorted(t["finish"] - t["launch"] for t in ex)
    p50 = statistics.median(durations)
    tot = {k: sum(t["python"].get(k, 0) for t in ex)
           for k in set(_PY_METRICS.values())}
    return {"tasks": len(ex), "task_p50_s": p50,
            "task_skew": durations[-1] / p50 if p50 > 0 else 0.0,
            "wall_s": max(t["finish"] for t in ex)
            - min(t["launch"] for t in ex),
            "gc_s": sum(t["gc_ms"] for t in ex) / 1000.0,
            "python_total_s": tot["python_total_ms"] / 1000.0,
            "python_boot_s": tot["python_boot_ms"] / 1000.0,
            "python_init_s": tot["python_init_ms"] / 1000.0,
            "arrow_in_mb": tot["arrow_in_bytes"] / 2**20,
            "arrow_out_mb": tot["arrow_out_bytes"] / 2**20,
            "rows_out": tot["rows_out"]}


# -- Python UDF profiler -----------------------------------------------------

# The profiler reports file basenames, so functions are matched by
# (basename, name); names are unique across the two extract.py files.
_PROFILE_FUNCS = {
    "extract.buffer_s": ("extract.py", "add"),
    "extract.arrow_encode_s": ("extract.py", "record_batch"),
    "core.assemble_s": ("synth.py", "assemble_text"),
    "core.preamble_s": ("preamble.py", "separate_and_clean_preamble"),
    "core.tag_s": ("tagger.py", "tag_region"),
    "core.postprocess_s": ("postprocess.py", "postprocess_doc"),
    "core.emit_s": ("extract.py", "_emit"),
}
_UDF_LOOPS = {("extract.py", "fn"), ("extract.py", "fn_text")}
_PER_DOC = {("extract.py", "_records_for_doc"), ("extract.py", "fn_text")}
_DOC_BUILD = {("docmodel.py", "__init__"), ("docmodel.py", "char_span")}
_EXTRACT_DOCUMENT = ("extract.py", "extract_document")


def _fn(key) -> tuple[str, str]:
    return os.path.basename(key[0]), key[2]


def profile_split(profiles: dict) -> dict:
    """Worker-side seconds per function group, summed over every worker
    and UDF, and the number of docs that entered the Python stage.

    pyarrow's ``to_pylist`` is compiled code the profiler does not see,
    so Arrow decode is the self time of the UDF's batch loop, which calls
    it; the Arrow encode is ``_ColumnBuffer.record_batch``."""
    out = {k: 0.0 for k in _PROFILE_FUNCS}
    out.update({"extract.arrow_decode_s": 0.0, "core.doc_build_s": 0.0,
                "extract.python_profiled_s": 0.0, "docs_in": 0})
    for stats in profiles.values():
        for key, (_cc, _nc, tt, ct, callers) in stats.stats.items():
            fn = _fn(key)
            for name, target in _PROFILE_FUNCS.items():
                if fn == target:
                    out[name] += ct
            if fn in _UDF_LOOPS:
                out["extract.python_profiled_s"] += ct
                out["extract.arrow_decode_s"] += tt
            if fn == _EXTRACT_DOCUMENT:
                out["docs_in"] += sum(c[1] for ck, c in callers.items()
                                      if _fn(ck) in _PER_DOC)
            if fn in _DOC_BUILD:
                # only the combined-document build in extract_document;
                # tag_region's own per-region Docs count as tagging
                out["core.doc_build_s"] += sum(
                    c[3] for ck, c in callers.items()
                    if _fn(ck) == _EXTRACT_DOCUMENT)
    return out


# -- layer accounting --------------------------------------------------------

def layer_block(tracer: Tracer, root_ids: list[int], log: EventLog,
                profile: dict) -> dict:
    """Self time per layer over the spans below ``root_ids`` (the traced
    iterations).  A span's self time is its duration minus its
    children's.  Where Spark tasks ran inside a span, the share of their
    executor time spent waiting on Python workers moves to
    ``operators.extract``, and that share is split further into the
    worker-side functions by the profiler's proportions.  Time in the
    root spans that no child covers is the unaccounted remainder."""
    by_parent: dict[int | None, list[dict]] = {}
    for s in tracer.spans:
        by_parent.setdefault(s["parent"], []).append(s)
    roots = [tracer.spans[i] for i in root_ids]
    wall = sum(r["end"] - r["start"] for r in roots)
    self_s: dict[str, float] = {}
    unaccounted = 0.0

    def dur(s):
        return s["end"] - s["start"]

    def visit(s, is_root):
        nonlocal unaccounted
        kids = by_parent.get(s["id"], [])
        own = dur(s) - sum(dur(k) for k in kids)
        if is_root:
            unaccounted += own
        else:
            tasks = [t for t in log.tasks_in(s["start"], s["end"])
                     if not any(k["start"] <= t["launch"] <= k["end"]
                                for k in kids)]
            run = sum(t["run_ms"] for t in tasks)
            py = sum(t["python"].get("python_total_ms", 0) for t in tasks)
            py_share = min(1.0, py / run) if run else 0.0
            self_s[s["layer"]] = self_s.get(s["layer"], 0.0) \
                + own * (1 - py_share)
            self_s["operators.extract"] = \
                self_s.get("operators.extract", 0.0) + own * py_share
        for k in kids:
            visit(k, False)

    for r in roots:
        visit(r, True)
    py_wall = self_s.get("operators.extract", 0.0)
    prof_total = profile.get("extract.python_profiled_s", 0.0)
    worker_split = {}
    if prof_total > 0:
        for k in ("extract.arrow_decode_s", "extract.buffer_s",
                  "extract.arrow_encode_s", "core.assemble_s",
                  "core.preamble_s", "core.tag_s", "core.doc_build_s",
                  "core.postprocess_s", "core.emit_s"):
            worker_split[k.removesuffix("_s")] = \
                py_wall * profile[k] / prof_total
    tasks = [t for r in roots for t in log.tasks_in(r["start"], r["end"])]
    durations = sorted(t["finish"] - t["launch"] for t in tasks) or [0.0]
    p50 = statistics.median(durations)
    return {
        "wall_s": wall,
        "self_s": dict(sorted(self_s.items())),
        "share": {k: v / wall for k, v in sorted(self_s.items())} if wall
        else {},
        "operators.extract_split_s": worker_split,
        "task_skew": durations[-1] / p50 if p50 > 0 else 0.0,
        "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "unaccounted_s": unaccounted,
        "unaccounted_share": unaccounted / wall if wall else 0.0,
    }
