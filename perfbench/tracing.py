"""Spans around the benchmark's calls into each layer, and the reader
that attributes Spark's own event-log jobs and tasks to those spans.

A span has a name, a start, an end, a parent and optionally the layer it
measures.  Spans are kept in memory and written out when the run ends.
With tracing off, ``span`` records nothing and sets no job description.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _describe(self, text: str | None) -> None:
        # jobs submitted from the driver thread carry this description in
        # the event log, so a reader can see which call started them
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(text)

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, layer)
        self._stack.append(rec["id"])
        self._describe(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def add(self, name: str, start: float, end: float | None, layer: str | None = None,
            parent: int | None = None) -> dict:
        """Record a span; ``parent`` defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": parent, "start": start, "end": end}
        self.spans.append(rec)
        return rec


def self_time(spans: list[dict], span_id: int) -> float:
    """A span's duration minus the part of it that its children cover."""
    s = spans[span_id]
    kids = sorted(
        (max(c["start"], s["start"]), min(c["end"], s["end"]))
        for c in spans
        if c["parent"] == span_id
    )
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in kids:
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (s["end"] - s["start"]) - covered


# ------------------------------------------------------------ event log

_PY_START = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict:
    """Jobs, tasks and SQL plan accumulators from an uncompressed event log."""
    jobs, stage_job, tasks, accum_node = {}, {}, [], {}
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs[ev["Job ID"]] = {
                            "submit": ev["Submission Time"] / 1000,
                            "description": ev.get("Properties", {}).get("spark.job.description"),
                        }
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, ev["Job ID"])
                    elif kind == "SparkListenerTaskEnd":
                        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                        accums = {}
                        for a in info.get("Accumulables", []):
                            try:
                                accums[a["ID"]] = (a.get("Name"), float(a["Update"]))
                            except (KeyError, TypeError, ValueError):
                                continue
                        tasks.append({
                            "stage": ev["Stage ID"],
                            "dur_s": (info["Finish Time"] - info["Launch Time"]) / 1000,
                            "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": tm.get("JVM GC Time", 0) / 1000,
                            "peak_mem": tm.get("Peak Execution Memory", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                            "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            "accums": accums,
                        })
                    elif kind.endswith(("SparkListenerSQLExecutionStart",
                                        "SparkListenerSQLAdaptiveExecutionUpdate")):
                        _plan_metrics(ev.get("sparkPlanInfo", {}), accum_node)
    return {"jobs": jobs, "stage_job": stage_job, "tasks": tasks, "accum_node": accum_node}


def layer_of(spans: list[dict], t: float) -> str | None:
    """The layer of the innermost layered span open at time ``t``."""
    best = None
    for s in spans:
        if s["layer"] and s["start"] <= t <= (s["end"] or float("inf")):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["layer"] if best else None


def layer_wall(spans: list[dict], layer: str) -> float:
    """Wall time of a layer's spans, not counting a span nested in another
    span of the same layer twice."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["layer"] != layer:
            continue
        p = by_id.get(s["parent"])
        if p is not None and p["layer"] == layer:
            continue
        total += s["end"] - s["start"]
    return total


def spark_layer_metrics(spans: list[dict], log: dict, layer: str, cores: int) -> dict:
    """Spark's task metrics for the jobs submitted inside ``layer``'s spans."""
    job_layer = {j: layer_of(spans, v["submit"]) for j, v in log["jobs"].items()}
    mine = [t for t in log["tasks"] if job_layer.get(log["stage_job"].get(t["stage"])) == layer]
    node = log["accum_node"]

    def accum(names) -> float:
        return sum(v for t in mine for n, v in t["accums"].values() if n in names)

    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["dur_s"])
    skew_w, skew_sum = 0.0, 0.0
    for durs in by_stage.values():
        med = statistics.median(durs)
        if len(durs) > 1 and med > 0:
            skew_w += sum(durs)
            skew_sum += sum(durs) * max(durs) / med
    wall = layer_wall(spans, layer)
    return {
        "jobs": sum(1 for v in job_layer.values() if v == layer),
        "task_cpu_s": sum(t["cpu_s"] for t in mine),
        "gc_s": sum(t["gc_s"] for t in mine),
        "python_start_s": accum(_PY_START) / 1000,
        "python_run_s": accum((_PY_RUN,)) / 1000,
        "arrow_to_py_mb": accum((_PY_SENT,)) / 1e6,
        "arrow_from_py_mb": accum((_PY_BACK,)) / 1e6,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in mine) / 1e6,
        "spill_mb": sum(t["spill"] for t in mine) / 1e6,
        "peak_exec_mem_mb": max((t["peak_mem"] for t in mine), default=0) / 1e6,
        "task_skew": skew_sum / skew_w if skew_w else 1.0,
        "busy_frac": sum(t["dur_s"] for t in mine) / (cores * wall) if wall else 0.0,
        # the rows the layer's mapInPandas kernels returned
        "map_in_pandas_rows": sum(
            v for t in mine for aid, (_n, v) in t["accums"].items()
            if node.get(aid) == ("MapInPandas", "number of output rows")),
    }
