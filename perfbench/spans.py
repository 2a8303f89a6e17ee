"""Span collector for the traced benchmark run.

Spans are recorded from the benchmark's own code around its calls into
the engine's public functions: name, layer, parent, start and end. Each
span runs under its own Spark job group, so Spark's own per-job and
per-stage numbers can be attributed to it afterwards from the status
store (the UI's REST API on localhost). Spans stay in memory and are
written once, at the end of the run.

A span's self time is its wall time minus the part of it that its child
spans cover; the benchmark's spans never overlap their siblings, so that
part is the sum of the children's wall times.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request

# stage fields summed per span, as (REST field, metric, scale)
_STAGE_FIELDS = [
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("inputBytes", "input_bytes", 1),
    ("outputBytes", "output_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
    ("numFailedTasks", "failed_tasks", 1),
]
COUNTS = ["jobs", "stages", "tasks"] + sorted({m for _, m, _ in _STAGE_FIELDS})


class Tracer:
    """In-memory span tree. Disabled tracers time nothing and touch no
    Spark state, so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self.context = 0

    def bind(self, spark) -> None:
        """Attach to a new SparkContext (or detach, with None); spans
        opened from now on run under job groups of that context."""
        self._sc = spark.sparkContext if spark is not None else None
        self.context += 1

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **meta):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "layer": layer, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "context": self.context, "groups": [], **meta}
        self.spans.append(rec)
        if self._sc is not None:
            group = f"span-{rec['id']}"
            rec["groups"].append(group)
            self._sc.setJobGroup(group, f"{layer}.{name}")
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if (self.enabled and self._sc is not None
                    and rec["context"] == self.context):
                parent = self._stack[-1] if self._stack else None
                if parent and parent["groups"]:
                    self._sc.setJobGroup(parent["groups"][0], "")
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------- aggregation

    def finish(self, spark, path: str) -> dict:
        """Attribute Spark's job/stage numbers to the spans of the live
        context, compute self times, write all spans to ``path`` once,
        and return the run-wide Spark totals."""
        by_group = _spark_counts(spark) if self.enabled else {}
        wall = {s["id"]: s["end"] - s["start"] for s in self.spans}
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + wall[s["id"]]
        totals = dict.fromkeys(COUNTS, 0.0)
        skews = []
        for s in self.spans:
            s["wall_s"] = wall[s["id"]]
            s["self_s"] = wall[s["id"]] - child.get(s["id"], 0.0)
            c = dict.fromkeys(COUNTS, 0.0)
            if s["context"] == self.context:
                for g in s["groups"]:
                    for k, v in by_group.get(g, {}).items():
                        if k == "skews":
                            skews.extend(v)
                        else:
                            c[k] += v
            s["spark"] = c
            for k in COUNTS:
                totals[k] += c[k]
        totals["task_skew"] = statistics.median(skews) if skews else 1.0
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "spark_totals": totals}, f)
        return totals


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _spark_counts(spark) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and the stage metrics summed
    over the stages its jobs ran, plus per-stage task skew (max over
    median task run time) for stages of two or more tasks."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    # the status store is fed asynchronously by the listener bus; wait
    # until no job is still running before reading it
    for _ in range(100):
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.1)
    stages = {}
    for st in _get(f"{base}/stages"):
        if st["status"] in ("COMPLETE", "FAILED"):
            stages.setdefault(st["stageId"], []).append(st)
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = out.setdefault(j.get("jobGroup") or "", {
            **dict.fromkeys(COUNTS, 0.0), "skews": []})
        g["jobs"] += 1
        for sid in j["stageIds"]:
            if sid in seen or sid not in stages:
                continue  # skipped (reused shuffle) or already counted
            seen.add(sid)
            for st in stages[sid]:
                g["stages"] += 1
                g["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                for field, metric, scale in _STAGE_FIELDS:
                    g[metric] += st.get(field, 0) * scale
                if st["numTasks"] >= 2:
                    q = _get(f"{base}/stages/{sid}/{st['attemptId']}"
                             "/taskSummary?quantiles=0.5,1.0")
                    p50, mx = q["executorRunTime"]
                    g["skews"].append(mx / p50 if p50 > 0 else 1.0)
    return out
