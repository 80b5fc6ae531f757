"""Spans around the program's public layer functions, and the folding of
Spark's event log into per-layer stage metrics.

The untraced run uses ``NullTracer``: no spans, no materialized boundaries,
no event log.  The traced run uses ``Tracer``: every span labels its Spark
jobs with ``setJobDescription(<span name>)``, every boundary is cached and
counted, so each layer's jobs are its own, and ``fold_event_log`` then sums
stage metrics per span name.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class NullTracer:
    """Untraced: spans cost nothing and boundaries stay lazy."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def boundary(self, df, name: str):  # noqa: ARG002
        return df


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.frames: dict = {}  # boundary name → its latest frame

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.sc.setJobDescription(parent)
            self.spans.append(
                {"name": name, "start": t0, "end": t1, "parent": parent,
                 "run_id": self.run_id}
            )

    def boundary(self, df, name: str):
        """Materialize ``df`` at a layer boundary (cache, then count) and hand
        it to the next layer, so each layer's jobs are its own.  A cached
        frame keeps its partitions, so the next layer runs the same tasks
        as in the untraced plan."""
        self.frames[name] = df = df.cache()
        df.count()
        return df

    def release(self) -> None:
        """Drop the pass's cached boundaries."""
        for df in self.frames.values():
            df.unpersist()

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


# event-log accumulable → folded metric (SQL metrics are summed over every
# node of the stage that reports them)
_ACC = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.memoryBytesSpilled": "spill_mem_b",
    "internal.metrics.diskBytesSpilled": "spill_disk_b",
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_b",
    "data returned from Python workers": "from_python_b",
}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Sum stage metrics per job description (= span name).

    Returns {description: {metric: value, 'jobs': n, 'tasks': n,
    'task_ms': [per-task run ms of its widest stage], 'exchanges': n}}."""
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(log_dir)
        for f in fs
        if f.startswith("local-")  # one uncompressed, non-rolling log per app
    ]
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    exec_desc: dict[int, str] = {}
    final_plan: dict[int, dict] = {}
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    out[desc]["jobs"] += 1
                    if "spark.sql.execution.id" in props:
                        exec_desc[int(props["spark.sql.execution.id"])] = desc
                    for sid in e["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    for a in e["Task Info"].get("Accumulables", []):
                        if a["Name"] == "internal.metrics.executorRunTime":
                            stage_tasks[e["Stage ID"]].append(_num(a["Update"]))
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    sid = si["Stage ID"]
                    m = out[stage_desc.get(sid, "")]
                    m["tasks"] += si["Number of Tasks"]
                    for a in si.get("Accumulables", []):
                        key = _ACC.get(a["Name"])
                        if key:
                            m[key] += _num(a["Value"])
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    final_plan[e["executionId"]] = e["sparkPlanInfo"]
    for eid, plan in final_plan.items():
        if eid in exec_desc:  # executions that ran no job are not counted
            out[exec_desc[eid]]["exchanges"] += _count_exchanges(plan)
    folded = {k: dict(v) for k, v in out.items()}
    for sid, times in stage_tasks.items():
        desc = stage_desc.get(sid, "")
        cur = folded.setdefault(desc, {}).get("task_ms", [])
        if len(times) > len(cur):
            folded[desc]["task_ms"] = times
    return folded


def _count_exchanges(node: dict) -> int:
    """Exchange nodes (shuffle and broadcast) in a final physical plan."""
    n = 1 if node.get("nodeName", "").endswith("Exchange") else 0
    return n + sum(_count_exchanges(c) for c in node.get("children", []))
