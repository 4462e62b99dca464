"""Tracing for the benchmark's traced run.

Spans are recorded in memory around the benchmark's calls into the
engine's layers and written out when the run ends. Each span sets the
Spark job description to "<layer>:<name>#<iteration>", so every job in
the event log is attributed to the layer whose call started it.
Python-worker CPU is read from /proc at span boundaries and charged to
the span's time window; JVM-side numbers come from the event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")

# per-layer bundle reported for every Spark-running layer
BUNDLE = ("wall_s", "jvm_cpu_s", "python_cpu_s", "gc_s", "scan_mb",
          "shuffle_write_mb", "fetch_wait_s", "spill_mb", "task_skew",
          "tasks", "task_retries")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(
            int(stat.split("/")[2])
        )
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below `pid` in the process tree."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python worker processes below this driver,
    including workers that already exited and were reaped by their
    daemon (cutime/cstime)."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "python" not in head:
            continue
        fields = rest.split()
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


class Codegen:
    """Spark's CodegenMetrics compile-time histogram, read through py4j.
    The histogram's reservoir keeps the last 1028 samples, so the summed
    time is exact only while fewer compiles than that have happened."""

    def __init__(self, spark):
        self._h = (spark._jvm.org.apache.spark.metrics.source
                   .CodegenMetrics.METRIC_COMPILATION_TIME())

    def read(self) -> tuple[int, float]:
        snap = self._h.getSnapshot()
        return int(self._h.getCount()), float(sum(snap.getValues()))


class Tracer:
    """In-memory span recorder. `span` nests: a child records its parent
    index, and the job description is restored when the child ends."""

    def __init__(self, spark, codegen: bool = False):
        self.spark = spark
        self.spans: list[dict] = []
        self.iteration = 0
        self._stack: list[int] = []
        self.codegen = Codegen(spark) if codegen else None

    def _describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    def begin(self, layer: str, name: str) -> int:
        idx = len(self.spans)
        rec = {
            "layer": layer, "name": name, "iteration": self.iteration,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "py_cpu0": python_worker_cpu_s(),
        }
        if self.codegen:
            rec["cg0"] = self.codegen.read()
        self.spans.append(rec)
        self._stack.append(idx)
        self._describe(f"{layer}:{name}#{self.iteration}")
        return idx

    def end(self, idx: int) -> dict:
        rec = self.spans[idx]
        rec["end"] = time.time()
        rec["python_cpu_s"] = python_worker_cpu_s() - rec.pop("py_cpu0")
        if self.codegen:
            (c0, s0), (c1, s1) = rec.pop("cg0"), self.codegen.read()
            rec["codegen_compiles"] = c1 - c0
            rec["codegen_ms"] = s1 - s0
        self._stack.remove(idx)
        if self._stack:
            top = self.spans[self._stack[-1]]
            self._describe(
                f"{top['layer']}:{top['name']}#{top['iteration']}"
            )
        else:
            self._describe(None)
        return rec

    @contextmanager
    def span(self, layer: str, name: str):
        idx = self.begin(layer, name)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def mark(self, layer: str, name: str) -> None:
        """Close the innermost open span if it is a sibling stage marker
        and open a new one: stage markers inside one long call (the
        pipeline) tile its wall back to back."""
        if self._stack and self.spans[self._stack[-1]].get("marker"):
            self.end(self._stack[-1])
        self.begin(layer, name)
        self.spans[self._stack[-1]]["marker"] = True

    def close_markers(self) -> None:
        while self._stack and self.spans[self._stack[-1]].get("marker"):
            self.end(self._stack[-1])


def read_event_log(log_dir: str) -> dict:
    """Parse an uncompressed Spark event log directory into
    {"jobs": {job_id: {...}}, "tasks": [...]}: each job keeps its
    description and start/end times; each task keeps its job, stage,
    attempt, duration and the metrics the bundle needs."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "start": e["Submission Time"] / 1000.0,
                    }
                    for s in e.get("Stage IDs", []):
                        stage_job[s] = e["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = (
                            e["Completion Time"] / 1000.0
                        )
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    acc = {a["Name"]: a.get("Update")
                           for a in info.get("Accumulables", [])}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "job": stage_job.get(e["Stage ID"]),
                        "attempt": info["Attempt"],
                        "failed": info.get("Failed", False)
                        or info.get("Killed", False),
                        "ms": info["Finish Time"] - info["Launch Time"],
                        "cpu_ns": m.get("Executor CPU Time", 0)
                        + m.get("Executor Deserialize CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "read_b": (m.get("Input Metrics") or {})
                        .get("Bytes Read", 0),
                        "shuffle_w_b": sw.get("Shuffle Bytes Written", 0),
                        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "to_py_b": int(
                            acc.get("data sent to Python workers") or 0),
                        "from_py_b": int(
                            acc.get("data returned from Python workers")
                            or 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def parse_desc(desc: str | None) -> tuple[str, str, int] | None:
    """"layer:name#iteration" -> (layer, name, iteration)."""
    if not desc or ":" not in desc or "#" not in desc:
        return None
    head, it = desc.rsplit("#", 1)
    layer, name = head.split(":", 1)
    try:
        return layer, name, int(it)
    except ValueError:
        return None


def task_skew(tasks: list[dict]) -> float:
    """Largest max/median task time over the stages with >= 4 tasks
    (1.0 when no stage has that many)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(max(t["ms"], 1))
    ratios = [max(v) / statistics.median(v)
              for v in by_stage.values() if len(v) >= 4]
    return max(ratios, default=1.0)


def layer_bundles(log: dict, spans: list[dict],
                  iterations: set[int]) -> dict[str, dict]:
    """Per-layer bundle, as a mean per measured iteration, over the jobs
    whose description names a layer and one of `iterations`. Wall and
    Python CPU come from the spans of the same layer and iterations."""
    n = max(1, len(iterations))
    out: dict[str, dict] = {}
    job_layer = {}
    for jid, j in log["jobs"].items():
        p = parse_desc(j["desc"])
        if p and p[2] in iterations:
            job_layer[jid] = p[0]
    for layer in {sp["layer"] for sp in spans}:
        # the layer's outermost spans: a nested span of the same layer
        # is already inside its parent's wall
        sps = [s for s in spans if s["layer"] == layer
               and s["iteration"] in iterations
               and (s["parent"] is None
                    or spans[s["parent"]]["layer"] != layer)]
        ts = [t for t in log["tasks"] if job_layer.get(t["job"]) == layer]
        out[layer] = {
            "wall_s": sum(s["end"] - s["start"] for s in sps) / n,
            "jvm_cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9 / n,
            "python_cpu_s": sum(s["python_cpu_s"] for s in sps) / n,
            "gc_s": sum(t["gc_ms"] for t in ts) / 1e3 / n,
            "scan_mb": sum(t["read_b"] for t in ts) / 1e6 / n,
            "shuffle_write_mb": sum(t["shuffle_w_b"] for t in ts) / 1e6 / n,
            "fetch_wait_s": sum(t["fetch_wait_ms"] for t in ts) / 1e3 / n,
            "spill_mb": sum(t["spill_b"] for t in ts) / 1e6 / n,
            "task_skew": task_skew(ts),
            "tasks": len(ts) / n,
            "task_retries": sum(1 for t in ts
                                if t["attempt"] > 0 or t["failed"]) / n,
            "to_python_mb": sum(t["to_py_b"] for t in ts) / 1e6 / n,
            "from_python_mb": sum(t["from_py_b"] for t in ts) / 1e6 / n,
            "job_s": _job_time(
                [j for jid, j in log["jobs"].items()
                 if job_layer.get(jid) == layer]) / n,
        }
    return out


def _job_time(jobs: list[dict]) -> float:
    """Seconds covered by the union of the jobs' [start, end] windows."""
    total, reach = 0.0, float("-inf")
    for s, e in sorted((j["start"], j.get("end", j["start"])) for j in jobs):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total
