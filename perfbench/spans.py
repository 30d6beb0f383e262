"""Layer spans around the benchmark's calls into the loan pipeline.

A `Tracer` records one span per call into a layer (name, start, end). With
tracing off it records wall time only and touches Spark not at all. With
tracing on it also tags the Spark jobs a span starts with the layer name
(`setJobGroup`), reads job, stage and task counts from the status tracker,
and after the session stops folds Spark's event log (switched on by
configuration, see `event_log_conf`) into per-layer shuffle, spill,
executor run time, GC time and the time spent outside Spark jobs.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = [
    "session", "paged_source", "clean_stage", "standardize_stage",
    "encode_stage", "forward_fill", "star_init", "star_merge", "star_read",
    "fact", "measures",
]
EVENT_LOG_METRICS = ("shuffle_write_mb", "spill_mb", "executor_run_s", "gc_s")


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that switch the event log on."""
    return ["--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
            "--conf", "spark.eventLog.compress=false"]


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []  # epoch seconds
        self.values: dict[str, float] = defaultdict(float)
        self.spark = None

    def bind(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        sc = self.spark.sparkContext if (self.enabled and self.spark) else None
        if sc is not None:
            sc.setJobGroup(layer, layer)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - t0
            if sc is not None:
                # a null value removes the property, ending the job group
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append((layer, start, start + elapsed))
            self.values[f"{layer}.s"] += elapsed

    def count(self, name: str, value: float) -> None:
        self.values[name] += value

    def collect_job_counts(self) -> None:
        """Jobs, stages and tasks per layer from the status tracker. Call
        while the session is still up."""
        st = self.spark.sparkContext.statusTracker()
        for layer in LAYERS:
            jobs = st.getJobIdsForGroup(layer)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            self.values[f"{layer}.jobs"] = len(jobs)
            self.values[f"{layer}.stages"] = len(stages)
            self.values[f"{layer}.tasks"] = tasks

    def fold_event_log(self, log_dir: str) -> None:
        """Per-layer task metrics and time outside Spark jobs, from the event log.
        Call after the session stopped, so the log is complete.

        `<layer>.plan_build_s` is the part of the layer's spans during which
        none of its Spark jobs ran: building and planning the lazy
        DataFrames, plus client-side work such as commits and listings."""
        stage_layer: dict[int, str] = {}
        job_layer: dict[int, str] = {}
        job_start: dict[int, float] = {}
        intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
        sums: dict[str, float] = defaultdict(float)
        # Spark 4 writes one directory per application (eventlog_v2_*)
        paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                 if os.path.isfile(p) and not p.endswith(".inprogress.tmp")]
        for path in paths:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group in LAYERS:
                            job_layer[ev["Job ID"]] = group
                            job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                            for sid in ev.get("Stage IDs", []):
                                stage_layer[sid] = group
                    elif kind == "SparkListenerJobEnd":
                        layer = job_layer.get(ev["Job ID"])
                        if layer is not None:
                            intervals[layer].append(
                                (job_start[ev["Job ID"]], ev["Completion Time"] / 1e3))
                    elif kind == "SparkListenerTaskEnd":
                        layer = stage_layer.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics")
                        if layer is None or not m:
                            continue
                        sw = m.get("Shuffle Write Metrics", {})
                        sums[f"{layer}.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                        sums[f"{layer}.spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
                        sums[f"{layer}.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                        sums[f"{layer}.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        for layer in LAYERS:
            for k in EVENT_LOG_METRICS:
                self.values[f"{layer}.{k}"] = sums[f"{layer}.{k}"]
            busy = _union(intervals[layer])
            self.values[f"{layer}.plan_build_s"] = sum(
                (end - start) - _covered(busy, start, end)
                for name, start, end in self.spans if name == layer)

    def slowest_layer(self) -> str:
        return max(LAYERS, key=lambda layer: self.values.get(f"{layer}.s", 0.0))


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _covered(busy: list[tuple[float, float]], start: float, end: float) -> float:
    return sum(max(0.0, min(b, end) - max(a, start)) for a, b in busy)
