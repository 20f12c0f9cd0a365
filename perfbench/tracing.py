"""Spans around layer calls, and per-layer counts from Spark's event log.

A traced pass wraps each layer call in a span and labels the Spark jobs it
starts with ``<layer>|<pass id>`` through ``setJobDescription``. Spans stay in
memory until the run ends. The event log is parsed after the session stops,
when Spark has flushed it; task metrics and SQL metrics are summed per label.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter
from contextlib import contextmanager

# Per-layer fields every Spark layer reports (without the layer prefix).
SPARK_FIELDS = {
    "self_s": "s",
    "jobs": "count",
    "rows_out": "rows",
    "shuffle_bytes": "B",
    "python_bytes": "B",
    "spill_bytes": "B",
    "task_skew": "ratio",
}

# layer -> extra fields with their units; "session" and "core.*" run in this process
LAYERS = {
    "session": {},
    "sources.pages.scan": {"scan_bytes": "B", "scan_tasks": "count"},
    "sources.pages.geocode": {},
    "plans.mosaic_query.score": {},
    "plans.mosaic_query.rank": {"partitions": "count"},
    "operators.footprint": {"groups": "count", "python_init_s": "s"},
    "sources.sinks": {"bytes_written": "B", "files_written": "count"},
    "operators.spatial_join": {"pairs_probed": "count", "refine_ratio": "fraction"},
    "operators.cutline": {"candidates": "count", "max_group": "count",
                          "accept_ratio": "fraction"},
    "operators.compose": {"pixels": "count"},
    "operators.lineage": {"units": "count"},
    "core.region": {"hot_tile_s": "s"},
    "core.geom": {"pip_mpts_s": "s/Mpt"},
}
IN_PROCESS_LAYERS = {"session", "core.region", "core.geom"}
OVERHEAD = ("trace.overhead_s", "s")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {"session.self_s": "s"}
    for layer, extra in LAYERS.items():
        if layer not in IN_PROCESS_LAYERS:
            out.update({f"{layer}.{k}": u for k, u in SPARK_FIELDS.items()})
        out.update({f"{layer}.{k}": u for k, u in extra.items()})
    out[OVERHEAD[0]] = OVERHEAD[1]
    return out


class Tracer:
    """In-memory spans; ``span`` labels the Spark jobs started inside it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, dict[str, float]] = {}

    @contextmanager
    def span(self, name: str, parent: str):
        label = f"{name}|{parent}"
        self.sc.setJobDescription(label)
        start = time.perf_counter()
        try:
            yield label
        finally:
            end = time.perf_counter()
            self.sc.setJobDescription(None)
            self.spans.append({"name": name, "parent": parent, "label": label,
                               "start": start, "end": end})

    def count(self, label: str, **values: float) -> None:
        """Counts measured at a span boundary by the benchmark itself."""
        self.counts.setdefault(label, {}).update(values)

    def self_seconds(self, label: str) -> float:
        """Span duration minus the part covered by its child spans."""
        span = next(s for s in self.spans if s["label"] == label)
        children = [s for s in self.spans if s["parent"] == label]
        covered = sum(s["end"] - s["start"] for s in children)
        return span["end"] - span["start"] - covered


# ------------------------------------------------------------- event log

def empty_stats() -> dict:
    return {"jobs": 0, "tasks": [], "shuffle_bytes": 0, "spill_bytes": 0, "sql": {}}


_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # SQL timing metrics -> seconds


def _walk_plan(node: dict, out: dict[int, tuple[str, str, float]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                   _TIME_SCALE.get(m["metricType"], 1))
    for child in node.get("children", ()):
        _walk_plan(child, out)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """label -> {jobs, tasks: [(stage, launch_ms, finish_ms)], shuffle_bytes,
    spill_bytes, sql: {(node, metric): total}}. SQL metrics sum task updates
    and updates posted at planning time (file listing sizes); timings are in
    seconds."""
    events = []
    for root, _dirs, names in os.walk(log_dir):
        for name in sorted(names):
            if not name.startswith("."):
                with open(os.path.join(root, name)) as f:
                    events.extend(json.loads(line) for line in f if line.strip())
    acc: dict[int, tuple[str, str, float]] = {}
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    out: dict[str, dict] = {}
    for ev in events:  # first pass: plans and job labels
        kind = ev["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _walk_plan(ev["sparkPlanInfo"], acc)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            label = props.get("spark.job.description")
            if label:
                out.setdefault(label, empty_stats())["jobs"] += 1
                stage_label.update((sid, label) for sid in ev["Stage IDs"])
                if "spark.sql.execution.id" in props:
                    exec_label[int(props["spark.sql.execution.id"])] = label

    def add_sql(e, acc_id, value):
        key = acc.get(acc_id)
        if key is not None:
            node, metric, scale = key
            e["sql"][(node, metric)] = e["sql"].get((node, metric), 0) + int(value) * scale

    for ev in events:  # second pass: task and planning-time metric updates
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            label = stage_label.get(ev["Stage ID"])
            info = ev["Task Info"]
            if label is None or info.get("Failed") or info.get("Killed"):
                continue
            e = out[label]
            e["tasks"].append((ev["Stage ID"], info["Launch Time"], info["Finish Time"]))
            tm = ev.get("Task Metrics") or {}
            e["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            e["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", ()):
                if "Update" in a:
                    add_sql(e, a.get("ID"), a["Update"])
        elif kind.endswith("DriverAccumUpdates"):
            label = exec_label.get(ev["executionId"])
            if label is not None:
                for acc_id, value in ev["accumUpdates"]:
                    add_sql(out[label], acc_id, value)
    return out


def sql_total(stats: dict, metric: str, node: str | None = None) -> int:
    return sum(v for (n, m), v in stats["sql"].items()
               if m == metric and (node is None or n == node))


def task_skew(stats: dict) -> float:
    """max / median task time of the label's longest stage (0 if no tasks)."""
    by_stage: dict[int, list[tuple[int, int]]] = {}
    for stage, launch, finish in stats["tasks"]:
        by_stage.setdefault(stage, []).append((launch, finish))
    if not by_stage:
        return 0.0
    longest = max(by_stage.values(),
                  key=lambda ts: max(f for _, f in ts) - min(s for s, _ in ts))
    durations = [f - s for s, f in longest]
    return max(durations) / max(statistics.median(durations), 1.0)


def stage_tasks(stats: dict) -> dict[int, int]:
    """stage id -> number of tasks, for the label's stages."""
    return Counter(stage for stage, _, _ in stats["tasks"])


def spark_layer_metrics(layer: str, tracer: Tracer, label: str, stats: dict) -> dict[str, float]:
    """The seven common fields plus the layer's event-log extras for one span."""
    counts = tracer.counts.get(label, {})
    m = {
        "self_s": tracer.self_seconds(label),
        "jobs": stats["jobs"],
        "rows_out": counts.get("rows_out", 0),
        "shuffle_bytes": stats["shuffle_bytes"],
        "python_bytes": sql_total(stats, "data sent to Python workers"),
        "spill_bytes": stats["spill_bytes"],
        "task_skew": task_skew(stats),
    }
    if layer == "sources.pages.scan":
        m["scan_bytes"] = sql_total(stats, "size of files read")
        # the widest stage reads the files; schema inference and the row
        # count add one-task stages around it
        m["scan_tasks"] = max(stage_tasks(stats).values(), default=0)
    elif layer == "plans.mosaic_query.rank":
        tasks = stage_tasks(stats)
        m["partitions"] = tasks[max(tasks)] if tasks else 0  # the window stage
    elif layer == "operators.footprint":
        m["groups"] = sql_total(stats, "number of output rows", "FlatMapGroupsInPandas")
        m["python_init_s"] = (sql_total(stats, "time to start Python workers")
                              + sql_total(stats, "time to initialize Python workers"))
    elif layer == "operators.spatial_join":
        probed = sql_total(stats, "number of output rows", "ArrowEvalPython")
        m["pairs_probed"] = probed
        m["refine_ratio"] = m["rows_out"] / probed if probed else 0.0
    for k, v in counts.items():
        m.setdefault(k, v)
    return m


def per_layer(tracer: Tracer, log: dict[str, dict], passes: list[str]) -> dict[str, float]:
    """Median over traced passes of every layer metric; layers a workload does
    not run report 0."""
    values: dict[str, list[float]] = {}
    for pass_id in passes:
        for span in tracer.spans:
            if span["parent"] != pass_id or span["name"] not in LAYERS:
                continue
            layer, label = span["name"], span["label"]
            if layer in IN_PROCESS_LAYERS:
                m = dict(tracer.counts.get(label, {}))
            else:
                m = spark_layer_metrics(layer, tracer, label, log.get(label) or empty_stats())
            for k, v in m.items():
                values.setdefault(f"{layer}.{k}", []).append(float(v))
    return {name: statistics.median(values[name]) if name in values else 0.0
            for name in metric_units() if name != OVERHEAD[0]}


def write_report(path: str, tracer: Tracer, metrics: dict[str, float],
                 units: dict[str, str]) -> None:
    """Spans as JSON lines plus a per-layer table beside them."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    with open(path + ".spans.jsonl", "w") as f:
        for s in tracer.spans:
            f.write(json.dumps({"name": s["name"], "parent": s["parent"],
                                "start_s": round(s["start"] - t0, 6),
                                "end_s": round(s["end"] - t0, 6),
                                "counts": tracer.counts.get(s["label"], {})}) + "\n")
    rows = {}
    for name, value in metrics.items():
        layer, _, field = name.rpartition(".")
        rows.setdefault(layer, []).append(f"{field}={value:.6g} {units[name]}")
    with open(path + ".layers.txt", "w") as f:
        for layer, fields in rows.items():
            f.write(f"{layer:26s} " + "  ".join(fields) + "\n")
