"""Tracing from outside ``dq/``: spans, a timing ``AuditStore`` and Spark's
own event log.

- Spans are recorded by the benchmark around the public calls it makes
  (name, start, end, parent), kept in memory and written at the end.
- ``TimedAuditStore`` spans every store call and tags the Spark jobs it
  starts, so event-log stages are attributed to the audit table written.
- The event log (``spark.eventLog.enabled``, uncompressed, one file) gives
  per-task executor metrics and the SQL metrics of every plan node.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from dq.audit import AuditStore

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory spans. ``spark`` is set when Spark jobs are to be tagged
    with the innermost span's path (traced runs only)."""

    def __init__(self, t0: float, spark=None):
        self.t0 = t0
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name,
               "path": f"{parent['path']}/{name}" if parent else name,
               "parent": parent["path"] if parent else None}
        self._stack.append(rec)
        self._tag(rec["path"])
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._tag(self._stack[-1]["path"] if self._stack else None)
            self.spans.append(rec)

    def _tag(self, path):
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, path)

    def children(self, path: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == path]


class TimedAuditStore(AuditStore):
    """Path-mode store whose calls are spans ``store.<op>.<table>``."""

    def __init__(self, base_path: str, tracer: Tracer):
        super().__init__(base_path)
        self.tracer = tracer

    def append(self, table, df):
        with self.tracer.span(f"store.append.{table}"):
            super().append(table, df)

    def overwrite_partitions(self, table, df, keys=None):
        with self.tracer.span(f"store.overwrite.{table}"):
            super().overwrite_partitions(table, df, keys)

    def read(self, spark, table):
        with self.tracer.span(f"store.read.{table}"):
            return super().read(spark, table)


# ------------------------------------------------------------ event log

def load_event_log(log_dir: str) -> list[dict]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    with open(files[0], encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def _plan_nodes(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = {
            "node": info["nodeName"].strip(),
            "detail": info.get("simpleString", ""),
            "location": info.get("metadata", {}).get("Location", ""),
            "metric": m["name"], "type": m["metricType"]}
    for child in info.get("children", []):
        _plan_nodes(child, out)


def _under(span: str | None, prefix: str) -> bool:
    return bool(span) and (span == prefix or span.startswith(prefix + "/"))


class EventLog:
    """Index of one application's event log by span path."""

    def __init__(self, events: list[dict]):
        self.job_span: dict[int, str] = {}
        self.stage_span: dict[int, str] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.accs: dict[int, dict] = {}          # accumulator -> plan node
        exec_span: dict[int, str] = {}
        driver_updates: list[tuple[int, list]] = []
        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties", {})
                span = props.get(SPAN_PROPERTY)
                self.job_span[e["Job ID"]] = span
                for sid in e["Stage IDs"]:      # the first job to list a
                    self.stage_span.setdefault(sid, span)  # stage runs it
                eid = props.get("spark.sql.execution.id")
                if eid is not None and span:
                    exec_span.setdefault(int(eid), span)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = info
            elif kind == "SparkListenerTaskEnd":
                if e["Task End Reason"]["Reason"] == "Success":
                    self.tasks.setdefault(e["Stage ID"], []).append(e)
            elif kind in ("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_nodes(e["sparkPlanInfo"], self.accs)
            elif kind == "SparkListenerDriverAccumUpdates":
                driver_updates.append((e["executionId"], e["accumUpdates"]))
        # SQL metric totals per span: task updates + driver-side updates
        self.acc_values: dict[str, dict[int, float]] = {}

        def add(span, aid, v):
            if aid in self.accs:
                vals = self.acc_values.setdefault(span, {})
                vals[aid] = vals.get(aid, 0) + float(v)
        for sid, tasks in self.tasks.items():
            for t in tasks:
                for acc in t["Task Info"].get("Accumulables", []):
                    if "Update" in acc:
                        add(self.stage_span.get(sid), acc["ID"],
                            acc["Update"])
        for eid, updates in driver_updates:
            for aid, v in updates:
                add(exec_span.get(eid), aid, v)

    def stage_ids(self, prefix: str) -> list[int]:
        return sorted(sid for sid, s in self.stage_span.items()
                      if _under(s, prefix) and sid in self.stages)

    def spark_jobs(self, prefix: str) -> int:
        return sum(1 for s in self.job_span.values() if _under(s, prefix))

    def _node_values(self, prefix: str):
        for span, vals in self.acc_values.items():
            if _under(span, prefix):
                for aid, v in vals.items():
                    yield self.accs[aid], v

    def node_metric(self, prefix: str, pred, metric: str) -> float:
        """Sum of ``metric`` over the plan nodes matching ``pred`` in the
        Spark jobs started under span ``prefix``."""
        return sum(v for a, v in self._node_values(prefix)
                   if a["metric"] == metric and pred(a))

    def task_sum(self, prefix: str, fn) -> float:
        """Sum of ``fn(task metrics)`` over the tasks under ``prefix``."""
        return float(sum(fn(t["Task Metrics"] or {})
                         for sid in self.stage_ids(prefix)
                         for t in self.tasks.get(sid, [])))

    def stage_summary(self, prefix: str) -> list[dict]:
        out = []
        for sid in self.stage_ids(prefix):
            tasks = self.tasks.get(sid, [])
            durs = [t["Task Info"]["Finish Time"]
                    - t["Task Info"]["Launch Time"] for t in tasks]
            ms = [t["Task Metrics"] or {} for t in tasks]
            info = self.stages[sid]
            out.append({
                "stage": sid, "span": self.stage_span[sid],
                "name": info["Stage Name"], "tasks": len(tasks),
                "wall_ms": info.get("Completion Time", 0)
                - info.get("Submission Time", 0),
                "run_ms": sum(m.get("Executor Run Time", 0) for m in ms),
                "cpu_ms": round(sum(m.get("Executor CPU Time", 0)
                                    for m in ms) / 1e6, 1),
                "gc_ms": sum(m.get("JVM GC Time", 0) for m in ms),
                "shuffle_read_bytes": sum(
                    m.get("Shuffle Read Metrics", {}).get(
                        "Local Bytes Read", 0)
                    + m.get("Shuffle Read Metrics", {}).get(
                        "Remote Bytes Read", 0) for m in ms),
                "shuffle_read_records": sum(
                    m.get("Shuffle Read Metrics", {}).get(
                        "Total Records Read", 0) for m in ms),
                "shuffle_write_bytes": sum(
                    m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0) for m in ms),
                "spill_disk_bytes": sum(m.get("Disk Bytes Spilled", 0)
                                        for m in ms),
                "task_max_ms": max(durs, default=0),
                "task_median_ms": statistics.median(durs) if durs else 0,
            })
        return out

    def sql_summary(self, prefix: str) -> list[dict]:
        """Per (node, detail, metric) totals of the named plan nodes."""
        rows: dict = {}
        for a, v in self._node_values(prefix):
            if v and a["node"] in _NODES_OF_INTEREST:
                detail = a["detail"].split(", Location:")[0][:160]
                key = (a["node"], detail, a["metric"])
                rows[key] = rows.get(key, 0) + v
        return [{"node": n, "detail": d, "metric": m, "value": v}
                for (n, d, m), v in sorted(rows.items())]


_NODES_OF_INTEREST = {
    "ArrowEvalPython", "Exchange", "Sort", "SortAggregate", "Scan parquet",
    "InMemoryTableScan", "Execute InsertIntoHadoopFsRelationCommand"}


def self_time(tracer: Tracer, span: dict) -> float:
    """Span duration minus the part its children cover (children of one
    span never overlap: the benchmark is single-threaded)."""
    kids = tracer.children(span["path"])
    return (span["end"] - span["start"]) - sum(k["end"] - k["start"]
                                               for k in kids)


# ------------------------------------------------------------ layers

def _arrow(a):
    return a["node"] == "ArrowEvalPython"


def _scrub(a):
    return _arrow(a) and "scrub_udf" in a["detail"]


def _score(a):
    return _arrow(a) and "scrub_udf" not in a["detail"]


def _keeper_exchange(a):
    return a["node"] == "Exchange" and "text_sig" in a["detail"]


def _keeper_sort(a):
    return a["node"] == "Sort" and "text_sig" in a["detail"]


def job_layers(ev: EventLog, tracer: Tracer, job: dict, layout: dict,
               facts: dict, inputs_dir: str, tables, pipeline: bool) -> dict:
    """Per-layer metrics of one job span (see perfbench/README.md)."""
    path = job["path"]

    def scan(a):
        return a["node"].startswith("Scan parquet") \
            and inputs_dir in a["location"]

    store_spans = [s for s in tracer.children(path)
                   if s["name"].startswith("store.")]

    def store_s(*names):
        return sum(s["end"] - s["start"] for s in store_spans
                   if s["name"] in names)

    m = {
        "python.boot_ms": ev.node_metric(
            path, _arrow, "time to start Python workers"),
        "python.init_ms": ev.node_metric(
            path, _arrow, "time to initialize Python workers"),
        "scan.rows": ev.node_metric(path, scan, "number of output rows"),
        "scan.bytes": ev.node_metric(path, scan, "size of files read"),
        "scan.time_ms": ev.node_metric(path, scan, "scan time"),
        "score.python_ms": ev.node_metric(
            path, _score, "time to run Python workers"),
        "score.bytes_to_python": ev.node_metric(
            path, _score, "data sent to Python workers"),
        "score.bytes_from_python": ev.node_metric(
            path, _score, "data returned from Python workers"),
        # Spark times a Python node until its input iterator is drained,
        # so the scrub node (above the scoring node in the same stage)
        # includes the scoring node's time: report its own share
        "scrub.python_ms": max(0.0, ev.node_metric(
            path, _scrub, "time to run Python workers") - ev.node_metric(
            path, _score, "time to run Python workers")),
        "scrub.rows_in": ev.node_metric(path, _scrub, "number of output rows"),
        "keeper.shuffle_bytes": ev.node_metric(
            path, _keeper_exchange, "shuffle bytes written"),
        "keeper.shuffle_records": ev.node_metric(
            path, _keeper_exchange, "shuffle records written"),
        "keeper.sort_ms": ev.node_metric(path, _keeper_sort, "sort time"),
        "engine.gc_ms": ev.task_sum(path, lambda t: t.get("JVM GC Time", 0)),
        "engine.spill_bytes": ev.task_sum(
            path, lambda t: t.get("Disk Bytes Spilled", 0)),
        "engine.cpu_s": ev.task_sum(
            path, lambda t: t.get("Executor CPU Time", 0)) / 1e9,
        "checkpoint.read_s": store_s("store.read.checkpoint",
                                     "store.read.checkpoint_tables"),
        "checkpoint.mark_done_s": store_s(
            "store.append.checkpoint", "store.overwrite.checkpoint_tables"),
        "checkpoint.partitions_skipped": facts.get("partitions_skipped", 0),
        "checks_job.spark_jobs": 0,
        "pipeline.score_self_s": 0.0,
    }
    m["scrub.changed_share"] = (facts.get("scrub_changed", 0)
                                / m["scrub.rows_in"]
                                if m["scrub.rows_in"] else 0.0)
    # the map side of the keeper exchange: AQE usually coalesces its
    # small reduce side into one task, which has no imbalance to show
    keeper_map = [s for s in ev.stage_summary(path)
                  if m["keeper.shuffle_bytes"]
                  and s["shuffle_write_bytes"] == m["keeper.shuffle_bytes"]]
    m["keeper.task_max_over_median"] = (
        keeper_map[0]["task_max_ms"] / max(keeper_map[0]["task_median_ms"], 1)
        if keeper_map else 0.0)
    if pipeline:
        m["pipeline.score_self_s"] = self_time(tracer, job)
    else:
        m["checks_job.spark_jobs"] = ev.spark_jobs(path)
    for t in tables:
        m[f"audit.write_s.{t}"] = store_s(f"store.overwrite.{t}",
                                          f"store.append.{t}")
        m[f"audit.bytes.{t}"] = layout.get(t, {}).get("bytes", 0)
        m[f"audit.files.{t}"] = layout.get(t, {}).get("files", 0)
    return m
