"""Spans around the benchmark's calls into each layer, and the Spark event
log parsed into per-span stage metrics.

A span is ``(id, name, parent, start, end)`` in ``time.perf_counter``
seconds, kept in memory and written out as JSON when the run ends. While a
span is open, every Spark job it starts carries the span's name as the
local property ``perfbench.span``, which the event log records on each job
start; that is how task metrics are attributed to spans afterwards.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"

# SQL metrics of the Python UDF runners (Spark 4.1 PythonSQLMetrics).
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_received",
}


class Spans:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]]["name"] if self._stack else None
                sc.setLocalProperty(SPAN_PROPERTY, parent)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _metric_names(plan: dict, names: dict) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _metric_names(child, names)


def parse_event_log(path: str) -> dict[str, dict]:
    """Per-span totals of task metrics, Python SQL metrics, parquet bytes
    scanned and the number of SQL executions that ran a Python stage.

    ``files_read_bytes`` is the scans' "size of files read" SQL metric. The
    task input metric (Bytes Read) misses the column chunks that parquet
    fetches with vectored reads on other threads, so it is not used."""
    stage_span: dict[int, str] = {}
    stage_exec: dict[int, str] = {}
    exec_span: dict[str, str] = {}
    metric_names: dict[int, str] = {}
    driver_updates: list[tuple[str, int, float]] = []
    totals: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    py_execs: dict[str, set] = defaultdict(set)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                execution = props.get("spark.sql.execution.id")
                if execution is not None and span is not None:
                    exec_span[execution] = span
                for sid in e.get("Stage IDs", []):
                    stage_span[sid] = span
                    stage_exec[sid] = execution
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _metric_names(e.get("sparkPlanInfo") or {}, metric_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in e.get("accumUpdates", []):
                    driver_updates.append((str(e.get("executionId")), acc_id, float(value)))
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(e.get("Stage ID"))
                if span is None:
                    continue
                t = totals[span]
                m = e.get("Task Metrics") or {}
                t["tasks"] += 1
                t["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
                t["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                t["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key and "Update" in acc:
                        t[key] += float(acc["Update"])
                        py_execs[span].add(stage_exec.get(e["Stage ID"]))
    for execution, acc_id, value in driver_updates:
        span = exec_span.get(execution)
        if span is not None and metric_names.get(acc_id) == "size of files read":
            totals[span]["files_read_bytes"] += value
    out = {span: dict(v) for span, v in totals.items()}
    for span, execs in py_execs.items():
        out[span]["py_executions"] = len(execs)
    return out


def top_functions(pstats_dir: str, n: int = 5) -> list[dict]:
    """The ``n`` functions with the most own time in the UDF perf profiles
    that ``spark.profile.dump`` wrote."""
    import glob
    import pstats

    files = sorted(glob.glob(f"{pstats_dir}/*.pstats"))
    if not files:
        return []
    st = pstats.Stats(*files)
    rows = sorted(st.stats.items(), key=lambda kv: -kv[1][2])[:n]
    return [{"function": f"{fn[0]}:{fn[1]}({fn[2]})", "calls": v[1],
             "tottime_s": round(v[2], 4), "cumtime_s": round(v[3], 4)} for fn, v in rows]
