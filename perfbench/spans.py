"""Spans, job attribution and Spark's own counters for the traced run.

A span is recorded in memory around each call the benchmark makes into
a layer of the engine. Each span runs its Spark jobs in its own job
group, so Spark's event log (``spark.eventLog.enabled``) attributes
every job, stage, task and SQL metric to the span that fired it.
Streaming micro-batches run in the query's own job group (its run id);
``alias`` maps that group to the span that started the query.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

JOB_GROUP = "spark.jobGroup.id"


class NullTracer:
    """Tracing off: spans cost nothing and record nothing."""

    enabled = False

    def span(self, name: str, layer: str, trace: str | None = None):
        return contextlib.nullcontext()

    def alias(self, group: str) -> None:
        pass

    def phases(self, df, parent: dict | None = None) -> None:
        pass


class Tracer:
    """Spans kept in memory: name, layer, start, end, parent and trace id
    (workload/seed/operation); written out once the run ends."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.groups: dict[str, str] = {}  # job group -> span id
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": str(len(self.spans)),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else name),
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        group = f"perfbench-{rec['id']}"
        self.groups[group] = rec["id"]
        prev = self.sc.getLocalProperty(JOB_GROUP)
        self.sc.setLocalProperty(JOB_GROUP, group)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP, prev)

    def alias(self, group: str) -> None:
        """Attribute jobs of ``group`` (a streaming run id) to the
        innermost open span."""
        self.groups[group] = self._stack[-1]["id"]

    def phases(self, df, parent: dict | None = None) -> None:
        """Add Catalyst's planning phases of ``df`` (analysis,
        optimization, physical planning) as child spans of the span
        whose interval holds each phase."""
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            start = kv._2().startTimeMs() / 1000.0
            end = kv._2().endTimeMs() / 1000.0
            host = parent or self._host(start, end)
            self.spans.append({
                "id": str(len(self.spans)),
                "name": f"plan.{kv._1()}",
                "layer": "plans",
                "parent": host["id"] if host else None,
                "trace": host["trace"] if host else "plans",
                "start": start,
                "end": end,
            })

    def _host(self, start: float, end: float) -> dict | None:
        # the innermost (latest-opened) closed span that contains the
        # interval; millisecond timestamps get a millisecond of slack
        best = None
        for s in self.spans:
            if (s["end"] is not None and s["layer"] != "plans"
                    and s["start"] - 0.001 <= start and end <= s["end"] + 0.001):
                best = s
        return best

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """All events of one application's event log (written unrolled and
    uncompressed, see ``env.spark_conf``)."""
    with open(os.path.join(log_dir, app_id)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _is_python(node_name: str) -> bool:
    # stateful operators carry the Python metrics too (all zero), so a
    # Python node is known by its name: ArrowEvalPython, MapInPandas,
    # FlatMapGroupsInPandasWithState, MapInArrow, ...
    return any(k in node_name for k in ("Python", "Pandas", "InArrow"))


# task accumulators summed into each span's counters, by SQL metric name
PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_total_ms",
}


def job_counters(events: list[dict], groups: dict[str, str]) -> dict[str, dict]:
    """Work counters per span id, from the event log: jobs, job wall
    time, stages, tasks, task run/CPU/GC time, scan/shuffle/spill bytes,
    the Python runner's SQL metrics, and Exchange and Python nodes in each
    SQL execution's final plan. Jobs outside ``groups`` are ignored."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_span: dict[int, str] = {}
    job_span: dict[int, str] = {}
    job_start: dict[int, int] = {}
    acc_total: dict[int, int] = defaultdict(int)
    plans: dict[int, tuple[str, dict]] = {}  # execution id -> (span, final plan)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            span = groups.get((e.get("Properties") or {}).get(JOB_GROUP))
            if span is None:
                continue
            job_span[e["Job ID"]] = span
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_span[sid] = span
            out[span]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            out[job_span[e["Job ID"]]]["job_s"] += (
                e["Completion Time"] - job_start[e["Job ID"]]
            ) / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_span:
                out[stage_span[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_span:
            c = out[stage_span[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            c["tasks"] += 1
            c["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            c["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                update = int(acc.get("Update") or 0)
                acc_total[acc.get("ID")] += update
                if acc.get("Name") in PYTHON_METRICS:
                    c[PYTHON_METRICS[acc["Name"]]] += update
        elif kind.endswith("SQLExecutionStart"):
            span = groups.get(e.get("jobGroupId"))
            if span is not None:
                plans[e["executionId"]] = (span, e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate") and e["executionId"] in plans:
            plans[e["executionId"]] = (plans[e["executionId"]][0], e["sparkPlanInfo"])
    for span, plan in plans.values():
        c = out[span]
        for node in _plan_nodes(plan):
            if node.get("nodeName") == "Exchange":
                c["exchanges"] += 1
            if _is_python(node.get("nodeName", "")):
                c["python_nodes"] += 1
                rows = [m["accumulatorId"] for m in node.get("metrics", [])
                        if m["name"] == "number of output rows"]
                c["python_rows_received"] += sum(acc_total[i] for i in rows)
    return {k: dict(v) for k, v in out.items()}
