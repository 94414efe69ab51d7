"""Per-layer metrics of one traced pass.

Layers are named after the engine's modules: ``session``, ``catalog``,
``queries`` (the build phase: the jobs ``spark_fn`` fires before its
result is collected), ``plans`` (Catalyst's analysis, optimization and
physical planning), execution (jobs, stages and tasks), the
``operators/util`` Python runner, ``streaming`` and ``streaming/sinks``.
A layer a workload does not touch reports zero.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import stats

STREAM_FIELDS = (
    ("triggers", "count"),
    ("trigger_p50_ms", "ms"),
    ("add_batch_ms", "ms"),
    ("planning_ms", "ms"),
    ("offsets_ms", "ms"),
    ("commit_ms", "ms"),
    ("state_rows", "rows"),
    ("state_bytes", "bytes"),
    ("state_commit_ms", "ms"),
    ("dropped_by_watermark", "rows"),
)
SELF_LAYERS = ("bench", "catalog", "queries", "plans", "execution", "streaming", "sinks")

PER_LAYER: dict[str, str] = {
    "session.boot_s": "s",
    "session.stage_s": "s",
    "session.cores": "count",
    "catalog.calls": "count",
    "catalog.jobs": "count",
    "catalog.job_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "pin.count": "count",
    "pin.bytes": "bytes",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "plan.exchanges": "count",
    "plan.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_frac": "ratio",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.scan_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "rows",
    **{
        f"stream.{q}.{name}": unit
        for q in ("window", "state", "ingest")
        for name, unit in STREAM_FIELDS
    },
    "sink.ingest_s": "s",
    "sink.compact_s": "s",
    "sink.read_s": "s",
    "sink.partials_files": "count",
    "sink.partials_bytes": "bytes",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.spans": "count",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Counters of one streaming query from its ``recentProgress``."""
    def dur(p, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for k in keys)

    ops = [p.get("stateOperators") or [] for p in progress]
    last = ops[-1] if ops else []
    return {
        "triggers": len(progress),
        "trigger_p50_ms": statistics.median(dur(p, "triggerExecution") for p in progress) if progress else 0.0,
        "add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "planning_ms": sum(dur(p, "queryPlanning") for p in progress),
        "offsets_ms": sum(dur(p, "latestOffset", "getBatch", "walCommit") for p in progress),
        "commit_ms": sum(dur(p, "commitOffsets") for p in progress),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in last),
        "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in last),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for so in ops for o in so),
        "dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for so in ops for o in so),
    }


def compute(spans: list[dict], counters: dict[str, dict], traced, untraced,
            session: dict[str, float]) -> dict[str, float]:
    """Every ``PER_LAYER`` metric for one traced pass (``traced``), with
    ``untraced`` the same pass run with tracing off."""
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: s["end"] - s["start"] for s in spans}

    def spans_of(layer=None, name=None):
        return [s for s in spans if (layer is None or s["layer"] == layer)
                and (name is None or s["name"] == name)]

    def count(key, layer=None):
        return sum(c.get(key, 0) for sid, c in counters.items()
                   if layer is None or by_id[sid]["layer"] == layer)

    m: dict[str, float] = dict(session)
    m["catalog.calls"] = len(spans_of("catalog"))
    m["catalog.jobs"] = count("jobs", "catalog")
    m["catalog.job_s"] = count("job_s", "catalog")
    m["build.s"] = sum(dur[s["id"]] for s in spans_of("queries"))
    m["build.jobs"] = count("jobs", "queries")
    m["pin.count"] = sum(n for n, _ in traced.pins)
    m["pin.bytes"] = sum(b for _, b in traced.pins)
    for phase in ("analysis", "optimization", "planning"):
        m[f"plan.{phase}_s"] = sum(dur[s["id"]] for s in spans_of("plans", f"plan.{phase}"))
    m["plan.exchanges"] = count("exchanges")
    m["plan.python_nodes"] = count("python_nodes")
    m["exec.s"] = count("job_s")
    m["exec.jobs"] = count("jobs")
    m["exec.stages"] = count("stages")
    m["exec.tasks"] = count("tasks")
    m["exec.core_busy_frac"] = (
        count("task_run_s") / (m["exec.s"] * session["session.cores"]) if m["exec.s"] else 0.0
    )
    for key in ("task_run_s", "task_cpu_s", "gc_s", "scan_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{key}"] = count(key)
    m["python.total_s"] = count("python_total_ms") / 1000.0
    m["python.boot_s"] = count("python_boot_ms") / 1000.0
    m["python.init_s"] = count("python_init_ms") / 1000.0
    m["python.bytes_sent"] = count("python_bytes_sent")
    m["python.bytes_received"] = count("python_bytes_received")
    m["python.rows_received"] = count("python_rows_received")
    for q in ("window", "state", "ingest"):
        sm = stream_metrics(traced.progress.get(q, []))
        for name, _ in STREAM_FIELDS:
            m[f"stream.{q}.{name}"] = sm[name]
    for name in ("ingest", "compact", "read"):
        m[f"sink.{name}_s"] = sum(dur[s["id"]] for s in spans_of("sinks", name))
    m["sink.partials_files"], m["sink.partials_bytes"] = traced.partials
    own = stats.self_times(spans)
    per_layer = defaultdict(float)
    for s in spans:
        per_layer[s["layer"]] += own[s["id"]]
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = per_layer[layer]
    m["trace.spans"] = len(spans)
    m["trace.pass_s"] = traced.wall_s
    m["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    missing = set(PER_LAYER) - set(m)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: m[k] for k in PER_LAYER}


def self_by_operation(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Self time per layer for each operation (trace id)."""
    own = stats.self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        out[s["trace"]][s["layer"]] += own[s["id"]]
    return {t: dict(v) for t, v in out.items()}
