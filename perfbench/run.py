"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_operators --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[<cores>]`` and prints, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of one
traced pass with ``--trace 1``. The line before it gives the run's
context (cores, scale factor, sample counts, per-workload figures).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch_operators", "stream_replay"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="not used: a run times one pass of cold operations, which "
                         "takes longer than 10 s (see perfbench/README.md)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


@contextlib.contextmanager
def traced_load_table(tracer):
    """Route the registry's ``catalog.load_table`` calls through a
    catalog span while the block runs."""
    import flink_examples_spark.queries as queries

    original = queries.load_table

    @functools.wraps(original)
    def load_table(spark, name, *args, **kwargs):
        with tracer.span(f"load_table.{name}", "catalog"):
            return original(spark, name, *args, **kwargs)

    queries.load_table = load_table
    try:
        yield
    finally:
        queries.load_table = original


@dataclass
class SetUp:
    """One JVM's set-up: everything before its first timed operation."""

    boot_s: float  # session.get_spark, the JVM launch included
    stage_s: float  # inputs written as parquet and registered through load_table

    @property
    def total_s(self) -> float:
        return self.boot_s + self.stage_s


@dataclass
class Timed:
    """What one JVM's timed pass measured."""

    p: object  # workloads.Pass
    rss_mb: float
    app_id: str
    cores: int
    tracer: object


def set_up(w, conf: dict, n_cores: int, directory: str):
    """Launch a JVM and its session, and stage and register the inputs;
    return the session and the time of each step."""
    import env

    t0 = time.perf_counter()
    spark = env.start_session(conf, n_cores)
    t1 = time.perf_counter()
    try:
        w.stage(spark, directory)
    except BaseException:
        env.shutdown(spark)
        raise
    return spark, SetUp(t1 - t0, time.perf_counter() - t1)


def run_timed(w, spark, tracer) -> Timed:
    """One timed pass, every operation in it the first of its kind in
    the JVM."""
    import env

    with traced_load_table(tracer) if tracer.enabled else contextlib.nullcontext():
        p = w.run_pass(spark, tracer)
    sc = spark.sparkContext
    return Timed(p, env.peak_rss_mb(env.jvm_process(spark)), sc.applicationId,
                 sc.defaultParallelism, tracer)


def detail_line(args, w, setup: SetUp, t: Timed, checks) -> dict:
    """The run's context and the per-workload figures behind the metrics."""
    import stats

    p = t.p
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": w.sf,
        "cores": t.cores,
        "boot_s": setup.boot_s,
        "stage_s": setup.stage_s,
        "ops_timed": len(p.op_s),
        "failed_frac": checks.failed / checks.attempted,
    }
    tail = stats.tail_percentile(len(p.op_s))
    if tail is not None:
        detail[f"op_p{tail}_s"] = stats.percentile(p.op_s, tail)
    if args.workload == "batch_operators":
        detail["query_p50_s"] = stats.median(p.op_s)
        detail["queries_per_s"] = len(p.op_s) / p.wall_s
    else:
        detail["monitor_read_p50_s"] = stats.median(p.read_s)
        for q in ("window", "state", "ingest"):
            detail[f"{q}_trigger_p50_s"] = stats.median(p.trigger_s[q])
            detail[f"{q}_rows_per_s"] = w.input_rows(q) / p.stream_s[q]
    return detail


def execute(args: argparse.Namespace) -> tuple[dict, dict, object]:
    """Set up a new JVM, time one pass, then compute the reference
    results and check the pass. A traced run then does the same in a
    second JVM with tracing on (reusing the reference results), so the
    traced and the untraced pass follow the same history: a set-up and
    nothing else."""
    import env
    import layers
    from spans import NullTracer, Tracer, job_counters, read_event_log
    from workloads import WORKLOADS, Checks

    n_cores = env.cores()
    run_dir = env.make_run_dir(f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    w = WORKLOADS[args.workload](args.seed)
    checks = Checks()
    w.make_inputs()
    setups, timed = {}, {}
    for role in ("plain", "traced") if args.trace else ("plain",):
        tracing = role == "traced"
        spark, s = set_up(w, env.spark_conf(run_dir, event_log=tracing), n_cores,
                          os.path.join(run_dir, f"input-{role}"))
        setups[role] = s
        log(f"{role} set-up: boot {s.boot_s:.2f} s, staging {s.stage_s:.2f} s")
        try:
            t = timed[role] = run_timed(w, spark, Tracer(spark.sparkContext) if tracing else NullTracer())
            if not tracing:
                w.expect(spark, checks)
            w.check_pass(t.tracer, t.p, checks)
            log(f"{role} pass {t.p.wall_s:.2f} s")
        finally:
            env.shutdown(spark)
    plain = timed["plain"]
    detail = detail_line(args, w, setups["plain"], plain, checks)
    if not args.trace:
        shutil.rmtree(run_dir, ignore_errors=True)
        metrics = {
            "setup_s": (setups["plain"].total_s, "s"),
            "peak_rss_mb": (plain.rss_mb, "MB"),
            "op_gmean_ms": (w.op_latency_s(plain.p) * 1000.0, "ms"),
            "pass_s": (plain.p.wall_s, "s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail, checks

    traced = timed["traced"]
    tracer = traced.tracer
    events = read_event_log(os.path.join(run_dir, "eventlog"), traced.app_id)
    per_layer = layers.compute(
        tracer.spans,
        job_counters(events, tracer.groups),
        traced.p,
        plain.p,
        {
            "session.boot_s": setups["traced"].boot_s,
            "session.stage_s": setups["traced"].stage_s,
            "session.cores": traced.cores,
        },
    )
    for sub in os.listdir(run_dir):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    tracer.write(os.path.join(run_dir, "spans.jsonl"))
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({
            "detail": detail,
            "metrics": per_layer,
            "self_s_by_operation": layers.self_by_operation(tracer.spans),
        }, f, indent=1)
    detail["trace_dir"] = os.path.relpath(run_dir, ROOT)
    return (
        {k: {"value": v, "unit": layers.PER_LAYER[k]} for k, v in per_layer.items()},
        detail,
        checks,
    )


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_examples_spark")):
        print(f"error: no flink_examples_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    metrics, detail, checks = execute(args)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
