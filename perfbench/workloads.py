"""The benchmark's workloads.

Both drive the engine from one Python thread in a closed loop: the next
query or micro-batch starts only after the previous one completed. Each
workload makes its inputs from the seed, stages them as parquet, and
runs one pass over them in a new JVM; the pass times every operation,
each the first of its kind in the JVM, and checks every result outside
the timers.

``batch_operators`` runs the Python-free Flink-examples operator queries
in a seed-shuffled order; each result is checked against the query's
DuckDB oracle. ``stream_replay`` replays staged ``events`` and
``documents`` chunks through three streaming queries; each stream's
output must equal its registered batch twin exactly.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

import check
import datagen
import env
import stats

BATCH_OPERATORS = (
    "hot_items_sliding_topn pricing_summary tumbling_hourly_stats "
    "session_windows count_windows count_distinct_daily max_by_event "
    "regional_revenue top_unshipped_orders colocated_nation_revenue "
    "interval_join_click_purchase window_join_hourly purchase_click_match "
    "customers_without_orders wordcount wordcount_side_output "
    "fraud_small_then_large pattern_pair_broadcast json_props_ip_buckets "
    "evictor_trailing_stats skew_salted_event_stats skew_salted_order_join "
    "orders_as_of_snapshot asof_join_last_click event_funnel_conversion "
    "user_retention_cohorts late_order_priority_counts "
    "series_pattern_scan_ramp session_path_transitions "
    "capped_session_windows revenue_rollup_region_nation_year "
    "revenue_grouping_sets_status_priority_year events_type_pivot_daily "
    "events_type_unpivot_long"
).split()

STREAMS = ("window", "state", "ingest")
STREAM_TIMEOUT_S = 120


@dataclass
class Checks:
    """Operations attempted and failed (raised, or gave a wrong result)."""

    attempted: int = 0
    failed: int = 0

    def record(self, what: str, reason: str | None) -> None:
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            print(f"FAILED {what}: {reason}", file=sys.stderr)


@dataclass
class Op:
    """One completed operation: its time, the DataFrame whose rows it
    collected, the rows, and (streams) the query's progress reports."""

    elapsed: float
    df: object
    rows: list
    progress: list[dict] = field(default_factory=list)


def attempt(fn: Callable[[], Op]) -> Op | str:
    """Run one operation; a failure is returned as its traceback, so one
    failed operation never ends the run."""
    try:
        return fn()
    except Exception:  # recorded as a failed operation by the caller
        return traceback.format_exc()


@dataclass
class Pass:
    """One pass: its wall time (the sum of its operations' times), the
    latencies of its operations (a query; a stream's micro-batches), and
    per-stream details."""

    wall_s: float = 0.0
    op_s: list[float] = field(default_factory=list)
    trigger_s: dict[str, list[float]] = field(default_factory=dict)  # per stream
    read_s: list[float] = field(default_factory=list)  # monitor reads
    stream_s: dict[str, float] = field(default_factory=dict)
    progress: dict[str, list[dict]] = field(default_factory=dict)
    pins: list[tuple[int, int]] = field(default_factory=list)
    partials: tuple[int, int] = (0, 0)  # ingest partials: files, bytes
    done: list[tuple[str, Op | str]] = field(default_factory=list)  # operations, unchecked


class Workload:
    name = ""
    sf = 0.0
    tables: tuple[str, ...] = ()

    def __init__(self, seed: int):
        self.seed = seed
        self.data_dir = ""

    def make_inputs(self) -> None:
        raise NotImplementedError

    def stage(self, spark, directory: str) -> None:
        """Write the inputs under ``directory`` and register them."""
        raise NotImplementedError

    def expect(self, spark, checks: Checks) -> None:
        """Compute the reference results the passes are checked against."""
        raise NotImplementedError

    def operations(self, spark, tracer, p: Pass) -> list[tuple[str, Callable[[], Op]]]:
        """The pass's operations, in the order the pass runs them."""
        raise NotImplementedError

    def finish(self, tracer, p: Pass, name: str, op: Op) -> str | None:
        """Account one operation in the pass; None if its result is
        right, else the reason it is wrong."""
        raise NotImplementedError

    def op_latency_s(self, p: Pass) -> float:
        """The typical latency of one operation in the pass."""
        raise NotImplementedError

    def run_pass(self, spark, tracer) -> Pass:
        """Run every operation once, one after another, and time each;
        ``check_pass`` checks the results."""
        p = Pass()
        for name, fn in self.operations(spark, tracer, p):
            p.done.append((name, attempt(fn)))
            self._end_op(spark, tracer, p)
        return p

    def check_pass(self, tracer, p: Pass, checks: Checks) -> None:
        """Account every operation of the pass and check its result
        against the reference results of ``expect``."""
        for name, op in p.done:
            checks.record(name, op if isinstance(op, str) else self.finish(tracer, p, name, op))

    def _register(self, spark) -> None:
        """Register every input table through ``catalog.load_table``,
        which infers its schema."""
        from flink_examples_spark.catalog import load_table

        for t in self.tables:
            load_table(spark, t, self.data_dir)

    @staticmethod
    def _end_op(spark, tracer, p: Pass) -> None:
        if tracer.enabled:
            p.pins.append(env.pinned(spark))
        env.release(spark)


class BatchOperators(Workload):
    name = "batch_operators"
    sf = 0.01
    tables = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents")

    def make_inputs(self) -> None:
        self.inputs = datagen.make_tables(self.seed, self.sf)

    def stage(self, spark, directory: str) -> None:
        self.data_dir = datagen.stage_tables(self.inputs, directory, list(self.tables))
        self._register(spark)

    def expect(self, spark, checks: Checks) -> None:
        from flink_examples_spark.queries import registry

        reg = registry()
        oracle = check.Oracle(self.data_dir, self.tables)
        try:
            self.expected = {q: oracle.query(reg[q].oracle) for q in BATCH_OPERATORS}
        finally:
            oracle.close()

    def operations(self, spark, tracer, p: Pass):
        from flink_examples_spark.queries import registry

        fns = {q: registry()[q].spark_fn for q in BATCH_OPERATORS}
        order = list(BATCH_OPERATORS)
        random.Random(self.seed).shuffle(order)

        def query(q: str) -> Op:
            with tracer.span(q, "bench", trace=f"{self.name}/{self.seed}/{q}"):
                t0 = time.perf_counter()
                with tracer.span("spark_fn", "queries"):
                    df = fns[q](spark, self.data_dir)
                with tracer.span("collect", "execution"):
                    rows = df.collect()
                return Op(time.perf_counter() - t0, df, rows)

        return [(q, lambda q=q: query(q)) for q in order]

    def finish(self, tracer, p: Pass, name: str, op: Op) -> str | None:
        p.op_s.append(op.elapsed)
        p.wall_s += op.elapsed
        tracer.phases(op.df)
        return check.compare(op.df.columns, op.rows, *self.expected[name])

    def op_latency_s(self, p: Pass) -> float:
        """Geometric mean of the query latencies. The median of one cold
        pass is the one query that lands in the middle of the seed's
        order, so it jumps from seed to seed; the mean of the logs
        averages all 34."""
        return stats.geomean(p.op_s)


class StreamReplay(Workload):
    name = "stream_replay"
    sf = 0.01
    tables = ("events", "documents")
    chunks = 6
    compact_every = 2

    def make_inputs(self) -> None:
        t = datagen.make_tables(self.seed, self.sf)
        self.inputs = {k: t[k] for k in self.tables}
        # chunk boundaries: equal shares, each moved by up to a quarter
        # of a share, so chunk sizes vary with the seed but none is empty
        rng = np.random.default_rng([self.seed, 1])
        share = np.arange(1, self.chunks) + rng.uniform(-0.25, 0.25, self.chunks - 1)
        self.cuts = {k: (share * len(df) / self.chunks).astype(int) for k, df in self.inputs.items()}

    def _write_chunks(self, table: str, directory: str) -> None:
        """The table's seed-cut, in-order chunks, with increasing mtimes
        so the file source replays them one per trigger, in order."""
        os.makedirs(directory)
        df = self.inputs[table]
        bounds = [0, *self.cuts[table].tolist(), len(df)]
        now = time.time() - self.chunks - 5
        for i in range(self.chunks):
            path = os.path.join(directory, f"{i:03d}.parquet")
            datagen.write_table(df.iloc[bounds[i]:bounds[i + 1]], path)
            os.utime(path, (now + i, now + i))

    def stage(self, spark, directory: str) -> None:
        from flink_examples_spark.streaming.finalize import write_finalize_sentinel

        self.data_dir = datagen.stage_tables(self.inputs, directory)
        events = self.inputs["events"]
        views = events[events["event_type"] == "view"]
        self.dirs = {}
        for stream in STREAMS:
            self.dirs[stream] = os.path.join(directory, stream)
            self._write_chunks("documents" if stream == "ingest" else "events", self.dirs[stream])
        write_finalize_sentinel(self.dirs["window"], views, "ts")
        self._register(spark)

    def expect(self, spark, checks: Checks) -> None:
        """The batch twins, each checked against its DuckDB oracle."""
        from flink_examples_spark.queries import registry

        reg = registry()
        oracle = check.Oracle(self.data_dir, self.tables)
        self.twins = {}
        try:
            for stream, q in (("window", "hot_items_sliding_topn"),
                              ("state", "fraud_small_then_large"),
                              ("ingest", "source_token_tv_drift")):
                df = reg[q].spark_fn(spark, self.data_dir)
                rows = df.collect()
                checks.record(q, check.compare(df.columns, rows, *oracle.query(reg[q].oracle)))
                self.twins[stream] = (df.columns, rows)
                env.release(spark)
        finally:
            oracle.close()

    def operations(self, spark, tracer, p: Pass):
        from pyspark.sql import functions as F

        from flink_examples_spark.operators.topn import top_n_per_group
        from flink_examples_spark.streaming.sinks import (
            compact_token_counts,
            read_token_tv_drift,
            token_counts_ingest_foreach_batch,
        )
        from flink_examples_spark.streaming.sources import file_stream
        from flink_examples_spark.streaming.stateful import (
            streaming_fraud_detector,
            streaming_hot_items_counts,
        )

        pass_dir = os.path.join(self.data_dir, "pass")
        self.counts = os.path.join(pass_dir, "counts")
        ingest = token_counts_ingest_foreach_batch(self.counts)

        def source(stream):
            d = self.dirs[stream]
            return file_stream(spark, d, os.path.join(d, "000.parquet"))

        def to_memory(stream):
            return lambda w: w.format("memory").queryName(f"perfbench_{stream}").outputMode("append")

        def window_result():
            out = spark.table("perfbench_window")
            return top_n_per_group(out, ["window_end"], [F.desc("view_count"), F.asc("user_id")], 3)

        def state_result():
            return spark.table("perfbench_state")

        def monitor_read():
            with tracer.span("read", "sinks") as s:
                t0 = time.perf_counter()
                df = read_token_tv_drift(spark, self.counts)
                rows = df.collect()
                elapsed = time.perf_counter() - t0
            tracer.phases(df, s)
            return df, rows, elapsed

        def ingest_batch(batch_df, batch_id):
            with tracer.span("ingest", "sinks"):
                ingest(batch_df, batch_id)
            if (batch_id + 1) % self.compact_every == 0:
                with tracer.span("compact", "sinks"):
                    compact_token_counts(spark, self.counts)
            p.read_s.append(monitor_read()[2])

        def replay(stream, build, sink, result) -> Op:
            with tracer.span(stream, "bench", trace=f"{self.name}/{self.seed}/{stream}"):
                t0 = time.perf_counter()
                with tracer.span("build", "queries"):
                    sdf = build()
                with tracer.span("replay", "streaming"):
                    q = (
                        sink(sdf.writeStream)
                        .trigger(availableNow=True)
                        .option("checkpointLocation", os.path.join(pass_dir, f"ck-{stream}"))
                        .start()
                    )
                    tracer.alias(str(q.runId))
                    try:
                        finished = q.awaitTermination(STREAM_TIMEOUT_S)
                    finally:
                        q.stop()
                    if not finished:
                        raise TimeoutError(f"{stream} replay did not finish in {STREAM_TIMEOUT_S} s")
                if result is None:
                    df, rows, _ = monitor_read()
                else:
                    with tracer.span("result", "execution") as s:
                        df = result()
                        rows = df.collect()
                    tracer.phases(df, s)
                    spark.catalog.dropTempView(f"perfbench_{stream}")
                elapsed = time.perf_counter() - t0
            return Op(elapsed, df, rows, [json.loads(x.json) for x in q.recentProgress])

        plan = {
            "window": (lambda: streaming_hot_items_counts(source("window")), to_memory("window"), window_result),
            "state": (lambda: streaming_fraud_detector(source("state")), to_memory("state"), state_result),
            "ingest": (lambda: source("ingest"), lambda w: w.foreachBatch(ingest_batch), None),
        }
        return [(s, lambda s=s: replay(s, *plan[s])) for s in STREAMS]

    def finish(self, tracer, p: Pass, name: str, op: Op) -> str | None:
        p.stream_s[name] = op.elapsed
        p.wall_s += op.elapsed
        p.progress[name] = op.progress
        p.trigger_s[name] = [x.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
                             for x in op.progress]
        p.op_s.extend(p.trigger_s[name])
        if name == "ingest":
            files = [os.path.join(d, f) for d, _, fs in os.walk(self.counts)
                     for f in fs if f.endswith(".parquet")]
            p.partials = (len(files), sum(os.path.getsize(f) for f in files))
        return check.same_multiset(op.df.columns, op.rows, *self.twins[name])

    def op_latency_s(self, p: Pass) -> float:
        """Geometric mean of the three streams' median micro-batch
        latencies: the streams' triggers differ in kind (JVM state, Python
        state, ingest with compaction and monitor reads), so a median over
        all of them would fall between clusters and jump."""
        return stats.geomean([stats.median(p.trigger_s[q]) for q in STREAMS])

    def input_rows(self, stream: str) -> int:
        return len(self.inputs["documents" if stream == "ingest" else "events"])


WORKLOADS = {w.name: w for w in (BatchOperators, StreamReplay)}
