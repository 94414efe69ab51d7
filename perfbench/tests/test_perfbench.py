"""Tests of the benchmark itself: its statistics, its result checks, its
input generator, its metric list, and an sf0.001 smoke run of each
workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(99) == 89
    assert stats.tail_percentile(34) == 70
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) is None


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 50) == 50
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_geomean_is_the_mean_of_the_logs():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([0.5] * 7) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx((8.25 - 2.75) / 5.5)


def test_self_time_subtracts_children_once():
    spans = [
        {"id": "p", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "p", "start": 1.0, "end": 3.0},
        {"id": "b", "parent": "p", "start": 2.0, "end": 5.0},  # overlaps a
        {"id": "c", "parent": "p", "start": 8.0, "end": 9.0},
        {"id": "d", "parent": "b", "start": 4.0, "end": 6.0},  # runs past its parent
    ]
    own = stats.self_times(spans)
    assert own["p"] == pytest.approx(10.0 - (4.0 + 1.0))
    assert own["a"] == pytest.approx(2.0)
    assert own["b"] == pytest.approx(3.0 - 1.0)
    assert own["c"] == pytest.approx(1.0)
    assert own["d"] == pytest.approx(2.0)


ROWS = [
    (1, "a", decimal.Decimal("1.50"), dt.date(2024, 1, 1)),
    (2, "b", decimal.Decimal("2.25"), dt.date(2024, 1, 2)),
    (3, None, decimal.Decimal("-3.00"), dt.date(2024, 1, 3)),
]
COLS = ["id", "name", "amount", "day"]


def test_compare_accepts_equal_results_across_engine_types():
    # the other engine: columns and rows reordered, floats and midnight
    # timestamps in place of decimals and dates
    other_cols = ["day", "amount", "name", "id"]
    other = [
        (dt.datetime(2024, 1, 3), -3.0, None, 3),
        (dt.datetime(2024, 1, 1), 1.5, "a", 1),
        (dt.datetime(2024, 1, 2), 2.25 * (1 + 1e-12), "b", 2),
    ]
    assert check.compare(COLS, ROWS, other_cols, other) is None


def test_compare_catches_a_one_row_difference():
    changed = list(ROWS)
    changed[1] = (2, "b", decimal.Decimal("2.26"), dt.date(2024, 1, 2))
    assert check.compare(COLS, changed, COLS, ROWS) is not None
    assert check.compare(COLS, ROWS[:2], COLS, ROWS) is not None
    assert check.compare(COLS, ROWS + ROWS[:1], COLS, ROWS + ROWS[1:2]) is not None
    assert check.compare(COLS[:3], [r[:3] for r in ROWS], COLS, ROWS) is not None


def test_same_multiset_is_exact_and_counts_duplicates():
    assert check.same_multiset(COLS, ROWS, COLS, list(reversed(ROWS))) is None
    assert check.same_multiset(COLS, ROWS, COLS, ROWS + ROWS[:1]) is not None
    changed = [ROWS[0], ROWS[1], (3, None, decimal.Decimal("-3.01"), dt.date(2024, 1, 3))]
    assert check.same_multiset(COLS, changed, COLS, ROWS) is not None


def test_same_multiset_matches_columns_by_name():
    swapped = ["name", "id", "amount", "day"]
    assert check.same_multiset(swapped, [(r[1], r[0], *r[2:]) for r in ROWS], COLS, ROWS) is None
    assert check.same_multiset(COLS[:3], [r[:3] for r in ROWS], COLS, ROWS) is not None


def test_datagen_is_a_function_of_the_seed():
    a, b, c = (datagen.make_tables(s, 0.001) for s in (7, 7, 8))
    for name in a:
        pd_a, pd_b, pd_c = a[name], b[name], c[name]
        assert pd_a.equals(pd_b), name
        assert len(pd_a) == len(pd_c), name
    assert not a["events"].equals(c["events"])
    assert a["events"]["ts"].is_monotonic_increasing


def test_staged_parquet_has_the_test_data_layout(tmp_path):
    import pyarrow.parquet as pq

    datagen.stage_tables(datagen.make_tables(1, 0.001), str(tmp_path))
    schema = pq.read_schema(tmp_path / "events.parquet")
    assert str(schema.field("ts").type) == "timestamp[us]"
    assert str(pq.read_schema(tmp_path / "nation.parquet").field("n_nationkey").type) == "int32"


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert bench["paths"] == ["perfbench"]
    assert {w["name"] for w in bench["workloads"]} == {"batch_operators", "stream_replay"}


def test_run_refuses_a_directory_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".run", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_operators",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


def _smoke(workload: str, trace: int, monkeypatch, capsys) -> dict:
    """One run of ``run.main`` in this process, at sf0.001."""
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    monkeypatch.setattr(workloads.WORKLOADS[workload], "sf", 0.001)
    for var in ("TMPDIR", "TZ", "SPARK_LOCAL_DIRS"):  # run.main sets these
        if var in os.environ:
            monkeypatch.setenv(var, os.environ[var])
        else:
            monkeypatch.delenv(var, raising=False)
    code = run.main(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)])
    out = capsys.readouterr()
    assert code == 0, out.err[-3000:]
    result = json.loads(out.out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, out.err[-3000:]
    assert result["attempted"] >= 1
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", ["batch_operators", "stream_replay"])
def test_smoke_untraced(workload, monkeypatch, capsys):
    _smoke(workload, 0, monkeypatch, capsys)


def test_smoke_traced_batch_operators(monkeypatch, capsys):
    m = _smoke("batch_operators", 1, monkeypatch, capsys)
    assert m["catalog.jobs"] >= 1 and m["catalog.calls"] >= 34
    assert m["exec.jobs"] >= 34 and m["plan.optimization_s"] > 0
    assert m["stream.window.triggers"] == 0


def test_smoke_traced_stream_replay(monkeypatch, capsys):
    m = _smoke("stream_replay", 1, monkeypatch, capsys)
    for q in ("window", "state", "ingest"):
        assert m[f"stream.{q}.triggers"] >= 4
    assert m["stream.state.state_rows"] > 0
    assert m["python.total_s"] > 0 and m["python.rows_received"] >= 0
    assert m["sink.read_s"] > 0 and m["sink.partials_files"] >= 1
