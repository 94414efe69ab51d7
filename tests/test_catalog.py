"""catalog.load_table: schema inference once per file version.

The first load of a parquet file infers its schema with a Spark job;
every later load of the same, unchanged file reuses that schema and
starts no job. A file rewritten at the same path is a new version and
is inferred again.
"""

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from flink_examples_spark.catalog import TABLES, load_table

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _reference(spark, path):
    """A fresh ``spark.read.parquet`` with load_table's casts, applied
    one column at a time."""
    nanos = [
        f.name
        for f in pq.read_schema(path)
        if str(f.type).startswith("timestamp[ns")
    ]
    if nanos:
        spark.conf.set(NANOS_AS_LONG, "true")
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def _jobs_started(spark, fn):
    """Number of Spark jobs ``fn()`` starts, counted under a job group."""
    sc = spark.sparkContext
    group = f"test_catalog_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def restore_nanos_conf(spark):
    prev = spark.conf.get(NANOS_AS_LONG, None)
    yield
    if prev is None:
        spark.conf.unset(NANOS_AS_LONG)
    else:
        spark.conf.set(NANOS_AS_LONG, prev)


@pytest.mark.parametrize("name", TABLES)
def test_load_table_matches_fresh_read(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} not in the test data")
    ref = _reference(spark, path)
    # the second load is a cache hit whatever ran before this test
    for df in (load_table(spark, name, sf_dir), load_table(spark, name, sf_dir)):
        assert df.schema == ref.schema
        assert _rows(df) == _rows(ref)


def test_second_load_starts_no_job(spark, sf_dir, tmp_path):
    # a private copy, so the first load is a miss in any test order
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    d = str(tmp_path)
    assert _jobs_started(spark, lambda: load_table(spark, "orders", d)) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, "orders", d)) == 0


def _write_events(path, ts_type, ts_values):
    table = pa.table(
        {
            "event_id": pa.array(range(len(ts_values)), pa.int64()),
            "ts": pa.array(ts_values, ts_type),
        }
    )
    pq.write_table(table, path)


def _ts_micros(df):
    return [
        tuple(r)
        for r in df.select("event_id", F.unix_micros("ts")).orderBy("event_id").collect()
    ]


def test_rewritten_file_is_read_again(spark, tmp_path, restore_nanos_conf):
    d = str(tmp_path)
    path = os.path.join(d, "events.parquet")

    _write_events(path, pa.timestamp("us"), [1_000_000, 2_000_000])
    df = load_table(spark, "events", d)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert _ts_micros(df) == [(0, 1_000_000), (1, 2_000_000)]

    # same schema, new rows
    _write_events(path, pa.timestamp("us"), [5_000_000, 6_000_000, 7_000_000])
    df = load_table(spark, "events", d)
    assert _ts_micros(df) == [(0, 5_000_000), (1, 6_000_000), (2, 7_000_000)]

    # microseconds -> nanoseconds: read as longs and truncated to micros
    _write_events(path, pa.timestamp("ns"), [3_000_000_999, 4_000_001_500])
    df = load_table(spark, "events", d)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert _ts_micros(df) == [(0, 3_000_000), (1, 4_000_001)]
    assert _ts_micros(load_table(spark, "events", d)) == _ts_micros(df)
