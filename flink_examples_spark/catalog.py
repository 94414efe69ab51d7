"""Loaders for the driver's synthetic TPC-H-ish parquet tables.

See /root/repo/TESTDATA.md. The reference derives schemas from Java POJOs
via reflection (e.g. topn/HotItems.java:49-53 TypeExtractor); here the
schema authority is Spark's own parquet schema inference, run once per
file version: the first :func:`load_table` of a file infers its schema
from the footer (one Spark job), and every later call for the same,
unchanged file hands that schema back to the reader, which then starts
no job. Catalyst still prunes columns and pushes filters into the scan.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# path -> (file version, Spark's inferred schema, timestamp[ns] columns).
# A file version is (st_ino, st_mtime_ns, st_size): a file rewritten at
# the same path gets a new version and is inferred again, replacing its
# entry. The only inference-affecting setting the engine sets,
# ``nanosAsLong``, is a function of the file, so the version is the key.
_SCHEMAS: dict[str, tuple[tuple[int, int, int], StructType, tuple[str, ...]]] = {}


def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] (Spark can't read those natively)."""
    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if str(f.type).startswith("timestamp[ns")
    )


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one synthetic table as a DataFrame (parquet scan, lazy).

    Timestamp normalization (the schema authority is whatever the driver
    wrote, which has changed across rounds):

    - nanosecond columns: Spark can't read timestamp[ns] natively, so
      they're read as raw longs (``nanosAsLong``) and truncated to
      micros — the same ns→us truncation DuckDB applies;
    - microsecond columns without the UTC-adjustment flag: Spark 4
      infers these as TIMESTAMP_NTZ, which breaks epoch arithmetic
      (``unix_micros`` et al.) and diverges from the LTZ type every
      operator was built against. Cast back to session-zoned TIMESTAMP
      (sessions here run UTC, so values are identical to DuckDB's naive
      reading either way).

    Both conversions go into one ``withColumns`` projection (one
    analysis, not one per column). The schema is inferred on the first
    call for a file version only; later calls pass it to the reader,
    so they start no Spark job.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    version = (st.st_ino, st.st_mtime_ns, st.st_size)
    cached = _SCHEMAS.get(path)
    hit = cached is not None and cached[0] == version
    nanos_cols = cached[2] if hit else _nanos_ts_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if hit:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        cached = _SCHEMAS[path] = (version, df.schema, nanos_cols)
    casts = {c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in nanos_cols}
    for f in cached[1].fields:
        if f.dataType.typeName() == "timestamp_ntz":
            casts[f.name] = F.col(f.name).cast("timestamp")
    return df.withColumns(casts) if casts else df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register all tables as temp views so Spark SQL can address them."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
