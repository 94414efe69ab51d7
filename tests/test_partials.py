"""The replay contract of every staged-partials family in
``streaming/sinks.py``, pinned in one place.

Each family goes through the same script: ingest three batches,
compact, replay the newest batch, compact again. Its read must then
equal the family's read after ONE batch holding the union of the
inputs (the merge over a one-shot union). The first compaction keeps
the newest batch out of the fold exactly when the family's merge is
additive, and a missing root reads as an empty table with the same
columns and types as a populated one. A batch subdir without Spark's
``_SUCCESS`` marker (a crash mid-write) is never read, and compaction
drops it.
"""

import datetime
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest

from flink_examples_spark.streaming import sinks as S


def _frames(spark, ddl, batches):
    return [spark.createDataFrame(rows, ddl) for rows in batches]


def _docs(spark):
    return _frames(spark, "doc_id long, source string, text string", [
        [(1, "web", "the cat sat. a dog ran"),
         (2, "news", "the cat sat. markets fell")],
        [(3, "web", "a dog ran. the cat sat"),
         (4, "web", "fresh text here")],
        [(5, "news", "markets fell. the cat sat"),
         (6, "web", "the cat sat. a dog ran")],
    ])


def _vectors(spark):
    return _frames(spark, "vec_id long, embedding array<double>", [
        [(i, [1.0, 0.1 * i]) for i in range(0, 4)],
        [(i, [0.1 * i, 1.0]) for i in range(4, 8)],
        [(i, [0.5, 0.05 * i]) for i in range(8, 12)],
    ])


def _ivf_ingest(spark, root):
    S.stage_ivf_centroids(spark, root, [[1.0, 0.0], [0.0, 1.0]])
    return S.ivf_index_ingest_foreach_batch(root)


@dataclass
class Family:
    name: str
    frames: Callable
    ingest: Callable            # (spark, root) -> foreachBatch function
    read: Callable              # (spark, root) -> DataFrame
    compact: Callable | None    # (spark, root) -> int
    idempotent: bool = False


FAMILIES = [
    Family(
        "countmin",
        lambda spark: _frames(spark, "user_id long", [
            [(j % k,) for j in range(30)] for k in (3, 5, 7)
        ]),
        lambda spark, root: S.countmin_ingest_foreach_batch(root, "user_id"),
        S.read_countmin_sketch,
        S.compact_countmin_sketch,
    ),
    Family(
        "hll",
        lambda spark: _frames(spark, "user_id string, event_type string", [
            [(f"u{j}", "pv" if j % 3 else "buy") for j in range(lo, hi)]
            for lo, hi in ((0, 40), (20, 70), (60, 100))
        ]),
        lambda spark, root: S.hll_ingest_foreach_batch(
            root, "user_id", ["event_type"]),
        lambda spark, root: S.read_hll_registers(
            spark, root, ["event_type"]),
        lambda spark, root: S.compact_hll_registers(
            spark, root, ["event_type"]),
        idempotent=True,
    ),
    Family(
        "bitmap",
        lambda spark: _frames(spark, "day date, user_key long", [
            [(datetime.date(2024, 1, 1 + j % 2), j) for j in range(lo, hi)]
            for lo, hi in ((0, 80), (40, 150), (140, 220))
        ]),
        lambda spark, root: S.bitmap_ingest_foreach_batch(
            root, "user_key", ["day"]),
        lambda spark, root: S.read_presence_bitmaps(spark, root, ["day"]),
        lambda spark, root: S.compact_presence_bitmaps(spark, root, ["day"]),
        idempotent=True,
    ),
    Family(
        "token_counts",
        _docs,
        lambda spark, root: S.token_counts_ingest_foreach_batch(root),
        S.read_token_counts,
        S.compact_token_counts,
    ),
    Family(
        "url_partials",
        lambda spark: [
            df.withColumn("n_chars", df.doc_id * 10) for df in _docs(spark)
        ],
        lambda spark, root: S.url_partials_ingest_foreach_batch(root),
        S.read_url_partials,
        S.compact_url_partials,
    ),
    Family(
        "host_line_partials",
        lambda spark: [
            df.withColumnRenamed("source", "host") for df in _docs(spark)
        ],
        lambda spark, root: S.host_line_partials_ingest_foreach_batch(root),
        S.read_host_line_partials,
        S.compact_host_line_partials,
    ),
    Family(
        "embedding_index",
        _vectors,
        lambda spark, root: S.embedding_index_ingest_foreach_batch(root),
        S.read_embedding_index,
        S.compact_embedding_index,
    ),
    Family(
        "ivf_index",
        _vectors,
        _ivf_ingest,
        S.read_ivf_index,
        S.compact_ivf_index,
    ),
    Family(
        "paragraph_fp_index",
        lambda spark: [
            df.select("doc_id", "text") for df in _docs(spark)
        ],
        lambda spark, root: S.paragraph_dedup_ingest_foreach_batch(
            root, root + ".out", "doc_id", "text", sep=". "),
        lambda spark, root: S._read(spark, root, S._fp_index("pfp")),
        S.compact_paragraph_index,
    ),
    Family(
        "column_profile",
        lambda spark: _frames(spark, "k long, v string", [
            [(j % 37, None if j % 5 == 0 else f"v{j % 97}")
             for j in range(lo, hi)]
            for lo, hi in ((0, 150), (150, 300), (300, 400))
        ]),
        lambda spark, root: S.column_profile_ingest_foreach_batch(
            root, ["k", "v"], 16),
        lambda spark, root: S.read_column_profile(spark, root, 16),
        None,
    ),
    Family(
        "transition_edges",
        lambda spark: _frames(spark, "user long, ts long, node long", [
            [(u, t, (u * 3 + t) % 5) for u in range(4)
             for t in range(lo, lo + 4)]
            for lo in (0, 4, 8)
        ]),
        lambda spark, root: S.transition_edges_ingest_foreach_batch(
            root, "user", ["ts"], "node"),
        S.read_transition_edges,
        None,
    ),
]


def _rows(df):
    return sorted(map(repr, df.select(sorted(df.columns)).collect()))


def _types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def _ingest_all(spark, fam, root, frames):
    apply = fam.ingest(spark, root)
    for i, df in enumerate(frames):
        apply(df, i)
    return apply


def _one_shot(spark, fam, tmp_path, frames):
    root = str(tmp_path / "one_shot")
    union = frames[0]
    for df in frames[1:]:
        union = union.unionByName(df)
    fam.ingest(spark, root)(union, 0)
    return fam.read(spark, root)


@pytest.mark.parametrize("fam", FAMILIES, ids=lambda f: f.name)
def test_replay_contract(spark, tmp_path, fam):
    frames = fam.frames(spark)
    root = str(tmp_path / "staged")
    apply = _ingest_all(spark, fam, root, frames)
    want_df = _one_shot(spark, fam, tmp_path, frames)
    want = _rows(want_df)
    assert want
    assert _rows(fam.read(spark, root)) == want

    if fam.compact is not None:
        assert fam.compact(spark, root) > 0
        batches = sorted(n for n in os.listdir(root) if n.startswith("batch="))
        spared = [] if fam.idempotent else ["batch=2"]
        assert batches == spared + ["batch=compacted"]
    apply(frames[2], 2)  # replay the newest batch
    if fam.compact is not None:
        fam.compact(spark, root)
    got = fam.read(spark, root)
    assert _rows(got) == want

    empty = fam.read(spark, str(tmp_path / "missing"))
    assert empty.count() == 0
    assert _types(empty) == _types(got)


@pytest.mark.parametrize("fam", FAMILIES, ids=lambda f: f.name)
def test_uncommitted_batch_is_not_read(spark, tmp_path, fam):
    frames = fam.frames(spark)
    root = str(tmp_path / "staged")
    _ingest_all(spark, fam, root, frames)
    want = _rows(fam.read(spark, root))

    # a write that crashed after one part file, before _SUCCESS
    src = os.path.join(root, "batch=1")
    part = max(
        (f for f in os.listdir(src) if f.endswith(".parquet")),
        key=lambda f: os.path.getsize(os.path.join(src, f)),
    )
    os.makedirs(os.path.join(root, "batch=99"))
    shutil.copy(os.path.join(src, part), os.path.join(root, "batch=99"))
    assert _rows(fam.read(spark, root)) == want

    if fam.compact is not None:
        fam.compact(spark, root)
        assert not os.path.exists(os.path.join(root, "batch=99"))
        assert _rows(fam.read(spark, root)) == want
