"""Streaming sinks (SURVEY.md §2.2 K1-K8).

The reference's sink matrix collapses onto three Spark mechanisms:

  writeStream.format(...)  — rolling file sinks (K2/K3: text/csv/orc/
                             parquet with partitionBy bucketing; part-file
                             lifecycle = micro-batch commit protocol),
                             console (K1), kafka (K5).
  foreachBatch             — transactional/idempotent batch writers: JDBC
                             upsert (K6, JDBCSink.java:57-76), Redis (K7),
                             Elasticsearch (K8). The micro-batch IS the
                             reference's buffered batch (batchSize/
                             flush-interval knobs ≈ trigger interval).
  checkpointLocation       — ST8: offsets + state per micro-batch; the
                             at-least-once + idempotent-write combination
                             that reproduces the reference's exactly-once
                             observable behavior (SURVEY.md §7.4.5).

Staged partials. The ``*_ingest_foreach_batch`` / ``read_*`` /
``compact_*`` families below (sketches, count partials, vector and
fingerprint indexes) share one layout and one replay protocol, owned by
a private core (``_Spec`` and ``_committed``, ``_read``, ``_ingest``,
``_compact``); a family is a spec — a merge, an empty-read schema and
its replay rule — plus what it computes per batch:

  - each micro-batch overwrites ``<root>/batch=<id>`` with its own
    partial table (parquet), so a replayed batch replaces its table
    rather than adding a second copy;
  - readers fold only COMMITTED batch subdirs, those holding Spark's
    ``_SUCCESS`` marker: a batch crashed mid-write, or still being
    written, is never counted. Children whose names start with ``_``
    or ``.`` are not batches (IVF's ``_centroids``, the edge family's
    ``_tails``). A missing root reads as an empty table with the
    family's schema — monitoring readers race the first batch;
  - every ingest, read and compaction first heals an interrupted
    compaction swap (:func:`_recover_swap`);
  - ``compact_every_n_batches=N`` compacts at the top of every Nth
    batch, the single-writer slot between batches;
  - compaction folds the committed subdirs with the family's merge
    into ``batch=compacted``, writes it to a staging sibling together
    with the spared subdir and every ``_``-prefixed child, counts the
    staging copy, and swaps it in (:func:`_swap_in_rewrite`). The
    source subdirs stay on disk until the swap, so nothing is pinned,
    and a subdir without ``_SUCCESS`` is dropped.

Replay rule: only the newest batch can replay (Structured Streaming
delivers batch N only after N-1 has committed). A family whose merge
is ADDITIVE — sums, row unions — or whose ingest probe leaves out its
own batch (the fingerprint indexes) spares the newest numbered subdir
from compaction, since folding it and then replaying it would count
it twice. A family whose merge is IDEMPOTENT — ``max``, ``bit_or`` —
folds every subdir: merging a replayed copy again changes nothing.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


def rolling_file_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    fmt: str = "parquet",
    bucket_by_time: str | None = "yyyy-MM-dd--HH",
    ts_col: str = "ts",
    compression: str | None = None,
) -> DataStreamWriter:
    """Row/bulk-format rolling file sink (K2/K3).

    The reference buckets part files by wall-clock hour with
    DateTimeBucketAssigner (FsRowFormatSink.java:44-64) — here the bucket
    is a ``partitionBy`` column derived from event time, which also makes
    downstream scans partition-prunable. Part files finalize on
    micro-batch commit (the in-progress → finished lifecycle is the
    sink's commit protocol). ORC+LZ4 (FsBulkFormatSink.java:46-50) is
    ``fmt='orc', compression='lz4'`` — vectorization is built in.
    """
    out = df
    if bucket_by_time is not None:
        out = out.withColumn("bucket", F.date_format(F.col(ts_col), bucket_by_time))
    writer = out.writeStream.format(fmt).option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if bucket_by_time is not None:
        writer = writer.partitionBy("bucket")
    if compression is not None:
        writer = writer.option("compression", compression)
    return writer


def kafka_payload(
    df: DataFrame,
    include_event_timestamp: bool = False,
    ts_col: str = "ts",
) -> DataFrame:
    """Shape a frame into the Kafka producer record contract (K5):
    string ``value``, optional string ``key`` (partitioner input),
    optional ``timestamp`` (setWriteTimestampToKafka,
    Kafka2Kafka.java:150). Pure projection — testable without a broker
    and reused by ``kafka_sink``."""
    cols = [F.col("value").cast("string").alias("value")]
    if "key" in df.columns:
        cols.insert(0, F.col("key").cast("string").alias("key"))
    if include_event_timestamp:
        cols.append(F.col(ts_col).alias("timestamp"))
    return df.select(*cols)


def kafka_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
    include_event_timestamp: bool = False,
    ts_col: str = "ts",
) -> DataStreamWriter:
    """Kafka producer sink (K5, Kafka2Kafka.java:118-164).

    Spark's Kafka sink is at-least-once per micro-batch; the reference's
    EXACTLY_ONCE two-phase transaction has no engine equivalent — match
    the observable guarantee with idempotent consumers or an upsert
    landing table (SURVEY.md §7.4.5). ``setWriteTimestampToKafka`` maps
    to an explicit ``timestamp`` column.
    """
    return (
        kafka_payload(df, include_event_timestamp, ts_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def parquet_upsert_foreach_batch(
    target_dir: str, key_cols: Sequence[str]
) -> Callable[[DataFrame, int], None]:
    """Idempotent upsert writer for ``foreachBatch`` (K6 pattern).

    Reproduces JDBCSink.java:57-76 (``INSERT ... ON DUPLICATE KEY
    UPDATE``) against a parquet target: merge the micro-batch into the
    keyed table, last-write-wins per key. Restarted batches re-merge the
    same rows → idempotent, which upgrades the sink to exactly-once
    observable semantics. In production the same callback shape wraps
    ``df.write.jdbc`` or a Delta ``MERGE``.

    TEST-HARNESS SINK: it rewrites the whole target per micro-batch
    (fine for fixtures, a scale-killer on a real table — use
    ``jdbc_upsert_foreach_batch`` or Delta MERGE in production). The
    final overwrite is non-atomic, so each merge is staged to
    ``<target>.tmp-<batch>`` first and crash recovery is REAL: if a
    crash between the target delete and rewrite leaves the target
    missing/partial, the replayed batch merges against the newest
    surviving tmp copy (which holds the complete pre-crash merge)
    instead of the broken target, writing its own stage to a distinct
    attempt path so the rescue copy is never clobbered before it is
    read. All tmp stages are deleted once the target write succeeds.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import glob
        import shutil
        import uuid

        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(list(key_cols)).cache()

        def has_parquet(d: str) -> bool:
            return os.path.isdir(d) and any(
                f.endswith(".parquet") for f in os.listdir(d)
            )

        def committed(d: str) -> bool:
            # Spark's committer writes _SUCCESS last; a directory with
            # part files but no marker is a crashed half-commit and must
            # NOT be treated as authoritative.
            return has_parquet(d) and os.path.isfile(
                os.path.join(d, "_SUCCESS")
            )

        rescues = sorted(
            (d for d in glob.glob(target_dir.rstrip("/") + ".tmp-*")
             if committed(d)),
            key=os.path.getmtime,
        )
        if committed(target_dir):
            base = target_dir
        elif rescues:
            # crashed mid-overwrite: the newest fully-committed tmp
            # stage is the only complete copy — recover from it, never
            # from a partially-moved target
            base = rescues[-1]
        else:
            base = target_dir if has_parquet(target_dir) else None
        if base is not None:
            existing = spark.read.parquet(base)
            keep = existing.join(batch.select(*key_cols), list(key_cols), "left_anti")
            merged = keep.unionByName(batch)
        else:
            merged = batch
        # unique attempt suffix: a replay must never overwrite the tmp
        # stage it may be recovering FROM
        tmp = target_dir.rstrip("/") + f".tmp-{batch_id}-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(tmp)
        final = spark.read.parquet(tmp)
        final.write.mode("overwrite").parquet(target_dir)
        batch.unpersist()
        for d in glob.glob(target_dir.rstrip("/") + ".tmp-*"):
            shutil.rmtree(d, ignore_errors=True)

    return write


def jdbc_upsert_foreach_batch(
    url: str,
    table: str,
    upsert_sql: str,
    properties: dict[str, str] | None = None,
    batch_size: int = 5000,
) -> Callable[[DataFrame, int], None]:
    """JDBC upsert via foreachBatch (K6, JDBCSink.java:57-76).

    ``upsert_sql`` is the dialect's upsert statement; executed per
    partition with ``batch_size`` statements per round-trip (the
    reference's JdbcExecutionOptions.batchSize). Requires the JDBC
    driver jar on the cluster — config-builder only in this environment.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", str(batch_size))
            .options(**(properties or {}))
            .save()
        )

    return write


def kv_hset_foreach_batch(
    client_factory: Callable[[], object],
    hash_name: str,
    key_col: str,
    value_col: str,
    pipeline_size: int = 500,
) -> Callable[[DataFrame, int], None]:
    """Redis-style HSET sink (K7, RedisSinkExample.java:44-68).

    The reference maps each record to ``HSET hash_name key value`` via a
    jedis pool. Here the client is injected (``client_factory`` runs
    once per partition on the executor — the RichSinkFunction ``open()``
    slot) and must expose ``hset_many(hash_name, [(key, value), ...])``
    and optionally ``close()``. Writes are pipelined ``pipeline_size``
    entries per call; per-key set semantics make replayed micro-batches
    idempotent (exactly-once observable).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def per_partition(rows) -> None:
            client = client_factory()
            try:
                buf: list[tuple] = []
                for row in rows:
                    buf.append((row[key_col], row[value_col]))
                    if len(buf) >= pipeline_size:
                        client.hset_many(hash_name, buf)
                        buf = []
                if buf:
                    client.hset_many(hash_name, buf)
            finally:
                close = getattr(client, "close", None)
                if close is not None:
                    close()

        batch_df.select(key_col, value_col).foreachPartition(per_partition)

    return write


def bulk_index_foreach_batch(
    client_factory: Callable[[], object],
    index: str,
    id_col: str,
    doc_cols: Sequence[str],
    bulk_actions: int = 1000,
) -> Callable[[DataFrame, int], None]:
    """Elasticsearch-style bulk index sink (K8, ESSink.java:44-63).

    The reference buffers IndexRequests and flushes every
    ``bulkFlushMaxActions``. The injected client (one per partition)
    must expose ``bulk_index(index, [(doc_id, doc_dict), ...])`` and
    optionally ``close()``. Document ids make retried bulks idempotent
    (the failure-handler discussion at ESSink.java:76-120 reduces to
    replay + idempotent put).
    """
    cols = list(doc_cols)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        def per_partition(rows) -> None:
            client = client_factory()
            try:
                buf: list[tuple] = []
                for row in rows:
                    buf.append((row[id_col], {c: row[c] for c in cols}))
                    if len(buf) >= bulk_actions:
                        client.bulk_index(index, buf)
                        buf = []
                if buf:
                    client.bulk_index(index, buf)
            finally:
                close = getattr(client, "close", None)
                if close is not None:
                    close()

        batch_df.select(id_col, *cols).foreachPartition(per_partition)

    return write


def transactional_foreach_batch(
    write_fn: Callable[[DataFrame, int], None],
    commit_log_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Exactly-once wrapper for non-idempotent foreachBatch writers
    (K5, SURVEY.md §7.4.5).

    Kafka2Kafka.java:121-149 gets exactly-once from a two-phase
    transactional producer; the Spark-native equivalent is epoch-id
    dedup: ``batch_id`` is stable across replays of the same epoch, so
    a batch whose commit marker exists is skipped entirely. Write the
    marker only after ``write_fn`` returns — a crash between the two
    replays the batch (at-least-once into an already-written target →
    pair with an idempotent/upsert writer, or accept the txn boundary
    at the marker write, which is the same boundary Flink's 2PC commit
    has). In production the marker directory lives on the checkpoint
    filesystem.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commit_log_dir, f"{batch_id}.committed")
        if os.path.exists(marker):
            return
        write_fn(batch_df, batch_id)
        os.makedirs(commit_log_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("committed")
        os.replace(tmp, marker)

    return write


def cdc_merge_foreach_batch(
    table_path: str,
    id_col: str,
    partition_col: str,
    seq_col: str,
    op_col: str = "op",
    fmt: str = "parquet",
    guard_seq: bool = False,
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` CDC apply: merge a stream of change events
    (``op`` ∈ {'upsert', 'delete'}) into a hive-partitioned corpus
    table via :func:`operators.diff.merge_apply_partitioned` — each
    micro-batch rewrites ONLY the partitions its delta touches (the
    streaming face of the versioned-corpus MERGE; the batch face is
    ``corpus_merge_apply``).

    Within a batch, multiple events per id resolve last-write-wins by
    ``seq_col`` (ties broken toward delete, the conservative side).
    Replayed batches re-apply the same latest-op set onto the already-
    merged table — upserts overwrite themselves, deletes of absent ids
    are no-ops — so the sink is idempotent and checkpoint + replay
    yields exactly-once observable table state. The non-atomic window
    of dynamic partition overwrite is per-partition (a crash can leave
    an affected partition mid-rewrite until the replay repairs it);
    transactional formats close that window with a commit, same merge
    head.

    The target table must exist (bootstrap with an initial batch write)
    and the event schema must be the table schema plus ``seq_col`` and
    ``op_col``; the delete leg needs ``partition_col`` populated so the
    tombstone can find its partition.

    Contract: ``partition_col`` is immutable per id (corpus tables
    partition by source/ingest-date, which never changes for a doc id).
    An event stream that MOVES an id across partitions must encode the
    move as delete-in-old-partition + upsert-in-new-partition — a bare
    upsert carries only the new partition, so the merge would never
    visit the old one and the stale row would survive there. LWW
    resolution runs per (id, partition) so both legs of such a move
    survive within one batch. Ties on (id, partition, seq) between two
    upserts are resolved arbitrarily; real CDC feeds carry a unique seq
    per id.

    Ordering across batches: by default LWW holds only WITHIN a
    micro-batch — seq is dropped at write, so a later batch delivering
    a late lower-seq event would regress newer data. With
    ``guard_seq=True`` the table carries ``seq_col`` and each batch
    drops events whose seq is below the stored row's (the
    ``source.seq >= target.seq`` MERGE guard): out-of-order delivery
    across batches becomes a no-op, and replays (same seq) still pass.
    The guard reads only the batch's partitions and anchors the stored
    side with a broadcast semi-join on the event ids — delta-sized,
    never a corpus shuffle.

    Deletes are guarded by TOMBSTONES: removing a row also removes its
    stored seq, so without a tombstone a later batch's lower-seq upsert
    would find no stored row and resurrect the deleted doc with stale
    data. Applied deletes are therefore retained in a
    ``<table>/_tombstones`` sidecar log (underscore-prefixed, invisible
    to table reads; hive-partitioned by ``partition_col`` and batch id
    so replays overwrite their own subdir idempotently), and the guard
    additionally drops any event whose seq does not EXCEED the id's max
    tombstone seq — a tie goes to the delete, the same conservative
    rule as in-batch LWW. A later genuinely-newer upsert (seq above the
    tombstone) still passes and legitimately re-creates the doc.
    Tombstones are written AFTER the merge: a crash between the two
    replays the delete (idempotent), never skips it. Scale shape: the
    log is delete-history-sized, read partition-pruned and
    broadcast-anchored on the batch's ids; periodic compaction (keep
    max seq per id) bounds it, and a transactional format's MERGE
    guard subsumes it entirely. Pass ``compact_every_n_batches=N`` to
    run :func:`compact_tombstones` automatically at the top of every
    Nth batch — the single-writer between-batches slot. Replay-safe:
    compacting folds everything to one max-seq row per id, which never
    changes guard decisions, and a replayed batch just re-appends its
    own (idempotent) tombstone subdir.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from flink_examples_spark.operators.diff import (
            merge_apply_partitioned,
        )

        spark = batch_df.sparkSession
        if guard_seq:
            # heal an interrupted compaction swap EVERY batch, before
            # any read or write can observe the missing log (and before
            # a new tombstone write could recreate the root and orphan
            # the retired copy holding the full history)
            _recover_swap(_tombstone_root(table_path))
        if (
            guard_seq
            and compact_every_n_batches
            and batch_id > 0
            and batch_id % compact_every_n_batches == 0
        ):
            compact_tombstones(
                spark, table_path, id_col, partition_col, seq_col, fmt
            )
        w = Window.partitionBy(id_col, partition_col).orderBy(
            F.col(seq_col).desc(),
            F.when(F.col(op_col) == "delete", 0).otherwise(1),
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            # consumed by the affected-partition collect, both merge
            # legs, and the guard join — materialize the window once
            .localCheckpoint()
        )
        if guard_seq:
            latest = _drop_stale_events(
                spark, latest, table_path, id_col, partition_col,
                seq_col, op_col, fmt,
            ).localCheckpoint()
        delta = latest.select(
            id_col,
            partition_col,
            F.when(F.col(op_col) == "delete", "removed")
            .otherwise("changed")
            .alias("verdict"),
        )
        dropped = (op_col,) if guard_seq else (op_col, seq_col)
        new = latest.filter(F.col(op_col) != "delete").drop(*dropped)
        merge_apply_partitioned(
            spark, table_path, new, delta, id_col, partition_col, fmt
        )
        if guard_seq:
            # retain applied deletes so later lower-seq upserts can't
            # resurrect them; written AFTER the merge so a crash between
            # replays the delete instead of skipping it
            tombs = latest.filter(F.col(op_col) == "delete").select(
                id_col, partition_col, seq_col,
                F.lit(str(batch_id)).alias("batch"),
            )
            if not tombs.isEmpty():
                (
                    tombs.write.mode("overwrite")
                    .format(fmt)
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(partition_col, "batch")
                    .save(_tombstone_root(table_path))
                )

    return apply


def _tombstone_root(table_path: str) -> str:
    # underscore prefix: Spark's file listing treats the directory as
    # hidden, so plain table reads never see tombstone rows
    return os.path.join(table_path, "_tombstones")


def compact_tombstones(
    spark,
    table_path: str,
    id_col: str,
    partition_col: str,
    seq_col: str,
    fmt: str = "parquet",
) -> int:
    """Periodic maintenance for the CDC tombstone log: rewrite it to
    one max-seq row per (id, partition), batch-tagged ``compacted``.
    Returns rows kept. The guard only ever consults MAX(seq) per id, so
    dropping superseded tombstones never changes guard decisions — but
    it bounds the log at distinct-deleted-ids instead of total delete
    history.

    Run BETWEEN batches (same single-writer discipline as the merge
    itself): the rewrite goes to a STAGING sibling first and swaps in
    via directory renames, so the log is never absent on disk — ADVICE
    r4 flagged the old rmtree-then-write shape: a driver crash between
    the two left NO log, and a re-run found no root and silently
    disabled the delete-resurrection guard. Now every crash window
    is repaired by :func:`_recover_swap` on the next call (or next
    read). A transactional format would make this a single commit; see
    cdc_merge_foreach_batch's scale notes."""
    root = _tombstone_root(table_path)
    _recover_swap(root)
    if not os.path.isdir(root):
        return 0
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        folded = (
            spark.read.format(fmt)
            .load(root)
            .groupBy(id_col, partition_col)
            .agg(F.max(seq_col).alias(seq_col))
            .select(id_col, partition_col, seq_col,
                    F.lit("compacted").alias("batch"))
        )
        kept = _swap_in_rewrite(
            root,
            lambda staging: folded.write.mode("overwrite")
            .format(fmt)
            .partitionBy(partition_col, "batch")
            .save(staging),
            # count the just-written staging files: one source pass
            # total, instead of recomputing the fold a second time
            count=lambda staging: spark.read.format(fmt)
            .load(staging).count(),
        )
        return kept
    finally:
        spark.conf.set(infer_key, prev)


def _staging_of(root: str) -> str:
    return root.rstrip("/") + ".compacting"


def _retired_of(root: str) -> str:
    return root.rstrip("/") + ".old"


def _recover_swap(root: str) -> None:
    """Repair any crash window of :func:`_swap_in_rewrite`: if a crash
    hit between 'rename root aside' and 'rename staging in', the live
    dir is missing but the retired copy exists — restore it (the
    staging copy may be incomplete; the retired one is always whole).
    Stale staging/retired leftovers are removed."""
    retired, staging = _retired_of(root), _staging_of(root)
    if not os.path.isdir(root) and os.path.isdir(retired):
        os.rename(retired, root)
    for leftover in (staging, retired):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


def _swap_in_rewrite(root: str, write_to, count=None) -> int:
    """Crash-safe replace of directory ``root`` with a rewrite: write
    the new contents to a staging sibling, rename the old root aside,
    rename staging in, then drop the old copy. At every instant a
    complete copy of the data exists on disk under ``root`` or its
    ``.old`` sibling (never only in memory), and :func:`_recover_swap`
    makes any interrupted swap converge on the next call. Both sibling
    names keep the root's underscore prefix, so Spark's file listing
    hides them from plain table reads. ``count`` (optional) receives
    the STAGING path after the write — count the freshly written files
    there rather than re-running the fold's lineage (which would scan
    the source a second time)."""
    retired, staging = _retired_of(root), _staging_of(root)
    write_to(staging)
    kept = count(staging) if count is not None else 0
    os.rename(root, retired)
    os.rename(staging, root)
    shutil.rmtree(retired)
    return kept


def _drop_stale_events(
    spark,
    latest: DataFrame,
    table_path: str,
    id_col: str,
    partition_col: str,
    seq_col: str,
    op_col: str,
    fmt: str,
) -> DataFrame:
    """Filter a deduplicated CDC event set down to events at least as
    new as the stored row (``event.seq >= stored.seq``; absent rows
    always pass, so inserts and replays survive) AND strictly newer
    than the id's max tombstone seq (delete wins ties — see
    :func:`cdc_merge_foreach_batch` on resurrection). Scale shape: the
    stored and tombstone reads are partition-pruned to the batch's
    partitions and anchored by BROADCAST semi-joins on the event keys
    before the (also broadcast) seq lookups — every join builds from
    the delta."""
    from flink_examples_spark.operators.diff import (
        is_unable_to_infer_schema,
    )

    parts = [
        r[0] for r in latest.select(partition_col).distinct().collect()
    ]
    keys = latest.select(id_col, partition_col)
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        try:
            stored = (
                spark.read.format(fmt)
                .load(table_path)
                .filter(F.col(partition_col).isin(parts))
                .select(
                    id_col, partition_col,
                    F.col(seq_col).alias("_stored_seq"),
                )
            )
            anchored = stored.join(
                F.broadcast(keys), [id_col, partition_col], "left_semi"
            )
            latest = (
                latest.join(
                    F.broadcast(anchored), [id_col, partition_col], "left"
                )
                .filter(
                    F.col("_stored_seq").isNull()
                    | (F.col(seq_col) >= F.col("_stored_seq"))
                )
                .drop("_stored_seq")
            )
        except Exception as e:  # all partitions removed: no stored rows
            if not is_unable_to_infer_schema(e):
                raise
        tomb_root = _tombstone_root(table_path)
        _recover_swap(tomb_root)  # never read through a half-done swap
        if os.path.isdir(tomb_root):
            tombs = (
                spark.read.format(fmt)
                .load(tomb_root)
                .filter(F.col(partition_col).isin(parts))
                .join(F.broadcast(keys), [id_col, partition_col],
                      "left_semi")
                .groupBy(id_col, partition_col)
                .agg(F.max(seq_col).alias("_tomb_seq"))
            )
            latest = (
                latest.join(
                    F.broadcast(tombs), [id_col, partition_col], "left"
                )
                .filter(
                    F.col("_tomb_seq").isNull()
                    | (F.col(seq_col) > F.col("_tomb_seq"))
                )
                .drop("_tomb_seq")
            )
        return latest
    finally:
        spark.conf.set(infer_key, prev)


class _Spec(NamedTuple):
    """One staged-partials family. ``merge`` folds a union of the
    family's batch tables and maps its own output to itself, so a
    compacted table folds like any batch; ``schema`` is the DDL of an
    empty read; ``idempotent`` says whether merging a batch twice is
    harmless (see the module docstring's replay rule)."""

    merge: Callable[[DataFrame], DataFrame]
    schema: str
    idempotent: bool = False


def _committed(root: str, exclude: int | None = None) -> list[str]:
    """Names of the committed batch subdirs of a partials root — those
    holding Spark's ``_SUCCESS`` marker — without ``batch=<exclude>``.
    Heals an interrupted compaction swap first."""
    _recover_swap(root)
    if not os.path.isdir(root):
        return []
    return sorted(
        n for n in os.listdir(root)
        if not n.startswith((".", "_"))
        and n != f"batch={exclude}"
        and os.path.isfile(os.path.join(root, n, "_SUCCESS"))
    )


def _batch_ids(names: list[str]) -> list[int]:
    return [
        int(n[6:]) for n in names
        if n.startswith("batch=") and n[6:].isdigit()
    ]


def _read(spark, root: str, spec: _Spec,
          exclude: int | None = None) -> DataFrame:
    """The family's fold of every committed batch subdir (``exclude``
    leaves one batch out); empty with the family's schema when there
    is none."""
    subs = _committed(root, exclude)
    if not subs:
        return spark.createDataFrame([], spec.schema)
    return spec.merge(
        spark.read.parquet(*[os.path.join(root, n) for n in subs])
    )


def _write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"batch={batch_id}")
    )


def _ingest(
    root: str,
    spec: _Spec,
    partial: Callable[[DataFrame, int], DataFrame],
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` face of a family: compact at the top of every
    Nth batch, then overwrite ``batch=<id>`` with ``partial``."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _recover_swap(root)
        n = compact_every_n_batches
        if n and batch_id > 0 and batch_id % n == 0:
            _compact(batch_df.sparkSession, root, spec)
        _write_batch(partial(batch_df, batch_id), root, batch_id)

    return apply


def _compact(spark, root: str, spec: _Spec) -> int:
    """Fold the committed subdirs — all of them for an idempotent
    merge, all but the newest numbered one otherwise — into
    ``batch=compacted``; returns its rows, 0 when there is nothing to
    fold. Uncommitted subdirs are dropped by the swap."""
    subs = _committed(root)
    ids = _batch_ids(subs)
    spare = None if spec.idempotent or not ids else f"batch={max(ids)}"
    fold = [n for n in subs if n != spare]
    if not any(n != "batch=compacted" for n in fold):
        return 0
    folded = spec.merge(
        spark.read.parquet(*[os.path.join(root, n) for n in fold])
    )
    carried = [
        n for n in os.listdir(root) if n.startswith("_") or n == spare
    ]

    def write_to(staging: str) -> None:
        folded.write.mode("overwrite").parquet(
            os.path.join(staging, "batch=compacted")
        )
        for n in carried:
            src = os.path.join(root, n)
            copy = shutil.copytree if os.path.isdir(src) else shutil.copy2
            copy(src, os.path.join(staging, n))

    return _swap_in_rewrite(
        root, write_to,
        # count the just-written files, not a second fold pass
        count=lambda staging: spark.read.schema(folded.schema)
        .parquet(os.path.join(staging, "batch=compacted")).count(),
    )


def _fp_index(fp_col: str) -> _Spec:
    """Fingerprint index: one distinct set. Spares the newest batch
    because each ingest probe excludes its own batch's subdir, so a
    replay is not stripped against itself — which only works while
    that batch's fingerprints still live in their own subdir."""
    return _Spec(
        lambda df: df.select(fp_col).distinct(), f"{fp_col} string"
    )


def paragraph_dedup_ingest_foreach_batch(
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    min_chars: int = 1,
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` ingest face of corpus paragraph dedup: each
    micro-batch of documents is stripped against the ACCUMULATED
    paragraph-fingerprint index (operators.dedup
    ``incremental_paragraph_dedup`` — corpus always wins, within-batch
    min (doc_id, pos) canonical), the deduped docs land under
    ``out_path/batch=<id>``, and the batch's surviving paragraph
    fingerprints are staged under ``index_path/batch=<id>``.

    Cross-batch semantics: an earlier batch's paragraph beats a later
    batch's copy regardless of doc_id — arrival order IS the canonical
    order, the ingest contract (a single-batch run of the incremental
    operator would use (doc_id, pos) instead; equal when docs arrive in
    id order, which the parity test pins).

    Scale shape: the index read is a narrow scan of 16-byte rows; the
    probe broadcasts only the batch's fingerprints (delta-sized, see
    the batch operator's docstring). :func:`compact_paragraph_index`
    folds the index into one distinct set.
    """

    from flink_examples_spark.operators.dedup import (
        incremental_paragraph_dedup,
        paragraph_fp_index,
    )

    return _staged_fp_ingest_foreach_batch(
        index_path, out_path, compact_every_n_batches,
        fp_col="pfp",
        strip_fn=lambda idx, batch_df: incremental_paragraph_dedup(
            idx, batch_df, id_col, text_col, sep=sep, min_chars=min_chars
        ),
        index_fn=lambda surv: paragraph_fp_index(
            surv, id_col, "text", sep
        ),
    )


def span_dedup_ingest_foreach_batch(
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    sep: str = ". ",
    width: int = 3,
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` ingest face of C4-style SPAN dedup — the span
    family's twin of :func:`paragraph_dedup_ingest_foreach_batch`.
    Each micro-batch is masked against the accumulated span-fingerprint
    index via ``operators.dedup.incremental_span_dedup``, and the
    SHIPPED text's spans (post-masking adjacencies, i.e. what the
    corpus actually now contains) extend the index."""
    from flink_examples_spark.operators.dedup import (
        incremental_span_dedup,
        span_fp_index,
    )

    return _staged_fp_ingest_foreach_batch(
        index_path, out_path, compact_every_n_batches,
        fp_col="sfp",
        strip_fn=lambda idx, batch_df: incremental_span_dedup(
            idx, batch_df, id_col, text_col, sep=sep, width=width
        ),
        index_fn=lambda surv: span_fp_index(
            surv, id_col, "text", sep=sep, width=width
        ),
    )


def _staged_fp_ingest_foreach_batch(
    index_path: str,
    out_path: str,
    compact_every_n_batches: int | None,
    fp_col: str,
    strip_fn: Callable[[DataFrame, DataFrame], DataFrame],
    index_fn: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """Shared fingerprint-index ingest: strip the batch with
    ``strip_fn`` against the index WITHOUT the batch's own subdir (a
    replay must not strip against itself), ship the output under
    ``out_path/batch=<id>``, then stage the survivors' fingerprints
    (``index_fn`` over non-NULL texts). Output-before-index ordering
    means a crash between the two replays the batch instead of
    poisoning the index with never-shipped content."""
    spec = _fp_index(fp_col)
    # the probe dedups its delta-sized hits itself; a distinct here
    # would shuffle the whole index
    rows = spec._replace(merge=lambda df: df.select(fp_col))

    def partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        idx = _read(batch_df.sparkSession, index_path, rows, batch_id)
        out = strip_fn(idx, batch_df).localCheckpoint()
        _write_batch(out, out_path, batch_id)
        return index_fn(out.filter(F.col("text").isNotNull()))

    return _ingest(index_path, spec, partial, compact_every_n_batches)


def compact_paragraph_index(spark, index_path: str,
                            fp_col: str = "pfp") -> int:
    """Fold a staged fingerprint index into one distinct set under
    ``batch=compacted``; returns the distinct fingerprints folded.
    ``fp_col`` names the fingerprint column — ``pfp`` for the
    paragraph index, ``sfp`` for the span index, ``fp`` for the
    hygiene ingest's shipped-text index."""
    return _compact(spark, index_path, _fp_index(fp_col))


_COUNTMIN = _Spec(
    lambda df: df.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt")),
    "j int, bucket long, cnt long",
)


def countmin_ingest_foreach_batch(
    sketch_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming face of the Count-Min sketch (operators/sketches.py):
    each micro-batch stages its own ``(j, bucket, cnt)`` table — at
    most depth × width rows — and readers fold by cell-wise SUM, the
    mergeable-sketch property doing exactly what it exists for.
    Counts are additive, so compaction spares the newest batch."""
    from flink_examples_spark.operators.sketches import countmin_table

    return _ingest(
        sketch_path, _COUNTMIN,
        lambda df, _: countmin_table(df, key_col, depth, width),
        compact_every_n_batches,
    )


def read_countmin_sketch(spark, sketch_path: str) -> DataFrame:
    """The current sketch ``(j, bucket, cnt)``: sketch-sized however
    long the ingest has run; an empty sketch estimates 0 for every
    key."""
    return _read(spark, sketch_path, _COUNTMIN)


def compact_countmin_sketch(spark, sketch_path: str) -> int:
    """Fold the staged sketch into ``batch=compacted``; returns its
    cells."""
    return _compact(spark, sketch_path, _COUNTMIN)


def _profile(k: int) -> _Spec:
    from flink_examples_spark.operators.integrity import (
        column_profile_fold,
    )

    return _Spec(
        lambda df: column_profile_fold(df, k),
        "col string, n_rows long, n_nulls long, n_kept int, "
        "distinct_est double",
    )


def column_profile_ingest_foreach_batch(
    profile_path: str,
    cols: list[str],
    k: int = 64,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest profiling: each micro-batch stages its
    MERGEABLE column-profile partial (operators/integrity.py
    ``column_profile_partial`` — exact row/null counts + KMV kept-set
    for distinct estimation). The profile of a week of ingest costs
    reading kilobytes of partials, never re-scanning the data. The
    partial is folded only on read (``column_profile_fold`` turns it
    into the profile), so the family has no compaction."""
    from flink_examples_spark.operators.integrity import (
        column_profile_partial,
    )

    return _ingest(
        profile_path, _profile(k),
        lambda df, _: column_profile_partial(df, cols, k),
    )


def read_column_profile(spark, profile_path: str,
                        k: int = 64) -> DataFrame:
    """The current profile: ``column_profile_fold`` over every staged
    partial."""
    return _read(spark, profile_path, _profile(k))


def _last_events(
    df: DataFrame, part_col: str, order_cols: list[str], node_col: str
) -> DataFrame:
    """Per-key last event by ``order_cols`` (struct-max argmax — one
    map-side-combinable aggregate, no window)."""
    m = F.max(
        F.struct(
            *[F.col(c) for c in order_cols], F.col(node_col).alias("__n")
        )
    ).alias("__m")
    return df.groupBy(part_col).agg(m).select(
        part_col,
        *[F.col(f"__m.{c}").alias(c) for c in order_cols],
        F.col("__m.__n").alias(node_col),
    )


_EDGES = _Spec(
    lambda df: df.groupBy("src", "dst").agg(F.sum("w").alias("w")),
    "src long, dst long, w long",
)


def transition_edges_ingest_foreach_batch(
    edges_path: str,
    part_col: str,
    order_cols: list[str],
    node_col: str,
    carry_tails: bool = True,
) -> Callable[[DataFrame, int], None]:
    """Streaming graph construction: each micro-batch stages its own
    weighted transition-edge table (operators/graph.py
    ``transition_edges``). Edge weights are counts, so the accumulated
    graph is the SUM of batch tables; readers fold with
    :func:`read_transition_edges` and run the iterative ``walk_mass``
    on the folded graph — no raw-event replay.

    Batch-boundary straddle (``carry_tails=True``, the default): each
    batch also stages the CUMULATIVE per-key last event under
    ``edges_path/_tails/batch=<id>`` (one row per key — the minimal
    state exact parity needs). Batch N prepends the newest committed
    tail table below N, so the last-event-of-batch-N →
    first-event-of-batch-N+1 transition IS an edge in batch N+1's
    table: the folded graph equals ``transition_edges`` over the whole
    concatenated log exactly, replays included (a replayed batch reads
    the tails BELOW its id, never its own). Assumes per-key
    ``order_cols`` monotonicity across batches — an event-time-ordered
    log per key. ``carry_tails=False`` is the stateless variant
    (boundary transitions undercounted, zero state) for logs where
    keys are batch-aligned anyway."""
    from flink_examples_spark.operators.graph import transition_edges

    tails_root = os.path.join(edges_path, "_tails")
    sel = [part_col, *order_cols, node_col]

    def partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        combined = batch_df.select(*sel)
        if carry_tails:
            below = [
                i for i in _batch_ids(_committed(tails_root))
                if i < batch_id
            ]
            if below:
                prev = batch_df.sparkSession.read.parquet(
                    os.path.join(tails_root, f"batch={max(below)}")
                ).select(*sel)
                combined = prev.unionByName(combined)
            # single-reference the union: edges + new tails both read it
            combined = combined.localCheckpoint(eager=True)
            _write_batch(
                _last_events(combined, part_col, order_cols, node_col),
                tails_root, batch_id,
            )
        return transition_edges(combined, part_col, order_cols, node_col)

    return _ingest(edges_path, _EDGES, partial)


def read_transition_edges(spark, edges_path: str) -> DataFrame:
    """The current graph ``(src, dst, w)``: weight-sum of the staged
    edge tables."""
    return _read(spark, edges_path, _EDGES)


def _hll(group_cols: list[str],
         group_schema: str = "event_type string") -> _Spec:
    return _Spec(
        lambda df: df.groupBy(*group_cols, "bucket")
        .agg(F.max("reg").alias("reg")),
        f"{group_schema}, bucket long, reg int",
        idempotent=True,
    )


def hll_ingest_foreach_batch(
    sketch_path: str,
    key_col: str,
    group_cols: list[str],
    p: int = 6,
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming face of the HyperLogLog register table
    (operators/sketches.py ``hll_registers``): each micro-batch stages
    its own register table (at most ``2**p`` rows per group); readers
    fold by element-wise MAX. Register MAX is IDEMPOTENT — the
    contrast with the Count-Min twin — so compaction folds every batch,
    the newest included: a replayed batch recreates its subdir and the
    max-fold of (compacted ∪ recreated) equals the pre-replay fold."""
    from flink_examples_spark.operators.sketches import hll_registers

    return _ingest(
        sketch_path, _hll(group_cols),
        lambda df, _: hll_registers(df, key_col, group_cols, p),
        compact_every_n_batches,
    )


def read_hll_registers(
    spark,
    sketch_path: str,
    group_cols: list[str],
    group_schema: str = "event_type string",
) -> DataFrame:
    """The current register table; ``group_schema`` types the group
    columns of an empty read."""
    return _read(spark, sketch_path, _hll(group_cols, group_schema))


def compact_hll_registers(
    spark,
    sketch_path: str,
    group_cols: list[str],
) -> int:
    """Fold every staged register table into ``batch=compacted``;
    returns its registers."""
    return _compact(spark, sketch_path, _hll(group_cols))


def _bitmap(group_cols: list[str], group_schema: str = "day date") -> _Spec:
    return _Spec(
        lambda df: df.groupBy(*group_cols, "word_idx")
        .agg(F.bit_or("word").alias("word")),
        f"{group_schema}, word_idx long, word long",
        idempotent=True,
    )


def bitmap_ingest_foreach_batch(
    bitmap_path: str,
    key_col: str,
    group_cols: list[str],
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming face of the exact presence bitmaps
    (operators/bitmap.py ``presence_bitmaps``) — the set-EXACT
    counterpart of :func:`hll_ingest_foreach_batch` (SURVEY §2.14
    engagement analytics): each micro-batch stages its own sparse
    packed-word table (at most keyspace/64 words per group); readers
    fold by ``bit_or``, so DAU/retention/stickiness reads touch
    kilobytes of words, never re-scanning events. ``bit_or`` is
    IDEMPOTENT (a ∪ a = a), so compaction folds every batch, the
    newest included."""
    from flink_examples_spark.operators.bitmap import presence_bitmaps

    return _ingest(
        bitmap_path, _bitmap(group_cols),
        lambda df, _: presence_bitmaps(df, group_cols, key_col),
        compact_every_n_batches,
    )


def read_presence_bitmaps(
    spark,
    bitmap_path: str,
    group_cols: list[str],
    group_schema: str = "day date",
) -> DataFrame:
    """The current bitmap table; ``group_schema`` types the group
    columns of an empty read."""
    return _read(spark, bitmap_path, _bitmap(group_cols, group_schema))


def compact_presence_bitmaps(
    spark,
    bitmap_path: str,
    group_cols: list[str],
) -> int:
    """Fold every staged bitmap table into ``batch=compacted``; returns
    its words."""
    return _compact(spark, bitmap_path, _bitmap(group_cols))


_TOKENS = _Spec(
    lambda df: df.groupBy("source", "token")
    .agg(F.sum("c_st").alias("c_st")),
    "source string, token string, c_st long",
)


def token_counts_ingest_foreach_batch(
    counts_path: str,
    source_col: str = "source",
    text_col: str = "text",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the token-drift monitor (VERDICT r8 #3):
    each micro-batch of documents stages its own ``(source, token,
    c_st)`` partial (``operators.drift.token_count_partials`` — the
    registered batch query's own first stage). Counts are additive,
    so the reader's sum-fold equals one pass over the whole corpus and
    compaction spares the newest batch; a monitoring check
    (:func:`read_token_tv_drift`) costs vocabulary-sized partials,
    never a corpus re-scan."""
    from flink_examples_spark.operators.drift import token_count_partials

    return _ingest(
        counts_path, _TOKENS,
        lambda df, _: token_count_partials(df, source_col, text_col),
        compact_every_n_batches,
    )


def read_token_counts(spark, counts_path: str) -> DataFrame:
    """The current ``(source, token, c_st)`` count table."""
    return _read(spark, counts_path, _TOKENS)


def read_token_tv_drift(spark, counts_path: str) -> DataFrame:
    """Assemble the EXACT integer total-variation drift of the
    registered ``source_token_tv_drift`` query from staged partials:
    same algebra (``operators.drift.tv_drift_from_counts``), same
    decimal(38,0) products, same output schema ``(source, n_tokens,
    tv_drift_ppm)`` — hash-identical to the batch query over the same
    documents, at partial-fold cost."""
    from flink_examples_spark.operators.drift import tv_drift_from_counts

    return tv_drift_from_counts(read_token_counts(spark, counts_path))


def compact_token_counts(spark, counts_path: str) -> int:
    """Fold the staged counts into ``batch=compacted``; returns its
    rows."""
    return _compact(spark, counts_path, _TOKENS)


def _fold_url_partials(df: DataFrame) -> DataFrame:
    """(sum, sum, min) fold of staged per-URL partials — the merge that
    makes them equal one pass over the union."""
    return df.groupBy("url_norm").agg(
        F.sum("n_docs_u").alias("n_docs_u"),
        F.sum("chars_u").alias("chars_u"),
        F.min("min_doc_id").alias("min_doc_id"),
    )


_URLS = _Spec(
    _fold_url_partials,
    "url_norm string, n_docs_u long, chars_u long, min_doc_id long",
)


def url_partials_ingest_foreach_batch(
    partials_path: str,
    id_col: str = "doc_id",
    source_col: str = "source",
    chars_col: str = "n_chars",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the crawl pre-text stage (VERDICT r9 #4):
    each micro-batch of documents stages its own per-URL partial
    ``(url_norm, n_docs_u, chars_u, min_doc_id)``
    (``operators.crawl.url_partials`` — the batch queries' own
    algebra). ONE staged partial serves BOTH crawl monitors:
    :func:`read_host_boilerplate_census` and
    :func:`read_url_dedup_canonical`. The survivor id folds by min,
    which alone would be idempotent, but the doc-count and char sums
    are additive, so compaction spares the newest batch."""
    from flink_examples_spark.operators.crawl import url_partials

    return _ingest(
        partials_path, _URLS,
        lambda df, _: url_partials(df, id_col, source_col, chars_col),
        compact_every_n_batches,
    )


def read_url_partials(spark, partials_path: str) -> DataFrame:
    """The current per-URL table."""
    return _read(spark, partials_path, _URLS)


def read_host_boilerplate_census(spark, partials_path: str) -> DataFrame:
    """Assemble the EXACT host census of the registered
    ``host_boilerplate_census`` query from staged per-URL partials:
    same assembly body (``operators.crawl.host_census_from_url_
    partials``), same output schema ``(host, n_docs, n_pages,
    dup_page_ppm, chars_per_doc)`` — hash-identical to the batch query
    over the same documents, at partial-fold cost."""
    from flink_examples_spark.operators.crawl import (
        host_census_from_url_partials,
    )

    return host_census_from_url_partials(
        read_url_partials(spark, partials_path)
    )


def read_url_dedup_canonical(spark, partials_path: str) -> DataFrame:
    """Assemble the EXACT duplicate-group ledger of the registered
    ``url_dedup_canonical`` query from the same staged partials:
    ``(url_norm, n_docs, keep_doc_id)`` groups of >= 2 with the
    min-doc_id survivor (``operators.crawl.url_dedup_from_partials``)."""
    from flink_examples_spark.operators.crawl import url_dedup_from_partials

    return url_dedup_from_partials(read_url_partials(spark, partials_path))


def compact_url_partials(spark, partials_path: str) -> int:
    """Fold the staged per-URL partials into ``batch=compacted``;
    returns its rows."""
    return _compact(spark, partials_path, _URLS)


def _host_line_partial(
    df: DataFrame, id_col: str, host_col: str, text_col: str
) -> DataFrame:
    """``(host, lfp, n_occ, line_chars)`` per distinct host line."""
    from flink_examples_spark.operators.dedup import _host_lines

    return (
        _host_lines(df, id_col, host_col, text_col, ". ")
        .groupBy("host", F.md5("line").alias("lfp"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            # constant per (host, lfp): any representative works,
            # and min() folds batch partials to the same constant
            F.min(F.length("line").cast("long")).alias("line_chars"),
        )
    )


def _fold_host_line_partials(df: DataFrame) -> DataFrame:
    """(sum, min) fold of staged host-line partials — counts add,
    line length is constant per fingerprint."""
    return df.groupBy("host", "lfp").agg(
        F.sum("n_occ").alias("n_occ"),
        F.min("line_chars").alias("line_chars"),
    )


_HOST_LINES = _Spec(
    _fold_host_line_partials,
    "host string, lfp string, n_occ long, line_chars long",
)


def host_line_partials_ingest_foreach_batch(
    partials_path: str,
    id_col: str = "doc_id",
    host_col: str = "host",
    text_col: str = "text",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the host-scoped LINE stage: each
    micro-batch of (already host-tagged) documents stages its own
    ``(host, lfp, n_occ, line_chars)`` partial. Occurrence counts are
    additive (so compaction spares the newest batch) and a line's
    length is constant per fingerprint, so the (sum, min) fold equals
    one pass over the whole corpus. ONE staged partial serves BOTH
    line-stage consumers: :func:`read_host_line_dedup_census` (the
    boilerplate monitor, hash-identical to the registered
    ``host_line_dedup_census`` over the same docs) and
    :func:`read_host_line_fp_index` (the exact index
    ``operators.dedup.incremental_host_line_strip`` probes on every new
    dump — the daily strip never re-explodes the corpus)."""
    return _ingest(
        partials_path, _HOST_LINES,
        lambda df, _: _host_line_partial(df, id_col, host_col, text_col),
        compact_every_n_batches,
    )


def read_host_line_partials(spark, partials_path: str) -> DataFrame:
    """The current ``(host, lfp, n_occ, line_chars)`` table."""
    return _read(spark, partials_path, _HOST_LINES)


def read_host_line_fp_index(spark, partials_path: str) -> DataFrame:
    """The staged ``(host, lfp, n_occ)`` index
    ``operators.dedup.incremental_host_line_strip`` probes — folded
    from the same partials the census reader consumes, so the daily
    strip and the monitor share one staged artifact."""
    return read_host_line_partials(spark, partials_path).select(
        "host", "lfp", "n_occ"
    )


def read_host_line_dedup_census(spark, partials_path: str,
                                min_count: int = 3) -> DataFrame:
    """Assemble the EXACT per-host census of the registered
    ``host_line_dedup_census`` query from staged partials: same output
    schema ``(host, n_lines, n_line_instances, n_boiler_lines,
    total_chars, removed_chars, removed_ppm)``, hash-identical to the
    batch query over the same documents, at partial-fold cost — the
    corpus is never re-exploded for a monitoring check."""
    per_line = read_host_line_partials(spark, partials_path)
    boiler = F.col("n_occ") >= int(min_count)
    chars = F.col("line_chars") * F.col("n_occ")
    return (
        per_line.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("n_occ").cast("long").alias("n_line_instances"),
            F.sum(F.when(boiler, 1).otherwise(0))
            .cast("long")
            .alias("n_boiler_lines"),
            F.sum(chars).alias("total_chars"),
            F.sum(F.when(boiler, chars).otherwise(0))
            .alias("removed_chars"),
        )
        .where(F.col("total_chars") > 0)
        .select(
            "host",
            "n_lines",
            "n_line_instances",
            "n_boiler_lines",
            "total_chars",
            "removed_chars",
            F.expr(
                "CAST(removed_chars AS decimal(38,0)) * 1000000 "
                "div total_chars"
            ).alias("removed_ppm"),
        )
    )


def compact_host_line_partials(spark, partials_path: str) -> int:
    """Fold the staged host-line partials into ``batch=compacted``;
    returns its rows."""
    return _compact(spark, partials_path, _HOST_LINES)


_EMBEDDINGS = _Spec(
    lambda df: df.select("vec_id", "embedding"),
    "vec_id long, embedding array<double>",
)


def embedding_index_ingest_foreach_batch(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the embedding-dedup stage (VERDICT r10
    next-round #2): each micro-batch stages its ``(vec_id, embedding)``
    rows — the corpus-vector index that :func:`read_embedding_index`
    assembles and ``operators.similarity.incremental_embedding_neardup``
    probes with the broadcast delta on every new dump, so the corpus
    is never re-blocked or re-paired.

    The merge is a plain row union with NO keyed fold: the probing
    plan must carry ZERO exchanges, and a groupBy here would reshuffle
    the corpus on every probe. Batches are disjoint row sets (each
    vec_id arrives in exactly one micro-batch; a re-crawled id must be
    deduped upstream, e.g. by the url stage, before embedding), so the
    union IS the corpus. A union is additive: a replayed batch folded
    twice would surface as phantom self-pairs, so compaction spares
    the newest batch."""
    return _ingest(
        index_path, _EMBEDDINGS,
        lambda df, _: df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ),
        compact_every_n_batches,
    )


def read_embedding_index(spark, index_path: str) -> DataFrame:
    """The staged corpus-vector index ``(vec_id, embedding)``."""
    return _read(spark, index_path, _EMBEDDINGS)


def compact_embedding_index(spark, index_path: str) -> int:
    """Concatenate the staged vectors into ``batch=compacted``; returns
    its rows."""
    return _compact(spark, index_path, _EMBEDDINGS)


def stage_ivf_centroids(spark, index_path: str, centroids) -> int:
    """Write the trained IVF coarse quantizer under
    ``index_path/_centroids`` — ONCE per index lifetime (VERDICT r11
    next-round #5): every later ingest batch is assigned against these
    same centroids, so per-batch subdirs stay unionable without a fold
    (an assignment drift between batches would corrupt probe masks).
    The underscore prefix keeps it out of the batch listing, and
    compaction carries it into the compacted index.
    Overwrite-idempotent (re-staging the same centroids replays
    safely); returns the number of cells staged."""
    import numpy as np

    cent = np.asarray(centroids, dtype=np.float64)
    rows = [(int(i), [float(v) for v in cent[i]]) for i in range(len(cent))]
    spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(index_path, "_centroids")
    )
    return len(rows)


def read_ivf_centroids(spark, index_path: str):
    """The staged coarse quantizer as an (n_clusters, dim) numpy array
    ordered by cell — the closure-sized artifact every probe and every
    ingest assignment loads (kilobytes; never a distributed read
    path). Missing path reads as an empty (0, 0) array."""
    import numpy as np

    path = os.path.join(index_path, "_centroids")
    if not os.path.isdir(path):
        return np.zeros((0, 0))
    rows = spark.read.parquet(path).collect()
    rows.sort(key=lambda r: r["cell"])
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


_IVF = _Spec(
    lambda df: df.select("vec_id", "cell", "embedding"),
    "vec_id long, cell int, embedding array<double>",
)


def ivf_index_ingest_foreach_batch(
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every_n_batches: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming ingest for the STAGED IVF index (VERDICT r11
    next-round #5 — the ANN family's answer to the embedding-index
    twin): each micro-batch of ``(vec_id, embedding)`` rows is
    assigned to its cell against the STAGED centroids
    (``operators.similarity.ivf_assign_cells`` — assignment only,
    never retraining) and staged as ``(vec_id, cell, embedding)``.
    ``stage_ivf_centroids`` must run before the first batch; a batch
    arriving with no centroids staged raises rather than silently
    training its own (drifted assignments would poison every later
    probe). The merge is the embedding index's fold-free row union,
    with its replay rule."""
    from flink_examples_spark.operators.similarity import ivf_assign_cells

    def partial(batch_df: DataFrame, _: int) -> DataFrame:
        cent = read_ivf_centroids(batch_df.sparkSession, index_path)
        if cent.size == 0:
            raise ValueError(
                f"no centroids staged under {index_path!r}: run "
                "stage_ivf_centroids before the first ingest batch"
            )
        return ivf_assign_cells(
            batch_df, cent, id_col=id_col, vec_col=vec_col
        ).select(
            F.col(id_col).alias("vec_id"),
            "cell",
            F.col(vec_col).cast("array<double>").alias("embedding"),
        )

    return _ingest(index_path, _IVF, partial, compact_every_n_batches)


def read_ivf_index(spark, index_path: str) -> DataFrame:
    """The staged IVF index ``(vec_id, cell, embedding)``."""
    return _read(spark, index_path, _IVF)


def compact_ivf_index(spark, index_path: str) -> int:
    """Concatenate the staged rows into ``batch=compacted``, keeping
    the staged ``_centroids``; returns its rows."""
    return _compact(spark, index_path, _IVF)


def hygiene_delta_ingest_foreach_batch(
    url_root: str,
    line_root: str,
    fp_root: str,
    out_path: str,
    id_col: str = "doc_id",
    url_col: str = "url_norm",
    host_col: str = "host",
    text_col: str = "text",
    raw_col=None,
    min_count: int = 3,
) -> Callable[[DataFrame, int], None]:
    """The daily hygiene job's ingest face — the DAY-2 LOOP: each
    micro-batch is one delta dump; it is (1) run through the composed
    ``operators.crawl.incremental_hygiene_pipeline`` against the three
    ACCUMULATED staged indexes, (2) its kept/rewritten/scrubbed docs
    ship under ``out_path/batch=<id>``, and (3) the indexes are
    UPSERTED so tomorrow's dump probes today's state:

      - url partials gain ALL the batch's canonical URLs (a seen URL
        dedups future re-crawls whether or not its doc shipped —
        shipping decisions never un-see a URL),
      - line partials gain the SHIPPED docs' KEPT lines (the ship-state
        rule: the corpus contains what survived, so boilerplate counts
        track the post-strip text — deliberately different from the
        registered query's raw-snapshot inline index, which models a
        one-shot build over an as-crawled corpus),
      - the fingerprint index gains the shipped docs' md5(kept_text) —
        the SAME stage the probe fingerprints, so cross-day exact
        dedup keeps firing.

    The FIRST batch against empty roots is the bootstrap: url dedup
    degenerates to within-batch min-id, the strip to within-batch
    counts, fp dedup to within-batch keep-first — the face is total,
    no separate corpus-initialization path. Every read EXCLUDES the
    in-flight batch's own subdirs (a replay must not probe its own
    previous write — all its URLs would read as corpus hits and the
    whole batch would drop); output-before-index ordering means a
    crash between the writes replays the batch instead of poisoning
    the indexes with never-shipped content. The three roots compact
    with their own faces (:func:`compact_url_partials`,
    :func:`compact_host_line_partials`, :func:`compact_paragraph_index`
    with ``fp_col='fp'``).

    Pinned contract (tests/test_url.py day-2 e2e): after any prefix of
    batches, the staged indexes equal a ONE-SHOT construction over
    (all urls seen, all shipped kept texts) — so day N's output equals
    the composed pipeline probing inline-built day-N state."""
    from flink_examples_spark.operators.crawl import (
        incremental_hygiene_pipeline,
        url_partials,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        uidx = _read(spark, url_root, _URLS, batch_id)
        lidx = _read(spark, line_root, _HOST_LINES, batch_id)
        cfps = _read(spark, fp_root, _fp_index("fp"), batch_id)
        delta = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(url_col).alias("url_norm"),
            F.col(host_col).alias("host"),
            F.col(text_col).alias("text"),
        )
        out = incremental_hygiene_pipeline(
            uidx, lidx, cfps, delta,
            raw_col=raw_col, min_count=min_count, with_kept_text=True,
        ).localCheckpoint()
        # ship FIRST: a crash before the index writes replays the
        # batch; the reverse order would index never-shipped content
        _write_batch(out, out_path, batch_id)
        _write_batch(
            url_partials(
                delta.withColumn("n_chars", F.length("text")),
                "doc_id", "doc_id", "n_chars", url=F.col("url_norm"),
            ),
            url_root, batch_id,
        )
        shipped = out.select(
            "doc_id", "host", F.col("kept_text").alias("text")
        )
        _write_batch(
            _host_line_partial(shipped, "doc_id", "host", "text"),
            line_root, batch_id,
        )
        _write_batch(
            shipped.select(F.md5("text").alias("fp")).distinct(),
            fp_root, batch_id,
        )

    return apply
