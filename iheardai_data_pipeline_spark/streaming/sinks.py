"""Streaming sinks (T7/K7 archive, §3.2 foreachBatch maintenance, J4/K5 state).

The reference's loader writes each micro-batch to Postgres (upserts),
refreshes the touched-session aggregate, and updates Redis session state
(enhanced_kpi_consumer.py:137-250). The Spark restatement is one
``foreachBatch`` that (a) merges facts, (b) recomputes the per-session
aggregate for the batch's touched keys, (c) maintains a session-state
table with a seq guard. The store is the transactional bucketed store
(:class:`streaming.stores.BucketedTransactionalStore`): every fold is a
key-local OCC read-modify-write through ``apply_keyed``, so a writer
that loses a commit race re-reads and re-merges instead of clobbering
the winner, and only the touched buckets are rewritten.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from iheardai_data_pipeline_spark.operators.mutations import last_write_wins
from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore


def harness_checkpoint_dir(prefix: str = "ckpt_") -> str:
    """Checkpoint dir for the BOUNDED local availableNow harness:
    RAM-backed (/dev/shm) when the platform provides it, else a normal
    tempdir. Every stateful operator commits one state-store delta file
    per shuffle partition per micro-batch into the checkpoint — for a
    replay that lives a few seconds this disk I/O IS the dominant fixed
    cost (measured: the stream-stream join drops ~20% from the move to
    RAM alone). Production deployments must point checkpointLocation at
    durable cluster storage instead — this helper is only for replays
    whose checkpoint is discarded at the end."""
    import tempfile

    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def archive_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    topic_col: str = "event_type",
    trigger: dict | None = None,
) -> StreamingQuery:
    """T7/K7: partitioned parquet archive (dt=YYYY-MM-DD/topic=... layout,
    snappy — reference config/config.yaml:153-174). Hourly flush in prod
    (trigger=processingTime='1 hour'); availableNow in tests."""
    partitioned = stream.withColumn(
        "dt", F.date_format(F.col(ts_col), "yyyy-MM-dd")
    ).withColumn("topic", F.col(topic_col))
    writer = (
        partitioned.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .option("compression", "snappy")
        .partitionBy("dt", "topic")
        .outputMode("append")
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def session_kpis_foreach_batch(
    store: BucketedTransactionalStore,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """§3.2 step 3: incremental materialized-aggregate maintenance.

    The reference recomputes the session_kpis row for every session
    touched by the batch (enhanced_kpi_consumer.py:210-250,560-609).
    Batch analog: aggregate the micro-batch per key, then merge into the
    snapshot combining counts/sums/min/max associatively — the streaming
    equivalent of recompute-touched-keys without rereading the base table.
    """

    def merge_fn(current: DataFrame | None, partial: DataFrame) -> DataFrame:
        if current is None:
            return partial
        return (
            current.unionByName(partial)
            .groupBy(user_col)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value_dec").alias("sum_value_dec"),
                F.min("started_at_s").alias("started_at_s"),
                F.max("ended_at_s").alias("ended_at_s"),
            )
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        partial = batch_df.groupBy(user_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("sum_value_dec"),
            F.min(F.unix_seconds(F.col(ts_col))).alias("started_at_s"),
            F.max(F.unix_seconds(F.col(ts_col))).alias("ended_at_s"),
        )
        # the per-user fold is key-local, so only touched buckets rewrite
        store.apply_keyed(partial, merge_fn)

    return apply


def session_state_foreach_batch(
    store: BucketedTransactionalStore, seq_col: str = "seq"
):
    """J4/K5/W3: per-key mutable session state with a monotonic seq guard
    (reference Redis HSET + seq compare, enhanced_kpi_consumer.py:638-673).

    Each batch keeps only its own max-seq row per key, then merges with
    the store keeping the larger seq — stale updates are dropped exactly
    like the reference's `seq <= current` check.
    """

    def merge_fn(current: DataFrame | None, newest: DataFrame) -> DataFrame:
        if current is None:
            return newest
        return last_write_wins(
            current.unionByName(newest), store.key_cols, [seq_col]
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # the seq-guard LWW is key-local, so only touched buckets rewrite
        store.apply_keyed(
            last_write_wins(batch_df, store.key_cols, [seq_col]), merge_fn
        )

    return apply


def run_to_memory(
    result: DataFrame,
    name: str,
    output_mode: str = "complete",
    checkpoint_location: str | None = None,
    state_partitions: int | None = 4,
) -> DataFrame:
    """Execute a streaming aggregation to completion into an in-memory
    table and return it as a batch DataFrame (availableNow + memory sink
    — the local test harness for T3/T4).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query's lifetime: every stateful operator materializes one state
    store (checkpoint dir + per-batch delta file) PER shuffle partition,
    so a bounded local replay with 32 partitions pays 32x the state I/O
    for the same answer. 4 is the local-harness default (measured: the
    stream-stream join's per-partition store count, not parallelism, is
    the fixed cost — 16 partitions run 2x SLOWER than 4 on the sf0.1
    replay); pass None to inherit the session value (what a production
    deployment would do — state partitioning is fixed at first
    checkpoint, so size it for peak key cardinality there).

    The checkpoint defaults to :func:`harness_checkpoint_dir` (RAM-
    backed, deleted after the replay). Pass ``checkpoint_location``
    explicitly to keep ownership of the directory — required for
    stateful Python operators (applyInPandasWithState), where Spark's
    auto-created ``/tmp/temporary-*`` checkpoint has shown a state-dir
    creation race under many state partitions.
    """
    import shutil

    spark = result.sparkSession
    own_ckpt = None
    if checkpoint_location is None:
        own_ckpt = checkpoint_location = harness_checkpoint_dir(f"{name}_ckpt_")
    writer = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_location)
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if own_ckpt is not None:
            shutil.rmtree(own_ckpt, ignore_errors=True)
    return spark.table(name)


def kafka_message_frame(df: DataFrame, key_col: str, topic: str | None = None) -> DataFrame:
    """K1: project a DataFrame into the Kafka sink contract — string
    ``key`` (per-key partition ordering, the reference keys by lead id /
    session_id) and ``value`` = JSON of the full row.

    Reference: marketo_extractor.py:253-266, frontend_events_extractor.py
    :231-251 (idempotent JSON producers, acks=all). Feed the result to
    ``.write.format("kafka")`` / ``.writeStream.format("kafka")``;
    exactly-once comes from checkpoint + the idempotent producer.
    """
    from pyspark.sql import functions as F

    out = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    if topic is not None:
        out = out.withColumn("topic", F.lit(topic))
    return out


def compact_archive_partition(
    spark: SparkSession,
    root: str,
    dt: str,
    topic: str,
    target_files: int = 1,
) -> int:
    """Compact one dt/topic partition of the T7/K7 archive into
    ``target_files`` parquet files.

    Streaming archives accrete one small file per micro-batch per
    partition — the classic small-files problem that degrades every
    downstream scan (footer/open overhead dominates under ~100 MB
    files). This is the maintenance companion: rewrite the partition at
    the target file count, verify the row count, then swap directories.

    Single-maintenance-writer assumption: the rename swap has a
    non-atomic window, so run compaction from one scheduled job (and
    never against the partition the stream is CURRENTLY appending to —
    compact closed partitions, e.g. previous days, exactly like the
    reference's hourly archive rotation). Concurrent READERS never
    double-count: the work dirs are dot-prefixed, which Spark's
    partition discovery ignores, so at no point do two copies of a row
    appear under the root. There IS a brief window between the two swap
    renames where the partition directory is absent — a scan racing that
    window undercounts the partition (or fails listing); schedule reads
    of a partition away from its compaction slot if that matters.
    A crash between the two swap renames is repaired on the next
    invocation (the dot-backup is restored before compacting).
    Returns the number of data files after compaction.
    """
    import shutil

    part_dir = os.path.join(root, f"dt={dt}")
    src = os.path.join(part_dir, f"topic={topic}")
    # dot-prefixed siblings: invisible to partition discovery, so a
    # concurrent scan of `root` sees exactly one copy of every row
    tmp = os.path.join(part_dir, f".compact-tmp-{topic}")
    backup = os.path.join(part_dir, f".pre-compact-{topic}")
    # crash repair: a previous run that died between its two renames
    # left the data only in the backup — restore it first; a backup
    # left AFTER a completed swap is stale and simply dropped
    if os.path.exists(backup):
        if not os.path.exists(src):
            os.rename(backup, src)
        else:
            shutil.rmtree(backup)
    df = spark.read.parquet(src)
    before = df.count()
    shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    after = spark.read.parquet(tmp).count()
    if before != after:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch for {src}: {before} -> {after}"
        )
    os.rename(src, backup)
    os.rename(tmp, src)
    shutil.rmtree(backup)
    return sum(
        1 for f in os.listdir(src) if f.endswith(".parquet")
    )
