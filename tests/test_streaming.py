"""Streaming layer tests (T3-T7, §3.2 foreachBatch maintenance)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.sources.batch import load_table
from iheardai_data_pipeline_spark.streaming.readers import read_events_stream
from iheardai_data_pipeline_spark.streaming.sinks import (
    archive_sink,
    session_kpis_foreach_batch,
    session_state_foreach_batch,
)
from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore
from iheardai_data_pipeline_spark.streaming.windows import dedup_within_watermark

# the one upsert backend (WarehouseBatchLoader's fmt name for it)
STORE_BACKENDS = ["parquet"]


def test_t5_watermark_dedup(spark, sf_dir, tmp_path):
    """Doubled stream deduped by event_id within the watermark."""
    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(stream, ("event_id",))
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_src = load_table(spark, sf_dir, "events").count()
    n_out = spark.read.parquet(str(tmp_path / "out")).count()
    assert n_out == n_src  # single pass: all unique ids kept


def test_t7_archive_sink_partitioning(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    q = archive_sink(
        stream,
        str(tmp_path / "archive"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    # dt=YYYY-MM-DD/topic=... layout on disk (reference config/config.yaml:161-167)
    days = [d for d in os.listdir(tmp_path / "archive") if d.startswith("dt=")]
    assert days, "no dt= partitions written"
    topics = os.listdir(tmp_path / "archive" / days[0])
    assert any(t.startswith("topic=") for t in topics)
    n_src = load_table(spark, sf_dir, "events").count()
    n_out = spark.read.parquet(str(tmp_path / "archive")).count()
    assert n_out == n_src


@pytest.mark.parametrize("fmt", STORE_BACKENDS)
def test_foreachbatch_session_kpis_incremental(spark, sf_dir, tmp_path, fmt):
    """Two micro-batches merged == one-shot batch aggregate (§3.2)."""
    events = load_table(spark, sf_dir, "events")
    b1 = events.filter(F.col("event_id") % 2 == 0)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    store = BucketedTransactionalStore(
        spark, str(tmp_path / "kpis"), ["user_id"], ["ended_at_s"]
    )
    fb = session_kpis_foreach_batch(store)
    fb(b1, 0)
    fb(b2, 1)
    got = store.read().select(
        "user_id", "n_events", F.col("sum_value_dec").cast("double").alias("sum_value")
    )
    want = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.parametrize("fmt", STORE_BACKENDS)
def test_foreachbatch_session_state_seq_guard(spark, tmp_path, fmt):
    """Stale updates (lower seq) never overwrite newer state (J4/W3)."""
    store = BucketedTransactionalStore(
        spark, str(tmp_path / "state"), ["session_id"], ["seq"]
    )
    fb = session_state_foreach_batch(store)
    b1 = spark.createDataFrame(
        [("s1", 3, "engaged"), ("s2", 1, "new")], "session_id string, seq int, stage string"
    )
    fb(b1, 0)
    # batch 2: stale s1 update (seq 2) + fresh s2 (seq 5)
    b2 = spark.createDataFrame(
        [("s1", 2, "STALE"), ("s2", 5, "converted")],
        "session_id string, seq int, stage string",
    )
    fb(b2, 1)
    got = {r["session_id"]: (r["seq"], r["stage"]) for r in store.read().collect()}
    assert got == {"s1": (3, "engaged"), "s2": (5, "converted")}
