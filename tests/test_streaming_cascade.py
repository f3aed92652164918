"""foreachBatch multi-level cascade: streaming archive 0 + incremental
batch consolidation of archive 1, across two checkpointed passes."""

import os
import time

from pyspark.sql import functions as F

from go_whisper_spark.model import SeriesConfig
from go_whisper_spark.retention import archive_path
from go_whisper_spark.streaming.cascade import streaming_cascade

DAY = 86400
BASE = 1_700_000_000 - (1_700_000_000 % DAY)
SCHEMA = "metric string, ts timestamp, value double, write_seq long"


def _write(spark, path, rows):
    (
        spark.createDataFrame(rows, "metric string, ts_sec long, value double, write_seq long")
        .select("metric", F.timestamp_seconds("ts_sec").alias("ts"), "value", "write_seq")
        .coalesce(1)
        .write.mode("append")
        .parquet(path)
    )
    time.sleep(0.05)


def _run(spark, src, cfg, store, ckpt):
    q = streaming_cascade(
        spark.readStream.schema(SCHEMA).parquet(src),
        cfg,
        store,
        ckpt,
        lateness_seconds=600,
    )
    q.awaitTermination(240)


def test_streaming_cascade_two_levels(spark, tmp_path):
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    os.makedirs(src, exist_ok=True)
    cfg = SeriesConfig.from_defs("60s:1d,300s:10d", "sum", 0.0)

    # Pass 1: fill one 300s bucket (3 of 5 slots) + watermark pusher.
    _write(
        spark,
        src,
        [
            ("m", BASE + 0, 1.0, 1),
            ("m", BASE + 60, 2.0, 2),
            ("m", BASE + 120, 3.0, 3),
            ("m", BASE + 7200, 9.0, 4),
        ],
    )
    _run(spark, src, cfg, store, ckpt)
    # Pass 2: flush pusher so slot BASE+7200 emits and re-consolidates.
    _write(spark, src, [("m", BASE + 9000, 7.0, 5)])
    _run(spark, src, cfg, store, ckpt)

    a0 = {
        r["interval"]: r["value"]
        for r in spark.read.parquet(archive_path(store, 0)).collect()
    }
    assert a0[BASE] == 1.0 and a0[BASE + 60] == 2.0 and a0[BASE + 120] == 3.0
    assert a0[BASE + 7200] == 9.0

    a1 = {
        r["interval"]: r["value"]
        for r in spark.read.parquet(archive_path(store, 1)).collect()
    }
    assert a1[BASE] == 6.0               # 1+2+3 consolidated into the 300s bucket
    assert a1[BASE + 7200] == 9.0


def test_streaming_cascade_three_levels(spark, tmp_path, released):
    """Archive 2 is consolidated from the persisted archive 1 of the same
    micro-batch, and every persisted frame is released afterwards."""
    src, store, ckpt = (str(tmp_path / d) for d in ("src", "store", "ckpt"))
    os.makedirs(src, exist_ok=True)
    cfg = SeriesConfig.from_defs("60s:1d,300s:10d,900s:30d", "sum", 0.0)
    _write(
        spark,
        src,
        [
            ("m", BASE + 0, 1.0, 1),
            ("m", BASE + 60, 2.0, 2),
            ("m", BASE + 300, 4.0, 3),
            ("m", BASE + 7200, 9.0, 4),
        ],
    )
    with released():
        _run(spark, src, cfg, store, ckpt)

    a1, a2 = (
        {
            r["interval"]: r["value"]
            for r in spark.read.parquet(archive_path(store, i)).collect()
        }
        for i in (1, 2)
    )
    assert a1[BASE] == 3.0 and a1[BASE + 300] == 4.0
    assert a2 == {BASE: 7.0}  # BASE+7200 is past the watermark: not emitted
