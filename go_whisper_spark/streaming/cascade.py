"""Multi-level streaming cascade: watermark-windowed level 0 plus
incremental consolidation of the lower archives per micro-batch.

Structured Streaming supports one stateful windowed aggregation per
query, but whisper's cascade is N levels deep [ref: whisper.go (Update —
propagate loop)].  The production pattern is ``foreachBatch``: the
streaming query maintains archive 0 (LWW tumbling windows + watermark,
``streaming_rollup``), and each emitted micro-batch triggers a *batch*
consolidation of only the touched day partitions in every lower
archive.  The micro-batch is persisted for its three reads (the
emptiness check, the archive-0 append and the touched-days collect).
The consolidation is ``retention.write_levels``, the batch path's
one-pass level writer: archive 1 is consolidated from the touched days
of the level-0 store, each further archive from the persisted archive
above it.  Writes use per-write dynamic partition overwrite, so the
session conf never changes.  Unlike ``retention.incremental_rollup``,
no retention cut is applied: a stream has no ``now``.

Scale: per micro-batch work is O(batch ∪ touched days) per level; the
archive tables are the same day-partitioned parquet layout the batch
engine writes, so readers can't tell which path produced a row.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_whisper_spark.engine import WhisperEngine
from go_whisper_spark.model import SeriesConfig
from go_whisper_spark.retention import (
    ARCHIVE_SCHEMA,
    archive_path,
    with_day,
    write_levels,
)
from go_whisper_spark.streaming.rollup import streaming_rollup


def _consolidate_touched(
    spark: SparkSession, base: str, cfg: SeriesConfig, touched_days
) -> None:
    """Recompute archives 1..N for the given day partitions from the
    level-0 store (dynamic partition overwrite)."""
    if len(cfg.retentions) < 2:
        return
    level0 = (
        spark.read.schema(ARCHIVE_SCHEMA)
        .parquet(archive_path(base, 0))
        .where(F.col("day").isin(touched_days))
        .select("metric", "interval", "value")
    )
    eng = WhisperEngine(spark, cfg)
    write_levels(eng, eng.consolidate(level0, 1), base, first=1, days=touched_days)


def streaming_cascade(
    points: DataFrame,
    cfg: SeriesConfig,
    base: str,
    checkpoint: str,
    lateness_seconds: Optional[int] = None,
    available_now: bool = True,
):
    """Start the cascading streaming query; returns the StreamingQuery.

    ``points``: streaming (metric, ts timestamp, value, write_seq).
    Archive 0 rows append to ``base/archive=0`` (day-partitioned);
    every non-empty micro-batch consolidates its touched days down the
    remaining archive levels.
    """
    rolled = streaming_rollup(points, cfg, 0, lateness_seconds=lateness_seconds)
    spark = points.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = with_day(batch_df).cache()
        try:
            if batch.isEmpty():
                return
            (
                batch.select("metric", "interval", "value", "day")
                .repartition("day")
                .write.mode("append")
                .partitionBy("day")
                .parquet(archive_path(base, 0))
            )
            touched = [r["day"] for r in batch.select("day").distinct().collect()]
        finally:
            batch.unpersist()
        _consolidate_touched(spark, base, cfg, touched)

    writer = rolled.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
