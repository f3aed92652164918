"""Materialized archive storage + retention reaper.

The reference's fixed-size ring gives it free expiry: new laps
overwrite old epochs [ref: whisper.go (ring offset math)].  Columnar
storage replaces that with:

- **layout**: one parquet table per archive, partitioned by
  ``day = date(interval)`` — so retention enforcement and time-range
  fetches are partition PRUNING, not data rewrites;
- **reaper**: drop whole partition directories older than the
  archive's retention [SURVEY.md §4 custom #5].  Dropping a partition
  is an O(1) filesystem/metastore operation per day — the 100 TB
  equivalent of the ring lap.

``MaterializedRollups`` is the archive-router face of the store: fetch
picks the coarsest sufficient archive table (materialized-view routing,
[SURVEY.md §4]) and gap-fills densely, reading only pruned partitions.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_whisper_spark.engine import WhisperEngine, FetchResult
from go_whisper_spark.functions.bucketing import fetch_bounds
from go_whisper_spark.model import SeriesConfig


def archive_path(base: str, archive_index: int) -> str:
    return os.path.join(base, f"archive={archive_index}")


def write_archives(engine: WhisperEngine, base: str, now: int) -> List[str]:
    """Materialize every archive level as a day-partitioned parquet table."""
    return write_levels(engine, engine.level0(now), base, now=now)


def write_levels(
    engine: WhisperEngine,
    level: DataFrame,
    base: str,
    first: int = 0,
    now: Optional[int] = None,
    days: Optional[list] = None,
) -> List[str]:
    """Write archives ``first``.. in one pass down the cascade.

    ``level`` is archive ``first``'s frame before its retention cut.
    Each later level is :meth:`WhisperEngine.consolidate`-d from the
    level above it, so every level but the last has two consumers (its
    own write and the next consolidation) and is persisted for them;
    all persisted frames are released before returning.  ``now`` cuts
    each written level to its archive's retention (None: no cut).
    ``days`` restricts every write to those day partitions and
    overwrites only them (per-write dynamic partition overwrite, so
    the session conf is untouched); None overwrites whole tables.
    """
    n = len(engine.config.retentions)
    held, paths = [], []
    try:
        for i in range(first, n):
            if i > first:
                level = engine.consolidate(level, i)
            if i < n - 1:
                level = level.cache()
                held.append(level)
            out = level if now is None else engine.retained(level, i, now)
            out = out.withColumn("day", F.to_date(F.timestamp_seconds(F.col("interval"))))
            if days is not None:
                out = out.where(F.col("day").isin(days))
            writer = out.repartition("day").write.mode("overwrite").partitionBy("day")
            if days is not None:
                writer = writer.option("partitionOverwriteMode", "dynamic")
            path = archive_path(base, i)
            writer.parquet(path)
            paths.append(path)
    finally:
        for frame in held:
            frame.unpersist()
    return paths


def reap(base: str, config: SeriesConfig, now: int) -> List[str]:
    """Drop day-partitions entirely older than each archive's retention.

    A day partition is reaped only when its *entire* day lies before the
    cutoff (conservative: day end < now - retention).  Returns removed
    partition dirs.  Driver-side filesystem metadata work only — never
    touches row data.
    """
    removed = []
    for i, r in enumerate(config.retentions):
        cutoff = now - r.retention
        path = archive_path(base, i)
        if not os.path.isdir(path):
            continue
        for entry in sorted(os.listdir(path)):
            if not entry.startswith("day="):
                continue
            day = datetime.strptime(entry[4:], "%Y-%m-%d").replace(tzinfo=timezone.utc)
            day_end = int(day.timestamp()) + 86400
            if day_end <= cutoff:
                shutil.rmtree(os.path.join(path, entry))
                removed.append(os.path.join(path, entry))
    return removed


def write_points(points: DataFrame, base: str, mode: str = "append") -> str:
    """Bronze points table, day-partitioned on the raw timestamp."""
    path = os.path.join(base, "points")
    (
        points.withColumn("day", F.to_date(F.timestamp_seconds(F.col("ts"))))
        .repartition("day")
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )
    return path


def incremental_rollup(
    spark: SparkSession,
    base: str,
    config: SeriesConfig,
    new_points: DataFrame,
    now: int,
) -> dict:
    """Incremental archive maintenance — the batch form of whisper's
    per-write propagate cascade [ref: whisper.go (func (*Whisper)
    Update — cascade loop)], in one pass:

    1. check that every archive's step divides a day (true for all
       practical Graphite retentions up to "1d:..."); otherwise raise
       ``ValueError`` before anything is written — use full
       :func:`write_archives` for such a config;
    2. bounds-check the batch and persist it for its two consumers: the
       touched-days collect (the day partitions of its timestamps; a
       batch usually touches the current day, not history) and the
       append to the bronze points table.  A batch with no accepted
       point returns ``{}`` and writes nothing;
    3. read the touched days of the points table once (partition
       pruning makes the read proportional to touched days), build
       archive 0 (LWW) from them, and consolidate each archive from the
       persisted archive above it (:func:`write_levels`), overwriting
       only the touched day partitions of every archive table.

    At 100 TB the work per batch is O(batch ∪ touched-days), never
    O(history).  Single-writer: concurrent writers on one base use
    ``lakehouse.incremental_rollup_tx``.

    Returns {archive_index: [touched day strings]}.
    """
    for i, r in enumerate(config.retentions):
        if 86400 % r.seconds_per_point != 0:
            raise ValueError(
                f"archive {i} step {r.seconds_per_point}s does not divide a "
                "day; use full write_archives for this config"
            )
    accepted = new_points.where(
        (F.col("ts") <= F.lit(now))
        & (F.lit(now) - F.col("ts") < F.lit(config.max_retention))
    ).cache()
    try:
        batch_days = [
            r["day"]
            for r in accepted.select(
                F.to_date(F.timestamp_seconds(F.col("ts"))).alias("day")
            )
            .distinct()
            .collect()
        ]
        if not batch_days:
            return {}
        points_path = write_points(accepted, base, mode="append")
        eng = WhisperEngine(spark, config)
        eng.set_points(
            spark.read.parquet(points_path).where(F.col("day").isin(batch_days))
        )
        write_levels(eng, eng.level0(now), base, now=now, days=batch_days)
    finally:
        accepted.unpersist()
    day_strs = sorted(str(d) for d in batch_days)
    return {i: list(day_strs) for i in range(len(config.retentions))}


def write_archives_bucketed(
    engine: WhisperEngine,
    table_prefix: str,
    base: str,
    now: int,
    n_buckets: int = 8,
) -> List[str]:
    """Materialize archives as metric-bucketed, interval-sorted tables.

    Bucketing by ``metric`` co-locates every archive level of a metric
    in the same bucket file: cross-archive joins (series alignment, a
    fetch union over levels, archive-vs-archive comparisons) become
    exchange-free at any scale — the 100 TB replacement for the ring
    file's "one metric, one file" locality.  Requires ``saveAsTable``
    (bucket metadata lives in the catalog).
    """
    names = []
    spark = engine.spark
    for i in range(len(engine.config.retentions)):
        name = f"{table_prefix}_archive_{i}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            engine.archive_frame(i, now)
            .write.mode("overwrite")
            .bucketBy(n_buckets, "metric")
            .sortBy("interval")
            .option("path", archive_path(base, i))
            .saveAsTable(name)
        )
        names.append(name)
    return names


class MaterializedRollups:
    """Read-side facade over a written archive store: router + gap-fill.

    The fetch path never recomputes rollups — it scans the one archive
    table the from-age routes to, with day-partition pruning doing the
    ring-offset's job.
    """

    def __init__(self, spark: SparkSession, base: str, config: SeriesConfig):
        self.spark = spark
        self.base = base
        self.config = config

    def archive(self, archive_index: int) -> DataFrame:
        return self.spark.read.parquet(archive_path(self.base, archive_index))

    def fetch(
        self,
        from_time: int,
        until_time: int,
        now: int,
        metrics: Optional[List[str]] = None,
    ) -> FetchResult:
        cfg = self.config
        if from_time >= until_time:
            # same up-front rejection as WhisperEngine.fetch / whisper.go
            raise ValueError("from_time must be < until_time")
        oldest = now - cfg.max_retention
        from_time = max(from_time, oldest)
        until_time = min(until_time, now)
        idx = cfg.archive_for_fetch(now - from_time)
        step = cfg.retentions[idx].seconds_per_point
        from_iv, until_iv = fetch_bounds(from_time, until_time, step)

        # day predicate → partition pruning on the scan
        day_lo = F.to_date(F.timestamp_seconds(F.lit(from_iv)))
        day_hi = F.to_date(F.timestamp_seconds(F.lit(until_iv)))
        arch = self.archive(idx).where(
            (F.col("day") >= day_lo)
            & (F.col("day") <= day_hi)
            & (F.col("interval") >= F.lit(from_iv))
            & (F.col("interval") < F.lit(until_iv))
        )
        if metrics is not None:
            arch = arch.where(F.col("metric").isin(metrics))
            metric_dim = self.spark.createDataFrame(
                [(m,) for m in metrics], "metric string"
            )
        else:
            metric_dim = arch.select("metric").distinct()
        spine = metric_dim.select(
            "metric",
            F.explode(
                F.sequence(F.lit(from_iv), F.lit(until_iv - step), F.lit(step))
            ).alias("interval"),
        )
        dense = spine.join(
            arch.select("metric", "interval", "value"), ["metric", "interval"], "left"
        )
        return FetchResult(from_iv, until_iv, step, dense)
