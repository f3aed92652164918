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
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Callable, Iterator, List, NamedTuple, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from go_whisper_spark.engine import (
    FetchResult,
    WhisperEngine,
    in_bounds,
    metric_spine,
    routed_fetch,
    slot_spine,
)
from go_whisper_spark.model import SeriesConfig


# Every archive table's schema as written by write_levels (the day
# partition column last); reads declare it instead of inferring it
# from parquet footers.
ARCHIVE_SCHEMA = "metric string, interval long, value double, day date"
# The bronze points table's schema, as write_points and
# lakehouse._append_bronze write it (cast on write); its reads declare it.
POINTS_SCHEMA = "metric string, ts long, value double, write_seq long, day date"


def archive_path(base: str, archive_index: int) -> str:
    return os.path.join(base, f"archive={archive_index}")


def write_archives(engine: WhisperEngine, base: str, now: int) -> List[str]:
    """Materialize every archive level as a day-partitioned parquet table."""
    return write_levels(engine, engine.level0(now), base, now=now)


def walk_levels(
    engine: WhisperEngine,
    level: DataFrame,
    publish: Callable[[int, DataFrame], None],
    first: int = 0,
    now: Optional[int] = None,
) -> None:
    """Walk whisper's propagate cascade down archives ``first``..,
    handing each level to ``publish(i, frame)``.

    ``level`` is archive ``first``'s frame before its retention cut.
    Each later level is :meth:`WhisperEngine.consolidate`-d from the
    level above it, so every level but the last has two consumers (its
    publish and the next consolidation) and is persisted for them; all
    persisted frames are released when the walk ends, also when a
    publish raises.  ``now`` cuts each published frame to its archive's
    retention (None: no cut).  The publish step is the only thing the
    rollups differ in: :func:`write_levels` overwrites parquet day
    partitions, :func:`write_archives_bucketed` saves bucketed tables,
    ``lakehouse.incremental_rollup_tx`` commits day swaps.
    """
    n = len(engine.config.retentions)
    held = []
    try:
        for i in range(first, n):
            if i > first:
                level = engine.consolidate(level, i)
            if i < n - 1:
                level = level.cache()
                held.append(level)
            publish(i, level if now is None else engine.retained(level, i, now))
    finally:
        for frame in held:
            frame.unpersist()


def day_of(seconds: Column) -> Column:
    """The ``day`` partition key of an epoch-seconds column: its UTC
    date."""
    return F.to_date(F.timestamp_seconds(seconds))


def with_day(level: DataFrame, days: Optional[list] = None) -> DataFrame:
    """``level`` plus its ``day`` partition column, kept to ``days``
    (None: every day)."""
    out = level.withColumn("day", day_of(F.col("interval")))
    return out if days is None else out.where(F.col("day").isin(days))


def write_levels(
    engine: WhisperEngine,
    level: DataFrame,
    base: str,
    first: int = 0,
    now: Optional[int] = None,
    days: Optional[list] = None,
) -> List[str]:
    """Write archives ``first``.. as day-partitioned parquet tables in
    one :func:`walk_levels` pass (``level``, ``first`` and ``now`` as
    there).  ``days`` restricts every write to those day partitions and
    overwrites only them (per-write dynamic partition overwrite, so the
    session conf is untouched); None overwrites whole tables.
    """
    paths = []

    def publish(i: int, frame: DataFrame) -> None:
        writer = (
            with_day(frame, days)
            .repartition("day")
            .write.mode("overwrite")
            .partitionBy("day")
        )
        if days is not None:
            writer = writer.option("partitionOverwriteMode", "dynamic")
        path = archive_path(base, i)
        writer.parquet(path)
        paths.append(path)

    walk_levels(engine, level, publish, first, now)
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


def write_points(points: DataFrame, base: str) -> str:
    """Append to the bronze points table, day-partitioned on the raw
    timestamp."""
    path = os.path.join(base, "points")
    (
        as_bronze(points)
        .repartition("day")
        .write.mode("append")
        .partitionBy("day")
        .parquet(path)
    )
    return path


def as_bronze(points: DataFrame) -> DataFrame:
    """``points`` cast to exactly :data:`POINTS_SCHEMA`, its ``day``
    partition column derived from the raw timestamp."""
    return points.withColumn("day", day_of(F.col("ts"))).select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in StructType.fromDDL(POINTS_SCHEMA).fields
        ]
    )


class Batch(NamedTuple):
    """An accepted ingest batch: its in-bounds points (persisted), the
    days they touch, and their max ts."""

    points: DataFrame
    days: list
    max_ts: int


@contextmanager
def accepted_batch(
    config: SeriesConfig, points: DataFrame, now: int
) -> Iterator[Optional[Batch]]:
    """The checks every incremental rollup runs before its first write.

    1. Every archive's step must divide a day (true for all practical
       Graphite retentions up to "1d:..."), since the rollups recompute
       whole day partitions; otherwise raise ``ValueError`` before
       anything is written — use full :func:`write_archives` for such a
       config.
    2. Keep the points that pass whisper's Update bounds check
       (:func:`~go_whisper_spark.engine.in_bounds`, as
       ``WhisperEngine.update_many``) and persist them for their
       consumers: one collect of the touched days (a batch usually
       touches the current day, not history) and the caller's bronze
       append.  They are released when the block exits.

    Yields the :class:`Batch`, or None when no point was accepted: the
    caller then returns ``{}`` and writes nothing.
    """
    for i, r in enumerate(config.retentions):
        if 86400 % r.seconds_per_point != 0:
            raise ValueError(
                f"archive {i} step {r.seconds_per_point}s does not divide a "
                "day; use full write_archives for this config"
            )
    accepted = points.where(in_bounds(config, now)).cache()
    try:
        touched = (
            accepted.groupBy(day_of(F.col("ts")).alias("day"))
            .agg(F.max("ts").alias("max_ts"))
            .collect()
        )
        if not touched:
            yield None
        else:
            days = sorted(r["day"] for r in touched)
            yield Batch(accepted, days, max(r["max_ts"] for r in touched))
    finally:
        accepted.unpersist()


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

    1. :func:`accepted_batch` checks the config and the batch before
       any write (``ValueError`` for a step that does not divide a day;
       ``{}`` and no write for a batch with no accepted point);
    2. the accepted points are appended to the bronze points table;
    3. the touched days of the points table are read once (partition
       pruning makes the read proportional to touched days), archive 0
       (LWW) is built from them, and each archive is consolidated from
       the persisted archive above it (:func:`write_levels`),
       overwriting only the touched day partitions of every archive
       table.

    At 100 TB the work per batch is O(batch ∪ touched-days), never
    O(history).  Single-writer: concurrent writers on one base use
    ``lakehouse.incremental_rollup_tx``, which differs only in how it
    publishes a level.

    Returns {archive_index: [touched day strings]}.
    """
    with accepted_batch(config, new_points, now) as batch:
        if batch is None:
            return {}
        points_path = write_points(batch.points, base)
        eng = WhisperEngine(spark, config)
        eng.set_points(
            spark.read.schema(POINTS_SCHEMA)
            .parquet(points_path)
            .where(F.col("day").isin(batch.days))
        )
        write_levels(eng, eng.level0(now), base, now=now, days=batch.days)
    day_strs = [str(d) for d in batch.days]
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

    def publish(i: int, frame: DataFrame) -> None:
        names.append(f"{table_prefix}_archive_{i}")
        engine.spark.sql(f"DROP TABLE IF EXISTS {names[-1]}")
        (
            frame.write.mode("overwrite")
            .bucketBy(n_buckets, "metric")
            .sortBy("interval")
            .option("path", archive_path(base, i))
            .saveAsTable(names[-1])
        )

    walk_levels(engine, engine.level0(now), publish, now=now)
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
        return self.spark.read.schema(ARCHIVE_SCHEMA).parquet(
            archive_path(self.base, archive_index)
        )

    def fetch(
        self,
        from_time: int,
        until_time: int,
        now: int,
        metrics: Optional[List[str]] = None,
    ) -> FetchResult:
        """Routed, dense fetch from the written store: the range is
        planned by :func:`~go_whisper_spark.engine.routed_fetch`, as in
        ``WhisperEngine.fetch``.  With a metric list the spine's metric
        dimension is :func:`~go_whisper_spark.engine.metric_spine`, a
        literal-array explode in one partition with no Python worker
        (the list already sits in the plan as the ``isin`` filter).
        With ``metrics=None`` the spine covers the metrics that have a
        point in the fetched range (the store keeps no metric catalog),
        not every metric ever written."""

        def dense(idx: int, step: int, from_iv: int, until_iv: int):
            # day predicate → partition pruning on the scan
            arch = self.archive(idx).where(
                (F.col("day") >= day_of(F.lit(from_iv)))
                & (F.col("day") <= day_of(F.lit(until_iv)))
                & (F.col("interval") >= F.lit(from_iv))
                & (F.col("interval") < F.lit(until_iv))
            )
            if metrics is not None:
                arch = arch.where(F.col("metric").isin(metrics))
                metric_dim = metric_spine(self.spark, metrics)
            else:
                metric_dim = arch.select("metric").distinct()
            return slot_spine(metric_dim, from_iv, until_iv, step).join(
                arch.select("metric", "interval", "value"), ["metric", "interval"], "left"
            )

        return routed_fetch(self.spark, self.config, from_time, until_time, now, dense)
