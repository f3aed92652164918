"""Batch whisper engine: ingest → rollup cascade → fetch.

The reference is a single-file round-robin TSDB (one ``.wsp`` file per
metric).  Here the same semantics are expressed over one logical points
table ``(metric, ts, value, write_seq)`` and a cascade of rollup
DataFrames, one per archive:

- **archive 0** = last-writer-wins of raw points at the finest step;
- **archive i** = xff-gated consolidation of archive i-1
  [ref: whisper.go (func (*Whisper) propagate)];
- **fetch** = archive router (finest archive covering the *from* age)
  → pruned scan → dense gap-fill via a ``sequence()`` spine left join
  [ref: whisper.go (func (*Whisper) Fetch)].

Scale posture (100 TB): the points table is partitioned by
``date(interval)`` and the shuffle key of every stage is
``(metric, interval)``; each cascade level is a partial-aggregating
``groupBy`` (map-side combine), so the exchange volume shrinks by
``spp_{i+1}/spp_i`` per level.  The spine join broadcasts the tiny
generated side.  No ``collect()`` anywhere in the data path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from go_whisper_spark.functions.bucketing import (
    align_interval,
    fetch_bounds,
    lww_latest,
    xff_gated_agg,
)
from go_whisper_spark.model import SeriesConfig

POINTS_COLUMNS = ("metric", "ts", "value", "write_seq")


def in_bounds(config: SeriesConfig, now: int) -> Column:
    """Whisper's Update bounds check as a row predicate on ``ts``: no
    future point, none older than maxRetention
    [ref: whisper.go (func (*Whisper) Update — bounds)]."""
    return (F.col("ts") <= F.lit(now)) & (
        F.lit(now) - F.col("ts") < F.lit(config.max_retention)
    )


@dataclass
class FetchResult:
    """Mirror of whisper's ``TimeSeries{from, until, step, values}`` —
    the dense series itself stays a (distributed) DataFrame.
    [ref: whisper.go (type TimeSeries)]
    """

    from_interval: int
    until_interval: int
    step: int
    frame: DataFrame  # columns: metric, interval (long), value (double|NULL)

    def points(self, metric: Optional[str] = None):
        """Materialize ``[(interval, value), ...]`` in slot order — the
        ``TimeSeries.Points()`` API shim [ref: whisper.go (func
        (*TimeSeries) Points)].  Driver-side by definition (the caller
        asked for a Python list); the distributed form is ``frame``.
        """
        df = self.frame
        if metric is not None:
            from pyspark.sql import functions as F  # local: shim-only

            df = df.where(F.col("metric") == metric)
        rows = df.orderBy("metric", "interval").collect()
        return [(r["interval"], r["value"]) for r in rows]


def routed_fetch(
    spark: SparkSession,
    config: SeriesConfig,
    from_time: int,
    until_time: int,
    now: int,
    dense: Callable[[int, int, int, int], DataFrame],
) -> FetchResult:
    """Whisper's Fetch range plan, shared by :meth:`WhisperEngine.fetch`
    and ``retention.MaterializedRollups.fetch``
    [ref: whisper.go (func (*Whisper) Fetch)]:

    - reject ``from >= until`` up front;
    - clamp ``from`` to ``now - maxRetention``, and ``until`` to ``now``
      when it lies in the future or before that horizon;
    - pick the archive by the **from** age only;
    - align both bounds to ``t - t%spp + spp`` (start-exclusive).

    A range that holds no whole slot (inside one step, or wholly in the
    future) has zero slots: an empty frame with those bounds, built
    on an empty :func:`metric_spine` without ``F.sequence`` (which
    rejects a descending range).
    Otherwise ``dense(archive_idx, step, from_iv, until_iv)`` builds
    the dense (metric, interval, value) frame.
    """
    if from_time >= until_time:
        raise ValueError("from_time must be < until_time")
    oldest = now - config.max_retention
    from_time = max(from_time, oldest)
    if until_time > now or until_time < oldest:
        until_time = now
    archive_idx = config.archive_for_fetch(now - from_time)
    step = config.retentions[archive_idx].seconds_per_point
    from_iv, until_iv = fetch_bounds(from_time, until_time, step)
    if until_iv <= from_iv:
        frame = metric_spine(spark, []).select(
            "metric",
            F.lit(None).cast("long").alias("interval"),
            F.lit(None).cast("double").alias("value"),
        )
    else:
        frame = dense(archive_idx, step, from_iv, until_iv)
    return FetchResult(from_iv, until_iv, step, frame)


def metric_spine(spark: SparkSession, metrics: List[str]) -> DataFrame:
    """The ``metric string`` dimension of a fetch spine, one row per
    name in ``metrics``: a literal array exploded in one partition, so
    the JVM builds it and no Python worker runs."""
    return spark.range(0, 1, 1, 1).select(
        F.explode(F.array(*map(F.lit, metrics)).cast("array<string>")).alias("metric")
    )


def slot_spine(metric_dim: DataFrame, from_iv: int, until_iv: int, step: int) -> DataFrame:
    """Every (metric, slot) pair of ``[from_iv, until_iv)``: the dense
    fetch's left side."""
    return metric_dim.select(
        "metric",
        F.explode(
            F.sequence(F.lit(from_iv), F.lit(until_iv - step), F.lit(step))
        ).alias("interval"),
    )


class WhisperEngine:
    """One series family (shared :class:`SeriesConfig`) over a points table.

    [ref: whisper.go (type Whisper; func Create/Open)] — Create/Open
    collapse to constructing this object around a config row; there is
    no pre-allocation because storage is columnar, not a ring buffer.
    """

    def __init__(self, spark: SparkSession, config: SeriesConfig):
        self.spark = spark
        self.config = config
        self._points: Optional[DataFrame] = None

    # -- catalog introspection -------------------------------------------
    # [ref: whisper.go (Size/MetadataSize/AggregationMethod/... accessors)]
    def describe(self) -> Dict[str, object]:
        return {
            "aggregation_method": self.config.aggregation_method.name,
            "max_retention": self.config.max_retention,
            "x_files_factor": self.config.x_files_factor,
            "retentions": [str(r) for r in self.config.retentions],
        }

    # -- write path ------------------------------------------------------
    def update_many(self, points: DataFrame, now: int) -> DataFrame:
        """Bulk upsert [ref: whisper.go (func (*Whisper) UpdateMany)].

        ``points`` must have columns (metric, ts, value, write_seq) with
        ``ts`` as integer epoch seconds.  Bounds check = whisper's
        Update() rejection of future points and points older than
        maxRetention [ref: whisper.go (func (*Whisper) Update — bounds)].
        Returns the accepted (appended) rows; invalid rows are dropped
        (whisper errors per point; a 100 TB batch pipeline filters).
        """
        accepted = points.where(in_bounds(self.config, now))
        self._points = (
            accepted
            if self._points is None
            else self._points.unionByName(accepted.select(*POINTS_COLUMNS))
        )
        return accepted

    def update(self, metric: str, value: float, timestamp: int, now: int) -> bool:
        """Single-point upsert [ref: whisper.go (func (*Whisper) Update)].

        Returns False (instead of whisper's error) for out-of-bounds
        timestamps.  Exists for API parity — batch ingest via
        :meth:`update_many` is the real path; a one-row DataFrame per
        point would be absurd at scale, so this buffers through the
        same bounds check.
        """
        if timestamp > now or now - timestamp >= self.config.max_retention:
            return False
        seq = getattr(self, "_seq", 0) + 1
        self._seq = seq
        df = self.spark.createDataFrame(
            [(metric, int(timestamp), float(value), seq)],
            "metric string, ts long, value double, write_seq long",
        )
        self.update_many(df, now)
        return True

    def set_points(self, points: DataFrame) -> None:
        """Attach an existing (already-ingested) points DataFrame."""
        self._points = points.select(*POINTS_COLUMNS)

    # -- rollup cascade --------------------------------------------------
    def archive_frame(self, archive_index: int, now: int) -> DataFrame:
        """Materialize archive ``archive_index`` as (metric, interval, value).

        Archive 0: LWW of raw points at the finest step (:meth:`level0`).
        Archive i>0: :meth:`consolidate` of the uncut archive i-1
        [ref: whisper.go (func (*Whisper) propagate — cascade)].  Only
        the returned level is cut to its retention (:meth:`retained`).
        """
        level = self.level0(now)
        for i in range(1, archive_index + 1):
            level = self.consolidate(level, i)
        return self.retained(level, archive_index, now)

    def level0(self, now: int) -> DataFrame:
        """Archive 0 before its retention cut: LWW of the in-bounds raw
        points at the finest step, as (metric, interval, value)."""
        if self._points is None:
            raise ValueError("no points ingested")
        cfg = self.config
        base = self._points.where(
            (F.col("ts") <= F.lit(now))
            & (F.col("ts") > F.lit(now - cfg.max_retention))
        )
        return (
            base.withColumn(
                "interval", align_interval("ts", cfg.retentions[0].seconds_per_point)
            )
            .transform(lambda d: lww_latest(d, ["metric", "interval"]))
            .select("metric", "interval", "value")
        )

    def consolidate(self, level: DataFrame, i: int) -> DataFrame:
        """One propagate step: archive ``i`` from the uncut archive ``i-1``
        frame ``level``, xff-gated over spp_i / spp_{i-1} ring slots
        [ref: whisper.go (func (*Whisper) propagate)]."""
        cfg = self.config
        fine, coarse = cfg.retentions[i - 1], cfg.retentions[i]
        per_bucket = coarse.seconds_per_point // fine.seconds_per_point
        # Keep the fine interval alive through the agg: LAST needs it
        # as its max_by ordering key.
        return (
            level.withColumn(
                "coarse_interval",
                align_interval("interval", coarse.seconds_per_point),
            )
            .groupBy("metric", "coarse_interval")
            .agg(
                xff_gated_agg(
                    cfg.aggregation_method, cfg.x_files_factor, per_bucket
                ).alias("value")
            )
            .withColumnRenamed("coarse_interval", "interval")
            .where(F.col("value").isNotNull())
        )

    def retained(self, level: DataFrame, i: int, now: int) -> DataFrame:
        """Archive ``i``'s retention cut of its uncut frame ``level``."""
        return level.where(
            F.col("interval") > F.lit(now - self.config.retentions[i].retention)
        )

    # -- schema evolution ------------------------------------------------
    def resize(self, new_config: SeriesConfig) -> "WhisperEngine":
        """Change the retention ladder / aggregation — the whisper-resize
        operation the reference does NOT implement (SURVEY.md §2A note:
        changing retention requires the external whisper-resize tool and
        a full file rewrite).  Here archives are derived views over the
        points table, so a resize is just a new config over the same
        points: no data rewrite, next rollup/fetch uses the new ladder.
        """
        out = WhisperEngine(self.spark, new_config)
        if self._points is not None:
            out._points = self._points
        return out

    # -- read path -------------------------------------------------------
    def fetch(
        self,
        from_time: int,
        until_time: int,
        now: int,
        metrics: Optional[List[str]] = None,
    ) -> FetchResult:
        """Range scan + dense gap-fill [ref: whisper.go (func (*Whisper) Fetch)].

        The range is planned by :func:`routed_fetch` (clamp, from-age
        routing, ``t - t%spp + spp`` bounds, zero slots for a range
        with no whole slot).  Dense output: one row per (metric, slot),
        missing → NULL (whisper's NaN; NULL chosen so Spark aggregates
        stay sane).
        """

        def dense(archive_idx: int, step: int, from_iv: int, until_iv: int):
            archive = self.archive_frame(archive_idx, now).where(
                (F.col("interval") >= F.lit(from_iv))
                & (F.col("interval") < F.lit(until_iv))
            )
            if metrics is not None:
                archive = archive.where(F.col("metric").isin(metrics))
                metric_dim = metric_spine(self.spark, metrics)
            else:
                # All known metrics, NOT just those in the fetched range: a
                # whisper file with no data in range still yields a dense
                # all-NaN series [ref: whisper.go (Fetch — baseInterval==0
                # early return)], so the spine must cover every series.
                metric_dim = self._points.select("metric").distinct()

            # A LEFT join preserves the spine; Spark can only broadcast the
            # build (right) side of a left outer join, and the archive side
            # may be large, so the join keys (metric, interval) shuffle —
            # the same partitioning the rollup cascade already produced,
            # which AQE reuses.
            return slot_spine(metric_dim, from_iv, until_iv, step).join(
                archive, ["metric", "interval"], "left"
            ).select("metric", "interval", "value")

        return routed_fetch(self.spark, self.config, from_time, until_time, now, dense)
