"""Structured Streaming rollup: the low-latency path of propagate().

Whisper's semantics map onto streaming concepts directly
(SURVEY.md §2B streaming row):

- maxRetention bound on accepted points  → ``withWatermark`` lateness
  [ref: whisper.go (func (*Whisper) Update — bounds check)]
- ring-slot overwrite (LWW)             → ``max_by(value, write_seq)``
  within the window aggregate
- propagate's tumbling consolidation    → ``F.window(ts, spp seconds)``
  [ref: whisper.go (func (*Whisper) propagate)]
- xFilesFactor gate                     → known/total >= xff on the
  windowed count (same expression as batch)

Deliberate semantic delta (documented, SURVEY.md §7 "hard parts"):
whisper accepts *arbitrarily old* points within maxRetention at any
time; a watermark that wide would keep maxRetention of state per
metric.  The streaming path therefore uses a configurable lateness
(default = the finest archive's full retention) and the batch rollup
remains the source of truth; streaming is the freshness overlay.

Scale: state is keyed by (metric, window) — the same partitioning as
the batch shuffles; watermark bounds state size to
``lateness / spp`` windows per metric.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from go_whisper_spark.functions.bucketing import agg_expr
from go_whisper_spark.model import SeriesConfig


def streaming_rollup(
    points: DataFrame,
    config: SeriesConfig,
    archive_index: int = 0,
    lateness_seconds: Optional[int] = None,
    expected_points_per_window: Optional[int] = None,
) -> DataFrame:
    """Tumbling-window rollup of a streaming points frame.

    ``points`` must be a *streaming* DataFrame with columns
    ``(metric string, ts timestamp, value double, write_seq long)``.
    Returns the windowed archive frame
    ``(metric, interval long, value double, known long)`` in
    append-ready form (emit when the watermark passes the window).

    For archive 0 the window aggregate IS the LWW (max write_seq in the
    slot); for coarser archives ``expected_points_per_window`` enables
    the xff gate against the finer step.
    """
    r = config.retentions[archive_index]
    spp = r.seconds_per_point
    if lateness_seconds is None:
        lateness_seconds = r.retention

    win = F.window(F.col("ts"), f"{spp} seconds")
    base = points.withWatermark("ts", f"{lateness_seconds} seconds")

    if archive_index == 0:
        agg = F.max_by("value", "write_seq").alias("value")
    else:
        agg = agg_expr(config.aggregation_method, order_col="ts").alias("value")

    out = (
        base.groupBy("metric", win.alias("w"))
        .agg(agg, F.count("value").alias("known"))
        .select(
            "metric",
            F.unix_timestamp(F.col("w.start")).cast("long").alias("interval"),
            "value",
            "known",
        )
    )
    if archive_index > 0 and expected_points_per_window:
        gate = (
            F.col("known").cast("double") / F.lit(float(expected_points_per_window))
        ) >= F.lit(float(config.x_files_factor))
        out = out.where(gate)
    return out
