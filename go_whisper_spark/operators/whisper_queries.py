"""Whisper-semantics queries over the ``events`` table (driver contract).

Each query re-expresses one reference operator (SURVEY.md §2A) as a
declarative Spark plan over the points view of ``events``
(metric=event_type, ts=epoch-seconds, write_seq=event_id), paired with
a DuckDB oracle SQL string implementing the same pinned semantics:

- ``w_lww_1h``          LWW slot overwrite   [ref: whisper.go (Update — ring WriteAt)]
- ``w_rollup_6h``       one propagate step   [ref: whisper.go (func propagate)]
- ``w_cascade_1d``      two-level cascade    [ref: whisper.go (Update — cascade loop)]
- ``w_agg_methods_1d``  the five agg methods [ref: whisper.go (func aggregate)]
- ``w_fetch_dense_3d``  dense gap-fill fetch [ref: whisper.go (func Fetch)]
- ``w_fetch_coarse_30d`` coarse-archive fetch (archive router output)
- ``w_retention_7d``    update bounds check  [ref: whisper.go (Update — bounds)]

``now`` is pinned to ``max(ts)`` of the table (deterministic across
engines); whisper's wall-clock enters only as this scalar.

Scale notes: every aggregate below is a partial-aggregating
``groupBy(metric, interval)`` — map-side combine shrinks the shuffle to
one row per slot; the fetch spine is a generated tiny relation joined
on the same (metric, interval) key; nothing collects.  Grid-aligned
sums round at 4 dp; averages use exact integer cent arithmetic (see
``_avg6``) because round(avg(double)) is not cross-engine stable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_whisper_spark.session import materialize, session_memo
from go_whisper_spark.sources.tables import events_points, spread_scan

HOUR, DAY = 3600, 86400

# Shared DuckDB CTE: events → whisper points (exact integer-seconds).
PTS_CTE = """pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value,
         event_id AS write_seq
  FROM events
)"""

LWW_1H_CTE = """lww1h AS (
  SELECT metric,
         ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts
  GROUP BY 1, 2
)"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_points(spark, sf_dir)


# -- exact-integer averaging ------------------------------------------------
# round(avg(double), 6) is NOT cross-engine stable: group sums accumulate in
# different orders (ulp differences) and true averages of 2-decimal inputs
# land EXACTLY on 6-dp rounding boundaries whenever the divisor is of the
# form 2^a*5^b (observed: /32 window counts flipped the 6th digit between
# Spark and DuckDB).  All value columns are exact 2-decimal numbers, so the
# stable form is integer cents: sum(cents) is exact in both engines and the
# average is floor-truncated to 6 dp in exact arithmetic.
def _cents(col: str = "value"):
    return F.round(F.col(col) * 100).cast("long")


def _avg6(sum_cents, count_col):
    return F.floor(sum_cents.cast("double") * 10000 / count_col) / F.lit(1000000.0)


CENTS_SQL = "CAST(round(value * 100) AS BIGINT)"


def _lww(df: DataFrame, spp: int) -> DataFrame:
    """LWW at step ``spp``: one row per (metric, interval), max write_seq wins."""
    return (
        df.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(spp)).cast("long"))
        .groupBy("metric", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )


# ---------------------------------------------------------------- w_lww_1h
def w_lww_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins slot state at the 1h archive (ring overwrite)."""
    return _lww(_points(spark, sf_dir), HOUR).select("metric", "interval", "value")


W_LWW_1H_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, value FROM lww1h
"""


# -------------------------------------------------------------- w_rollup_6h
def w_rollup_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One propagate step: 1h archive → 6h, Average, xff=0.5 (>= passes)."""
    lww = _lww(_points(spark, sf_dir), HOUR).withColumn("cents", _cents())
    return (
        lww.withColumn(
            "interval6", (F.col("interval") - F.col("interval") % F.lit(6 * HOUR)).cast("long")
        )
        .groupBy("metric", "interval6")
        .agg(
            F.count("value").alias("known"),
            F.sum("cents").alias("sc"),
        )
        .where((F.col("known").cast("double") / F.lit(6.0)) >= F.lit(0.5))
        .select(
            "metric",
            F.col("interval6").alias("interval"),
            "known",
            _avg6(F.col("sc"), F.col("known")).alias("avg_value"),
        )
    )


W_ROLLUP_6H_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 21600 AS interval,
       count(value) AS known,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS avg_value
FROM lww1h
GROUP BY 1, 2
HAVING CAST(count(value) AS DOUBLE) / 6.0 >= 0.5
"""


# -------------------------------------------------------------- w_cascade_1d
def w_cascade_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level cascade 1h→6h→1d (Average, xff=0.5 at each level).

    Mirrors propagate() recursing archive-by-archive: the 1d bucket
    averages the six 6h values (avg-of-avgs, exactly as whisper
    consolidates consolidated values), each level gated separately.
    """
    lww = _lww(_points(spark, sf_dir), HOUR).withColumn("cents", _cents())
    l6 = (
        lww.withColumn(
            "interval", (F.col("interval") - F.col("interval") % F.lit(6 * HOUR)).cast("long")
        )
        .groupBy("metric", "interval")
        .agg(F.sum("cents").alias("sc"), F.count("value").alias("known"))
        .where((F.col("known").cast("double") / F.lit(6.0)) >= F.lit(0.5))
        .select(
            "metric",
            "interval",
            # level-1 average kept as an exact micro-unit integer so the
            # level-2 average (avg of avgs, whisper's consolidated
            # consolidation) also stays in exact arithmetic
            F.floor(F.col("sc").cast("double") * 10000 / F.col("known")).cast("long").alias("vmicro"),
        )
    )
    return (
        l6.withColumn("interval1d", (F.col("interval") - F.col("interval") % F.lit(DAY)).cast("long"))
        .groupBy("metric", "interval1d")
        .agg(F.count("vmicro").alias("known"), F.sum("vmicro").alias("sm"))
        .where((F.col("known").cast("double") / F.lit(4.0)) >= F.lit(0.5))
        .select(
            "metric",
            F.col("interval1d").alias("interval"),
            "known",
            (F.floor(F.col("sm").cast("double") / F.col("known")) / F.lit(1000000.0)).alias("avg_value"),
        )
    )


W_CASCADE_1D_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
l6 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         CAST(floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) AS BIGINT) AS vmicro
  FROM lww1h
  GROUP BY 1, 2
  HAVING CAST(count(value) AS DOUBLE) / 6.0 >= 0.5
)
SELECT metric,
       interval - interval % 86400 AS interval,
       count(vmicro) AS known,
       floor(CAST(sum(vmicro) AS DOUBLE) / count(vmicro)) / 1000000.0 AS avg_value
FROM l6
GROUP BY 1, 2
HAVING CAST(count(vmicro) AS DOUBLE) / 4.0 >= 0.5
"""


# ---------------------------------------------------------- w_agg_methods_1d
def w_agg_methods_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All five whisper aggregation methods, 1h archive → 1d buckets.

    ``last`` = value at the greatest fine interval (max_by), matching
    aggregate(Last) over the ordered known values.
    """
    lww = _lww(_points(spark, sf_dir), HOUR).withColumn("cents", _cents())
    return (
        lww.withColumn("interval1d", (F.col("interval") - F.col("interval") % F.lit(DAY)).cast("long"))
        .groupBy("metric", "interval1d")
        .agg(
            F.sum("cents").alias("sc"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.max_by("value", "interval").alias("last_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count("value").alias("known"),
        )
        .select(
            "metric", F.col("interval1d").alias("interval"),
            _avg6(F.col("sc"), F.col("known")).alias("avg_value"),
            "sum_value", "last_value", "max_value", "min_value", "known",
        )
    )


W_AGG_METHODS_1D_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 86400 AS interval,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS avg_value,
       round(sum(value), 4) AS sum_value,
       arg_max(value, interval) AS last_value,
       max(value) AS max_value,
       min(value) AS min_value,
       count(value) AS known
FROM lww1h
GROUP BY 1, 2
"""


# ---------------------------------------------------------- w_fetch_dense_3d
def w_fetch_dense_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch(now-3d, now) at the 1h archive: dense spine, gaps → NULL.

    Bound alignment ``t - t%spp + spp`` (start-exclusive), one row per
    (metric, slot).  The spine is generated from the scalar ``now``
    lazily (cross join with a 1-row aggregate — broadcast, no collect).
    """
    pts = _points(spark, sf_dir)
    lww = _lww(pts, HOUR)
    bounds = pts.agg(F.max("ts").alias("now")).select(
        ((F.col("now") - 3 * DAY) - (F.col("now") - 3 * DAY) % HOUR + HOUR).alias("from_iv"),
        (F.col("now") - F.col("now") % HOUR + HOUR).alias("until_iv"),
    )
    metrics = pts.select("metric").distinct()
    spine = metrics.crossJoin(F.broadcast(bounds)).select(
        "metric",
        F.explode(
            F.sequence(F.col("from_iv"), F.col("until_iv") - HOUR, F.lit(HOUR))
        ).alias("interval"),
    )
    return spine.join(lww, ["metric", "interval"], "left").select(
        "metric", "interval", "value"
    )


W_FETCH_DENSE_3D_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
bounds AS (
  SELECT (max(ts_sec) - 259200) - (max(ts_sec) - 259200) % 3600 + 3600 AS from_iv,
         max(ts_sec) - max(ts_sec) % 3600 + 3600 AS until_iv
  FROM pts
),
spine AS (
  SELECT m.metric, s.interval
  FROM (SELECT DISTINCT metric FROM pts) m
  CROSS JOIN (
    SELECT unnest(generate_series(from_iv, until_iv - 3600, 3600)) AS interval
    FROM bounds
  ) s
)
SELECT spine.metric, spine.interval, lww1h.value
FROM spine LEFT JOIN lww1h
  ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
"""


# ------------------------------------------------------------- w_resize
def w_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whisper-resize, end-to-end under the oracle: an engine configured
    ``1h:30d,6h:90d`` is resized to a single ``2h:60d`` ladder, then
    fetched over (now-3d, now) THROUGH the resized engine.

    The semantics this pins (engine.py ``resize``): archives are
    derived views over the points table, so a resize is config-only —
    no data rewrite, and the new 2h archive is rebuilt from RAW points
    (exact 2h LWW), not re-aggregated from the old 1h/6h archives (no
    resolution loss, unlike the reference's external whisper-resize
    file rewrite [ref: SURVEY §2A note — the Go library itself cannot
    resize]).  The oracle restates the expected view: 2h LWW + the
    start-exclusive dense fetch spine.

    Scale: identical plan family to ``w_fetch_dense_3d`` — one LWW
    aggregate keyed by (metric, interval), broadcast 1-row bounds,
    spine left-join.  The ``now`` scalar is driver-side control flow,
    exactly like ``entry()``.
    """
    from go_whisper_spark.engine import WhisperEngine
    from go_whisper_spark.model import SeriesConfig

    pts = _points(spark, sf_dir)
    now = pts.agg(F.max("ts")).first()[0]
    eng = WhisperEngine(spark, SeriesConfig.from_defs("1h:30d,6h:90d", "average", 0.5))
    eng.update_many(pts, now)
    resized = eng.resize(SeriesConfig.from_defs("2h:60d", "average", 0.0))
    return resized.fetch(now - 3 * DAY, now, now).frame


W_RESIZE_SQL = f"""
WITH {PTS_CTE},
lww2h AS (
  SELECT metric,
         ts_sec - ts_sec % 7200 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts
  GROUP BY 1, 2
),
bounds AS (
  SELECT (max(ts_sec) - 259200) - (max(ts_sec) - 259200) % 7200 + 7200 AS from_iv,
         max(ts_sec) - max(ts_sec) % 7200 + 7200 AS until_iv
  FROM pts
),
spine AS (
  SELECT m.metric, s.interval
  FROM (SELECT DISTINCT metric FROM pts) m
  CROSS JOIN (
    SELECT unnest(generate_series(from_iv, until_iv - 7200, 7200)) AS interval
    FROM bounds
  ) s
)
SELECT spine.metric, spine.interval, lww2h.value
FROM spine LEFT JOIN lww2h
  ON lww2h.metric = spine.metric AND lww2h.interval = spine.interval
"""


# -------------------------------------------------------- w_fetch_coarse_30d
def w_fetch_coarse_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch(now-30d, now) routed to a 6h archive (from-age > 1h-archive
    retention), Average consolidation with xff=0.0: the coarse read path.
    """
    pts = _points(spark, sf_dir)
    step = 6 * HOUR
    lww = _lww(pts, HOUR).withColumn("cents", _cents())
    arch = (
        lww.withColumn("interval", (F.col("interval") - F.col("interval") % F.lit(step)).cast("long"))
        .groupBy("metric", "interval")
        .agg(F.sum("cents").alias("sc"), F.count("value").alias("known"))
        .select("metric", "interval", _avg6(F.col("sc"), F.col("known")).alias("value"))
    )
    bounds = pts.agg(F.max("ts").alias("now")).select(
        ((F.col("now") - 30 * DAY) - (F.col("now") - 30 * DAY) % step + step).alias("from_iv"),
        (F.col("now") - F.col("now") % step + step).alias("until_iv"),
    )
    metrics = pts.select("metric").distinct()
    spine = metrics.crossJoin(F.broadcast(bounds)).select(
        "metric",
        F.explode(
            F.sequence(F.col("from_iv"), F.col("until_iv") - step, F.lit(step))
        ).alias("interval"),
    )
    return spine.join(arch, ["metric", "interval"], "left").select(
        "metric", "interval", "value"
    )


W_FETCH_COARSE_30D_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
arch AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS value
  FROM lww1h
  GROUP BY 1, 2
),
bounds AS (
  SELECT (max(ts_sec) - 2592000) - (max(ts_sec) - 2592000) % 21600 + 21600 AS from_iv,
         max(ts_sec) - max(ts_sec) % 21600 + 21600 AS until_iv
  FROM pts
),
spine AS (
  SELECT m.metric, s.interval
  FROM (SELECT DISTINCT metric FROM pts) m
  CROSS JOIN (
    SELECT unnest(generate_series(from_iv, until_iv - 21600, 21600)) AS interval
    FROM bounds
  ) s
)
SELECT spine.metric, spine.interval, arch.value
FROM spine LEFT JOIN arch
  ON arch.metric = spine.metric AND arch.interval = spine.interval
"""


# ---------------------------------------------------------- w_retention_7d
def w_retention_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update() bounds check as a filter: keep ts <= now and
    now - ts < 7d (maxRetention); report accepted counts per metric.
    """
    pts = _points(spark, sf_dir)
    now_df = pts.agg(F.max("ts").alias("now"))
    return (
        pts.crossJoin(F.broadcast(now_df))
        .where((F.col("ts") <= F.col("now")) & (F.col("now") - F.col("ts") < F.lit(7 * DAY)))
        .groupBy("metric")
        .agg(
            F.count("*").alias("accepted"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.min("ts").alias("oldest_ts"),
            F.max("ts").alias("newest_ts"),
        )
    )


W_RETENTION_7D_SQL = f"""
WITH {PTS_CTE},
params AS (SELECT max(ts_sec) AS now FROM pts)
SELECT metric,
       count(*) AS accepted,
       round(sum(value), 4) AS sum_value,
       min(ts_sec) AS oldest_ts,
       max(ts_sec) AS newest_ts
FROM pts, params
WHERE ts_sec <= now AND now - ts_sec < 604800
GROUP BY metric
"""


# ------------------------------------------------------------ w_derivative
def w_derivative_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graphite ``derivative()`` analog: per-metric delta between
    consecutive 1h LWW slots (counter-rate over the fetched series).
    Window ordered by interval (unique per metric) — deterministic.
    """
    from pyspark.sql import Window

    lww = _lww(_points(spark, sf_dir), HOUR)
    w = Window.partitionBy("metric").orderBy("interval")
    return lww.select(
        "metric",
        "interval",
        F.round(F.col("value") - F.lag("value", 1).over(w), 6).alias("delta"),
    )


W_DERIVATIVE_1H_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       round(value - lag(value, 1) OVER (PARTITION BY metric ORDER BY interval), 6) AS delta
FROM lww1h
"""


# ---------------------------------------------------------- w_sliding
def w_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (1h width, 30m slide) over raw points —
    the batch shape of Spark's sliding ``F.window``: each point lands in
    width/slide = 2 windows (explode over slide offsets, then a normal
    partial-aggregating groupBy).
    """
    pts = _points(spark, sf_dir)
    slide, width = 1800, 3600
    exploded = pts.select(
        "metric",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(width // slide - 1))).alias("k"),
        F.col("ts"),
    ).withColumn(
        "win_start",
        ((F.col("ts") - F.col("k") * slide) - (F.col("ts") - F.col("k") * slide) % slide).cast("long"),
    )
    return (
        exploded.withColumn("cents", _cents())
        .groupBy("metric", "win_start")
        .agg(F.count("value").alias("n"), F.sum("cents").alias("sc"))
        .select(
            "metric", "win_start", "n",
            _avg6(F.col("sc"), F.col("n")).alias("avg_value"),
        )
    )


W_SLIDING_SQL = f"""
WITH {PTS_CTE},
exploded AS (
  SELECT metric, value, k,
         (ts_sec - k * 1800) - (ts_sec - k * 1800) % 1800 AS win_start
  FROM pts, (SELECT unnest(generate_series(0, 1)) AS k)
)
SELECT metric, win_start,
       count(value) AS n,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS avg_value
FROM exploded
GROUP BY metric, win_start
"""


# ---------------------------------------------------------- w_percentiles
def w_percentiles_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graphite percentileOfSeries analog: exact interpolated p50/p95
    per metric per day (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    parity verified).  At scale: exact percentile shuffles values per
    group; the approximate path is ``approx_percentile`` (engine-
    specific sketch, so the exact form is the oracle-checked one).
    """
    pts = _points(spark, sf_dir)
    return (
        pts.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(DAY)).cast("long"))
        .groupBy("metric", "interval")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.count("value").alias("n"),
        )
    )


W_PERCENTILES_SQL = f"""
WITH {PTS_CTE}
SELECT metric,
       ts_sec - ts_sec % 86400 AS interval,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       count(value) AS n
FROM pts
GROUP BY 1, 2
"""


# ---------------------------------------------------------- w_sessionize
def w_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30m inactivity) per user — the batch
    form of a session window: new-session flag via lag, session id via
    running sum, then per-session rollup.  Shuffle key: user_id.
    """
    from pyspark.sql import Window

    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_sec").alias("ts"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            (F.col("ts") - F.lag("ts", 1).over(w)) > F.lit(1800), 1
        ).otherwise(F.when(F.lag("ts", 1).over(w).isNull(), 1).otherwise(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            (F.max("ts") - F.min("ts")).alias("duration_s"),
        )
    )


W_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts, event_id FROM events
),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts, 1) OVER w IS NULL THEN 1
              WHEN ts - lag(ts, 1) OVER w > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       max(ts) - min(ts) AS duration_s
FROM numbered
GROUP BY user_id, session_seq
"""


# ----------------------------------------------------- w_sessionize_chunked
def w_sessionize_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof sessionize: identical result to ``w_sessionize_30m``
    via ``chunked_sessionize`` — sessionize within (user, 1d chunk) in
    parallel, then merge boundary sessions over the per-user SESSION
    relation (#sessions rows, not #events), so a hot user no longer
    funnels its whole event stream through one window task.  The oracle
    is the PLAIN sessionize SQL: the two plans must agree row-for-row.
    Equivalence under a synthetic 90%-hot-key load is pinned by
    tests/test_salting.py::test_chunked_sessionize_hot_key.
    """
    from go_whisper_spark.functions.salting import chunked_sessionize
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts_sec").alias("ts"), "event_id"
    )
    return chunked_sessionize(
        e, "user_id", "ts", gap_s=1800, chunk_s=DAY, tiebreak_cols=["event_id"]
    )


# ------------------------------------------------------ w_heavy_hitters_cms
_CMS_D = 4     # hash rows
_CMS_W = 64    # buckets per row — small enough to force collisions at
#                test scale so the overestimate column is exercised


def w_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters over ``events.user_id`` — the
    point-query sketch member next to ``w_approx_stats``'s KMV
    (distinct-count) and hash-threshold (sample) sketches: build a
    d×w counter matrix (d = 4 md5-derived hash rows, w = 64 buckets),
    estimate each candidate's frequency as the min over its d
    counters, and emit the top-20 users by EXACT count with their CM
    estimate and the overestimate (est − exact — the one-sided CM
    error, always >= 0 by construction; collisions at w = 64 make it
    nonzero at test scale).

    Determinism: bucket = md5('r<r>:' || user_id) first-8-hex as an
    integer mod w — the ``d_split_hash`` pairing (Spark ``conv`` ≡
    DuckDB ``'0x'||…`` cast), exact in both engines; every count is
    an integer; top-20 is totally ordered by (exact DESC, user ASC).

    Scale shape: the sketch build is ONE map-side-combined aggregate
    over d·n rows into d·w cells — the entire point of CM at 100 TB
    is that the shuffle carries at most d·w rows per partition
    regardless of key cardinality; the estimate side joins the
    candidate set's d buckets against the d·w-row sketch (broadcast —
    the sketch is constant-size BY DESIGN) and the exact side is one
    count for the comparison ledger.  TakeOrdered caps the output."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    return _cms_ledger(ev, _cms_sketch(ev))


def _cms_cells(df: DataFrame, *cols: str) -> DataFrame:
    """One row per (row of ``df``, hash row r) carrying its bucket b =
    md5('r<r>:' || user_id) first-8-hex as an integer mod w."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("r"),
                        F.col("r").cast("string"),
                        F.lit(":"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )
    return df.select(
        *cols, F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("r")
    ).withColumn("b", bucket)


def _cms_sketch(ev: DataFrame) -> DataFrame:
    """user_id rows → the d×w (r, b, cnt) counter matrix; partial
    matrices merge by cell-wise sum."""
    return _cms_cells(ev, "user_id").groupBy("r", "b").agg(
        F.count("*").alias("cnt"))


def _cms_ledger(ev: DataFrame, sketch: DataFrame) -> DataFrame:
    """The top-20 users of ``ev`` by exact count with their CM estimate
    (min over the d counters of ``sketch``) and the overestimate."""
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    est = (
        _cms_cells(exact, "user_id", "exact")
        .join(F.broadcast(sketch), ["r", "b"])
        .groupBy("user_id", "exact")
        .agg(F.min("cnt").alias("cm_est"))
    )
    return (
        est.orderBy(F.desc("exact"), F.asc("user_id"))
        .limit(20)
        .select(
            "user_id",
            "exact",
            "cm_est",
            (F.col("cm_est") - F.col("exact")).alias("overestimate"),
        )
    )


W_HEAVY_HITTERS_CMS_SQL = f"""
WITH ev AS (SELECT user_id FROM events),
rows_ AS (
  SELECT user_id, r,
         CAST('0x' || substring(md5('r' || CAST(r AS VARCHAR) || ':' ||
              CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_CMS_W} AS b
  FROM ev, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r)
),
sketch AS (SELECT r, b, count(*) AS cnt FROM rows_ GROUP BY r, b),
exact AS (SELECT user_id, count(*) AS exact FROM ev GROUP BY user_id),
cand AS (
  SELECT e.user_id, e.exact, r,
         CAST('0x' || substring(md5('r' || CAST(r AS VARCHAR) || ':' ||
              CAST(e.user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_CMS_W} AS b
  FROM exact e, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r)
),
est AS (
  SELECT c.user_id, c.exact, min(s.cnt) AS cm_est
  FROM cand c JOIN sketch s ON s.r = c.r AND s.b = c.b
  GROUP BY c.user_id, c.exact
)
SELECT user_id, exact, cm_est, cm_est - exact AS overestimate
FROM est
ORDER BY exact DESC, user_id ASC
LIMIT 20
"""


# -------------------------------------------------------- w_funnel_3step
_FUNNEL_W = 7 * 86400  # conversion window from the first view


def w_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence funnel view → click → purchase per user — the
    product-analytics operator class the rest of the event surface
    (sessionize, as-of, interval join) doesn't cover: for each user,
    the FIRST view, the first click strictly after it, and the first
    purchase strictly after that, all inside a 7-day window from the
    view.  One row per entered user with the three step timestamps
    and the depth reached (strict > at each step so the semantics are
    tie-order-free — an engine-independent definition).

    Implementation vs oracle are INDEPENDENT formulations of that
    definition — the strongest oracle shape: Spark folds each user's
    time-sorted event array once with a 3-field struct accumulator
    (one groupBy shuffle total, the per-user event list is bounded by
    per-user activity, and the fold is pure codegen — no window, no
    self-join); DuckDB computes the three stages as min-filter CTEs
    joined by user.  Agreement is forced by the definition's
    order-freeness, not by mirroring operands.

    Scale shape: ONE user-keyed shuffle; funnels over 100 TB of
    events are exactly this collect-fold (what dedicated funnel
    engines hand-roll); a whale user's array is bounded by their own
    event count, and a longer funnel is more fields in the
    accumulator, not more shuffles."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("ts"),
    )
    g = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "et"))).alias("arr")
    )
    zero = F.struct(
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("p"),
    )

    def step(acc, x):
        v = F.when(acc.v.isNull() & (x.et == "view"), x.ts).otherwise(acc.v)
        c = F.when(
            acc.c.isNull()
            & v.isNotNull()
            & (x.et == "click")
            & (x.ts > v)
            & (x.ts <= v + _FUNNEL_W),
            x.ts,
        ).otherwise(acc.c)
        p = F.when(
            acc.p.isNull()
            & c.isNotNull()
            & (x.et == "purchase")
            & (x.ts > c)
            & (x.ts <= v + _FUNNEL_W),
            x.ts,
        ).otherwise(acc.p)
        return F.struct(v.alias("v"), c.alias("c"), p.alias("p"))

    st = F.aggregate("arr", zero, step)
    return (
        g.select(
            "user_id",
            st.v.alias("v_ts"),
            # nullable step timestamps emit as DOUBLE: the driver's
            # pandas materialization turns a nullable BIGINT into
            # float64 on the oracle side (check_contract docstring) —
            # cast BOTH sides instead of leaving a type trap
            st.c.cast("double").alias("c_ts"),
            st.p.cast("double").alias("p_ts"),
            (
                st.v.isNotNull().cast("long")
                + st.c.isNotNull().cast("long")
                + st.p.isNotNull().cast("long")
            ).alias("reached"),
        )
        .where(F.col("v_ts").isNotNull())
    )


W_FUNNEL_3STEP_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type AS et, epoch_ns(ts) // 1000000000 AS ts
  FROM events
),
v1 AS (SELECT user_id, min(ts) AS v_ts FROM ev WHERE et = 'view'
       GROUP BY user_id),
c2 AS (SELECT e.user_id, min(e.ts) AS c_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       WHERE e.et = 'click' AND e.ts > v1.v_ts
         AND e.ts <= v1.v_ts + {_FUNNEL_W}
       GROUP BY e.user_id),
p3 AS (SELECT e.user_id, min(e.ts) AS p_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN c2 ON e.user_id = c2.user_id
       WHERE e.et = 'purchase' AND e.ts > c2.c_ts
         AND e.ts <= v1.v_ts + {_FUNNEL_W}
       GROUP BY e.user_id)
SELECT v1.user_id, v_ts,
       CAST(c_ts AS DOUBLE) AS c_ts, CAST(p_ts AS DOUBLE) AS p_ts,
       1 + CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS reached
FROM v1
LEFT JOIN c2 ON v1.user_id = c2.user_id
LEFT JOIN p3 ON v1.user_id = p3.user_id
"""


def funnel_fold(ev: DataFrame, steps, window_secs: int) -> DataFrame:
    """The k-STEP generalization of ``w_funnel_3step``'s fold
    (VERDICT r11 item 7): for an ordered step list, each user's
    time-sorted event array folds ONCE through a k-field struct
    accumulator — step i fires on the first event of its type
    strictly after step i−1 and within ``window_secs`` of step 0.
    A longer funnel is more fields in the accumulator, not more
    shuffles: still ONE user-keyed groupBy, still pure codegen.

    Returns (user_id, step_ts array-as-columns s0..s{k-1}, reached);
    callers project/rename.  Step i's condition reads step i−1's NEW
    value — safe because one event has one type, so a row can never
    fire two steps (the 3-step fold's same argument)."""
    names = [f"s{i}" for i in range(len(steps))]
    g = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "et"))).alias("arr")
    )
    zero = F.struct(
        *[F.lit(None).cast("long").alias(n) for n in names]
    )

    def step_fn(acc, x):
        new = []
        for i, et in enumerate(steps):
            cond = acc[names[i]].isNull() & (x.et == et)
            if i:
                cond = (
                    cond
                    & new[i - 1].isNotNull()
                    & (x.ts > new[i - 1])
                    & (x.ts <= new[0] + window_secs)
                )
            new.append(F.when(cond, x.ts).otherwise(acc[names[i]]))
        return F.struct(*[v.alias(n) for n, v in zip(names, new)])

    st = F.aggregate("arr", zero, step_fn)
    reached = None
    for n in names:
        r = st[n].isNotNull().cast("long")
        reached = r if reached is None else reached + r
    return g.select(
        "user_id",
        *[st[n].alias(n) for n in names],
        reached.alias("reached"),
    ).where(F.col(names[0]).isNotNull())


_FUNNEL4_W = 14 * 86400  # wider window for the 4-step chain


def w_funnel_4step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalized fold instantiated at k=4 (view → click →
    signup → purchase within 14 days of the view), proving the
    k-step claim in ``w_funnel_3step``'s docstring with code instead
    of prose.  Same independent-oracle discipline: DuckDB computes
    four chained min-filter stages; agreement is forced by the
    strict-> tie-order-free definition.  Plan shape unchanged from
    the 3-step form: ONE user-keyed shuffle, the fold is codegen."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("ts"),
    )
    f = funnel_fold(ev, ["view", "click", "signup", "purchase"], _FUNNEL4_W)
    return f.select(
        "user_id",
        F.col("s0").alias("v_ts"),
        # nullable step timestamps emit as DOUBLE (the same pandas
        # nullable-BIGINT type trap w_funnel_3step documents)
        F.col("s1").cast("double").alias("c_ts"),
        F.col("s2").cast("double").alias("g_ts"),
        F.col("s3").cast("double").alias("p_ts"),
        "reached",
    )


W_FUNNEL_4STEP_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type AS et, epoch_ns(ts) // 1000000000 AS ts
  FROM events
),
v1 AS (SELECT user_id, min(ts) AS v_ts FROM ev WHERE et = 'view'
       GROUP BY user_id),
c2 AS (SELECT e.user_id, min(e.ts) AS c_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       WHERE e.et = 'click' AND e.ts > v1.v_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
g3 AS (SELECT e.user_id, min(e.ts) AS g_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN c2 ON e.user_id = c2.user_id
       WHERE e.et = 'signup' AND e.ts > c2.c_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
p4 AS (SELECT e.user_id, min(e.ts) AS p_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN g3 ON e.user_id = g3.user_id
       WHERE e.et = 'purchase' AND e.ts > g3.g_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id)
SELECT v1.user_id, v_ts,
       CAST(c_ts AS DOUBLE) AS c_ts,
       CAST(g_ts AS DOUBLE) AS g_ts,
       CAST(p_ts AS DOUBLE) AS p_ts,
       1 + CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN g_ts IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS reached
FROM v1
LEFT JOIN c2 ON v1.user_id = c2.user_id
LEFT JOIN g3 ON v1.user_id = g3.user_id
LEFT JOIN p4 ON v1.user_id = p4.user_id
"""


def w_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution over the 4-step funnel — the
    ledger next to the funnel itself ("how long does a full
    conversion take?"): fully-converted users bucket by whole days
    from first view to purchase, each bucket reporting its count, the
    running cumulative count, and the exact floor-truncated
    micro-unit cumulative share of all conversions.  (A first-
    activity-WEEK cohort split is degenerate on this corpus — every
    user is active in week 1 — so the latency axis is the one that
    carries information; the cohort triangle itself is ``w_cohorts``.)

    Scale shape: the funnel's ONE user-keyed fold, a tiny (≤ 15-row)
    day-bucket aggregate, and a running total over that bucket
    relation — the single-partition window is O(window days), not
    O(users)."""
    f = w_funnel_4step(spark, sf_dir).where(F.col("reached") == 4)
    lat = f.select(
        ((F.col("p_ts").cast("long") - F.col("v_ts")) / F.lit(86400))
        .cast("long").alias("lat_days")
    )
    per = lat.groupBy("lat_days").agg(F.count("*").alias("n_users"))
    w = Window.orderBy("lat_days").rowsBetween(Window.unboundedPreceding, 0)
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = F.sum("n_users").over(w)
    return per.select(
        "lat_days",
        "n_users",
        cum.alias("cum_users"),
        (
            F.floor(cum * 1_000_000 / F.sum("n_users").over(total))
            / F.lit(1_000_000.0)
        ).alias("cum_share"),
    )


W_FUNNEL_LATENCY_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type AS et, epoch_ns(ts) // 1000000000 AS ts
  FROM events
),
v1 AS (SELECT user_id, min(ts) AS v_ts FROM ev WHERE et = 'view'
       GROUP BY user_id),
c2 AS (SELECT e.user_id, min(e.ts) AS c_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       WHERE e.et = 'click' AND e.ts > v1.v_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
g3 AS (SELECT e.user_id, min(e.ts) AS g_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN c2 ON e.user_id = c2.user_id
       WHERE e.et = 'signup' AND e.ts > c2.c_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
p4 AS (SELECT e.user_id, min(e.ts) AS p_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN g3 ON e.user_id = g3.user_id
       WHERE e.et = 'purchase' AND e.ts > g3.g_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
per AS (
  SELECT (p4.p_ts - v1.v_ts) // 86400 AS lat_days, count(*) AS n_users
  FROM p4 JOIN v1 ON p4.user_id = v1.user_id
  GROUP BY 1
)
SELECT lat_days, n_users,
       CAST(sum(n_users) OVER (ORDER BY lat_days
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users,
       floor(sum(n_users) OVER (ORDER BY lat_days
                                ROWS UNBOUNDED PRECEDING)
             * 1000000 / sum(n_users) OVER ()) / 1000000.0 AS cum_share
FROM per
"""


def w_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-flow transition matrix (the Sankey/Markov relation next
    to the funnel): for every user's event stream in (ts, event_id)
    order, count consecutive (from_type → to_type) transitions, plus
    each row's exact floor-truncated micro-unit share of its
    from-type's outgoing transitions — the where-do-users-go-next
    relation behind flow diagrams and Markov attribution.

    Determinism: the lag window orders by (ts, event_id) — the
    write_seq tiebreak makes same-timestamp neighbors a total order,
    so both engines see the same predecessor everywhere.

    Scale shape: ONE user-keyed window (the lag rides the same
    shuffle class as sessionization), then a 25-cell aggregate and a
    from-type window over THAT tiny relation."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("ts"),
        F.col("event_id").alias("seq"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "seq")
    tr = (
        ev.withColumn("prev", F.lag("et").over(w))
        .where(F.col("prev").isNotNull())
        .groupBy(
            F.col("prev").alias("from_type"),
            F.col("et").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return tr.select(
        "from_type",
        "to_type",
        "n",
        (
            F.floor(F.col("n") * 1_000_000 / F.sum("n").over(tot))
            / F.lit(1_000_000.0)
        ).alias("share"),
    )


W_EVENT_TRANSITIONS_SQL = """
WITH ev AS (
  SELECT user_id, event_type AS et,
         epoch_ns(ts) // 1000000000 AS ts,
         event_id AS seq
  FROM events
),
tr AS (
  SELECT prev AS from_type, et AS to_type, count(*) AS n
  FROM (
    SELECT user_id, et,
           lag(et) OVER (PARTITION BY user_id ORDER BY ts, seq) AS prev
    FROM ev
  )
  WHERE prev IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       floor(n * 1000000 / sum(n) OVER (PARTITION BY from_type))
         / 1000000.0 AS share
FROM tr
"""


# ------------------------------------------------------ w_event_pagerank
_PR_SCALE = 1_000_000   # micro-unit fixed point
_PR_D = 85              # damping numerator (d = 0.85 as 85/100)


def _event_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-transition edge list (src, dst, n): each user's
    consecutive (ts, event_id)-ordered event pairs, counted — the
    Markov graph shared by ``w_event_pagerank``,
    ``w_pagerank_fixpoint`` and (with from/to naming)
    ``w_event_transitions``; a fix to the edge semantics lands once."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("ts"),
        F.col("event_id").alias("seq"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "seq")
    return (
        ev.withColumn("prev", F.lag("et").over(w))
        .where(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src"), F.col("et").alias("dst"))
        .agg(F.count("*").alias("n"))
    )


# The matching DuckDB CTE pair (ev + edges), shared by both pagerank
# oracles so the edge algebra is stated once.
_EVENT_EDGES_CTES = """ev AS (
  SELECT user_id, event_type AS et,
         epoch_ns(ts) // 1000000000 AS ts,
         event_id AS seq
  FROM events
),
edges AS MATERIALIZED (
  SELECT prev AS src, et AS dst, count(*) AS n
  FROM (
    SELECT user_id, et,
           lag(et) OVER (PARTITION BY user_id ORDER BY ts, seq) AS prev
    FROM ev
  )
  WHERE prev IS NOT NULL
  GROUP BY 1, 2
)"""


def w_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT fixed-point PageRank over the event-transition graph —
    the iterative graph algorithm next to the Lloyd step (both are
    plan-to-plan power iterations with NO driver collect in the
    loop): nodes = event types, edge weights = the Markov transition
    counts of ``w_event_transitions``, two unrolled iterations in
    integer micro-units.

    Exactness: PR₀ = ⌊10⁶/N⌋; each update is
    PR_{k+1}(v) = ⌊15·10⁶/(100·N)⌋ + Σᵤ ⌊85·PRₖ(u)·n(u,v)/(100·out(u))⌋
    — every term an integer division of exact longs, identical in
    both engines (the floored-contribution "leaky" PR variant: a sum
    of floors, deterministic regardless of addend order; a dangling
    node's mass leaks to the teleport floor — documented, and absent
    here since every event type transitions out).  The 85·PRₖ·n
    product stays far under 2⁶³ (PR ≤ 10⁶); at extreme edge counts
    rescale n/out to shares at a fixed grid first.

    Scale shape: the edge build is ``w_event_transitions``' ONE
    user-keyed lag window; each iteration is one equi-join of the
    edge list against the N-row rank frame (hinted broadcast — the
    rank side is O(nodes) forever) plus a map-combined per-dst sum;
    k iterations = k such joins, the rank relation never grows.  At
    billions of edges the join shuffles edges by src ONCE and reuses
    that partitioning across iterations."""
    return _pagerank_ledger(_event_edges(spark, sf_dir))


def _pagerank_ledger(edges: DataFrame) -> DataFrame:
    """(src, dst, n) edge frame → the 2-iteration fixed-point PR
    ledger (node, out_n, in_n, pr0, pr1, pr2) — shared by the batch
    form and the streamed-edge-sketch form (``st_event_pagerank``)."""
    out = edges.groupBy("src").agg(F.sum("n").alias("out_n"))
    inn = edges.groupBy("dst").agg(F.sum("n").alias("in_n"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").alias("nN"))
    base = nodes.crossJoin(F.broadcast(nn)).select(
        "node", "nN",
        F.expr(f"{_PR_SCALE} div nN").alias("pr0"),
        F.expr(f"(15 * {_PR_SCALE}) div (100 * nN)").alias("tele"),
    )
    we = edges.join(out, "src")

    def step(pr, col, new):
        contrib = we.join(
            F.broadcast(pr.select(F.col("node").alias("src"), col)),
            "src",
        ).select(
            "dst",
            F.expr(f"({_PR_D} * {col} * n) div (100 * out_n)").alias("c"),
        )
        # the per-dst contribution relation is O(nodes) rows —
        # provably tiny, hinted broadcast (the fixed-k policy)
        agg = F.broadcast(contrib.groupBy("dst").agg(F.sum("c").alias("s")))
        return pr.join(
            agg, pr["node"] == agg["dst"], "left"
        ).select(
            pr["*"],
            (F.col("tele") + F.coalesce(F.col("s"), F.lit(0))).alias(new),
        )
    r1 = step(base, "pr0", "pr1")
    r2 = step(r1, "pr1", "pr2")
    return (
        r2.join(F.broadcast(out.withColumnRenamed("src", "node")),
                "node", "left")
        .join(F.broadcast(inn.withColumnRenamed("dst", "node")),
              "node", "left")
        .select(
            "node",
            F.coalesce("out_n", F.lit(0)).alias("out_n"),
            F.coalesce("in_n", F.lit(0)).alias("in_n"),
            "pr0", "pr1", "pr2",
        )
    )


W_EVENT_PAGERANK_SQL = f"""
WITH {_EVENT_EDGES_CTES},
outd AS (SELECT src, CAST(sum(n) AS BIGINT) AS out_n FROM edges GROUP BY 1),
ind  AS (SELECT dst, CAST(sum(n) AS BIGINT) AS in_n FROM edges GROUP BY 1),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
),
nn AS (SELECT count(*) AS nN FROM nodes),
base AS (
  SELECT node, nN,
         {_PR_SCALE} // nN AS pr0,
         (15 * {_PR_SCALE}) // (100 * nN) AS tele
  FROM nodes, nn
),
it1 AS (
  SELECT b.node, b.nN, b.pr0, b.tele,
         b.tele + COALESCE(s.s, 0) AS pr1
  FROM base b LEFT JOIN (
    SELECT e.dst, CAST(sum(({_PR_D} * p.pr0 * e.n) // (100 * o.out_n))
                  AS BIGINT) AS s
    FROM edges e JOIN outd o ON e.src = o.src
    JOIN base p ON e.src = p.node
    GROUP BY e.dst
  ) s ON b.node = s.dst
),
it2 AS (
  SELECT b.node, b.pr0, b.pr1,
         b.tele + COALESCE(s.s, 0) AS pr2
  FROM it1 b LEFT JOIN (
    SELECT e.dst, CAST(sum(({_PR_D} * p.pr1 * e.n) // (100 * o.out_n))
                  AS BIGINT) AS s
    FROM edges e JOIN outd o ON e.src = o.src
    JOIN it1 p ON e.src = p.node
    GROUP BY e.dst
  ) s ON b.node = s.dst
)
SELECT node, COALESCE(out_n, 0) AS out_n, COALESCE(in_n, 0) AS in_n,
       pr0, pr1, pr2
FROM it2
LEFT JOIN outd ON node = outd.src
LEFT JOIN ind ON node = ind.dst
"""


# ---------------------------------------------------------- w_triangles
def _tri_edges(spark: SparkSession, sf_dir: str,
               order_mod: int | None = None) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v by id) between
    parts sharing an order; callers materialize it, since every
    triangle-family consumer reads it several times.  ``order_mod``
    keeps only orders with o % mod == 0 — a deterministic order sample
    (whole orders arrive or don't, so clique structure is preserved)
    used by the truss DECOMPOSITION to bound its data-dependent peel
    schedule."""
    from go_whisper_spark.sources.tables import load_table

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
    )
    if order_mod is not None:
        items = items.where(F.col("o") % order_mod == 0)
    items = items.distinct()
    edges = (
        items.join(items.select("o", F.col("p").alias("q")), "o")
        .where(F.col("p") < F.col("q"))
        .select(F.col("p").alias("u"), F.col("q").alias("v"))
        .distinct()
    )
    return edges


def _graph_adj(edges: DataFrame) -> DataFrame:
    """Undirected adjacency (z, x) — both directions of the (u < v)
    edge list.  Shared by w_link_cn / w_link_cn_sample / w_bfs_layers
    (REVIEW r15: was copy-pasted in all three)."""
    return edges.select(
        F.col("u").alias("z"), F.col("v").alias("x")
    ).unionAll(edges.select(F.col("v").alias("z"), F.col("u").alias("x")))


def _cn_pairs(adj: DataFrame) -> DataFrame:
    """Common-neighbor counts over unordered 2-hop pairs: the wedge
    self-join keyed on the center + map-combined count.  Shared by
    the exact and center-sampled link-prediction rungs."""
    return (
        adj.alias("a")
        .join(adj.alias("b"), "z")
        .where(F.col("a.x") < F.col("b.x"))
        .select(F.col("a.x").alias("u"), F.col("b.x").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("cn"))
    )


def _tri_degrees(edges: DataFrame) -> DataFrame:
    """Edge list → per-node degrees (node, deg)."""
    return (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def _tri_orient(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Each edge of ``edges`` oriented from the endpoint EARLIER in the
    (degree, id) total order of ``deg`` (``_tri_degrees(edges)``; two
    broadcast joins of the O(nodes) degree relation)."""
    e = (
        edges.join(
            F.broadcast(deg.select(F.col("node").alias("u"),
                                   F.col("deg").alias("du"))), "u")
        .join(
            F.broadcast(deg.select(F.col("node").alias("v"),
                                   F.col("deg").alias("dv"))), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        # the dst endpoint's degree rides along so the wedge filter
        # can apply the SAME (deg, id) total order locally
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )


def _tri_sample_filter(edges: DataFrame, mod: int) -> DataFrame:
    """DOULION edge sample: keep edges whose md5 hash ≡ 0 (mod p) —
    hex→int spelled identically in both engines."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", "u", "v")), 1, 8), 16, 10
    ).cast("long")
    return edges.where(h % mod == 0)


def _tri_oriented(spark: SparkSession, sf_dir: str):
    """(edges, deg, oriented) of the part co-purchase graph — the
    composition of ``_tri_edges``, ``_tri_degrees`` and ``_tri_orient``,
    each materialized (every consumer reads all three several times).
    plan_audit composes the bare functions to assert the build's
    physical shape (equi-self-join on the order key — never a
    cartesian — plus two broadcast joins of the O(nodes) degree
    relation)."""
    edges = materialize(_tri_edges(spark, sf_dir), "tri_oriented:edges")
    deg = materialize(_tri_degrees(edges), "tri_oriented:degrees")
    oriented = materialize(_tri_orient(edges, deg), "tri_oriented:oriented")
    return edges, deg, oriented


_TRI_BCAST_MAX_EDGES = 100_000_000  # broadcast-probe ceiling, 16 B/edge


def _tri_triangles(oriented: DataFrame,
                   n_edges: int | None = None) -> DataFrame:
    """Oriented edges → the triangle relation (a, v, w), each triangle
    exactly once (a ≺ v ≺ w in the (degree, id) total order): the
    compact-forward wedge self-join on the LOW-order node closed by a
    membership probe — shared by ``w_triangles`` (per-node
    participation) and ``w_truss_support`` (per-edge support).

    The closing probe is a BROADCAST of the oriented edge list
    (16 bytes/edge): the wedge relation is ~Σ C(outdeg, 2) rows —
    35× the edges on this corpus — so shuffling IT by (v, w) is the
    plan's one expensive move (measured 2.7× slower at sf0.1);
    broadcasting the edges instead lets wedges STREAM from the
    src-keyed self-join straight through the hash probe without ever
    materializing.  Size gate (ENFORCED, ADVICE r14): the hint is
    applied only while the edge count is ≤ _TRI_BCAST_MAX_EDGES
    (~1.6 GB at 16 B/edge); past that the identical plan falls back
    to the (v, w)-keyed shuffle join instead of OOMing the driver.
    Callers that already know the edge count pass it via ``n_edges``;
    otherwise it is counted here (cheap — every production substrate
    is localCheckpointed before this runs)."""
    a1 = oriented.select("src", F.col("dst").alias("v"),
                         F.col("dd").alias("dv2"))
    a2 = oriented.select("src", F.col("dst").alias("w"),
                         F.col("dd").alias("dw2"))
    wedges = a1.join(a2, "src").where(
        (F.col("dv2") < F.col("dw2"))
        | ((F.col("dv2") == F.col("dw2")) & (F.col("v") < F.col("w")))
    )
    probe = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    if n_edges is None:
        n_edges = oriented.count()
    if n_edges <= _TRI_BCAST_MAX_EDGES:
        probe = F.broadcast(probe)
    return wedges.join(probe, ["v", "w"]).select(
        F.col("src").alias("a"), "v", "w")


def w_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT triangle counting under degree-ordered orientation + the
    per-node clustering-coefficient ledger — the canonical
    "skew dies by orientation" graph operator, over the part
    co-purchase graph (parts appearing in the same order are
    adjacent; parts only ever alone in an order carry no edge and are
    absent from the ledger).

    Algorithm (compact-forward / Latapy 2008, public): orient every
    undirected edge from the endpoint EARLIER in the (degree, id)
    total order to the later one.  The oriented graph is a DAG; each
    triangle {x ≺ y ≺ z} survives exactly once as the wedge
    (x→y, x→z with y ≺ z) closed by the membership edge (y→z).  The
    wedge self-join fans out on each node's oriented OUT-adjacency,
    which the orientation bounds by O(√m) — a hub of degree d keeps
    only its ≤√m higher-ordered neighbors as out-edges, so the hot
    key's adjacency NEVER self-joins; that is the entire 100 TB
    story (the skew fence by construction, like d_prefix_join's).

    Exactness: integers end-to-end; the clustering coefficient is the
    exact floored ppm 2·tri·10⁶ div (deg·(deg−1)) (0 when deg < 2).
    The oracle restates the count independently with plain id-ordering
    (u < v canonical edges, 3-way join) — no degree logic — so the two
    engines agree only if the orientation math is right.

    Scale shape: the per-order pair expansion is bounded by order
    size (≤7 lineitems in TPC-H — a bounded clique expansion, not an
    all-pairs); edges dedup in ONE shuffle; degrees are a
    map-combined count whose O(nodes) result broadcasts back onto the
    edge list; the wedge join shuffles oriented edges by src ONCE and
    the wedges then STREAM through the broadcast closing probe
    without materializing (see ``_tri_triangles`` for the size gate).
    No collect anywhere."""
    _, deg, oriented = _tri_oriented(spark, sf_dir)
    return _tri_node_ledger(deg, oriented)


# Per-process memo of the built triangle substrate, keyed by
# (application, corpus) — the s_pq_search_serve discipline (VERDICT
# r14: w_triangles' 7.3 s bench entry was dominated by rebuilding the
# eagerly-checkpointed edges/degrees/orientation every rep; the
# steady-state probe cost is a fraction of it).  The substrate is the
# PERSISTED artifact of a one-time build in any real deployment.
_TRI_SUBSTRATE_CACHE: dict = {}


def tri_substrate_cached(spark: SparkSession, sf_dir: str):
    """``_tri_oriented`` built at most once per (session, corpus),
    returned as ``(edges, deg, oriented, n_edges)`` (a
    :func:`~go_whisper_spark.session.session_memo`).

    r19 optimization (guide §2.4 "remove shuffles outright" /
    bucketed-layout analogue): the served ``oriented`` relation is
    persisted REPARTITIONED BY ``src`` (defaultParallelism
    partitions) and sorted within partitions, so the wedge self-join
    — the serve plan's one heavy stage, emitting ~34x the edges —
    starts from co-partitioned, pre-sorted cached partitions:
    Catalyst plans it with ZERO Exchange and ZERO Sort (plan diff:
    2 Exchange + 2 Sort → 0 under the join), and the 41M-row wedge
    stream runs at full core parallelism instead of the static
    shuffle-partition count.  This is exactly what a production
    graph store does by writing the oriented edge list bucketed by
    src; the localCheckpointed form (UnknownPartitioning) forced a
    re-shuffle every query.  ``n_edges`` rides the cache so the
    broadcast-probe size gate (``_TRI_BCAST_MAX_EDGES``) costs no
    per-query count job."""

    def build():
        edges, deg, oriented = _tri_oriented(spark, sf_dir)
        oriented = (
            oriented.repartition(
                spark.sparkContext.defaultParallelism, "src")
            .sortWithinPartitions("src")
            .persist()
        )
        n_edges = oriented.count()
        deg = deg.persist()
        deg.count()
        return (edges, deg, oriented, n_edges)

    return session_memo(_TRI_SUBSTRATE_CACHE, spark, sf_dir, build)


def w_triangles_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``w_triangles``' probe path against the pre-built substrate:
    the wedge generation + closing probe + participation ledger
    alone, which is the recurring cost at 100 TB (a production graph
    store builds the deduped, degree-oriented edge list once per
    ingest and answers triangle/motif queries from it; the in-query
    substrate rebuild that dominates ``w_triangles``' bench entry is
    a one-time cost).  First call per (session, corpus) builds and
    persists the substrate partitioned by ``src`` (see
    ``tri_substrate_cached``); every subsequent call — and every
    bench rep after the warm-up — reuses it.  The wedge stage is the
    join plan over the src-partitioned substrate, with zero Exchange
    and zero Sort under the join.  Results are identical to
    ``w_triangles`` (same frames), so it shares the oracle."""
    _, deg, oriented, n_edges = tri_substrate_cached(spark, sf_dir)
    return _tri_node_ledger(deg, oriented, n_edges=n_edges)


def _tri_node_ledger(deg: DataFrame, oriented: DataFrame,
                     n_edges: int | None = None) -> DataFrame:
    """(deg, oriented) → the per-node (node, deg, tri_n, cc_ppm)
    ledger — shared by the batch form and the streamed-edge-set form
    (``st_triangles``), so a fix lands in both.  ``n_edges`` (when
    the caller already knows it, e.g. from the serve substrate cache)
    skips the broadcast-gate count job."""
    tri = _tri_triangles(oriented, n_edges=n_edges)
    part = (
        tri.select(F.explode(F.array("a", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_n"))
    )
    return (
        deg.join(part, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("tri_n", F.lit(0).cast("long")).alias("tri_n"),
            F.when(F.col("deg") < 2, F.lit(0).cast("long")).otherwise(
                F.expr(
                    "(2 * coalesce(tri_n, 0) * 1000000)"
                    " div (deg * (deg - 1))"
                )
            ).alias("cc_ppm"),
        )
    )


_TRI_P = 4   # DOULION sampling modulus: keep ~1/4 of the edges


def w_triangle_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION approximate triangle counting (Tsourakakis et al.,
    KDD'09 — public) made deterministic and oracle-checkable: keep
    only edges whose md5 hash ≡ 0 (mod p=4), count triangles on the
    SAMPLED graph with the same degree-ordered plan, estimate = p³ ·
    sampled count — the sketch-for-graphs rung next to the exact
    ledger, PRICED against it (tri_exact / tri_est / err_permille in
    one row, the CMS/HLL/KMV audit-baseline discipline).

    Why it scales: sampling shrinks the wedge join ~p² and the edge
    relation ~p BEFORE any shuffle; the estimator is unbiased under
    independent edge sampling (each triangle survives w.p. p⁻³), and
    hash-determinism replaces the coin flip so both engines see the
    SAME sample — exactness of the comparison, approximation only in
    the estimate itself.  The exact count stays as the audit
    baseline, exactly like the sketch ledgers.

    Scale shape: identical plan classes to ``w_triangles`` on ~1/p of
    the edges, plus the full-graph count for the audit column; the
    ledger is ONE row."""
    # ONE substrate build: the sampled graph is a cheap hash filter
    # over the already-checkpointed exact edge list (degrees and
    # orientation recomputed on the sample — they are the sampled
    # graph's own), not a second lineitem scan.
    edges, _, ori = _tri_oriented(spark, sf_dir)
    s_edges = materialize(_tri_sample_filter(edges, _TRI_P),
                          "w_triangle_sample:sampled edges")
    s_ori = materialize(_tri_orient(s_edges, _tri_degrees(s_edges)),
                        "w_triangle_sample:sampled oriented")
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_s = s_edges.agg(F.count("*").alias("n_edges_sampled"))
    t_exact = _tri_triangles(ori).agg(F.count("*").alias("tri_exact"))
    t_s = _tri_triangles(s_ori).agg(F.count("*").alias("tri_sampled"))
    p3 = _TRI_P ** 3
    return (
        n_edges.crossJoin(F.broadcast(n_s))
        .crossJoin(F.broadcast(t_exact))
        .crossJoin(F.broadcast(t_s))
        .select(
            "n_edges", "n_edges_sampled", "tri_exact",
            (F.col("tri_sampled") * p3).alias("tri_est"),
            F.when(F.col("tri_exact") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    ((F.col("tri_sampled") * p3 - F.col("tri_exact"))
                     * 1000).cast("double") / F.col("tri_exact")
                ).cast("long")
            ).alias("err_permille"),
        )
    )


W_TRIANGLE_SAMPLE_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
sedges AS (
  SELECT u, v FROM edges
  WHERE CAST('0x' || substring(md5(u || ':' || v), 1, 8) AS BIGINT)
        % {_TRI_P} = 0
),
tex AS (
  SELECT count(*) AS tri_exact
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
ts AS (
  SELECT count(*) AS tri_sampled
  FROM sedges e1
  JOIN sedges e2 ON e1.v = e2.u
  JOIN sedges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT count(*) FROM edges) AS n_edges,
       (SELECT count(*) FROM sedges) AS n_edges_sampled,
       tri_exact,
       CAST(tri_sampled * {_TRI_P ** 3} AS BIGINT) AS tri_est,
       CASE WHEN tri_exact = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST((tri_sampled * {_TRI_P ** 3} - tri_exact)
                 * 1000 AS DOUBLE) / tri_exact) AS BIGINT) END
         AS err_permille
FROM tex, ts
"""


def w_truss_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-truss edge-support distribution over the part co-purchase
    graph — the per-EDGE companion of ``w_triangles``' per-node
    ledger and the building block of truss decomposition (an edge is
    in the k-truss iff its support ≥ k−2): every edge's support =
    the number of triangles containing it, folded to the (support,
    n_edges) histogram so the ledger is O(max support) rows at any
    graph size.

    The triangle relation is the SAME degree-ordered compact-forward
    join as ``w_triangles`` (skew dies by orientation); each triangle
    then charges its THREE id-canonical edges via one explode, a
    map-combined per-edge count, and a left join back onto the edge
    list (support-0 edges — in no triangle — are real truss-peeling
    inputs and kept).  The oracle restates support with plain
    id-ordered triangles (no degree logic) and a 3-way UNION ALL
    charge — cross-engine agreement again proves the orientation.

    Scale shape: the charge relation is 3·|triangles| rows shrunk by
    map-side combine to |edges-with-support| before the shuffle; the
    histogram is a second tiny aggregate.  No collect, no window."""
    edges, _, oriented = _tri_oriented(spark, sf_dir)
    tri = _tri_triangles(oriented)
    # the triangle's vertices are (degree, id)-ordered — canonicalize
    # each charged edge back to id order to match the edge list
    pairs = tri.select(
        F.explode(F.array(
            F.struct(F.least("a", "v").alias("u"),
                     F.greatest("a", "v").alias("v")),
            F.struct(F.least("a", "w").alias("u"),
                     F.greatest("a", "w").alias("v")),
            F.struct(F.least("v", "w").alias("u"),
                     F.greatest("v", "w").alias("v")),
        )).alias("e")
    ).select("e.u", "e.v")
    sup = pairs.groupBy("u", "v").agg(F.count("*").alias("s"))
    led = edges.join(sup, ["u", "v"], "left").select(
        F.coalesce("s", F.lit(0).cast("long")).alias("support")
    )
    return led.groupBy("support").agg(F.count("*").alias("n_edges"))


W_TRUSS_SUPPORT_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
pairs AS (
  SELECT a AS u, b AS v FROM tri
  UNION ALL SELECT a AS u, c AS v FROM tri
  UNION ALL SELECT b AS u, c AS v FROM tri
),
sup AS (SELECT u, v, count(*) AS s FROM pairs GROUP BY 1, 2),
led AS (
  SELECT COALESCE(s.s, CAST(0 AS BIGINT)) AS support
  FROM edges e LEFT JOIN sup s ON e.u = s.u AND e.v = s.v
)
SELECT support, count(*) AS n_edges FROM led GROUP BY 1
"""


def w_link_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: the top-20 NON-edge
    pairs by common-neighbor count, with the Jaccard overlap carried
    as EXACT integers — the classic candidate-generation pass
    (Liben-Nowell & Kleinberg 2003, public) a recommendation/graph-
    completion pipeline runs before any learned scorer.

    Semantics: candidates are the 2-hop pairs (every unordered pair
    sharing at least one neighbor z, generated by the wedge self-join
    keyed on the CENTER); pairs that are already edges are anti-
    joined away; cn = number of distinct common neighbors (each
    center contributes exactly one (x1 < x2) row per pair, so a plain
    map-combined count is the distinct count); the Jaccard numerator/
    denominator ride along as integers (union_n = du + dv − cn) plus
    the floored-ppm ratio — the repo-wide exactness discipline for
    cross-engine floats.  Deterministic top-20 by (cn DESC, u, v).

    Scale shape: ONE wedge self-join shuffle keyed on the center +
    map-combined pair count + one anti-join against the edge list +
    two broadcast joins of the O(nodes) degree relation + TakeOrdered
    (partial top-k, no global sort).  The wedge fan-out is Σ deg(z)²
    — for exact common-neighbor counts this is the OUTPUT's own lower
    bound, not a plan artifact (every wedge is evidence for exactly
    one pair), so the scale fences are the substrate ones: hub
    centers cap/sample (the DOULION rung — sampling centers keeps the
    count unbiased per pair), or restrict to the degree-ordered
    orientation when only candidates (not exact counts) are needed.
    Here the full graph runs exact; the fence is documented, not
    silently applied."""
    edges = materialize(_tri_edges(spark, sf_dir), "w_link_cn:edges")
    adj = _graph_adj(edges)
    cn = _cn_pairs(adj)
    cand = cn.join(edges, ["u", "v"], "left_anti")
    deg = _tri_degrees(edges)
    scored = (
        cand.join(F.broadcast(deg.select(F.col("node").alias("u"),
                                         F.col("deg").alias("du"))), "u")
        .join(F.broadcast(deg.select(F.col("node").alias("v"),
                                     F.col("deg").alias("dv"))), "v")
        .select(
            "u", "v", "cn", "du", "dv",
            (F.col("du") + F.col("dv") - F.col("cn")).alias("union_n"),
            F.floor(F.lit(1000000) * F.col("cn") /
                    (F.col("du") + F.col("dv") - F.col("cn")))
            .cast("long").alias("jac_ppm"),
        )
    )
    return scored.orderBy(F.desc("cn"), "u", "v").limit(20)


W_LINK_CN_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
adj AS (
  SELECT u AS z, v AS x FROM edges
  UNION ALL SELECT v AS z, u AS x FROM edges
),
cn AS (
  SELECT a.x AS u, b.x AS v, count(*) AS cn
  FROM adj a JOIN adj b ON a.z = b.z AND a.x < b.x
  GROUP BY 1, 2
),
cand AS (
  SELECT c.* FROM cn c
  LEFT JOIN edges e ON c.u = e.u AND c.v = e.v
  WHERE e.u IS NULL
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY 1
)
SELECT c.u, c.v, c.cn, du.deg AS du, dv.deg AS dv,
       du.deg + dv.deg - c.cn AS union_n,
       CAST(FLOOR(1000000 * c.cn / (du.deg + dv.deg - c.cn)) AS BIGINT)
         AS jac_ppm
FROM cand c
JOIN deg du ON c.u = du.node
JOIN deg dv ON c.v = dv.node
ORDER BY c.cn DESC, c.u, c.v
LIMIT 20
"""


_BFS_SEED_MOD = 101    # deterministic multi-source seed set
_BFS_MAX_ROUNDS = 64   # driver-loop safety cap
_BFS_ORACLE_R = 12     # oracle unroll depth — strictly past the
#                        measured fixpoints (see docstring); rounds
#                        past the fixpoint expand an EMPTY frontier


def w_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS to its exact fixpoint — distance-from-seed-set
    labeling over the co-purchase graph, the CHEAPEST member of the
    convergence family (PageRank on ranks, truss on edges, k-core on
    nodes, this on frontiers): the crawl-depth / blast-radius pass a
    pipeline runs to bound how far influence propagates from a seed
    set (here every part with id ≡ 0 mod 101).

    Loop: the frontier at distance r expands to its unvisited
    neighbors (ONE equi-join + one anti-join against the visited
    relation per round); the loop stops the round the frontier
    empties — a decidable fixpoint whose round count the oracle
    re-derives in SQL (min r with |frontier_r| = 0).  Output: the
    (dist, n_nodes) histogram — O(diameter) rows at any graph size —
    plus iters; unreached nodes are absent by definition (the
    co-purchase graph is near-connected, which the conservation
    pytest quantifies).  Measured fixpoints: 3 rounds at EVERY SF
    (two occupied layers, then the empty-frontier stop) — the
    co-purchase graph is a 2-hop small world from any ~1%-of-nodes
    seed set at any scale, the densification that also shortens the
    PageRank mixing times.

    Scale shape: per round the frontier join is keyed on the node id
    (never a cartesian), the visited relation is O(reached nodes)
    and enters each round ONCE through the anti-join — linear
    recursion, plain localCheckpoint suffices (contrast the truss
    peel's multiplicative shape); ONE control-plane scalar per
    round.  No collect of node data anywhere."""
    adj = materialize(_graph_adj(_tri_edges(spark, sf_dir)),
                      "w_bfs_layers:adjacency")
    nodes = adj.select(F.col("z").alias("node")).distinct()
    frontier = nodes.where(F.col("node") % _BFS_SEED_MOD == 0)
    visited = materialize(frontier.withColumn("d", F.lit(0).cast("long")),
                          "w_bfs_layers:visited")
    frontier = materialize(frontier, "w_bfs_layers:frontier")
    layers = [visited]
    iters = 0
    r = 0
    while True:
        iters += 1
        if iters > _BFS_MAX_ROUNDS:
            raise RuntimeError("BFS did not reach a fixpoint")
        r += 1
        nxt = materialize(
            frontier.select(F.col("node").alias("z"))
            .join(adj, "z")
            .select(F.col("x").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("d", F.lit(r).cast("long")),
            f"w_bfs_layers:layer {r}")
        # ONE control-plane scalar per round — the stop test
        n = nxt.count()
        if n == 0:
            break
        layers.append(nxt)
        visited = materialize(visited.unionByName(nxt), "w_bfs_layers:visited")
        frontier = nxt.select("node")
    if iters > _BFS_ORACLE_R:
        raise RuntimeError(
            f"BFS fixpoint at round {iters} > the oracle unroll depth "
            f"_BFS_ORACLE_R={_BFS_ORACLE_R}; raise the unroll depth "
            "so rounds past the fixpoint stay no-ops"
        )
    hist = layers[0]
    for l_ in layers[1:]:
        hist = hist.unionByName(l_)
    return (
        hist.groupBy("d")
        .agg(F.count("*").alias("n_nodes"))
        .select("d", "n_nodes", F.lit(iters).cast("long").alias("iters"))
    )


def _w_bfs_layers_sql(r_max: int = _BFS_ORACLE_R,
                      seed_mod: int = _BFS_SEED_MOD) -> str:
    """Generated oracle: the frontier expansion unrolled r_max rounds
    (strictly past every measured fixpoint — later rounds expand an
    EMPTY frontier, provably no-ops), plus the SQL derivation of the
    round count (min r with |frontier_r| = 0).  Every per-round CTE
    is MATERIALIZED (the PageRank-oracle lesson)."""
    rounds = []
    for r in range(1, r_max + 1):
        p = r - 1
        rounds.append(f"""f{r} AS MATERIALIZED (
  SELECT DISTINCT a.x AS node
  FROM f{p} f JOIN adj a ON f.node = a.z
  WHERE a.x NOT IN (SELECT node FROM v{p})
),
v{r} AS MATERIALIZED (
  SELECT node, d FROM v{p}
  UNION ALL SELECT node, {r} AS d FROM f{r}
)""")
    cnts = "\n  UNION ALL ".join(
        f"SELECT {r} AS r, (SELECT count(*) FROM f{r}) AS n"
        for r in range(1, r_max + 1)
    )
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
adj AS MATERIALIZED (
  SELECT u AS z, v AS x FROM edges
  UNION ALL SELECT v AS z, u AS x FROM edges
),
f0 AS MATERIALIZED (
  SELECT DISTINCT z AS node FROM adj WHERE z % {seed_mod} = 0
),
v0 AS MATERIALIZED (
  SELECT node, CAST(0 AS BIGINT) AS d FROM f0
),
{",".join(rounds)},
cnts AS (
  {cnts}
),
fix AS (SELECT CAST(min(r) AS BIGINT) AS iters FROM cnts WHERE n = 0)
SELECT CAST(d AS BIGINT) AS d, count(*) AS n_nodes,
       (SELECT iters FROM fix) AS iters
FROM v{r_max}
GROUP BY d
"""


_LINK_P = 3   # center-sampling modulus for the estimated rung


def w_link_cn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED scale rung for link prediction — the DOULION
    discipline applied to CENTERS: keep every wedge whose center z
    has md5('z:'+z) ≡ 0 (mod 3) (deterministic, so both engines see
    the SAME sample), estimate each pair's common-neighbor count as
    3 · (sampled count) — unbiased under center sampling, since each
    of a pair's common neighbors survives independently with
    probability 1/3 — and price the estimate against the exact count
    on the exact top-20 ledger (`w_link_cn`'s audit discipline; at
    100 TB only the sampled wedge join runs, Σ deg(z)² cut ~3×, and
    the exact column is the audit baseline this demo keeps).

    Output: the exact top-20 non-edge pairs with cn_exact, cn_est
    (3·sampled, 0 when no sampled center witnessed the pair), and
    the signed error — all integers.

    Scale shape: the sampled wedge join is the `w_link_cn` plan over
    the ~1/3-of-centers adjacency (the quadratic term drops by the
    sampling rate); the exact side is the audit baseline; one left
    join aligns the two ledgers."""
    edges = materialize(_tri_edges(spark, sf_dir), "w_link_cn_sample:edges")
    adj = _graph_adj(edges)
    exact = _cn_pairs(adj).join(edges, ["u", "v"], "left_anti")
    top = (
        exact.orderBy(F.desc("cn"), "u", "v").limit(20)
        .withColumnRenamed("cn", "cn_exact")
    )
    zh = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("z"),
                                      F.col("z").cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    sampled = _cn_pairs(adj.where(zh % _LINK_P == 0))
    return (
        top.join(sampled, ["u", "v"], "left")
        .select(
            "u", "v", "cn_exact",
            (F.lit(_LINK_P) * F.coalesce("cn", F.lit(0).cast("long")))
            .alias("cn_est"),
        )
        .withColumn("err", F.col("cn_est") - F.col("cn_exact"))
        .orderBy(F.desc("cn_exact"), "u", "v")
    )


W_LINK_CN_SAMPLE_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
adj AS (
  SELECT u AS z, v AS x FROM edges
  UNION ALL SELECT v AS z, u AS x FROM edges
),
exact AS (
  SELECT a.x AS u, b.x AS v, count(*) AS cn
  FROM adj a JOIN adj b ON a.z = b.z AND a.x < b.x
  GROUP BY 1, 2
),
top AS (
  SELECT e.u, e.v, e.cn AS cn_exact FROM exact e
  LEFT JOIN edges g ON e.u = g.u AND e.v = g.v
  WHERE g.u IS NULL
  ORDER BY e.cn DESC, e.u, e.v
  LIMIT 20
),
sadj AS (
  SELECT z, x FROM adj
  WHERE CAST('0x' || substring(md5('z:' || CAST(z AS VARCHAR)), 1, 8)
             AS BIGINT) % {_LINK_P} = 0
),
sampled AS (
  SELECT a.x AS u, b.x AS v, count(*) AS cn
  FROM sadj a JOIN sadj b ON a.z = b.z AND a.x < b.x
  GROUP BY 1, 2
)
SELECT t.u, t.v, t.cn_exact,
       {_LINK_P} * COALESCE(s.cn, 0) AS cn_est,
       {_LINK_P} * COALESCE(s.cn, 0) - t.cn_exact AS err
FROM top t LEFT JOIN sampled s ON t.u = s.u AND t.v = s.v
"""


# --------------------------------------------------- w_truss_decomp
_TRUSS_MOD = 8         # deterministic order sample: o % 8 == 0
_TRUSS_MAX_ROUNDS = 64  # driver-loop safety cap
_TRUSS_ORACLE_R = 44   # oracle unroll depth — strictly past the
#                        measured flattened fixpoints (27/33/34 at
#                        sf0.001/0.01/0.1; rounds past the fixpoint
#                        peel an EMPTY edge set, provably no-ops)


def w_truss_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truss DECOMPOSITION to its exact fixpoint — the iterative
    peeling loop over ``w_truss_support``'s charge plan, completing
    the convergence-loop discipline ``w_pagerank_fixpoint``
    established (decidable stop, one control-plane scalar per round,
    flat lineage via per-round localCheckpoint, oracle-checked
    iteration count).

    Semantics (flattened k-sweep): start at k=2 over the whole edge
    set; each round recomputes every surviving edge's support (its
    triangle count within the SURVIVOR subgraph) and either peels the
    edges with support < k−2 (their trussness is k−1: they belong to
    the (k−1)-truss but not the k-truss) or, when nothing peels,
    advances k.  The loop stops the round the edge set empties — a
    decidable fixpoint, never an ε.  Output: the (trussness, n_edges)
    ledger — O(k_max) rows at any graph size — plus the flattened
    round count, which the oracle re-derives in SQL (min r with
    |survivors_r| = 0), so the loop-until-converged schedule itself
    is cross-engine-checked, not just the final histogram.

    The graph is the co-purchase graph of the o % 8 == 0 ORDER sample
    (whole orders arrive or don't, so the bounded clique expansion
    and all triangle structure within a sampled order are preserved —
    the DOULION discipline applied to the input, not the estimate;
    decomposition on the sample is EXACT).  The modulus exists to
    bound the data-dependent peel schedule so the unrolled oracle
    stays affordable; at production scale the same loop runs on the
    full graph — each round is exactly the audited ``w_truss_support``
    plan class (degree-ordered orientation computed ONCE on the
    sampled graph: any fixed total order finds each triangle exactly
    once on every survivor subgraph, so rounds reuse the original
    orientation and only re-count).

    Scale shape: per round ONE wedge-join + charge aggregation over
    the survivors (shrinking monotonically), one broadcast-gated
    closing probe, one localCheckpoint, ONE driver scalar (the peel
    count); consecutive k-bumps skip the recount entirely (support
    is unchanged — only the threshold moved).  The dropped slices are
    lazy selections over already-checkpointed rounds, unioned once at
    the end into a map-combined O(k_max) histogram.  No collect of
    edge data anywhere."""
    edges = materialize(_tri_edges(spark, sf_dir, order_mod=_TRUSS_MOD),
                        "w_truss_decomp:edges")
    oriented = materialize(_tri_orient(edges, _tri_degrees(edges)),
                           "w_truss_decomp:oriented")
    return _truss_peel(spark, oriented)


def _truss_peel(spark: SparkSession, oriented: DataFrame,
                first_sup: DataFrame = None) -> DataFrame:
    """The flattened peel loop over the oriented edge set → the
    (trussness, n_edges, iters) histogram.  ``first_sup`` — a
    maintained (cu, cv, s) support relation of the whole edge set —
    replaces the round-1 triangle count when given; every later
    recount runs on the survivors."""
    cnt = oriented.count()
    surv = oriented
    k = 2
    iters = 0
    dropped = []          # per-round lazy slices over checkpointed anns
    ann = None
    recount = True
    sup = first_sup
    while cnt > 0:
        iters += 1
        if iters > _TRUSS_MAX_ROUNDS:
            raise RuntimeError("truss peeling did not reach a fixpoint")
        if recount:
            if sup is None:
                tri = _tri_triangles(surv, n_edges=cnt)
                pairs = tri.select(
                    F.explode(F.array(
                        F.struct(F.least("a", "v").alias("cu"),
                                 F.greatest("a", "v").alias("cv")),
                        F.struct(F.least("a", "w").alias("cu"),
                                 F.greatest("a", "w").alias("cv")),
                        F.struct(F.least("v", "w").alias("cu"),
                                 F.greatest("v", "w").alias("cv")),
                    )).alias("e")
                ).select("e.cu", "e.cv")
                sup = pairs.groupBy("cu", "cv").agg(F.count("*").alias("s"))
            ann = materialize(
                surv.withColumn("cu", F.least("src", "dst"))
                .withColumn("cv", F.greatest("src", "dst"))
                .join(sup, ["cu", "cv"], "left")
                .select(
                    "src", "dst", "dd",
                    F.coalesce("s", F.lit(0).cast("long")).alias("sup"),
                ),
                f"truss_peel:support round {iters}", reset_stats=True,
            )
            sup = None
        # ONE control-plane scalar per round — the peel/stop test
        n_bad = ann.where(F.col("sup") < k - 2).count()
        if n_bad == 0:
            k += 1
            # support over an unchanged survivor set is unchanged;
            # only the threshold moved — skip the recount
            recount = False
            continue
        dropped.append(
            ann.where(F.col("sup") < k - 2)
            .select(F.lit(k - 1).cast("long").alias("trussness"))
        )
        surv = ann.where(F.col("sup") >= k - 2).select("src", "dst", "dd")
        cnt -= n_bad
        recount = True
    if iters > _TRUSS_ORACLE_R:
        raise RuntimeError(
            f"truss fixpoint at round {iters} > the oracle unroll "
            f"depth _TRUSS_ORACLE_R={_TRUSS_ORACLE_R}; raise the "
            "unroll depth so rounds past the fixpoint stay no-ops"
        )
    if not dropped:
        # triangle-free empty loop never executed (no edges): 0 rows
        return spark.createDataFrame(
            [], "trussness long, n_edges long, iters long")
    hist = dropped[0]
    for d in dropped[1:]:
        hist = hist.unionByName(d)
    return (
        hist.groupBy("trussness")
        .agg(F.count("*").alias("n_edges"))
        .select("trussness", "n_edges",
                F.lit(iters).cast("long").alias("iters"))
    )


def _w_truss_decomp_sql(r_max: int = _TRUSS_ORACLE_R,
                        mod: int = _TRUSS_MOD) -> str:
    """Generated oracle: the flattened peel unrolled r_max rounds
    (strictly past every measured fixpoint — later rounds operate on
    an EMPTY survivor set, provably no-ops) with plain id-ordered
    triangle counting per round (no degree logic — cross-engine
    agreement proves the orientation reuse), plus the SQL derivation
    of the round count (min r with |survivors_r| = 0 — identical
    semantics to the driver loop's stop test).  Every per-round CTE
    is MATERIALIZED (plain CTEs inline and re-evaluate the whole
    chain per reference — the O(k²) blowup the PageRank oracle
    pinned)."""
    rounds = []
    for r in range(1, r_max + 1):
        p = r - 1
        rounds.append(f"""tri{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM surv{p} e1 JOIN surv{p} e2 ON e1.v = e2.u
  JOIN surv{p} e3 ON e3.u = e1.u AND e3.v = e2.v
),
sup{r} AS MATERIALIZED (
  SELECT s.u, s.v, COALESCE(c.c, 0) AS sup
  FROM surv{p} s LEFT JOIN (
    SELECT u, v, count(*) AS c FROM (
      SELECT a AS u, b AS v FROM tri{r}
      UNION ALL SELECT a, c FROM tri{r}
      UNION ALL SELECT b, c FROM tri{r}
    ) GROUP BY u, v
  ) c ON s.u = c.u AND s.v = c.v
),
lvl{r} AS MATERIALIZED (
  SELECT CASE WHEN EXISTS (
    SELECT 1 FROM sup{r} WHERE sup < (SELECT k FROM lvl{p}) - 2)
  THEN (SELECT k FROM lvl{p}) ELSE (SELECT k FROM lvl{p}) + 1 END AS k
),
drp{r} AS MATERIALIZED (
  SELECT u, v, (SELECT k FROM lvl{p}) - 1 AS trussness
  FROM sup{r} WHERE sup < (SELECT k FROM lvl{p}) - 2
),
surv{r} AS MATERIALIZED (
  SELECT u, v FROM sup{r} WHERE sup >= (SELECT k FROM lvl{p}) - 2
)""")
    cnts = "\n  UNION ALL ".join(
        f"SELECT {r} AS r, (SELECT count(*) FROM surv{r}) AS n"
        for r in range(1, r_max + 1)
    )
    drps = "\n    UNION ALL ".join(
        f"SELECT trussness FROM drp{r}" for r in range(1, r_max + 1)
    )
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
  WHERE l_orderkey % {mod} = 0
),
surv0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
lvl0 AS (SELECT 2 AS k),
{",".join(rounds)},
cnts AS (
  {cnts}
),
fix AS (SELECT CAST(min(r) AS BIGINT) AS iters FROM cnts WHERE n = 0)
SELECT CAST(trussness AS BIGINT) AS trussness,
       count(*) AS n_edges,
       (SELECT iters FROM fix) AS iters
FROM (
    {drps}
)
GROUP BY trussness
"""


_KCORE_MAX_ROUNDS = 128  # driver-loop safety cap
_KCORE_ORACLE_R = 88     # oracle unroll depth — strictly past the
#                          measured flattened fixpoints (37/60/80 at
#                          sf0.001/0.01/0.1; rounds past the fixpoint
#                          peel an EMPTY node set, provably no-ops)


def w_kcore_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE decomposition to its exact fixpoint — the NODE-peeling
    member of the convergence family (`w_pagerank_fixpoint` on ranks,
    `w_truss_decomp` on edges, this on nodes): the standard
    community-scale graph-cleaning pass (Seidman 1983's degeneracy
    ordering; Matula-Beck peel) a 100 TB pipeline runs to strip
    low-connectivity periphery before any expensive per-node work.

    Semantics (flattened k-sweep, mirroring the truss peel): nodes =
    endpoints of the o % 8 == 0 order-sampled co-purchase graph;
    start at k=2 (every node has degree ≥ 1 by construction, so the
    k=1 round can never peel); each round computes every surviving
    node's degree WITHIN the survivor subgraph — a node whose last
    edges died because its neighbors peeled shows degree 0, which is
    why the node set is tracked as its own relation, not re-derived
    from surviving edges — and either peels the nodes with degree < k
    (their coreness is k−1) or, when nothing peels, advances k.  The
    loop stops the round the node set empties — a decidable fixpoint,
    never an ε.  Output: the (coreness, n_nodes) ledger — O(k_max)
    rows at any graph size — plus the flattened round count, which
    the oracle re-derives in SQL (min r with |nodes_r| = 0), so the
    schedule itself is cross-engine-checked.

    Scale shape: per round ONE map-combined degree aggregate over the
    surviving edges (shrinking monotonically) + one left join back to
    the O(nodes) node relation + two anti-joins shedding the peeled
    nodes' edges, one stats-flat checkpoint (`materialize(...,
    reset_stats=True)` — the survivor frame enters its own round plan
    through deg AND both anti-joins, the multiplicative shape the
    truss loop pinned), ONE driver scalar (the peel count);
    consecutive k-bumps skip the recount entirely (degrees are
    unchanged — only the threshold moved).  No triangle join anywhere
    — each round is strictly cheaper than a truss round, which is why
    core peeling is the FIRST cleaning pass and truss the second.
    Measured flattened fixpoints (re-measured for ADVICE r15 —
    matches the _KCORE_ORACLE_R margin comment): 37/60/80 rounds at
    sf0.001/0.01/0.1, against the 88-round oracle unroll."""
    edges = materialize(_tri_edges(spark, sf_dir, order_mod=_TRUSS_MOD),
                        "w_kcore_decomp:edges")
    nodes = materialize(
        edges.select(F.explode(F.array("u", "v")).alias("node")).distinct(),
        "w_kcore_decomp:nodes", reset_stats=True,
    )
    n_nodes = nodes.count()
    k = 2
    iters = 0
    dropped = []          # per-round lazy slices over checkpointed anns
    ann = None
    recount = True
    while n_nodes > 0:
        iters += 1
        if iters > _KCORE_MAX_ROUNDS:
            raise RuntimeError("core peeling did not reach a fixpoint")
        if recount:
            deg = (
                edges.select(F.explode(F.array("u", "v")).alias("node"))
                .groupBy("node")
                .agg(F.count("*").alias("deg"))
            )
            ann = materialize(
                nodes.join(deg, "node", "left")
                .select(
                    "node",
                    F.coalesce("deg", F.lit(0).cast("long")).alias("deg"),
                ),
                f"w_kcore_decomp:degrees round {iters}", reset_stats=True,
            )
        # ONE control-plane scalar per round — the peel/stop test
        n_bad = ann.where(F.col("deg") < k).count()
        if n_bad == 0:
            k += 1
            # degrees over an unchanged survivor set are unchanged;
            # only the threshold moved — skip the recount
            recount = False
            continue
        bad = ann.where(F.col("deg") < k).select("node")
        dropped.append(
            bad.select(F.lit(k - 1).cast("long").alias("coreness"))
        )
        nodes = ann.where(F.col("deg") >= k).select("node")
        edges = materialize(
            edges.join(bad.select(F.col("node").alias("u")), "u",
                       "left_anti")
            .join(bad.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v"),
            f"w_kcore_decomp:survivors round {iters}", reset_stats=True,
        )
        n_nodes -= n_bad
        recount = True
    if iters > _KCORE_ORACLE_R:
        raise RuntimeError(
            f"core fixpoint at round {iters} > the oracle unroll depth "
            f"_KCORE_ORACLE_R={_KCORE_ORACLE_R}; raise the unroll depth "
            "so rounds past the fixpoint stay no-ops"
        )
    if not dropped:
        return spark.createDataFrame(
            [], "coreness long, n_nodes long, iters long")
    hist = dropped[0]
    for d in dropped[1:]:
        hist = hist.unionByName(d)
    return (
        hist.groupBy("coreness")
        .agg(F.count("*").alias("n_nodes"))
        .select("coreness", "n_nodes",
                F.lit(iters).cast("long").alias("iters"))
    )


def _w_kcore_decomp_sql(r_max: int = _KCORE_ORACLE_R,
                        mod: int = _TRUSS_MOD,
                        node_level: bool = False) -> str:
    """Generated oracle: the flattened node peel unrolled r_max rounds
    (strictly past every measured fixpoint — later rounds operate on
    an EMPTY node set, provably no-ops), plus the SQL derivation of
    the round count (min r with |nodes_r| = 0 — identical semantics
    to the driver loop's stop test).  Every per-round CTE is
    MATERIALIZED (plain CTEs inline and re-evaluate the whole chain
    per reference — the O(k²) blowup the PageRank oracle pinned).
    ``node_level=True`` emits the per-node (node, coreness) ledger
    instead of the histogram, and drops the iters column — the
    streamed warm-start form (`st_kcore`) reaches the same exact
    coreness but its peel schedule depends on batch slicing, so only
    the labeling is oracle-comparable (the `st_labelprop`
    convention)."""
    rounds = []
    for r in range(1, r_max + 1):
        p = r - 1
        rounds.append(f"""deg{r} AS MATERIALIZED (
  SELECT n.node, COALESCE(d.c, 0) AS deg
  FROM nodes{p} n LEFT JOIN (
    SELECT node, count(*) AS c FROM (
      SELECT u AS node FROM edges{p}
      UNION ALL SELECT v AS node FROM edges{p}
    ) GROUP BY node
  ) d ON n.node = d.node
),
lvl{r} AS MATERIALIZED (
  SELECT CASE WHEN EXISTS (
    SELECT 1 FROM deg{r} WHERE deg < (SELECT k FROM lvl{p}))
  THEN (SELECT k FROM lvl{p}) ELSE (SELECT k FROM lvl{p}) + 1 END AS k
),
drp{r} AS MATERIALIZED (
  SELECT node, (SELECT k FROM lvl{p}) - 1 AS coreness
  FROM deg{r} WHERE deg < (SELECT k FROM lvl{p})
),
nodes{r} AS MATERIALIZED (
  SELECT node FROM deg{r} WHERE deg >= (SELECT k FROM lvl{p})
),
edges{r} AS MATERIALIZED (
  SELECT u, v FROM edges{p}
  WHERE u NOT IN (SELECT node FROM drp{r})
    AND v NOT IN (SELECT node FROM drp{r})
)""")
    cnts = "\n  UNION ALL ".join(
        f"SELECT {r} AS r, (SELECT count(*) FROM nodes{r}) AS n"
        for r in range(1, r_max + 1)
    )
    drps = "\n    UNION ALL ".join(
        f"SELECT node, coreness FROM drp{r}" for r in range(1, r_max + 1)
    )
    if node_level:
        final = f"""SELECT node, CAST(coreness AS BIGINT) AS coreness
FROM (
    {drps}
)"""
    else:
        final = f"""SELECT CAST(coreness AS BIGINT) AS coreness,
       count(*) AS n_nodes,
       (SELECT iters FROM fix) AS iters
FROM (
    {drps}
)
GROUP BY coreness"""
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
  WHERE l_orderkey % {mod} = 0
),
edges0 AS MATERIALIZED (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
nodes0 AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT u AS node FROM edges0 UNION ALL SELECT v AS node FROM edges0
  )
),
lvl0 AS (SELECT 2 AS k),
{",".join(rounds)},
cnts AS (
  {cnts}
),
fix AS (SELECT CAST(min(r) AS BIGINT) AS iters FROM cnts WHERE n = 0)
{final}
"""


W_TRIANGLES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY 1
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
part AS (
  SELECT node, count(*) AS tri_n FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b AS node FROM tri
    UNION ALL SELECT c AS node FROM tri
  ) GROUP BY 1
)
SELECT deg.node, deg.deg AS deg,
       COALESCE(tri_n, CAST(0 AS BIGINT)) AS tri_n,
       CASE WHEN deg < 2 THEN CAST(0 AS BIGINT)
            ELSE CAST((2 * COALESCE(tri_n, 0) * 1000000)
                 // (deg * (deg - 1)) AS BIGINT) END AS cc_ppm
FROM deg LEFT JOIN part USING (node)
"""


# ----------------------------------------------- w_pagerank_fixpoint
_PRF_MAX_ITERS = 64   # loop safety cap
_PRF_ORACLE_K = 24    # oracle unroll depth — strictly past the
#                       measured fixpoints (18/11/13 at
#                       sf0.001/0.01/0.1; the SPARSER graph mixes
#                       slower), so iterations k..24 are identical


def w_pagerank_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point PageRank run TO CONVERGENCE — the ROADMAP's
    iterative-loop completion of ``w_event_pagerank``'s 2 unrolled
    steps: because every update is integer arithmetic (floored
    contributions + teleport floor), the iteration reaches an EXACT
    fixpoint (PR_{t+1} ≡ PR_t, measured at t=11/13 for sf0.01/0.1)
    rather than an ε-approximation — so "converged" is a decidable
    predicate and the ledger carries the iteration count.

    Scale shape (the convergence-loop discipline shared with the
    Lloyd step): the driver loop reads ONE scalar per iteration (the
    max |Δ| across the O(nodes) rank relation — control-plane); each
    iteration is the same audited plan as ``_pagerank_ledger``'s step
    (edges × broadcast rank frame, map-combined per-dst sum), with
    the rank frame localCheckpoint-ed per iteration so lineage stays
    flat at ANY iteration count.  The oracle unrolls _PRF_ORACLE_K
    (24) iterations — strictly past every measured fixpoint, where
    further iterations are provably identical — and derives the SAME
    iteration count in SQL
    (min k with max|Δ_k| = 0), so the loop-until-converged semantics
    are oracle-checked, not just the final vector."""
    edges = materialize(_event_edges(spark, sf_dir), "w_pagerank_fixpoint:edges")
    out = materialize(edges.groupBy("src").agg(F.sum("n").alias("out_n")),
                      "w_pagerank_fixpoint:out degrees")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").alias("nN"))
    base = materialize(nodes.crossJoin(F.broadcast(nn)).select(
        "node",
        F.expr(f"{_PR_SCALE} div nN").alias("pr"),
        F.expr(f"(15 * {_PR_SCALE}) div (100 * nN)").alias("tele"),
    ), "w_pagerank_fixpoint:base")
    we = edges.join(out, "src")

    pr = base.select("node", "pr")
    iters = 0
    while True:
        contrib = we.join(
            F.broadcast(pr.select(F.col("node").alias("src"), "pr")), "src"
        ).select(
            "dst",
            F.expr(f"({_PR_D} * pr * n) div (100 * out_n)").alias("c"),
        )
        agg = F.broadcast(contrib.groupBy("dst").agg(F.sum("c").alias("s")))
        iters += 1
        new = materialize(base.join(agg, base["node"] == agg["dst"], "left").select(
            base["node"],
            (F.col("tele") + F.coalesce(F.col("s"), F.lit(0))).alias("pr"),
        ), f"w_pagerank_fixpoint:rank {iters}")
        # ONE control-plane scalar per iteration — the convergence test
        delta = (
            new.join(pr.withColumnRenamed("pr", "prev_pr"), "node")
            .agg(F.max(F.abs(F.col("pr") - F.col("prev_pr"))))
            .first()[0]
        )
        pr = new
        if delta == 0:
            break
        if iters >= _PRF_MAX_ITERS:
            raise RuntimeError("PageRank did not reach a fixpoint")
    # ADVICE r14: the oracle unrolls exactly _PRF_ORACLE_K iterations,
    # so a corpus that mixes slower than the unroll depth must fail
    # HERE with the real cause, not downstream as a NULL oracle
    # column when two constants silently drift apart.
    if iters >= _PRF_ORACLE_K:
        raise RuntimeError(
            f"PageRank fixpoint at iteration {iters} >= the oracle "
            f"unroll depth _PRF_ORACLE_K={_PRF_ORACLE_K}; raise the "
            "unroll depth so iterations k.._PRF_ORACLE_K stay "
            "provably identical"
        )
    return pr.select(
        "node",
        F.col("pr").alias("pr_fix"),
        F.lit(iters).cast("long").alias("iters"),
    )


def _w_pagerank_fixpoint_sql(k: int = _PRF_ORACLE_K) -> str:
    """Generated oracle: k unrolled iterations (k strictly past the
    measured fixpoint) + the SQL derivation of the iteration count
    (min t with max|Δ_t| = 0 — identical semantics to the driver
    loop's stop test)."""
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, so the
    # diffs UNION would otherwise re-evaluate each iteration CHAIN
    # per reference — O(k²) full re-computations (whole gate at
    # sf0.01: 132 s → 7 s once materialized)
    its = []
    for t in range(1, k + 1):
        prev = f"it{t - 1}"
        its.append(
            f"it{t} AS MATERIALIZED (\n"
            f"  SELECT b.node, b.tele + COALESCE(s.s, 0) AS pr\n"
            f"  FROM base b LEFT JOIN (\n"
            f"    SELECT e.dst, CAST(sum(({_PR_D} * p.pr * e.n)"
            f" // (100 * o.out_n)) AS BIGINT) AS s\n"
            f"    FROM edges e JOIN outd o ON e.src = o.src\n"
            f"    JOIN {prev} p ON e.src = p.node\n"
            f"    GROUP BY e.dst\n"
            f"  ) s ON b.node = s.dst\n"
            f")"
        )
    diffs = "\n  UNION ALL ".join(
        f"SELECT {t} AS k, max(abs(a.pr - b.pr)) AS d"
        f" FROM it{t} a JOIN it{t - 1} b ON a.node = b.node"
        for t in range(1, k + 1)
    )
    return f"""
WITH {_EVENT_EDGES_CTES},
outd AS MATERIALIZED (
  SELECT src, CAST(sum(n) AS BIGINT) AS out_n FROM edges GROUP BY 1
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS nN FROM nodes),
base AS MATERIALIZED (
  SELECT node,
         {_PR_SCALE} // nN AS pr,
         (15 * {_PR_SCALE}) // (100 * nN) AS tele
  FROM nodes, nn
),
it0 AS (SELECT node, pr FROM base),
{",".join(its)},
diffs AS (
  {diffs}
),
fix AS (SELECT CAST(min(k) AS BIGINT) AS iters FROM diffs WHERE d = 0)
SELECT node, pr AS pr_fix, (SELECT iters FROM fix) AS iters
FROM it{k}
"""


# --------------------------------------------------- w_zorder_skipping
_Z_BITS = 5          # 5 bits per dimension → 32×32 grid, 1024 cells
_Z_G = 1 << _Z_BITS
_Z_FPER = 16         # 16 consecutive sort-key cells per FILE → 64
#                      files; a file must span MULTIPLE cells or
#                      min/max pruning is trivially exact under any
#                      layout.  Under Morton order 16 consecutive ids
#                      are a compact 4×4 block; under user-major
#                      order they are a 1×16 strip of one user slice.


def _z_interleave(spark: bool) -> str:
    """Morton bit-interleave of (qx, qt) — engine-specific spelling of
    the SAME integer expression (Spark has no << operator; DuckDB
    has no shiftleft)."""
    terms = []
    for i in range(_Z_BITS):
        if spark:
            terms.append(f"shiftleft(shiftright(qx, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright(qt, {i}) & 1, {2 * i})")
        else:
            terms.append(f"(((qx >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"(((qt >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


# The three probe boxes on the quantized grid: a user-only slice, a
# time-only slice, and their intersection — the multi-dimensional
# selectivity spread that makes layout choice matter.
_Z_BOXES = (("user", 8, 11, 0, _Z_G - 1),
            ("time", 0, _Z_G - 1, 8, 11),
            ("both", 8, 11, 8, 11))


def w_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs single-column data layout as a FILE-SKIPPING ledger
    — the lakehouse OPTIMIZE-ZORDER math made oracle-checkable: rows
    quantize onto a 32×32 (user, hour) grid, each layout sorts the
    cells (zorder = Morton bit-interleave of the grid coords; linear
    = user-major concatenation — the single-column sort) and packs 16
    consecutive sort-key cells per "file" (64 files — a file MUST
    span multiple cells or min/max pruning is trivially exact under
    any layout), and each layout's per-file min/max stats answer
    three box queries by range-overlap pruning.  Output: one row per
    (layout, box) with files hit, rows scanned in hit files, and the
    true matching rows — the read-amplification relation
    (scanned/matched) a table optimizer weighs.  The expected shape,
    in rows scanned: the layouts tie on the user-only box (both pack
    user-aligned runs), linear collapses on the time-only box (its
    qt range rides inside every user strip — 4× the scan at sf0.1)
    while zorder's 4×4 blocks keep it exact, and the 2-D box is
    where Morton wins outright — zorder's read amplification is ≤
    linear's on every box, pinned in pytest.

    Exactness: grid coords are integer cross-multiplications against
    a 1-row broadcast bounds frame (the timeSlice discipline); the
    Morton key is pure bit arithmetic (engine-specific spellings of
    the same expression); every ledger cell is a count.

    Scale shape: ONE pass quantizes + assigns both file ids (narrow),
    one map-combined (layout, file) aggregate builds the min/max
    stats relation (≤ 2048 rows at ANY data volume — this IS the
    parquet footer/Delta-log stats table), and the probe is a
    broadcast join of 3 boxes against it.  The true-match counts are
    one more map-combined aggregate.  At 100 TB the stats relation
    still fits a driver page — which is exactly why min/max skipping
    works."""
    q = _skip_quantize(spark, sf_dir).select(
        "qx", "qt",
        F.expr(f"({_z_interleave(spark=True)}) div {_Z_FPER}")
        .alias("fid_zorder"),
        F.expr(f"(qx * {_Z_G} + qt) div {_Z_FPER}").alias("fid_linear"),
    )
    return _skip_ledger(spark, q, ("zorder", "linear"))


def _skip_quantize(spark, sf_dir: str) -> DataFrame:
    """The shared (qx, qt) grid quantization — the DataFrame twin of
    ``_SKIP_QUANT_CTES`` (keep the two in lockstep)."""
    from go_whisper_spark.sources.tables import load_table

    G = _Z_G
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_timestamp(ts) div 3600").alias("hr")
    )
    b = ev.agg(
        F.max("user_id").alias("mu"),
        F.min("hr").alias("h0"),
        F.max("hr").alias("mh"),
    )
    return ev.crossJoin(F.broadcast(b)).select(
        F.expr(f"(user_id * {G}) div (mu + 1)").alias("qx"),
        F.expr(f"((hr - h0) * {G}) div (mh - h0 + 1)").alias("qt"),
    )


def _skip_ledger(spark, q: DataFrame, layouts) -> DataFrame:
    """Shared file-skipping read side: q carries (qx, qt) plus one
    ``fid_<layout>`` column per layout; emits the (layout, box)
    ledger (shared by the Morton/linear and Hilbert/Morton forms)."""
    assigned = _skip_assign(q, layouts)
    stats = assigned.groupBy("layout", "fid").agg(
        F.min("qx").alias("x_min"), F.max("qx").alias("x_max"),
        F.min("qt").alias("t_min"), F.max("qt").alias("t_max"),
        F.count("*").alias("n_rows"),
    )
    return _skip_probe(spark, stats, q)


def _skip_assign(q: DataFrame, layouts) -> DataFrame:
    """(qx, qt, fid_<layout>...) → the unpivoted (qx, qt, layout, fid)
    row-per-layout relation."""
    return q.select(
        "qx", "qt",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(nm).alias("layout"),
                    F.col(f"fid_{nm}").alias("fid"),
                )
                for nm in layouts
            ])
        ).alias("a"),
    ).select("qx", "qt", "a.layout", "a.fid")


def _skip_probe(spark, stats: DataFrame, q: DataFrame) -> DataFrame:
    """The probe/ledger read side over a PRE-BUILT per-(layout, file)
    min/max stats relation — shared by the batch ledgers and the
    incrementally-maintained streaming stats (``st_zorder_stats``)."""
    boxes = spark.range(1).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(nm).alias("box"),
                    F.lit(xl).cast("long").alias("x_lo"),
                    F.lit(xh).cast("long").alias("x_hi"),
                    F.lit(tl).cast("long").alias("t_lo"),
                    F.lit(th).cast("long").alias("t_hi"),
                )
                for nm, xl, xh, tl, th in _Z_BOXES
            ])
        ).alias("b")
    ).select("b.*")
    probe = stats.crossJoin(F.broadcast(boxes)).select(
        "layout", "box", "n_rows",
        (
            (F.col("x_max") >= F.col("x_lo"))
            & (F.col("x_min") <= F.col("x_hi"))
            & (F.col("t_max") >= F.col("t_lo"))
            & (F.col("t_min") <= F.col("t_hi"))
        ).cast("long").alias("hit"),
    )
    ledger = probe.groupBy("layout", "box").agg(
        F.count("*").alias("files_total"),
        F.sum("hit").alias("files_hit"),
        F.sum(F.col("hit") * F.col("n_rows")).alias("rows_scanned"),
    )
    match = q.crossJoin(F.broadcast(boxes)).where(
        (F.col("qx") >= F.col("x_lo")) & (F.col("qx") <= F.col("x_hi"))
        & (F.col("qt") >= F.col("t_lo")) & (F.col("qt") <= F.col("t_hi"))
    ).groupBy("box").agg(F.count("*").alias("rows_match"))
    return ledger.join(F.broadcast(match), "box").select(
        "layout", "box", "files_total", "files_hit",
        "rows_scanned", "rows_match",
    )


_SKIP_QUANT_CTES = f"""ev AS (
  SELECT user_id, (epoch_ns(ts) // 1000000000) // 3600 AS hr FROM events
),
b AS (SELECT max(user_id) AS mu, min(hr) AS h0, max(hr) AS mh FROM ev),
q0 AS (
  SELECT (user_id * {_Z_G}) // (mu + 1) AS qx,
         ((hr - h0) * {_Z_G}) // (mh - h0 + 1) AS qt
  FROM ev, b
)"""


def _skip_tail_sql(layouts) -> str:
    """The shared file-skipping SQL read side, over a CTE ``q``
    carrying (qx, qt, fid_<layout>...)."""
    assigned = " UNION ALL ".join(
        f"SELECT qx, qt, '{nm}' AS layout, fid_{nm} AS fid FROM q"
        for nm in layouts
    )
    boxes = " UNION ALL ".join(
        f"SELECT '{nm}' AS box, CAST({xl} AS BIGINT) AS x_lo, "
        f"CAST({xh} AS BIGINT) AS x_hi, CAST({tl} AS BIGINT) AS t_lo, "
        f"CAST({th} AS BIGINT) AS t_hi"
        for nm, xl, xh, tl, th in _Z_BOXES
    )
    return f""",
assigned AS ({assigned}),
stats AS (
  SELECT layout, fid, min(qx) AS x_min, max(qx) AS x_max,
         min(qt) AS t_min, max(qt) AS t_max, count(*) AS n_rows
  FROM assigned GROUP BY 1, 2
),
boxes AS ({boxes}),
probe AS (
  SELECT layout, box, n_rows,
         CASE WHEN x_max >= x_lo AND x_min <= x_hi
               AND t_max >= t_lo AND t_min <= t_hi
              THEN 1 ELSE 0 END AS hit
  FROM stats, boxes
),
ledger AS (
  SELECT layout, box, count(*) AS files_total,
         CAST(sum(hit) AS BIGINT) AS files_hit,
         CAST(sum(hit * n_rows) AS BIGINT) AS rows_scanned
  FROM probe GROUP BY 1, 2
),
m AS (
  SELECT box, count(*) AS rows_match
  FROM q, boxes
  WHERE qx >= x_lo AND qx <= x_hi AND qt >= t_lo AND qt <= t_hi
  GROUP BY 1
)
SELECT layout, box, files_total, files_hit, rows_scanned, rows_match
FROM ledger JOIN m USING (box)
"""


def _w_zorder_skipping_sql() -> str:
    z = _z_interleave(spark=False)
    return f"""
WITH {_SKIP_QUANT_CTES},
q AS (
  SELECT qx, qt, ({z}) // {_Z_FPER} AS fid_zorder,
         (qx * {_Z_G} + qt) // {_Z_FPER} AS fid_linear
  FROM q0
){_skip_tail_sql(("zorder", "linear"))}"""


# -------------------------------------------------- w_hilbert_skipping
_H_FPER = 24   # cells per file for the Hilbert-vs-Morton comparison:
#                deliberately NOT a power of 4 — at powers of 4 both
#                curves tile identically and the ledger ties; at 24 a
#                Morton file straddles a tile jump (avg bbox 49.9
#                cells) while Hilbert adjacency keeps it at 27.0.


def _hilbert_steps(spark_dialect: bool):
    """Per-round (acc, x, y) update expressions of the unrolled
    Hilbert xy→d transform over the 32×32 grid (the standard 5-round
    reflect-and-rotate recurrence — public Wikipedia/Hacker's-Delight
    material; engine-specific XOR spelling: Spark ``^``, DuckDB
    ``xor()`` — DuckDB's ``^`` is POWER)."""
    xor = ((lambda a, b: f"({a} ^ {b})") if spark_dialect
           else (lambda a, b: f"xor({a}, {b})"))
    out = []
    for i, s in enumerate((16, 8, 4, 2, 1)):
        x, y, acc = f"x{i}", f"y{i}", f"acc{i}"
        rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
        out.append((
            f"{acc} + {s * s} * {xor(f'(3 * {rx})', ry)} AS acc{i + 1}",
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s} - 1 - {y} ELSE {y} END) ELSE {x} END AS x{i + 1}",
            f"CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 "
            f"THEN {s} - 1 - {x} ELSE {x} END) ELSE {y} END AS y{i + 1}",
        ))
    return out


def w_hilbert_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert vs Z-order data layout — the locality upgrade on
    ``w_zorder_skipping``'s ledger, at the file size where the curves
    actually DIFFER: at power-of-4 cells-per-file both curves tile
    the grid in identical squares (measured: avg bounding box 16.0 ==
    16.0 at 16 cells/file), but real file sizes never align to curve
    powers — at 24 cells/file a Morton file straddles a tile JUMP and
    its min/max bounding box balloons (avg 49.9 cells) while the
    Hilbert curve's every step is edge-adjacent, keeping the box
    tight (avg 27.0 — 1.85× tighter, hence tighter range pruning).
    Same 32×32 quantization, same three probe boxes, same (layout,
    box) read-amplification ledger — only the sort key changes, which
    is exactly the OPTIMIZE-ZORDER-vs-Hilbert call production table
    optimizers made for this reason.

    Exactness: the xy→d transform is the standard 5-round unrolled
    reflect-and-rotate recurrence in pure integer CASE/AND/XOR ops —
    generated for both engines from one table (Spark ``^`` ≡ DuckDB
    ``xor()``), verified a bijection on the full grid in pytest.

    Scale shape: identical to ``w_zorder_skipping`` (shared
    ``_skip_ledger`` read side) — the 5 chained projections are
    narrow codegen; the stats relation stays ≤ 2·64 rows at any
    volume."""
    q = _skip_quantize(spark, sf_dir).selectExpr(
        "qx", "qt", "qx AS x0", "qt AS y0", "CAST(0 AS BIGINT) AS acc0"
    )
    for accs, nxs, nys in _hilbert_steps(spark_dialect=True):
        q = q.selectExpr("qx", "qt", accs, nxs, nys)
    q = q.selectExpr(
        "qx", "qt",
        f"acc5 div {_H_FPER} AS fid_hilbert",
        f"({_z_interleave(spark=True)}) div {_H_FPER} AS fid_zorder",
    )
    return _skip_ledger(spark, q, ("hilbert", "zorder"))


def _w_hilbert_skipping_sql() -> str:
    inner = "SELECT qx, qt, qx AS x0, qt AS y0, CAST(0 AS BIGINT) AS acc0 FROM q0"
    for accs, nxs, nys in _hilbert_steps(spark_dialect=False):
        inner = f"SELECT qx, qt, {accs}, {nxs}, {nys} FROM ({inner})"
    z = _z_interleave(spark=False)
    return f"""
WITH {_SKIP_QUANT_CTES},
q AS (
  SELECT qx, qt, acc5 // {_H_FPER} AS fid_hilbert,
         ({z}) // {_H_FPER} AS fid_zorder
  FROM ({inner})
){_skip_tail_sql(("hilbert", "zorder"))}"""


# ------------------------------------------------------------- w_cohorts
def w_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle over events — the second classic
    product-analytics shape next to the funnel: users bucket into
    epoch-aligned weekly cohorts by FIRST activity, and each
    (cohort, weeks-since-cohort) cell counts how many of that
    cohort's users were active that week.  Offset 0 is the cohort
    size by construction; the triangle's row-wise decay is the
    retention curve.

    Scale shape: per-user first-week is a map-combined min; the
    (user, week) activity relation is a distinct (the dedup
    aggregate); the cell count joins activity to cohorts on user_id
    (AQE-sized — the cohort relation is one row per user) and
    partial-combines on the tiny (cohort, offset) key.  Three
    aggregates, one user-keyed join, no window."""
    from go_whisper_spark.sources.tables import load_table

    WK = 604800
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("ts") % WK).alias("week"),
    )
    act = ev.distinct()
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        act.join(first, "user_id")
        .groupBy(
            "cohort",
            ((F.col("week") - F.col("cohort")) / WK).cast("long").alias(
                "week_offset"
            ),
        )
        .agg(F.count("*").alias("n_users"))
    )


W_COHORTS_SQL = """
WITH ev AS (
  SELECT user_id,
         (epoch_ns(ts) // 1000000000)
           - (epoch_ns(ts) // 1000000000) % 604800 AS week
  FROM events
),
act AS (SELECT DISTINCT user_id, week FROM ev),
first AS (SELECT user_id, min(week) AS cohort FROM act GROUP BY user_id)
SELECT cohort, (week - cohort) // 604800 AS week_offset,
       count(*) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY cohort, week_offset
"""


# ------------------------------------------------------ w_funnel_cohort
def w_funnel_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort × funnel conversion matrix — the composition of the two
    product-analytics primitives (``w_cohorts``' first-touch cohorts
    joined onto ``funnel_fold``'s k-step fold): users bucket into
    epoch-aligned DAILY cohorts by first activity of any type (the
    weekly grain is degenerate on this corpus — every user starts in
    week 0; day grain splits 2-4 ways), and each (cohort, step) cell
    counts how many of the cohort's users advanced AT LEAST that far
    through the 4-step view→click→signup→purchase funnel, with the
    conversion share in exact floor-truncated ppm of the cohort size.

    Scale shape: cohorts = one map-combined per-user min; the funnel
    = the ONE user-keyed collect-fold (a longer funnel is more
    accumulator fields, never more shuffles); the matrix = an
    AQE-sized user_id equi-join (both sides one row per user), a ≤4×
    ``sequence`` fan-out, and a partial-combined count on the tiny
    (cohort, step) key; the cohort-size frame (one row per cohort)
    joins back hinted-broadcast.  No window, no self-join.

    Oracle: the independent 4-stage min-filter funnel formulation
    (agreement forced by the strict-> tie-order-free definition, the
    ``w_funnel_4step`` discipline) composed with the cohort min in
    plain SQL."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("ts"),
    )
    first = ev.groupBy("user_id").agg(
        (F.min("ts") - F.min("ts") % DAY).alias("cohort_day")
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_users")
    )
    f = funnel_fold(ev, ["view", "click", "signup", "purchase"], _FUNNEL4_W)
    cells = (
        f.select("user_id", "reached")
        .join(first, "user_id")
        .select(
            "cohort_day",
            F.explode(
                F.expr("sequence(1L, reached)")
            ).alias("step"),
        )
        .groupBy("cohort_day", "step")
        .agg(F.count("*").alias("n_step"))
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day", "step", "n_step", "cohort_users",
        F.expr("(n_step * 1000000) div cohort_users").alias("share_ppm"),
    )


W_FUNNEL_COHORT_SQL = f"""
WITH ev AS (
  SELECT user_id, event_type AS et, epoch_ns(ts) // 1000000000 AS ts
  FROM events
),
first AS (
  SELECT user_id, min(ts) - min(ts) % 86400 AS cohort_day
  FROM ev GROUP BY user_id
),
sizes AS (
  SELECT cohort_day, count(*) AS cohort_users FROM first GROUP BY 1
),
v1 AS (SELECT user_id, min(ts) AS v_ts FROM ev WHERE et = 'view'
       GROUP BY user_id),
c2 AS (SELECT e.user_id, min(e.ts) AS c_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       WHERE e.et = 'click' AND e.ts > v1.v_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
g3 AS (SELECT e.user_id, min(e.ts) AS g_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN c2 ON e.user_id = c2.user_id
       WHERE e.et = 'signup' AND e.ts > c2.c_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
p4 AS (SELECT e.user_id, min(e.ts) AS p_ts
       FROM ev e JOIN v1 ON e.user_id = v1.user_id
       JOIN g3 ON e.user_id = g3.user_id
       WHERE e.et = 'purchase' AND e.ts > g3.g_ts
         AND e.ts <= v1.v_ts + {_FUNNEL4_W}
       GROUP BY e.user_id),
reached AS (
  SELECT v1.user_id,
         1 + CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN g_ts IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS reached
  FROM v1
  LEFT JOIN c2 ON v1.user_id = c2.user_id
  LEFT JOIN g3 ON v1.user_id = g3.user_id
  LEFT JOIN p4 ON v1.user_id = p4.user_id
),
cells AS (
  SELECT cohort_day, CAST(step AS BIGINT) AS step, count(*) AS n_step
  FROM reached r
  JOIN first USING (user_id),
       unnest(generate_series(1, r.reached)) AS u(step)
  GROUP BY 1, 2
)
SELECT cohort_day, step, n_step, cohort_users,
       (n_step * 1000000) // cohort_users AS share_ppm
FROM cells JOIN sizes USING (cohort_day)
"""


# -------------------------------------------------- w_join_cms_estimate
_JCMS_D = 4      # hash rows (min over rows)
_JCMS_W = 4096   # buckets — join estimation needs w >> the collision
#                  mass ratio: E[overestimate] ~= n_a*n_b/w, so the
#                  heavy-hitters demo's w=64 (which WANTS collisions)
#                  would overshoot 24x at sf0.1; at 4096 the measured
#                  error is ~4% (sf0.01) and ~37% (sf0.1).  Still
#                  constant-size: d*w = 16384 cells at any volume.


def w_join_cms_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from two Count-Min sketches — the query-
    optimizer application of the frequency sketch (the CM/AGMS
    inner-product estimator [Cormode & Muthukrishnan '05; Alon,
    Gibbons, Matias, Szegedy '99 — public]): |A ⋈_k B| = Σ_k
    c_A(k)·c_B(k), and the CM estimate is the MIN over hash rows of
    the bucket-wise inner product Σ_b A[r][b]·B[r][b] — a one-sided
    OVERESTIMATE (collision cross-terms are non-negative), so a
    planner using it errs toward the safer bigger-join plan.  Sides:
    the view-events and purchase-events streams keyed by user_id;
    the ledger prices the estimate against the exact join size.

    Determinism: the same md5 'r<r>:'||user bucket map as
    ``w_heavy_hitters_cms`` (its build pairing — one sketch per
    side) at the estimator-appropriate width (see _JCMS_W), every
    cell and product an exact long, min over d = 4 rows.

    Scale shape: each sketch is ONE map-combined d·w-cell aggregate
    over its side (constant-size shuffle at any cardinality); the
    estimate joins ≤16384-cell relations and min-reduces — the whole
    point is that the planner can size a join WITHOUT running it.
    The exact side (per-user count join) is the audit baseline the
    sketch replaces."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")

    def side(et):
        return ev.where(F.col("event_type") == et).select("user_id")

    def sketch(df):
        rows = df.select(
            "user_id",
            F.explode(F.array(*[F.lit(r) for r in range(_JCMS_D)])).alias("r"),
        )
        bucket = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("r"), F.col("r").cast("string"),
                            F.lit(":"), F.col("user_id").cast("string"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % _JCMS_W
        )
        return (
            rows.withColumn("b", bucket)
            .groupBy("r", "b")
            .agg(F.count("*").alias("cnt"))
        )
    a, bb = side("view"), side("purchase")
    sa, sb = sketch(a), sketch(bb)
    est = (
        sa.join(
            sb.select("r", "b", F.col("cnt").alias("cnt_b")), ["r", "b"]
        )
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("ip"))
        .agg(F.min("ip").alias("est_join"))
    )
    ca = a.groupBy("user_id").agg(F.count("*").alias("na"))
    cb = bb.groupBy("user_id").agg(F.count("*").alias("nb"))
    exact = ca.join(cb, "user_id").agg(
        F.sum(F.col("na") * F.col("nb")).alias("exact_join")
    )
    tot = a.agg(F.count("*").alias("n_a")).crossJoin(
        F.broadcast(bb.agg(F.count("*").alias("n_b")))
    )
    return (
        tot.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
        .select(
            "n_a", "n_b", "exact_join", "est_join",
            (F.col("est_join") - F.col("exact_join")).alias("overestimate"),
            # exact_join = 0 (no user with both event types) would be
            # Spark-NULL / DuckDB-inf on the division — the _hdr_ledger
            # err_bp divergence; pin the sentinel 0 on both engines.
            F.when(F.col("exact_join") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    ((F.col("est_join") - F.col("exact_join")) * 1000)
                    .cast("double") / F.col("exact_join")
                ).cast("long")
            ).alias("err_permille"),
        )
    )


W_JOIN_CMS_ESTIMATE_SQL = f"""
WITH a AS (SELECT user_id FROM events WHERE event_type = 'view'),
bb AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
rs AS (SELECT unnest(generate_series(0, {_JCMS_D - 1})) AS r),
sa AS (
  SELECT r, CAST('0x' || substring(md5('r' || CAST(r AS VARCHAR) || ':'
           || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_JCMS_W} AS b,
         count(*) AS cnt
  FROM a, rs GROUP BY 1, 2
),
sb AS (
  SELECT r, CAST('0x' || substring(md5('r' || CAST(r AS VARCHAR) || ':'
           || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_JCMS_W} AS b,
         count(*) AS cnt
  FROM bb, rs GROUP BY 1, 2
),
est AS (
  SELECT CAST(min(ip) AS BIGINT) AS est_join FROM (
    SELECT sa.r, CAST(sum(sa.cnt * sb.cnt) AS BIGINT) AS ip
    FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b
    GROUP BY sa.r
  )
),
exact AS (
  SELECT CAST(sum(ca.na * cb.nb) AS BIGINT) AS exact_join FROM
    (SELECT user_id, count(*) AS na FROM a GROUP BY 1) ca
    JOIN (SELECT user_id, count(*) AS nb FROM bb GROUP BY 1) cb
    USING (user_id)
),
tot AS (
  SELECT (SELECT count(*) FROM a) AS n_a, (SELECT count(*) FROM bb) AS n_b
)
SELECT n_a, n_b, exact_join, est_join,
       est_join - exact_join AS overestimate,
       CASE WHEN exact_join = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST((est_join - exact_join) * 1000 AS DOUBLE)
                 / exact_join) AS BIGINT) END AS err_permille
FROM tot, exact, est
"""


# -------------------------------------------------------- w_distinct_hll
_HLL_M = 64                       # registers
_HLL_P53 = 9007199254740992       # 2^53 — the common denominator for
#                                   the exact register-sum rational
_HLL_NUM = 0.709 * 4096.0 * float(_HLL_P53)  # alpha_64 · m² · 2^53


def w_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count per metric — the third sketch next
    to KMV (`w_approx_stats`) and Count-Min (`w_heavy_hitters_cms`),
    with the estimate made CROSS-ENGINE EXACT: register index = md5
    first-byte mod 64, rho = leading-zero count of the next 52 hash
    bits + 1 computed ENTIRELY by string ops on the hex digest (the
    '0*' prefix length ×4 plus a 16-way nibble CASE — no log2, no
    libm anywhere), and the harmonic sum Σ2^(−M_j) held as the exact
    long Σ2^(53−M_j) over the common denominator 2^53 (empty
    registers contribute 2^53).  The one float op is the final
    alpha·m²·2^53 / S division — identical literal, identical single
    IEEE op, identical floor in both engines.  Ledger: exact
    distinct, HLL estimate, empty-register count (the small-range
    regime indicator — production HLL switches to linear counting
    there; ln() is libm so that branch is deliberately reported, not
    computed), and the signed error in permille.

    Scale shape: the pre-distinct shrinks the wire to one row per
    (metric, user); registers are a 64·n_metrics-cell map-combined
    aggregate — like CM, the shuffle is CONSTANT-size per key
    regardless of cardinality, which is the entire reason HLL exists
    at 100 TB.  The exact side is the comparison ledger only."""
    from go_whisper_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.col("event_type").alias("metric"), "user_id")
        .distinct()
    )
    return _hll_ledger(spark, sf_dir, _hll_registers(ev))


def _hll_registers(ev: DataFrame) -> DataFrame:
    """(metric, user_id) rows → the (metric, j, mj) register table:
    register j = md5 first byte mod 64, mj = max rho per register.
    Register max is associative, commutative and idempotent, so
    partial tables merge by the same max."""
    hexc = F.md5(F.col("user_id").cast("string"))
    j = F.conv(F.substring(hexc, 1, 2), 16, 10).cast("long") % _HLL_M
    sub = F.substring(hexc, 3, 13)
    lz = F.length(F.regexp_extract(sub, "^(0*)", 1))
    first = F.substring(F.regexp_replace(sub, "^0*", ""), 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.when(lz == 13, F.lit(53)).otherwise(lz * 4 + extra + 1)
    return (
        ev.select("metric", j.alias("j"), rho.alias("rho"))
        .groupBy("metric", "j")
        .agg(F.max("rho").alias("mj"))
    )


def _hll_ledger(spark: SparkSession, sf_dir: str, regs: DataFrame) -> DataFrame:
    """Register table → the (metric, exact, hll_est, n_empty,
    err_permille) ledger against the exact distinct count."""
    from go_whisper_spark.sources.tables import load_table

    per = regs.groupBy("metric").agg(
        F.sum(F.expr("shiftleft(1L, CAST(53 - mj AS INT))")).alias("s_present"),
        F.count("*").alias("n_regs"),
    )
    stot = F.col("s_present") + (_HLL_M - F.col("n_regs")) * F.lit(_HLL_P53)
    e = F.floor(F.lit(_HLL_NUM) / stot.cast("double")).cast("long")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("metric"))
        .agg(F.count_distinct("user_id").alias("exact"))
    )
    return per.join(exact, "metric").select(
        "metric",
        "exact",
        e.alias("hll_est"),
        (_HLL_M - F.col("n_regs")).alias("n_empty"),
        F.floor(
            ((e - F.col("exact")) * 1000).cast("double") / F.col("exact")
        ).cast("long").alias("err_permille"),
    )


W_DISTINCT_HLL_SQL = f"""
WITH ev AS (SELECT DISTINCT event_type AS metric, user_id FROM events),
h AS (
  SELECT metric,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2)
              AS BIGINT) % {_HLL_M} AS j,
         substring(md5(CAST(user_id AS VARCHAR)), 3, 13) AS sub
  FROM ev),
r AS (
  SELECT metric, j,
         CASE WHEN length(regexp_extract(sub, '^(0*)', 1)) = 13 THEN 53
              ELSE length(regexp_extract(sub, '^(0*)', 1)) * 4 +
                   CASE substring(regexp_replace(sub, '^0*', ''), 1, 1)
                     WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                     WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                     WHEN '7' THEN 1
                     ELSE 0 END + 1 END AS rho
  FROM h),
regs AS (SELECT metric, j, max(rho) AS mj FROM r GROUP BY metric, j),
per AS (
  SELECT metric,
         CAST(sum(CAST(1 AS BIGINT) << CAST(53 - mj AS INT)) AS BIGINT)
           AS s_present,
         count(*) AS n_regs
  FROM regs GROUP BY metric),
exact AS (SELECT event_type AS metric, count(DISTINCT user_id) AS exact
          FROM events GROUP BY 1)
SELECT per.metric, exact,
       CAST(floor({_HLL_NUM!r} /
            CAST(s_present + ({_HLL_M} - n_regs) * {_HLL_P53} AS DOUBLE))
            AS BIGINT) AS hll_est,
       {_HLL_M} - n_regs AS n_empty,
       CAST(floor(CAST((CAST(floor({_HLL_NUM!r} /
            CAST(s_present + ({_HLL_M} - n_regs) * {_HLL_P53} AS DOUBLE))
            AS BIGINT) - exact) * 1000 AS DOUBLE) / exact) AS BIGINT)
         AS err_permille
FROM per JOIN exact USING (metric)
"""


# ------------------------------------------------------- w_quantile_hdr
_HDR_SBITS = 4   # significant-bit budget: a bucket keeps the top
#                  s+1 = 5 bits of its values → relative error
#                  < 2^-4 = 6.25% (pinned in pytest), ≤ 2^4 = 16
#                  buckets per octave, ≤ 64·16 buckets over the FULL
#                  long domain — the fixed-size guarantee.
_HDR_QBP = (5000, 9000, 9900)   # quantiles as exact basis points


def w_quantile_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable RANK sketch — the missing member of the sketch
    family (HLL cardinality / CMS frequency / Bloom membership / KMV
    sets; percentiles were exact-only via ``w_percentiles_1d``): an
    HDR-histogram-style fixed-size quantile sketch over
    ``events.value`` cents, per event type, with p50/p90/p99
    estimates next to the EXACT rank statistics and the realized
    error in basis points.

    The sketch: each positive long quantizes to the bucket whose key
    is the value with all but its top s+1 = 5 significant bits
    zeroed — ``rep = (v >> shift) << shift`` with
    ``shift = max(bitlen(v) - 1 - s, 0)`` and ``bitlen`` computed as
    ``length(bin(v))`` (PURE integer/string ops, no transcendentals:
    Spark ``bin`` ≡ DuckDB ``bin``, parity exact — the log-bucket
    idea of HDR-histogram/DDSketch [Masson et al., VLDB 2019] made
    engine-exact).  Quantization is monotone, so bucket order = value
    order and the q-quantile estimate is the first bucket whose
    cumulative count reaches ``rank = ceil(q·N)`` (an exact integer
    cross-multiplication, no float rank).  By construction
    ``est ≤ exact < est + 2^shift``, so the relative error is
    < 2^-s — the err_bp column prices it per row.

    Scale shape: the sketch build is ONE map-side-combined aggregate
    into ≤ 16·octaves cells per key — at 100 TB the shuffle carries a
    constant-size histogram per partition per key, which is the
    entire point (the exact columns are the O(n·log n)-sort audit
    baseline the sketch replaces); the CDF walk runs over the
    ≤ 256-row sketch relation, never the data.  Sketches merge by
    keyed counter SUM over the union of bucket keys — the rank-walk
    read side is what distinguishes the law from CMS's fixed-matrix
    sum; ``st_quantile_hdr`` streams it (the fifth merge law)."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    sketch = (
        ev.select("metric", _hdr_rep().alias("rep"))
        .groupBy("metric", "rep")
        .agg(F.count("*").alias("cnt"))
    )
    return _hdr_ledger(sketch, ev)


def _hdr_rep():
    """The HDR bucket key of the ``cents`` column: the value with all
    but its top s+1 significant bits zeroed (pure integer/string
    ops).  NON-NEGATIVE domain only: a negative long makes ``bin()``
    return the 64-char two's complement (shift 59), so bucket order
    stops tracking value order and the est<=exact / err_bp<2^-s
    guarantees silently break — the pytest error-bound test pins
    min(cents) >= 0 so a future corpus with negative values fails
    loudly."""
    sh = f"CAST(greatest(length(bin(cents)) - 1 - {_HDR_SBITS}, 0) AS INT)"
    return F.expr(f"shiftleft(shiftright(cents, {sh}), {sh})")


def _hdr_ledger(sketch: DataFrame, ev: DataFrame) -> DataFrame:
    """Shared HDR read side — (metric, rep, cnt) sketch + the raw
    (metric, cents) relation → the quantile ledger (CDF walk + exact
    rank audit + err_bp pricing).  Used by the batch form and the
    merged-partials streaming form (``st_quantile_hdr``), so a fix
    lands in both (the ``_pagerank_ledger`` discipline)."""
    wcum = Window.partitionBy("metric").orderBy("rep")
    cdf = sketch.select(
        "metric", "rep",
        F.sum("cnt").over(
            wcum.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    tgt = (
        sketch.groupBy("metric")
        .agg(F.sum("cnt").alias("n"), F.count("*").alias("n_buckets"))
        .select(
            "metric", "n", "n_buckets",
            F.explode(
                F.array(*[F.lit(q).cast("long") for q in _HDR_QBP])
            ).alias("q_bp"),
        )
        .withColumn("rnk", F.expr("(n * q_bp + 9999) div 10000"))
    )
    # both sketch-sized relations are provably tiny (≤ 16·octaves
    # rows/key); the walk is a broadcast range probe, never a shuffle
    est = (
        tgt.join(F.broadcast(cdf), "metric")
        .where(F.col("cum") >= F.col("rnk"))
        .groupBy("metric", "q_bp", "rnk", "n", "n_buckets")
        .agg(F.min("rep").alias("est"))
    )
    ranked = ev.select(
        "metric", "cents",
        F.row_number()
        .over(Window.partitionBy("metric").orderBy("cents"))
        .cast("long")
        .alias("rnk"),
    )
    # exact = 0 ⟹ est = 0 (rep(0) = 0 and est <= exact), so the
    # error IS 0 — the guard keeps err_bp a non-null BIGINT in both
    # engines instead of Spark-NULL / DuckDB-inf on a zero divisor
    # (the cents domain admits 0 even though this corpus doesn't).
    return est.join(ranked, ["metric", "rnk"]).select(
        "metric", "q_bp", "n", "n_buckets", "rnk", "est",
        F.col("cents").alias("exact"),
        F.when(F.col("cents") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                ((F.col("cents") - F.col("est")) * 10000).cast("double")
                / F.col("cents")
            ).cast("long")
        ).alias("err_bp"),
    )


W_QUANTILE_HDR_SQL = f"""
WITH ev AS (
  SELECT event_type AS metric, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
sk AS (
  SELECT metric,
         (cents >> greatest(length(bin(cents)) - 1 - {_HDR_SBITS}, 0))
           << greatest(length(bin(cents)) - 1 - {_HDR_SBITS}, 0) AS rep,
         count(*) AS cnt
  FROM ev GROUP BY 1, 2
),
cdf AS (
  SELECT metric, rep,
         CAST(sum(cnt) OVER (PARTITION BY metric ORDER BY rep)
              AS BIGINT) AS cum
  FROM sk
),
tgt AS (
  SELECT metric, n, n_buckets, q_bp, (n * q_bp + 9999) // 10000 AS rnk
  FROM (SELECT metric, CAST(sum(cnt) AS BIGINT) AS n,
               count(*) AS n_buckets
        FROM sk GROUP BY 1),
       (SELECT CAST(x AS BIGINT) AS q_bp
        FROM unnest([{", ".join(str(q) for q in _HDR_QBP)}]) AS u(x))
),
est AS (
  SELECT t.metric AS metric, q_bp, rnk, n, n_buckets, min(rep) AS est
  FROM tgt t JOIN cdf c ON t.metric = c.metric AND c.cum >= t.rnk
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT metric, cents,
         CAST(row_number() OVER (PARTITION BY metric ORDER BY cents)
              AS BIGINT) AS rnk
  FROM ev
)
SELECT metric, q_bp, n, n_buckets, rnk, est, cents AS exact,
       CASE WHEN cents = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST((cents - est) * 10000 AS DOUBLE) / cents)
                 AS BIGINT) END AS err_bp
FROM est JOIN ranked USING (metric, rnk)
"""


# ---------------------------------------------------------- w_approx_stats
# Deterministic sketch parameters, inlined into BOTH engines.
_KMV_BUCKETS = 64          # stochastic-averaging buckets (min-value sketch)
_THETA_K = 64               # bottom-k size for the Theta set-op sketch


def w_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS — what the mergeable-sketch family
    is ultimately FOR: estimate the distinct-user Jaccard between
    every pair of event types from two bottom-k (KMV) sketches alone,
    next to the exact answer.  Per set, the sketch = the K smallest
    40-bit md5 hashes of its members (θ = the K-th smallest, or the
    full hash range when the set is smaller than K); for a pair,
    both sketches re-threshold at θ = min(θ_a, θ_b) — each side is
    then a uniform sample of its set at the SAME rate, so
    |S_A ∩ S_B| / |S_A ∪ S_B| estimates the true Jaccard (the
    Theta-sketch intersection rule).  Every step is integer-exact
    (hash ranks, set counts); the only float op is the final
    floor-truncated micro-unit ratio — same on the exact side.

    The sets: each event type's ABOVE-AVERAGE traffic hours (hour
    buckets whose count × n_hours > total — an exact integer
    cross-multiplication, no float mean), ~350 members with true
    pairwise Jaccards ≈ 0.31-0.37 on this corpus — chosen because
    the obvious set (distinct users per type) is degenerate here
    (every user does every type: all Jaccards exactly 1.0, which
    estimates trivially).

    Scale shape: the sketch build is a per-set bottom-k (one
    partial-combinable min-k per set — at 100 TB each worker ships K
    hashes per set, the merger keeps the K smallest of the union,
    which is also how two sketches merge); pair estimation touches
    only |sets|²·K sketch rows, never the data.  The exact columns
    exist to PRICE the estimate and are the O(n) baseline the sketch
    replaces.  [KMV/Theta sketches: Bar-Yossef et al. 2002; the
    Theta intersection rule is public Apache DataSketches doc.]"""
    from go_whisper_spark.sources.tables import load_table

    H40 = _H40  # 2^40 — the hash range
    e = load_table(spark, sf_dir, "events")
    per = (
        e.select(
            F.col("event_type").alias("metric"),
            (F.col("ts_sec") - F.col("ts_sec") % HOUR).alias("hr"),
        )
        .groupBy("metric", "hr")
        .agg(F.count("*").alias("c"))
    )
    tot = per.groupBy("metric").agg(
        F.sum("c").alias("t"), F.count("*").alias("nh")
    )
    m = (
        per.join(tot, "metric")
        .where(F.col("c") * F.col("nh") > F.col("t"))
        .select(
            "metric",
            F.conv(
                F.substring(F.md5(F.col("hr").cast("string")), 1, 10),
                16, 10,
            ).cast("long").alias("h"),
        )
    )
    w = Window.partitionBy("metric").orderBy("h")
    ranked = m.withColumn("rn", F.row_number().over(w))
    kept = ranked.where(F.col("rn") <= _THETA_K)
    theta = kept.groupBy("metric").agg(
        F.when(F.count("*") >= _THETA_K, F.max("h"))
        .otherwise(F.lit(H40)).alias("theta")
    )
    return _kmv_pairs_ledger(m, kept, theta)


def _kmv_pairs_ledger(m: DataFrame, kept: DataFrame,
                      theta: DataFrame) -> DataFrame:
    """(member hashes, bottom-k sketch, per-set θ) → the pairwise
    Theta-intersection ledger (ma, mb, k_inter, k_union, jacc_est,
    jacc_exact).  Shared by the batch form (`w_kmv_jaccard`) and the
    streamed sketch-store form (`st_kmv_jaccard`), so the estimator
    algebra — re-threshold both sides at min(θ_a, θ_b), intersect by
    hash, floor-truncated micro-unit ratios — is stated once."""
    # pair-level θ frame: |sets|² rows (tiny — one per metric pair),
    # th = min(θ_a, θ_b).  Everything downstream is an EQUI-join on
    # this frame or on the hash — no data-sized cross product
    # anywhere (the intersection is hash-keyed, the per-side sample
    # counts join the broadcast pair frame by one metric key).
    ta = theta.select(F.col("metric").alias("ma"),
                      F.col("theta").alias("th_a"))
    tb = theta.select(F.col("metric").alias("mb"),
                      F.col("theta").alias("th_b"))
    pt = (
        ta.join(tb, F.col("ma") < F.col("mb"))
        .select("ma", "mb", F.least("th_a", "th_b").alias("th"))
    )

    ka = (
        kept.join(F.broadcast(pt), F.col("metric") == F.col("ma"))
        .where(F.col("h") < F.col("th"))
        .groupBy("ma", "mb").agg(F.count("*").alias("na"))
    )
    kb = (
        kept.join(F.broadcast(pt), F.col("metric") == F.col("mb"))
        .where(F.col("h") < F.col("th"))
        .groupBy("ma", "mb").agg(F.count("*").alias("nb"))
    )
    ia = kept.select(F.col("metric").alias("ma"), "h")
    ib = kept.select(F.col("metric").alias("mb"), F.col("h").alias("hb"))
    inter = (
        ia.join(ib, (F.col("h") == F.col("hb")) & (F.col("ma") < F.col("mb")))
        .join(F.broadcast(pt), ["ma", "mb"])
        .where(F.col("h") < F.col("th"))
        .groupBy("ma", "mb").agg(F.count("*").alias("k_inter"))
    )
    pairs = (
        pt.join(ka, ["ma", "mb"], "left")
        .join(kb, ["ma", "mb"], "left")
        .join(inter, ["ma", "mb"], "left")
        .select(
            "ma", "mb",
            F.coalesce("k_inter", F.lit(0)).alias("k_inter"),
            (F.coalesce("na", F.lit(0)) + F.coalesce("nb", F.lit(0))
             - F.coalesce("k_inter", F.lit(0))).alias("k_union"),
        )
    )

    sizes = m.groupBy("metric").agg(F.count("*").alias("n"))
    sa = sizes.select(F.col("metric").alias("ma"), F.col("n").alias("xa"))
    sb = sizes.select(F.col("metric").alias("mb"), F.col("n").alias("xb"))
    xinter = (
        m.select(F.col("metric").alias("ma"), "h")
        .join(m.select(F.col("metric").alias("mb"), F.col("h").alias("hb")),
              (F.col("h") == F.col("hb")) & (F.col("ma") < F.col("mb")))
        .groupBy("ma", "mb").agg(F.count("*").alias("x_inter"))
    )
    exact = (
        sa.join(sb, F.col("ma") < F.col("mb"))
        .join(xinter, ["ma", "mb"], "left")
        .select(
            "ma", "mb",
            F.coalesce("x_inter", F.lit(0)).alias("x_inter"),
            (F.col("xa") + F.col("xb")
             - F.coalesce("x_inter", F.lit(0))).alias("x_union"),
        )
    )
    return pairs.join(exact, ["ma", "mb"]).select(
        "ma", "mb", "k_inter", "k_union",
        (F.floor(F.col("k_inter") * 1_000_000 / F.col("k_union"))
         / F.lit(1_000_000.0)).alias("jacc_est"),
        (F.floor(F.col("x_inter") * 1_000_000 / F.col("x_union"))
         / F.lit(1_000_000.0)).alias("jacc_exact"),
    )


def _w_kmv_jaccard_sql() -> str:
    return _kmv_sql("""per AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000
           - epoch_ns(ts) // 1000000000 % 3600 AS hr,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
tot AS (SELECT metric, sum(c) AS t, count(*) AS nh FROM per GROUP BY 1),
m AS (
  SELECT p.metric,
         CAST('0x' || substring(md5(CAST(p.hr AS VARCHAR)), 1, 10)
              AS BIGINT) AS h
  FROM per p JOIN tot ON p.metric = tot.metric
  WHERE p.c * tot.nh > tot.t
)""")


def _kmv_sql(member_ctes: str) -> str:
    """Generated KMV/Theta oracle over any member-hash CTE chain that
    ends by defining ``m(metric, h)`` — the tail (bottom-k ranking,
    θ, re-thresholded pair estimates, exact baseline) is the shared
    algebra of `_kmv_pairs_ledger`, stated once for the batch and
    streamed forms."""
    return f"""
WITH {member_ctes},
ranked AS (
  SELECT metric, h,
         row_number() OVER (PARTITION BY metric ORDER BY h) AS rn
  FROM m
),
kept AS (SELECT metric, h FROM ranked WHERE rn <= {_THETA_K}),
theta AS (
  SELECT metric,
         CASE WHEN count(*) >= {_THETA_K} THEN max(h)
              ELSE {_H40} END AS theta
  FROM kept GROUP BY metric
),
sk AS (SELECT k.metric, k.h, t.theta FROM kept k
       JOIN theta t ON k.metric = t.metric),
pt AS (
  SELECT a.metric AS ma, b.metric AS mb,
         least(a.theta, b.theta) AS th
  FROM theta a JOIN theta b ON a.metric < b.metric
),
ka AS (
  SELECT pt.ma, pt.mb, count(*) AS na
  FROM kept k JOIN pt ON k.metric = pt.ma AND k.h < pt.th
  GROUP BY 1, 2
),
kb AS (
  SELECT pt.ma, pt.mb, count(*) AS nb
  FROM kept k JOIN pt ON k.metric = pt.mb AND k.h < pt.th
  GROUP BY 1, 2
),
inter AS (
  SELECT pt.ma, pt.mb, count(*) AS k_inter
  FROM kept a
  JOIN kept b ON a.h = b.h AND a.metric < b.metric
  JOIN pt ON pt.ma = a.metric AND pt.mb = b.metric AND a.h < pt.th
  GROUP BY 1, 2
),
pairs AS (
  SELECT pt.ma, pt.mb,
         coalesce(i.k_inter, 0) AS k_inter,
         coalesce(ka.na, 0) + coalesce(kb.nb, 0)
           - coalesce(i.k_inter, 0) AS k_union
  FROM pt
  LEFT JOIN ka ON ka.ma = pt.ma AND ka.mb = pt.mb
  LEFT JOIN kb ON kb.ma = pt.ma AND kb.mb = pt.mb
  LEFT JOIN inter i ON i.ma = pt.ma AND i.mb = pt.mb
),
sizes AS (SELECT metric, count(*) AS n FROM m GROUP BY metric),
xinter AS (
  SELECT a.metric AS ma, b.metric AS mb, count(*) AS x_inter
  FROM m a JOIN m b ON a.h = b.h AND a.metric < b.metric
  GROUP BY 1, 2
),
exact AS (
  SELECT sa.metric AS ma, sb.metric AS mb,
         coalesce(x.x_inter, 0) AS x_inter,
         sa.n + sb.n - coalesce(x.x_inter, 0) AS x_union
  FROM sizes sa JOIN sizes sb ON sa.metric < sb.metric
  LEFT JOIN xinter x ON x.ma = sa.metric AND x.mb = sb.metric
)
SELECT p.ma, p.mb,
       CAST(p.k_inter AS BIGINT) AS k_inter,
       CAST(p.k_union AS BIGINT) AS k_union,
       floor(p.k_inter * 1000000 / p.k_union) / 1000000.0 AS jacc_est,
       floor(e.x_inter * 1000000 / e.x_union) / 1000000.0 AS jacc_exact
FROM pairs p JOIN exact e ON p.ma = e.ma AND p.mb = e.mb
"""
_H40 = 1 << 40             # 10 md5 hex chars -> uniform hash in [0, 2^40)
_SAMPLE_T = _H40 // 8      # hash-threshold sample: keep ~1/8 of rows


def w_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates per metric, DETERMINISTIC across engines.

    Spark's built-in sketches (HLL++ ``approx_count_distinct``,
    t-digest ``percentile_approx``) are engine-specific, so they can
    never hash-match a DuckDB oracle.  This query computes the same
    *class* of estimate from first principles with md5-derived hashes
    that are bit-identical in both engines:

    - ``kmv_users``: distinct-user estimate via a min-value sketch with
      stochastic averaging (Flajolet-Martin family): bucket each user
      hash into m=64 buckets by independent hash bits, keep min(h) per
      (metric, bucket) — a pure two-level groupBy, map-side combine all
      the way, O(m) state per metric.  With normalized mins u_b,
      E[min of n_b uniforms] = 1/(n_b+1), so sum_b u_b ~= m^2/(n+m)
      and n ~= m^2/S - m (empty buckets contribute u_b = 1).  The sum
      of 40-bit mins stays integer-exact in BIGINT (<= 2^46); the only
      FP op is the final division, identical in both engines.
    - ``sample_p50``: median of a hash-threshold sample (keep rows with
      h40(event_id) < 2^40/8, a deterministic ~12.5% Bernoulli sample),
      computed manually as the mean of the two middle CENT values
      ordered by (value, event_id) — exact integer arithmetic until one
      final division, immune to cross-engine quantile interpolation.

    At 100 TB these replace the exact forms when bounded error is
    acceptable: the KMV shuffle carries m rows per metric instead of
    every distinct user, and the sample median sorts 1/8 of the rows.
    [ref: SURVEY §2C sketches; whisper has no sketch surface]
    """
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    ev = e.select(
        F.col("event_type").alias("metric"),
        "event_id",
        "value",
        F.md5(F.col("user_id").cast("string")).alias("hu"),
        F.md5(F.col("event_id").cast("string")).alias("he"),
    )

    h40u = F.conv(F.substring("hu", 1, 10), 16, 10).cast("long")
    bucket = F.conv(F.substring("hu", 11, 2), 16, 10).cast("long") % _KMV_BUCKETS
    users = (
        ev.groupBy("metric", bucket.alias("bucket"))
        .agg(F.min(h40u).alias("minh"))
        .groupBy("metric")
        .agg(F.count("*").alias("present"), F.sum("minh").alias("s"))
        .select(
            "metric",
            (
                F.lit(float(_KMV_BUCKETS * _KMV_BUCKETS))
                / (
                    F.col("s").cast("double") / F.lit(float(_H40))
                    + (F.lit(_KMV_BUCKETS) - F.col("present")).cast("double")
                )
                - F.lit(float(_KMV_BUCKETS))
            ).alias("kmv_users"),
        )
    )

    h40e = F.conv(F.substring("he", 1, 10), 16, 10).cast("long")
    samp = ev.where(h40e < F.lit(_SAMPLE_T)).select("metric", "value", "event_id", _cents().alias("cents"))
    ranked = samp.select(
        "metric",
        "cents",
        F.row_number()
        .over(Window.partitionBy("metric").orderBy("value", "event_id"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("metric")).alias("cnt"),
    )
    med = (
        ranked.where(
            (F.col("rn") == F.expr("(cnt + 1) div 2"))
            | (F.col("rn") == F.expr("(cnt + 2) div 2"))
        )
        .groupBy("metric")
        .agg(F.sum("cents").alias("sc"), F.count("*").alias("nsel"), F.max("cnt").alias("sample_n"))
        .select(
            "metric",
            (F.col("sc").cast("double") / (F.lit(100.0) * F.col("nsel").cast("double"))).alias("sample_p50"),
            "sample_n",
        )
    )

    base = ev.groupBy("metric").agg(F.count("*").alias("n"))
    return base.join(users, "metric").join(med, "metric").select(
        "metric", "kmv_users", "sample_p50", "sample_n", "n"
    )


W_APPROX_STATS_SQL = f"""
WITH ev AS (
  SELECT event_type AS metric, event_id, value,
         md5(CAST(user_id AS VARCHAR)) AS hu,
         md5(CAST(event_id AS VARCHAR)) AS he
  FROM events
),
kmv AS (
  SELECT metric,
         CAST('0x' || substring(hu, 11, 2) AS BIGINT) % {_KMV_BUCKETS} AS bucket,
         min(CAST('0x' || substring(hu, 1, 10) AS BIGINT)) AS minh
  FROM ev GROUP BY 1, 2
),
users AS (
  SELECT metric,
         CAST({_KMV_BUCKETS * _KMV_BUCKETS} AS DOUBLE)
           / (CAST(sum(minh) AS DOUBLE) / CAST({_H40} AS DOUBLE)
              + CAST({_KMV_BUCKETS} - count(*) AS DOUBLE))
           - CAST({_KMV_BUCKETS} AS DOUBLE) AS kmv_users
  FROM kmv GROUP BY metric
),
samp AS (
  SELECT metric, value, event_id, {CENTS_SQL} AS cents
  FROM ev
  WHERE CAST('0x' || substring(he, 1, 10) AS BIGINT) < {_SAMPLE_T}
),
ranked AS (
  SELECT metric, cents,
         row_number() OVER (PARTITION BY metric ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY metric) AS cnt
  FROM samp
),
med AS (
  SELECT metric,
         CAST(sum(cents) AS DOUBLE) / (100.0 * CAST(count(*) AS DOUBLE)) AS sample_p50,
         max(cnt) AS sample_n
  FROM ranked
  WHERE rn IN ((cnt + 1) // 2, (cnt + 2) // 2)
  GROUP BY metric
),
base AS (SELECT metric, count(*) AS n FROM ev GROUP BY metric)
SELECT metric, kmv_users, sample_p50, sample_n, n
FROM base JOIN users USING (metric) JOIN med USING (metric)
"""


# ------------------------------------------------------ w_diff / w_fill_merge
# Analogs of the python-whisper CLI ecosystem tools the storage engine
# ships with (whisper-diff.py / whisper-fill.py / whisper-merge.py —
# public graphite-project/whisper tooling; robyoung's Go port covers
# the library, Graphite operators run these against the same files).
# Two series sets A and B are carved from events by write_seq parity —
# the "two .wsp files for the same metric" situation (e.g. a primary
# and a backfill copy), each LWW-consolidated at the 1h archive.

_PARITY_CTES = """lwwA AS (
  SELECT metric, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts WHERE write_seq % 2 = 0 GROUP BY 1, 2
),
lwwB AS (
  SELECT metric, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts WHERE write_seq % 2 = 1 GROUP BY 1, 2
)"""


def _lww_parity(spark: SparkSession, sf_dir: str, parity: int) -> DataFrame:
    pts = _points(spark, sf_dir).where(F.col("write_seq") % 2 == parity)
    return _lww(pts, HOUR)


def w_diff_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whisper-diff: slot-by-slot comparison of two archives of the same
    metric — report every interval where the stored values differ
    (including slots present on only one side).  Full-outer join on the
    (metric, interval) slot key + null-safe inequality; shuffle key is
    the slot key, the same co-location every whisper op uses.
    """
    a = _lww_parity(spark, sf_dir, 0).withColumnRenamed("value", "value_a")
    b = _lww_parity(spark, sf_dir, 1).withColumnRenamed("value", "value_b")
    return (
        a.join(b, ["metric", "interval"], "full_outer")
        .where(~F.col("value_a").eqNullSafe(F.col("value_b")))
        .select("metric", "interval", "value_a", "value_b")
    )


W_DIFF_SQL = f"""
WITH {PTS_CTE}, {_PARITY_CTES}
SELECT metric, interval, a.value AS value_a, b.value AS value_b
FROM lwwA a FULL OUTER JOIN lwwB b USING (metric, interval)
WHERE a.value IS DISTINCT FROM b.value
"""


def w_fill_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whisper-fill + whisper-merge in one pass over target A / source B:
    ``filled``  = fill(A from B): keep A where present, take B only
                  into A's gaps (whisper-fill never overwrites);
    ``merged``  = merge(B into A): every B point is written, so B wins
                  where both exist (ring overwrite = last write wins);
    ``prov``    = where the filled value came from (kept/filled/both).
    """
    a = _lww_parity(spark, sf_dir, 0).withColumnRenamed("value", "value_a")
    b = _lww_parity(spark, sf_dir, 1).withColumnRenamed("value", "value_b")
    both = a.join(b, ["metric", "interval"], "full_outer")
    return both.select(
        "metric",
        "interval",
        F.coalesce("value_a", "value_b").alias("filled"),
        F.coalesce("value_b", "value_a").alias("merged"),
        F.when(F.col("value_a").isNull(), F.lit("filled"))
        .when(F.col("value_b").isNull(), F.lit("kept"))
        .otherwise(F.lit("both"))
        .alias("prov"),
    )


W_FILL_MERGE_SQL = f"""
WITH {PTS_CTE}, {_PARITY_CTES}
SELECT metric, interval,
       coalesce(a.value, b.value) AS filled,
       coalesce(b.value, a.value) AS merged,
       CASE WHEN a.value IS NULL THEN 'filled'
            WHEN b.value IS NULL THEN 'kept'
            ELSE 'both' END AS prov
FROM lwwA a FULL OUTER JOIN lwwB b USING (metric, interval)
"""


def w_xff_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The xFilesFactor gate under xff ∈ {0.0, 0.5, 1.0} in ONE frame:
    each 6h slot is aggregated once, then the tiny xff list explodes
    against it — the gated value goes NULL exactly where known/6 < xff
    (with the ``>=`` boundary the reference uses: known=3 of 6 PASSES
    xff=0.5).  Partially-filled slots flip between the branches, which
    pins the gate's boundary in data, not just in a unit test.  One
    shuffle for the slot aggregate; the explode is narrow.
    """
    lww = _lww(_points(spark, sf_dir), HOUR).withColumn("cents", _cents())
    slots = (
        lww.withColumn(
            "interval6",
            (F.col("interval") - F.col("interval") % F.lit(6 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval6")
        .agg(F.count("value").alias("known"), F.sum("cents").alias("sc"))
    )
    return (
        slots.select(
            "*", F.explode(F.array(F.lit(0.0), F.lit(0.5), F.lit(1.0))).alias("xff")
        )
        .select(
            "metric",
            F.col("interval6").alias("interval"),
            "xff",
            "known",
            F.when(
                F.col("known").cast("double") / F.lit(6.0) >= F.col("xff"),
                _avg6(F.col("sc"), F.col("known")),
            ).alias("avg_value"),
        )
    )


W_XFF_SENSITIVITY_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
slots AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         count(value) AS known,
         sum({CENTS_SQL}) AS sc
  FROM lww1h
  GROUP BY 1, 2
)
SELECT metric, interval, xff, known,
       CASE WHEN CAST(known AS DOUBLE) / 6.0 >= xff
            THEN floor(CAST(sc AS DOUBLE) * 10000 / known) / 1000000.0
       END AS avg_value
FROM slots
CROSS JOIN (SELECT unnest([0.0, 0.5, 1.0]) AS xff)
"""


def w_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` operator (30m gap) — the
    built-in form of ``w_sessionize_30m``'s gaps-and-islands plan, and
    the one that transfers to Structured Streaming unchanged.

    Boundary pinned by micro-test AND by the sf0.1 oracle (which has
    events exactly 1800s apart): the native operator merges two events
    iff ``t2 − t1 <= gap`` (INCLUSIVE — events exactly one gap apart
    share a session), the same boundary as the ``> 1800`` new-session
    flag in the lag form.  ``window.end`` is ``last_ts + gap``,
    emitted to pin that mapping.  Shuffle key: user_id.
    """
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_sec").cast("timestamp").alias("ts_t"),
        F.col("ts_sec").alias("ts"),
    )
    return (
        e.groupBy("user_id", F.session_window("ts_t", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            (F.max("ts") - F.min("ts")).alias("duration_s"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.unix_timestamp(F.col("session_window.end")).alias("window_end"),
            "n_events",
            "duration_s",
        )
    )


W_SESSION_NATIVE_SQL = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts, event_id FROM events
),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts, 1) OVER w IS NULL THEN 1
              WHEN ts - lag(ts, 1) OVER w > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_seq
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       max(ts) + 1800 AS window_end,
       count(*) AS n_events,
       max(ts) - min(ts) AS duration_s
FROM numbered
GROUP BY user_id, session_seq
"""


def w_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: sample each metric's 1h series at arbitrary query
    times (every 4h, offset +30min so queries never coincide with slot
    boundaries) — for each query time, the most recent slot value
    at-or-before it, plus its staleness.

    Spark has no ASOF JOIN operator; an inequality join would be a
    per-metric cross product.  The scalable form is union + ordered
    forward-fill: tag slot rows and query rows, sort within each
    metric partition by (t, tag) — slots first at ties, preserving
    at-or-*before* — and carry the last known slot forward with
    ``last(ignorenulls)``.  One shuffle (key = metric), O(n log n)
    sort, no join explosion; the same merge runs per metric bucket at
    100 TB.  Oracle: DuckDB's native ASOF LEFT JOIN.
    """
    pts = _points(spark, sf_dir)
    lww = _lww(pts, HOUR)
    step = 4 * HOUR
    bounds = pts.agg(F.max("ts").alias("now")).select(
        ((F.col("now") - 10 * DAY) - (F.col("now") - 10 * DAY) % step).alias("from_t"),
        (F.col("now") - F.col("now") % step).alias("until_t"),
    )
    queries = (
        pts.select("metric")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "metric",
            F.explode(F.sequence("from_t", "until_t", F.lit(step))).alias("t0"),
        )
        .select("metric", (F.col("t0") + 1800).alias("t"))
    )
    left = queries.select(
        "metric",
        "t",
        F.lit(1).alias("is_q"),
        F.lit(None).cast("double").alias("v"),
        F.lit(None).cast("long").alias("src_iv"),
    )
    right = lww.select(
        "metric",
        F.col("interval").alias("t"),
        F.lit(0).alias("is_q"),
        F.col("value").alias("v"),
        F.col("interval").alias("src_iv"),
    )
    w = (
        Window.partitionBy("metric")
        .orderBy("t", "is_q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = left.unionByName(right)
    return (
        u.withColumn("value", F.last("v", ignorenulls=True).over(w))
        .withColumn("matched_interval", F.last("src_iv", ignorenulls=True).over(w))
        .where(F.col("is_q") == 1)
        .select(
            "metric",
            F.col("t").alias("query_ts"),
            "matched_interval",
            "value",
            (F.col("t") - F.col("matched_interval")).alias("staleness"),
        )
    )


W_ASOF_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
bounds AS (
  SELECT (max(ts_sec) - 864000) - (max(ts_sec) - 864000) % 14400 AS from_t,
         max(ts_sec) - max(ts_sec) % 14400 AS until_t
  FROM pts
),
qs AS (
  SELECT m.metric, s.t0 + 1800 AS query_ts
  FROM (SELECT DISTINCT metric FROM pts) m
  CROSS JOIN (
    SELECT unnest(generate_series(from_t, until_t, 14400)) AS t0
    FROM bounds
  ) s
)
SELECT q.metric, q.query_ts, l.interval AS matched_interval, l.value AS value,
       q.query_ts - l.interval AS staleness
FROM qs q ASOF LEFT JOIN lww1h l
  ON l.metric = q.metric AND l.interval <= q.query_ts
"""


# --------------------------------------------------- w_range_join_binned
def w_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range self-join via time BINNING: for every raw event
    point, the count and exact cent-sum of points of OTHER metrics
    within ±900 s — the cross-series neighborhood feature a
    correlation/anomaly stage computes.

    An inequality predicate |t₁−t₂| ≤ W is not an equi-join, so
    Catalyst's only direct plan is a nested-loop cross product — the
    all-pairs shape that dies at scale.  The scalable form bins time
    into 2W-second buckets and turns the range condition into an
    EQUI-join: every candidate pair within ±W sits either in the same
    bin or in adjacent ones, so the probe side explodes to its own
    and both neighbor bins (3× rows, narrow) and joins on the bin id
    alone; the exact |Δt| ≤ W filter runs post-join on the
    co-partitioned pairs.  Each (left, right) pair matches exactly
    once (the right point's single bin equals exactly one of the
    three probed values), so no dedup pass is needed.  Work ∝
    Σ bin-pair sizes — density-bounded, shuffled on the bin key, the
    standard 100 TB range-join layout (Spark has no native IEJoin;
    DuckDB does, which makes the oracle an INDEPENDENT direct
    inequality-join formulation, not a restatement).  Zero-neighbor
    points survive through their own self-match row (see the
    conditional-aggregate note below) — no join-back needed.

    Key-uniqueness invariant (ADVICE r19): the self-match fold
    groups by (metric, ts, write_seq) and therefore assumes that key
    is UNIQUE in pts — which it is by schema: ``write_seq`` is
    ``events.event_id``, the generator's unique monotone ingest
    sequence (see ``events_points``), and the oracle's ``near`` CTE
    groups on the same key.  A source where write_seq could repeat
    would need a row-identity key here to preserve multiplicity.
    """
    W = 900
    B = 2 * W
    pts = _points(spark, sf_dir)
    b = (F.col("ts") / B).cast("long")
    probe = pts.select(
        "metric",
        "ts",
        "write_seq",
        F.explode(F.array(b - 1, b, b + 1)).alias("bin"),
    )
    # The probe side of the bin equi-join broadcasts, so the stream
    # side's scan → hash-probe → partial-aggregate pipeline runs in
    # the SCAN stage — one task on the single-row-group local file
    # (event-log measured: 2.1 s of the query's 3.1 s in that one
    # task).  Repartition it first (r19 optimization, guide §2.5;
    # r20: layout-gated — no Exchange when the scan arrives in >=
    # cores splits).
    build = spread_scan(pts, spark, sf_dir, "events").select(
        F.col("metric").alias("r_metric"),
        F.col("ts").alias("r_ts"),
        _cents().alias("r_cents"),
        b.alias("bin"),
    )
    # Zero-neighbor preservation WITHOUT the join-back (r19
    # optimization, guide §2.4 "remove shuffles outright"): every
    # probe row matches its OWN build row (same bin, Δt = 0 — only
    # the same-metric filter would drop it), so keeping same-metric
    # matches in the join and moving the metric/Δt predicates into
    # CONDITIONAL aggregates leaves every (metric, ts, write_seq)
    # group non-empty.  The former shape re-scanned pts and left-
    # joined the aggregate back (one more Exchange + scan) purely to
    # resurrect zero-neighbor points.
    is_near = (F.col("r_metric") != F.col("metric")) & (
        F.abs(F.col("r_ts") - F.col("ts")) <= W
    )
    return (
        probe.join(build, "bin")
        .where(
            is_near
            | (
                (F.col("r_metric") == F.col("metric"))
                & (F.col("r_ts") == F.col("ts"))
            )
        )
        .groupBy("metric", "ts", "write_seq")
        .agg(
            F.sum(is_near.cast("long")).alias("n_near"),
            F.sum(F.when(is_near, F.col("r_cents")).otherwise(F.lit(0)))
            .alias("near_cents"),
        )
        .select(
            "metric",
            "ts",
            "write_seq",
            F.col("n_near").cast("long").alias("n_near"),
            F.coalesce("near_cents", F.lit(0)).cast("long").alias("near_cents"),
        )
    )


W_RANGE_JOIN_BINNED_SQL = f"""
WITH {PTS_CTE},
near AS (
  SELECT a.metric, a.ts_sec, a.write_seq,
         count(*) AS n_near,
         sum(CAST(round(b.value * 100) AS BIGINT)) AS near_cents
  FROM pts a JOIN pts b
    ON b.metric != a.metric AND abs(b.ts_sec - a.ts_sec) <= 900
  GROUP BY a.metric, a.ts_sec, a.write_seq
)
SELECT p.metric, p.ts_sec AS ts, p.write_seq,
       CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
       CAST(coalesce(n.near_cents, 0) AS BIGINT) AS near_cents
FROM pts p LEFT JOIN near n
  ON p.metric = n.metric AND p.ts_sec = n.ts_sec AND p.write_seq = n.write_seq
"""


# ------------------------------------------------------- w_wsp_roundtrip
def w_wsp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ``.wsp`` contract: the 1h LWW slot state (bounds-
    checked against ``now`` as whisper's Update does) is packed into
    real per-metric ``.wsp`` files via ``create_wsp`` +
    ``wsp_update_many``, read back through the binaryFile +
    mapInPandas parser, and served as the dense last-3d fetch — so the
    byte layout (16B header, 12B archive entries, big-endian 12B ring
    points), ring-slot addressing, and the parser must all round-trip
    bit-exactly for the oracle (the plain relational fetch) to
    hash-match.  [ref: whisper.go (func Create; func (*Whisper)
    Update — ring WriteAt; pack/unpack group)]

    The fixture write is a driver-side control path (one small file
    per metric under /tmp, rebuilt per call) — the query's data path
    (parse + LWW spine join) stays fully distributed.
    """
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.sources.wsp import (
        create_wsp,
        read_wsp,
        read_wsp_headers,
        wsp_update_many,
    )

    cfg = SeriesConfig.from_defs("1h:14d", "average", 0.5)
    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).first()[0])
    lww = _lww(pts, HOUR).where(F.col("interval") > now - cfg.max_retention)

    fixture = _tmpdir("gws_wsp_")
    by_metric: dict = {}
    for row in lww.collect():
        by_metric.setdefault(row["metric"], []).append((row["interval"], row["value"]))
    for metric in [r["metric"] for r in pts.select("metric").distinct().collect()]:
        # metric names come from event_type — flat identifiers.  A path
        # separator would both escape the fixture dir at write time and
        # be mangled (os.sep -> '.') by _metric_from_path on read.
        if os.sep in metric or metric != os.path.basename(metric):
            raise ValueError(f"metric is not a safe filename: {metric!r}")
        path = os.path.join(fixture, f"{metric}.wsp")
        create_wsp(path, cfg)
        wsp_update_many(path, by_metric.get(metric, []), now)

    slots = read_wsp(spark, fixture, root=fixture).select("metric", "interval", "value")
    from_iv = (now - 3 * DAY) - (now - 3 * DAY) % HOUR + HOUR
    until_iv = now - now % HOUR + HOUR
    metrics = read_wsp_headers(spark, fixture, root=fixture).select("metric")
    spine = metrics.select(
        "metric",
        F.explode(
            F.sequence(F.lit(from_iv), F.lit(until_iv - HOUR), F.lit(HOUR))
        ).alias("interval"),
    )
    return spine.join(slots, ["metric", "interval"], "left").select(
        "metric", "interval", "value"
    )


# The oracle is the plain relational dense fetch: if any byte of the
# header/ring layout or the parser drifted, values (or row coverage)
# would diverge and the hash comparison would catch it.
W_WSP_ROUNDTRIP_SQL = W_FETCH_DENSE_3D_SQL


# ------------------------------------------------------- w_wsp_propagate
def w_wsp_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propagation pinned through the bytes (SURVEY §2A #8 meets #13):
    a TWO-archive ``.wsp`` (1h:14d, 6h:28d, Average, xff=0.5) is
    packed — archive 0 holds the bounds-checked 1h LWW state, archive 1
    holds the xff-gated 6h consolidation of the 28-day 1h history, ring
    addressed per archive exactly as whisper's propagate writes lower
    archives [ref: whisper.go (func (*Whisper) propagate — lower-
    archive WriteAt; func aggregate)] — then EVERYTHING is read back
    through the binaryFile parser and emitted per archive.  The oracle
    recomputes both archives relationally, so header layout, per-
    archive offsets, ring addressing at both resolutions, and the
    consolidated float64 bytes must all round-trip bit-exactly.

    Consolidated values use the exact micro-unit average (``_avg6``) so
    the double written into the ring is cross-engine identical.  The
    partial oldest 6h bucket (its floor predates the 28 d horizon) is
    excluded on both sides — it would be slot-aliased by a real ring.

    Fixture write = driver-side control path, as in ``w_wsp_roundtrip``;
    the data path (parse → per-archive union) is distributed.
    """
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.sources.wsp import (
        create_wsp,
        read_wsp,
        wsp_update_many,
        wsp_write_archive,
    )

    cfg = SeriesConfig.from_defs("1h:14d,6h:28d", "average", 0.5)
    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).first()[0])
    lww28 = _lww(pts, HOUR).where(F.col("interval") > now - 28 * DAY)
    a0 = lww28.where(F.col("interval") > now - 14 * DAY)
    a1 = (
        lww28.withColumn("cents", _cents())
        .withColumn(
            "interval6",
            (F.col("interval") - F.col("interval") % F.lit(6 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval6")
        .agg(F.count("value").alias("known"), F.sum("cents").alias("sc"))
        .where((F.col("known").cast("double") / F.lit(6.0)) >= F.lit(0.5))
        .where(F.col("interval6") > now - 28 * DAY)
        .select("metric", F.col("interval6").alias("interval"),
                _avg6(F.col("sc"), F.col("known")).alias("value"))
    )

    fixture = _tmpdir("gws_wsp_")
    fine: dict = {}
    for row in a0.collect():
        fine.setdefault(row["metric"], []).append((row["interval"], row["value"]))
    coarse: dict = {}
    for row in a1.collect():
        coarse.setdefault(row["metric"], []).append((row["interval"], row["value"]))
    for metric in [r["metric"] for r in pts.select("metric").distinct().collect()]:
        if os.sep in metric or metric != os.path.basename(metric):
            raise ValueError(f"metric is not a safe filename: {metric!r}")
        path = os.path.join(fixture, f"{metric}.wsp")
        create_wsp(path, cfg)
        wsp_update_many(path, fine.get(metric, []), now)
        wsp_write_archive(path, 1, coarse.get(metric, []))

    return read_wsp(spark, fixture, root=fixture).select(
        "metric", "archive_id", "seconds_per_point", "interval", "value"
    )


W_WSP_PROPAGATE_SQL = f"""
WITH {PTS_CTE},
now_v AS (SELECT max(ts_sec) AS now FROM pts),
lww28 AS (
  SELECT metric, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts
  GROUP BY 1, 2
  HAVING interval > (SELECT now FROM now_v) - 28 * 86400
),
a0 AS (
  SELECT metric, CAST(0 AS INTEGER) AS archive_id,
         CAST(3600 AS BIGINT) AS seconds_per_point, interval, value
  FROM lww28
  WHERE interval > (SELECT now FROM now_v) - 14 * 86400
),
a1 AS (
  SELECT metric, CAST(1 AS INTEGER) AS archive_id,
         CAST(21600 AS BIGINT) AS seconds_per_point,
         interval - interval % 21600 AS interval,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS value
  FROM lww28
  GROUP BY metric, interval - interval % 21600
  HAVING CAST(count(value) AS DOUBLE) / 6.0 >= 0.5
     AND interval - interval % 21600 > (SELECT now FROM now_v) - 28 * 86400
)
SELECT * FROM a0
UNION ALL
SELECT * FROM a1
"""


# ------------------------------------------------------------ w_wsp_export
def _wsp_export_sink(spark: SparkSession, sf_dir: str):
    """Build the distributed ``.wsp`` export sink frame (the
    applyInPandas write stage, pre-materialization) plus the fixture
    dir it writes to.  Split out so ``tools/plan_audit.py`` can assert
    the WRITE stage's physical plan (FlatMapGroupsInPandas keyed by
    metric, no driver collect inside) independently of the read-back
    the contract query returns."""
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.sources.wsp import export_wsp

    cfg = SeriesConfig.from_defs("1h:14d,6h:28d", "average", 0.5)
    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).first()[0])
    lww28 = _lww(pts, HOUR).where(F.col("interval") > now - 28 * DAY)
    a0 = lww28.where(F.col("interval") > now - 14 * DAY).select(
        "metric", F.lit(0).cast("int").alias("archive_id"), "interval", "value"
    )
    a1 = (
        lww28.withColumn("cents", _cents())
        .withColumn(
            "interval6",
            (F.col("interval") - F.col("interval") % F.lit(6 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval6")
        .agg(F.count("value").alias("known"), F.sum("cents").alias("sc"))
        .where((F.col("known").cast("double") / F.lit(6.0)) >= F.lit(0.5))
        .where(F.col("interval6") > now - 28 * DAY)
        .select(
            "metric",
            F.lit(1).cast("int").alias("archive_id"),
            F.col("interval6").alias("interval"),
            _avg6(F.col("sc"), F.col("known")).alias("value"),
        )
    )
    fixture = _tmpdir("gws_wsp_")
    return export_wsp(a0.unionByName(a1), fixture, cfg, now), fixture


def w_wsp_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED ``.wsp`` sink, end-to-end: the same two-archive
    consolidation as ``w_wsp_propagate`` (1h:14d, 6h:28d, Average,
    xff=0.5), but the whisper files are written by ``export_wsp`` —
    one ``applyInPandas`` group per metric running Create +
    bounds-checked LWW updates + propagate ring writes inside the
    Arrow workers, with NO driver-side collect in the write path —
    then read back through the binaryFile parser.  Same oracle as
    ``w_wsp_propagate``: if the executor-written bytes differ in any
    way (header, offsets, ring addressing, consolidated float64), the
    hash mismatches.  [ref: whisper.go (Create/UpdateMany/propagate)]
    """
    from go_whisper_spark.sources.wsp import read_wsp

    sink, fixture = _wsp_export_sink(spark, sf_dir)
    # Materialize the sink (one row per written file) before reading.
    sink.collect()
    return read_wsp(spark, fixture, root=fixture).select(
        "metric", "archive_id", "seconds_per_point", "interval", "value"
    )


# ---------------------------------------------------------- w_carbon_ingest
def w_carbon_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The carbon line-protocol ingest path under the oracle: events
    rendered as ``metric value epoch-seconds`` lines (a DISTRIBUTED
    ``write.text`` — executors format their partitions; Spark's
    shortest-repr double→string is parse-exact, so the value round-
    trips bit-for-bit), salted with deterministic malformed lines that
    the tolerant parser must drop, re-parsed by ``read_carbon``, then
    rolled to a per-slot MAX archive (carbon lines carry no write
    sequence, so the slot aggregate must be order-free — max — rather
    than LWW).  The oracle computes the same slots straight from
    ``events``: any parse drift, format drift, or un-dropped garbage
    line changes the hash.  [ref: graphite feeding-carbon docs;
    whisper.go (UpdateMany ≙ the post-parse ingest)]
    """
    from go_whisper_spark.sources.carbon import read_carbon

    pts = _points(spark, sf_dir)
    # concat_ws silently DROPS nulls (a NULL value would emit a 2-field
    # line the parser rejects while the oracle still counts the row), so
    # un-sendable rows are excluded explicitly on BOTH sides of the
    # contract — the generator has no NULLs today, but the query must
    # not depend on that.
    lines = pts.where(
        F.col("metric").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        F.concat_ws(
            " ",
            "metric",
            F.col("value").cast("string"),
            F.col("ts").cast("string"),
        ).alias("value")
    )
    garbage = spark.createDataFrame(
        [("not-a-line",), ("metric.only 12.5",), ("m one 1700000000",)],
        "value string",
    )
    fixture = os.path.join(_tmpdir("gws_wsp_"), "carbon")
    lines.unionByName(garbage).write.mode("overwrite").text(fixture)

    parsed = read_carbon(spark, fixture)
    return (
        parsed.withColumn(
            "interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long")
        )
        .groupBy("metric", "interval")
        .agg(F.max("value").alias("max_value"), F.count("*").alias("n_lines"))
    )



def _silver_docs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver documents BASE FRAME every lakehouse verb stages:
    (doc_id, lang, score = n_chars, b = doc_id % 4) — the verbs with a
    `src` label add it as their own column.  Single-sourced, like the
    staging, change-set and apply helpers below, so every call site
    stays in lockstep with its SQL oracle's `base` CTE: `base AS
    (SELECT doc_id %% 4 AS b, doc_id, lang, CAST(n_chars AS BIGINT)
    AS score FROM documents)`."""
    from go_whisper_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("score"),
        (F.col("doc_id") % 4).alias("b"),
    )


def _tmpdir(prefix: str) -> str:
    """A fresh private scratch dir per call (never shared, so a bench
    and a pytest session on the same sf can't race each other's
    rebuilds), removed at interpreter exit — the returned DataFrames
    re-read it lazily, long after the operator returns, so cleanup
    must not happen any earlier."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _stage_silver(spark: SparkSession, base: DataFrame, prefix: str,
                  positional: bool = False) -> str:
    """Commit ``base`` (a ``_silver_docs_base`` frame) as v1 of a fresh
    silver table, one directory per ``b`` bucket, and return the table
    path; ``positional`` stamps ``_pos`` for positional deletes
    (``commit_partitions_pos``)."""
    from go_whisper_spark.lakehouse import (
        commit_partitions,
        commit_partitions_pos,
    )

    table = os.path.join(_tmpdir(prefix), "silver_docs")
    commit = commit_partitions_pos if positional else commit_partitions
    commit(
        spark, table,
        {f"b={k}": base.where(F.col("b") == k) for k in range(4)},
        base_version=0,
    )
    return table


def _key_disjoint_changes(base: DataFrame) -> DataFrame:
    """The streamed CDC change set over a silver ``base``: DELETE every
    doc_id % 5 == 0 (``op`` 'd'), UPSERT every doc_id % 7 == 0 not
    also deleted at score + 1000 (``op`` 'u'), arriving in pass
    ``doc_id % 3``.  Each key is touched once, so the final table is a
    pure function of the change SET — micro-batch boundaries cannot
    matter."""
    dels = base.where(F.col("doc_id") % 5 == 0).withColumn("op", F.lit("d"))
    ups = base.where(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 5 != 0)
    ).withColumn("score", F.col("score") + 1000).withColumn("op", F.lit("u"))
    return dels.unionByName(ups).withColumn("arrive", F.col("doc_id") % 3)


def _delete_keys(spark: SparkSession, table: str, keys: DataFrame) -> None:
    """MoR DELETE of the ``doc_id`` ``keys`` as one metadata-only
    commit in the table's own dialect: a positional deletion vector on
    a ``_pos``-stamped table (``_stage_silver(positional=True)``),
    addressed through ``read_table_pos`` and a broadcast key
    semi-join; an equality deletion vector otherwise."""
    from go_whisper_spark.lakehouse import (
        POS_COL,
        CommitLog,
        delete_rows_mor,
        delete_rows_pos,
        read_table_pos,
    )

    if POS_COL in dict(CommitLog(table).state()["schema"]):
        delete_rows_pos(spark, table, (
            read_table_pos(spark, table)
            .join(F.broadcast(keys), "doc_id", "left_semi")
            .select("_dir", POS_COL)
        ))
    else:
        delete_rows_mor(spark, table, keys)


def _apply_changes(spark: SparkSession, table: str, batch: DataFrame) -> None:
    """Land one batch of ``_key_disjoint_changes`` as metadata-only
    MoR commits: the 'd' keys through ``_delete_keys``, the 'u' rows
    as an upsert."""
    from go_whisper_spark.lakehouse import upsert_rows_mor

    d = batch.where(F.col("op") == "d").select("doc_id")
    u = batch.where(F.col("op") == "u").drop("op")
    if not d.isEmpty():
        _delete_keys(spark, table, d)
    if not u.isEmpty():
        upsert_rows_mor(spark, table, u, key_cols=["doc_id"])


def _upsert_then_delete(spark: SparkSession, table: str,
                        base: DataFrame) -> None:
    """The batch change set on a staged silver table: v2 = MoR upsert
    re-scoring every doc_id % 7 == 0 (+1000), v3 = ``_delete_keys`` of
    every doc_id % 5 == 0 — so the %35 overlap nets
    upsert-then-delete to the pre-image delete."""
    from go_whisper_spark.lakehouse import upsert_rows_mor

    upsert_rows_mor(
        spark, table,
        base.where(F.col("doc_id") % 7 == 0).select(
            "doc_id", "lang", (F.col("score") + 1000).alias("score"), "b",
        ),
        key_cols=["doc_id"],
    )
    _delete_keys(
        spark, table, base.where(F.col("doc_id") % 5 == 0).select("doc_id")
    )


_RING_NODES_A = ("relay-a", "relay-b", "relay-c")
_RING_NODES_B = _RING_NODES_A + ("relay-d",)
_RING_REPLICAS = 16


def _ring_positions(nodes) -> list:
    """(node, position) ring entries: md5('node:replica') first 8 hex
    as a 32-bit position — the carbon_ch consistent-hash ring shape
    (Graphite's carbon-relay routing; public carbon_ch uses a 16-bit
    md5 slice and 100 replicas — constants, not structure; 32 bits +
    16 replicas keep the same ring semantics cross-engine-exact)."""
    import hashlib

    return [
        (n, int(hashlib.md5(f"{n}:{i}".encode()).hexdigest()[:8], 16))
        for n in nodes for i in range(_RING_REPLICAS)
    ]


def w_carbon_hashring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carbon-relay CONSISTENT-HASH routing + the rebalance law — the
    shard-assignment half of the carbon ecosystem (`w_carbon_ingest`
    is the wire half): every metric routes to the ring node whose
    replica position is the smallest one ≥ the metric's own hash
    position (wrapping to the globally smallest — the standard ring
    walk), and the ledger measures what consistent hashing is FOR:
    adding relay-d to a 3-node ring moves ONLY the keys that now
    fall in relay-d's arcs (every moved key lands ON relay-d; no
    key moves between surviving nodes — pinned as moved_in = 0 for
    a/b/c rows via the hash check), ~1/4 of the keyspace instead of
    a full reshuffle.

    Output per ring-B node: metrics held before (n_before; 0 for the
    new node), after (n_after), and moved_in (metrics that changed
    assignment TO this node).  The oracle rebuilds both rings and
    both assignments from the same md5 spelling — ring walk, wrap
    rule, tie behavior all cross-engine-exact.

    Scale shape: the ring is O(nodes·replicas) rows (64 here) and
    rides a BROADCAST min-over-candidates join against the O(metrics)
    relation — at 100 TB of metrics the assignment is one broadcast
    join + a map-combined argmin, the exact shape a relay fleet
    computes per incoming metric name.  [carbon_ch consistent
    hashing: public graphite-project carbon source]"""
    from go_whisper_spark.sources.tables import load_table

    metrics = (
        load_table(spark, sf_dir, "events")
        .select(F.concat(F.lit("srv"),
                         F.col("user_id").cast("string")).alias("metric"))
        .distinct()
        .withColumn(
            "h",
            F.conv(F.substring(F.md5("metric"), 1, 8), 16, 10)
            .cast("long"),
        )
    )

    def assign(nodes, out: str) -> DataFrame:
        entries = _ring_positions(nodes)
        ring = spark.createDataFrame(entries, "node string, pos long")
        cand = metrics.join(F.broadcast(ring),
                            F.col("pos") >= F.col("h"), "left")
        first = (
            cand.groupBy("metric", "h")
            .agg(F.min_by("node", "pos").alias("n1"))
        )
        wrap = spark.createDataFrame(
            [min(entries, key=lambda t: t[1])], "node string, pos long",
        )
        return first.crossJoin(F.broadcast(wrap)).select(
            "metric",
            F.coalesce("n1", F.col("node")).alias(out),
        )

    a = assign(_RING_NODES_A, "na")
    b = assign(_RING_NODES_B, "nb")
    both = a.join(b, "metric")
    return (
        both.groupBy(F.col("nb").alias("node"))
        .agg(
            F.sum(F.when(F.col("na") == F.col("nb"), 1).otherwise(0))
            .alias("kept"),
            F.count("*").alias("n_after"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0))
            .alias("moved_in"),
        )
        .join(
            both.groupBy(F.col("na").alias("node"))
            .agg(F.count("*").alias("n_before")),
            "node", "full_outer",
        )
        .select(
            "node",
            F.coalesce("n_before", F.lit(0)).cast("long")
            .alias("n_before"),
            F.coalesce("n_after", F.lit(0)).cast("long").alias("n_after"),
            F.coalesce("moved_in", F.lit(0)).cast("long")
            .alias("moved_in"),
        )
    )


def _w_carbon_hashring_sql() -> str:
    def ring_values(nodes):
        return ", ".join(f"('{n}', {p})" for n, p in _ring_positions(nodes))

    return f"""
WITH metrics AS (
  SELECT DISTINCT 'srv' || CAST(user_id AS VARCHAR) AS metric FROM events
),
mh AS (
  SELECT metric,
         CAST('0x' || substring(md5(metric), 1, 8) AS BIGINT) AS h
  FROM metrics
),
ring_a(node, pos) AS (VALUES {ring_values(_RING_NODES_A)}),
ring_b(node, pos) AS (VALUES {ring_values(_RING_NODES_B)}),
asg_a AS (
  SELECT mh.metric,
         COALESCE(min_by(r.node, r.pos),
                  (SELECT min_by(node, pos) FROM ring_a)) AS na
  FROM mh LEFT JOIN ring_a r ON r.pos >= mh.h
  GROUP BY mh.metric
),
asg_b AS (
  SELECT mh.metric,
         COALESCE(min_by(r.node, r.pos),
                  (SELECT min_by(node, pos) FROM ring_b)) AS nb
  FROM mh LEFT JOIN ring_b r ON r.pos >= mh.h
  GROUP BY mh.metric
),
asg AS (SELECT a.metric, na, nb FROM asg_a a JOIN asg_b b
        ON a.metric = b.metric),
after AS (
  SELECT nb AS node,
         count(*) AS n_after,
         CAST(sum(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
           AS moved_in
  FROM asg GROUP BY 1
),
pre AS (SELECT na AS node, count(*) AS n_before FROM asg GROUP BY 1)
SELECT COALESCE(a.node, b.node) AS node,
       CAST(COALESCE(b.n_before, 0) AS BIGINT) AS n_before,
       CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
       CAST(COALESCE(a.moved_in, 0) AS BIGINT) AS moved_in
FROM after a FULL OUTER JOIN pre b ON a.node = b.node
"""


W_CARBON_INGEST_SQL = f"""
WITH {PTS_CTE}
SELECT metric,
       ts_sec - ts_sec % 3600 AS interval,
       max(value) AS max_value,
       count(*) AS n_lines
FROM pts
WHERE metric IS NOT NULL AND value IS NOT NULL AND ts_sec IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------- w_retention_expand
# The UDTF surface (SURVEY §2B last row): a real Python UDTF — one
# input row (a whisper retention-policy string) lateral-expands to one
# row per archive through the SAME model.parse_retention_defs the
# engine uses [ref: whisper.go (func ParseRetentionDefs)].  This is
# control-plane parsing (a handful of config strings), not a data-path
# row UDF — the Arrow-only discipline for bulk data stands.
_RETENTION_POLICIES = [
    (1, "10s:6h,1m:7d,10m:5y"),
    (2, "1m:1d"),
    (3, "1h:30d,6h:90d"),
    (4, "15s:10m,1m:1h,5m:1d"),
]


def w_retention_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-expand retention policies via a Python UDTF: each archive
    level becomes a row ``(policy_id, archive_idx, spp, points,
    retention_s)``.  The oracle re-implements the ``unit:unit`` grammar
    slice these policies use (the full grammar — bare-integer points
    form — lives in model.py under property tests)."""
    from pyspark.sql.functions import udtf

    from go_whisper_spark.model import parse_retention_defs

    @udtf(returnType=(
        "archive_idx int, spp bigint, points bigint, retention_s bigint"
    ))
    class ExpandRetentions:
        def eval(self, defs: str):
            for i, r in enumerate(parse_retention_defs(defs)):
                yield i, r.seconds_per_point, r.points, r.retention

    spark.udtf.register("expand_retentions", ExpandRetentions)
    pol = spark.createDataFrame(_RETENTION_POLICIES, "policy_id int, defs string")
    pol.createOrReplaceTempView("ret_policies")
    return spark.sql(
        """
        SELECT p.policy_id, t.archive_idx, t.spp, t.points, t.retention_s
        FROM ret_policies p, LATERAL expand_retentions(p.defs) t
        """
    )


_POLICY_VALUES = ", ".join(f"({pid}, '{defs}')" for pid, defs in _RETENTION_POLICIES)

_UNIT_CASE = """CASE regexp_extract({0}, '([smhdwy])$', 1)
  WHEN 's' THEN 1 WHEN 'm' THEN 60 WHEN 'h' THEN 3600
  WHEN 'd' THEN 86400 WHEN 'w' THEN 604800 WHEN 'y' THEN 31536000 END"""

W_RETENTION_EXPAND_SQL = f"""
WITH pol AS (
  SELECT * FROM (VALUES {_POLICY_VALUES}) AS t(policy_id, defs)
),
flat AS (
  SELECT policy_id,
         unnest(list_transform(
           generate_series(1, len(string_split(defs, ','))),
           i -> struct_pack(idx := i - 1,
                            part := trim(string_split(defs, ',')[i])))) AS s
  FROM pol
),
parsed AS (
  SELECT policy_id,
         CAST(s.idx AS INTEGER) AS archive_idx,
         CAST(regexp_extract(string_split(s.part, ':')[1], '^(\\d+)', 1)
              AS BIGINT)
           * {_UNIT_CASE.format("string_split(s.part, ':')[1]")} AS spp,
         CAST(regexp_extract(string_split(s.part, ':')[2], '^(\\d+)', 1)
              AS BIGINT)
           * {_UNIT_CASE.format("string_split(s.part, ':')[2]")} AS total_s
  FROM flat
)
SELECT policy_id, archive_idx, spp,
       total_s // spp AS points,
       spp * (total_s // spp) AS retention_s
FROM parsed
"""


# --------------------------------------------------- w_retention_reap
def w_retention_reap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ring's lap auto-expiry, end-to-end under the oracle
    [ref: whisper.go (ring overwrite implicitly expiring old laps)]:
    the 1h archive is materialized day-partitioned under a WIDE
    retention (90d — no write-time cut on this 30d dataset), then a
    retention-policy tightening to 10d is applied by ``retention.reap``
    — O(1) filesystem metadata per expired day, never a row rewrite,
    which is exactly what replaces the ring's modular lap reuse — and
    the surviving store is read back.

    Reap is day-conservative: a partition is dropped only when its
    ENTIRE day lies before ``now − 10d`` (boundary day survives), so
    the oracle's cut is on the day end, not the interval.  Values are
    LWW (arg_max by write_seq) — bit-exact, no aggregation method in
    play at archive 0.
    """
    from go_whisper_spark.engine import WhisperEngine
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.retention import (
        ARCHIVE_SCHEMA,
        archive_path,
        reap,
        write_archives,
    )

    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).first()[0])
    base = _tmpdir("gws_reap_")
    eng = WhisperEngine(spark, SeriesConfig.from_defs("1h:90d", "average", 0.0))
    eng.update_many(pts, now)
    write_archives(eng, base, now)
    reap(base, SeriesConfig.from_defs("1h:10d", "average", 0.0), now)
    return spark.read.schema(ARCHIVE_SCHEMA).parquet(archive_path(base, 0)).select(
        "metric", "interval", "value"
    )


W_RETENTION_REAP_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
bounds AS (SELECT max(ts_sec) AS now FROM pts)
SELECT metric, interval, value
FROM lww1h, bounds
WHERE interval - interval % 86400 + 86400 > now - 10 * 86400
"""


# ------------------------------------------------------- w_store_fetch
def w_store_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED-STORE read path under the oracle: archives
    written day-partitioned (``retention.write_archives``), then
    ``MaterializedRollups.fetch(now-30d, now)`` routes by from-age to
    the 6h archive (30d exceeds the 1h archive's 10d retention), scans
    it with the day-partition predicate, and densifies on the
    ``fetch_bounds`` spine — the store-backed twin of the
    engine-computed ``w_fetch_coarse_30d``, pinning that a reader of
    the written tables gets exactly the routed-fetch contract
    [ref: whisper.go (func (*Whisper) Fetch — archive selection)].

    MAX aggregation (order-free, bit-exact) instead of the inline
    twin's cents-average — the store path exercises the ENGINE's
    consolidation, whose float average is accumulation-order-dependent
    and deliberately not oracle-hashable.
    """
    from go_whisper_spark.engine import WhisperEngine
    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.retention import MaterializedRollups, write_archives

    pts = _points(spark, sf_dir)
    now = int(pts.agg(F.max("ts")).first()[0])
    cfg = SeriesConfig.from_defs("1h:10d,6h:90d", "max", 0.0)
    base = _tmpdir("gws_store_")
    eng = WhisperEngine(spark, cfg)
    eng.update_many(pts, now)
    write_archives(eng, base, now)
    store = MaterializedRollups(spark, base, cfg)
    return store.fetch(now - 30 * DAY, now, now).frame.select(
        "metric", "interval", "value"
    )


W_STORE_FETCH_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
bounds AS (SELECT max(ts_sec) AS now FROM pts),
iv AS (
  SELECT (now - 2592000) - (now - 2592000) % 21600 + 21600 AS from_iv,
         now - now % 21600 + 21600 AS until_iv
  FROM bounds
),
a6 AS (
  SELECT metric, interval - interval % 21600 AS interval, max(value) AS value
  FROM lww1h GROUP BY 1, 2
),
win AS (
  SELECT a6.metric, a6.interval, a6.value
  FROM a6, iv WHERE a6.interval >= iv.from_iv AND a6.interval < iv.until_iv
),
spine AS (
  SELECT m.metric,
         unnest(generate_series(iv.from_iv, iv.until_iv - 21600, 21600))
           AS interval
  FROM (SELECT DISTINCT metric FROM win) m, iv
)
SELECT s.metric, s.interval, w.value
FROM spine s
LEFT JOIN win w ON w.metric = s.metric AND w.interval = s.interval
"""


# --------------------------------------------------- w_lakehouse_rollup
def w_lakehouse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The commit-log lakehouse path (``lakehouse.py``) under the
    driver's oracle: the events points ingested in TWO sequential
    ``incremental_rollup_tx`` batches (split at the time midpoint, so
    one day partition is touched by both), then archive 1 (6h, Max,
    xff 0.5) snapshot-read back through the manifest.

    Day partitions touched by the second batch are recomputed from
    the accumulated bronze store, so the committed snapshot equals
    the one-shot batch consolidation — which is exactly what the
    oracle states.  MAX aggregation keeps the value bit-exact
    (order-free); the retention ladder (90d/180d) exceeds the data
    span so no retention cut interferes.  Concurrency semantics
    (disjoint-day races, same-day conflict recompute, vacuum, time
    travel) are pinned in tests/test_lakehouse.py; this query pins
    the data math end-to-end through the commit log.
    """
    from go_whisper_spark.lakehouse import (
        incremental_rollup_tx,
        read_table,
        table_path,
    )
    from go_whisper_spark.model import SeriesConfig

    pts = _points(spark, sf_dir)
    bounds = pts.agg(F.min("ts").alias("a"), F.max("ts").alias("b")).first()
    t0, now = int(bounds["a"]), int(bounds["b"])
    mid = t0 + (now - t0) // 2
    cfg = SeriesConfig.from_defs("1h:90d,6h:180d", "max", 0.5)
    base = _tmpdir("gws_lake_")
    for batch in (pts.where(F.col("ts") <= mid), pts.where(F.col("ts") > mid)):
        incremental_rollup_tx(spark, base, cfg, batch, now)
    return read_table(spark, table_path(base, 1)).select(
        "metric", "interval", "value"
    )


# -------------------------------------------------- w_lakehouse_compact
def w_lakehouse_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze manifest compaction under the driver's oracle
    (``lakehouse.compact_bronze`` — previously pinned only by pytest):
    three add-only ingest batches (``write_seq % 3``) land three
    manifest keys; compaction swaps them for ONE consolidated
    directory in a single atomic remove+add commit.

    The ledger emits one row per phase (pre/post): manifest key
    count, commit-log version, and the bronze point set's row count
    and exact cent sum — pinning the atomic key/version arithmetic
    (3 keys @ v2 → 1 key @ v3) and NO-LOSS consolidation (identical
    rows and sum through the swap).  The two ledger rows are
    control-plane aggregates (the heavy work — appends, the
    consolidation rewrite, the two snapshot scans — is all
    distributed); at 100 TB this is the OPTIMIZE pass that bounds a
    streaming table's manifest growth, and its cost is one rewrite of
    the small-file tail, never of the compacted history."""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        _append_bronze,
        bronze_table,
        compact_bronze,
        read_bronze,
    )

    pts = _points(spark, sf_dir)
    base = _tmpdir("gws_lakec_")
    for i in range(3):
        _append_bronze(pts.where(F.col("write_seq") % 3 == i), base)

    def ledger(phase: str):
        st = CommitLog(bronze_table(base)).state()
        agg = (
            read_bronze(spark, base)
            .agg(F.count("*").alias("n"), F.sum(_cents()).alias("c"))
            .first()
        )
        return (phase, len(st["partitions"]), st["version"],
                agg["n"], int(agg["c"]))

    pre = ledger("pre")
    compact_bronze(spark, base)
    post = ledger("post")
    return spark.createDataFrame(
        [pre, post],
        "phase string, n_keys long, version long, n_rows long, cents_sum long",
    )


W_LAKEHOUSE_COMPACT_SQL = f"""
WITH {PTS_CTE},
agg AS (
  SELECT count(*) AS n_rows,
         CAST(sum({CENTS_SQL}) AS BIGINT) AS cents_sum
  FROM pts
)
SELECT phase, n_keys, version, n_rows, cents_sum FROM (
  SELECT 'pre' AS phase, CAST(3 AS BIGINT) AS n_keys,
         CAST(2 AS BIGINT) AS version, n_rows, cents_sum FROM agg
  UNION ALL
  SELECT 'post', CAST(1 AS BIGINT), CAST(3 AS BIGINT), n_rows, cents_sum
  FROM agg
)
"""


W_LAKEHOUSE_ROLLUP_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 21600 AS interval,
       max(value) AS value
FROM lww1h
GROUP BY 1, 2
HAVING count(*) >= 3
"""


# ---------------------------------------------------- w_lakehouse_timetravel
def w_lakehouse_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel under the driver's oracle: two sequential
    ``incremental_rollup_tx`` batches (split at the time midpoint),
    then the 1h archive read back at BOTH the version the first batch
    committed (``read_table(version=v1)``) and the latest snapshot,
    union'd with a ``snapshot`` label.

    What this pins end-to-end (beyond tests/test_lakehouse.py's
    state-resolution tests): the version-pinned replay reproduces the
    exact historical table — v1 must equal the LWW of the FIRST
    batch's points alone, even though bronze has since grown and the
    shared day partitions were recomputed and superseded; the commits
    are immutable, so the oracle can restate both snapshots from the
    raw events.  Scale: two manifest resolutions + two pruned scans —
    time travel costs a log replay, never a data rewrite.
    """
    from go_whisper_spark.lakehouse import (
        incremental_rollup_tx,
        read_table,
        table_path,
    )
    from go_whisper_spark.model import SeriesConfig

    pts = _points(spark, sf_dir)
    bounds = pts.agg(F.min("ts").alias("a"), F.max("ts").alias("b")).first()
    t0, now = int(bounds["a"]), int(bounds["b"])
    mid = t0 + (now - t0) // 2
    cfg = SeriesConfig.from_defs("1h:90d", "max", 0.0)
    base = _tmpdir("gws_lake_")
    v1 = incremental_rollup_tx(
        spark, base, cfg, pts.where(F.col("ts") <= mid), now
    )[0]
    incremental_rollup_tx(spark, base, cfg, pts.where(F.col("ts") > mid), now)
    t = table_path(base, 0)
    early = read_table(spark, t, version=v1).select(
        "metric", "interval", "value"
    ).withColumn("snapshot", F.lit("v1"))
    late = read_table(spark, t).select(
        "metric", "interval", "value"
    ).withColumn("snapshot", F.lit("latest"))
    return early.unionByName(late)


W_LAKEHOUSE_TIMETRAVEL_SQL = f"""
WITH {PTS_CTE},
bounds AS (SELECT min(ts_sec) AS t0, max(ts_sec) AS now FROM pts),
lww1 AS (
  SELECT metric, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts, bounds
  WHERE ts_sec <= t0 + (now - t0) // 2
  GROUP BY 1, 2
),
lwwall AS (
  SELECT metric, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pts
  GROUP BY 1, 2
)
SELECT metric, interval, value, 'v1' AS snapshot FROM lww1
UNION ALL
SELECT metric, interval, value, 'latest' AS snapshot FROM lwwall
"""


# ---------------------------------------------------- w_lakehouse_merge
def w_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE under the driver's oracle (``lakehouse.merge_table``
    — Delta-style copy-on-write upsert): a silver documents table
    (doc_id key, 4 hash partitions) takes one merge batch carrying
    both WHEN MATCHED rows (every doc_id % 7 == 0 re-scored +1000,
    relabeled src='merge') and WHEN NOT MATCHED inserts (doc_id %
    13 == 0 cloned to doc_id + 1000000 at double score).  The result
    is the post-merge table read back — the full relation, so the
    oracle pins row-level update/insert/keep semantics, not just
    counts.

    Scale shape: merge rewrites ONLY the partitions the batch
    touches (all 4 here — the batch spans every hash bucket; a
    day-partitioned table with a narrow batch rewrites one day); the
    anti-join's right side is the batch's keys (AQE broadcasts), the
    touched-partition list is the one control-plane collect, and the
    swap is a single atomic commit (v1 create → v2 merge)."""
    from go_whisper_spark.lakehouse import merge_table, read_table

    base = _silver_docs_base(spark, sf_dir).withColumn("src", F.lit("base"))
    table = _stage_silver(spark, base, "gws_lakem_")
    updates = base.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang",
        (F.col("score") + 1000).alias("score"),
        F.lit("merge").alias("src"),
        "b",
    ).unionByName(
        base.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "lang",
            (F.col("score") * 2).alias("score"),
            F.lit("merge").alias("src"),
            ((F.col("doc_id") + 1000000) % 4).alias("b"),
        )
    )
    # b is a pure function of doc_id here — partition-stable keys, so
    # the fast path that skips allow_moves' snapshot probe is correct
    # (and keeps this benchmark-era query's original plan)
    merge_table(spark, table, updates, key_cols=["doc_id"], part_col="b",
                allow_moves=False)
    return read_table(spark, table).select("doc_id", "lang", "score", "src", "b")


def w_lakehouse_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read under the driver's oracle — the READ-side verb
    the copy-on-write MERGE (`w_lakehouse_merge`) doesn't cover: the
    same silver documents table takes (v2) a MoR DELETE of every
    doc_id % 5 == 0 and (v3) a MoR UPSERT re-scoring every doc_id %
    7 == 0 (+1000, src='mor'), BOTH as metadata-only commits — zero
    base files rewritten (pytest pins the base directories
    byte-identical across both commits) — and the result is the
    merge-on-read SCAN: base ∪ delta minus every key a strictly-newer
    equality deletion vector covers, applied as one broadcast anti
    join at read time.  A doc hit by both (doc_id % 35 == 0) is
    deleted at v2 and REAPPEARS via the v3 delta (the Iceberg
    sequencing rule: a tombstone only shadows strictly older
    directories).  The oracle is the eagerly-rewritten table
    restated in plain SQL — MoR scan ≡ eager rewrite is the whole
    contract.

    Scale shape: DELETE cost is O(tombstone keys) regardless of table
    size (the entire point — contrast merge_table's per-partition
    rewrite); the scan stays file-pruned with the deletion vector as
    a broadcast key set; pathological tombstone volume is compacted
    away by compact_mor (pytest pins compacted == MoR view)."""
    from go_whisper_spark.lakehouse import (
        delete_rows_mor,
        read_table_mor,
        upsert_rows_mor,
    )

    base = _silver_docs_base(spark, sf_dir).withColumn("src", F.lit("base"))
    table = _stage_silver(spark, base, "gws_lakemor_")
    delete_rows_mor(
        spark, table, base.where(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    upsert_rows_mor(
        spark, table,
        base.where(F.col("doc_id") % 7 == 0).select(
            "doc_id", "lang",
            (F.col("score") + 1000).alias("score"),
            F.lit("mor").alias("src"),
            "b",
        ),
        key_cols=["doc_id"],
    )
    return read_table_mor(spark, table, key_cols=["doc_id"]).select(
        "doc_id", "lang", "score", "src", "b"
    )


W_LAKEHOUSE_MOR_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         'base' AS src, doc_id % 4 AS b
  FROM documents
)
SELECT doc_id, lang, score, src, b FROM base
WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0
UNION ALL
SELECT doc_id, lang, score + 1000 AS score, 'mor' AS src, b
FROM base WHERE doc_id % 7 = 0
"""


def w_lakehouse_mor_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL deletion vectors under the driver's oracle — the
    delete shape no equality vector can express: "this physical row".
    The silver documents table is committed with every row DUPLICATED
    (two content-identical copies per doc — no column distinguishes
    them) via ``commit_partitions_pos``, which mints the stable
    ``_pos`` ordinal the vectors address.  Then (v2) an equality MoR
    DELETE removes every doc_id % 5 == 0 — BOTH copies, the key is
    the address — and (v3) a positional DELETE removes exactly ONE
    copy of every doc_id % 3 == 0, addressed as (directory,
    min ``_pos``) from the ``read_table_pos`` addressing scan.  Both
    are metadata-only commits; zero base files rewritten.

    The merged scan then shows the discriminator the oracle pins by
    row MULTIPLICITY: %5 docs gone entirely, %3 docs at exactly ONE
    copy, everything else at two — an equality vector in place of the
    positional one would collapse the %3 docs to zero and hash-fail.
    min(_pos) is arbitrary-but-irrelevant: the copies are
    content-identical, so WHICH survives cannot affect the result
    (the reason positions only need uniqueness, not order).

    Scale shape: positional DELETE cost is O(named rows) at any table
    size; the scan applies the (dir, pos) set as one broadcast anti
    join whose dir-equality Catalyst constant-folds per source
    directory; positions are minted shuffle-free at write time
    (monotonically_increasing_id) and PERSISTED — never re-derived.
    [pins lakehouse.py: commit_partitions_pos / read_table_pos /
    delete_rows_pos / read_table_mor's pdv branch]"""
    from go_whisper_spark.lakehouse import (
        POS_COL,
        commit_partitions_pos,
        delete_rows_mor,
        delete_rows_pos,
        read_table_mor,
        read_table_pos,
    )
    from go_whisper_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    one = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("score"),
        (F.col("doc_id") % 3).alias("b"),
    )
    base = one.unionByName(one)  # two content-identical copies per doc
    table = os.path.join(_tmpdir("gws_lakepos_"), "silver_docs")
    commit_partitions_pos(
        spark, table,
        {f"b={k}": base.where(F.col("b") == k) for k in range(3)},
        base_version=0,
    )
    delete_rows_mor(
        spark, table, one.where(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    addr = (
        read_table_pos(spark, table)
        .where(F.col("doc_id") % 3 == 0)
        .groupBy("doc_id", "_dir")
        .agg(F.min(POS_COL).alias(POS_COL))
        .select("_dir", POS_COL)
    )
    delete_rows_pos(spark, table, addr)
    return read_table_mor(spark, table, key_cols=["doc_id"]).select(
        "doc_id", "lang", "score", "b"
    )


def w_lakehouse_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION under the driver's oracle — the registry gap
    ROADMAP carried since round 11: a MoR upsert whose batch adds a
    NEW column (`stars`) now WIDENS the table instead of failing the
    scan's unionByName.  The commit payload carries the merged schema
    (registered at table creation, widened by the upsert; racing
    widenings MERGE by column name in the state replay rather than
    last-wins), the scan unions with allowMissingColumns so
    pre-evolution rows read the new column as NULL, and a type
    conflict against the registry raises at write time — widening
    never retypes.

    Output casts `stars` to DOUBLE on both sides: the nullable-BIGINT
    pandas pitfall (the driver materializes a nullable int column as
    float64, so an uncast long would hash-mismatch).

    Scale shape: identical to w_lakehouse_mor (the evolution is
    metadata — one schema list in one commit JSON; zero data
    rewritten); the NULL fill is Catalyst's missing-column projection
    per source directory, not a data pass.
    [pins lakehouse.py: CommitLog schema registry /
    _widened_schema / read_table_mor allowMissingColumns]"""
    from go_whisper_spark.lakehouse import read_table_mor, upsert_rows_mor

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_lakeevo_")
    upsert_rows_mor(
        spark, table,
        base.where(F.col("doc_id") % 7 == 0).select(
            "doc_id", "lang",
            (F.col("score") + 1000).alias("score"),
            "b",
            (F.col("doc_id") % 5).cast("long").alias("stars"),
        ),
        key_cols=["doc_id"],
    )
    return read_table_mor(spark, table, key_cols=["doc_id"]).select(
        "doc_id", "lang", "score", "b",
        F.col("stars").cast("double").alias("stars"),
    )


def w_lakehouse_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-MOVING keys under the driver's oracle — the last
    named MERGE gap (ROADMAP round 11): a matched key whose partition
    value CHANGES across the merge is now a delete+insert inside the
    same atomic commit, not a silent stale copy.  The silver
    documents table is committed partitioned by b = doc_id % 4; the
    merge batch updates every doc_id % 7 == 0 key with score+1000 AND
    b' = (doc_id+1) % 4 — a value that ALWAYS differs from the old b,
    so every matched key moves — plus genuinely-new keys
    (doc_id + 1000000) exercising the insert arm beside the move arm.

    The oracle pins the semantics by row MULTIPLICITY: each moved key
    appears exactly ONCE, at its new partition value.  The pre-round-
    15 contract (allow_moves=False, the documented fast path) would
    leave the old copy behind and show every %7 key TWICE — exactly
    the hash-fail this query exists to catch.

    Scale shape: one key-semi-join snapshot probe finds the source
    partitions (the find-touched-files join Delta's MERGE pays; AQE
    broadcasts the batch's key set), then only touched partitions
    rewrite — keep-side anti-join against the broadcast key set,
    union with the batch's rows, ONE commit with the MoR conflict
    guard.  [pins lakehouse.py: merge_table allow_moves]"""
    from go_whisper_spark.lakehouse import merge_table, read_table

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_lakemove_")
    moved = base.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang",
        (F.col("score") + 1000).alias("score"),
        ((F.col("doc_id") + 1) % 4).alias("b"),
    )
    fresh = base.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        (F.col("score") * 2).alias("score"),
        ((F.col("doc_id") + 1000000) % 4).alias("b"),
    )
    merge_table(
        spark, table, moved.unionByName(fresh),
        key_cols=["doc_id"], part_col="b",
    )
    return read_table(spark, table).select("doc_id", "lang", "score", "b")


_MG_K = 12        # summary size (counters kept per summary)
_MG_SHARDS = 4    # deterministic shards exercising the merge law


def w_topk_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries top-k summaries with their MERGE LAW — the
    UNDERESTIMATE-side frequency sketch completing the pair with
    `w_heavy_hitters_cms` (CM is one-sided ABOVE, MG one-sided
    BELOW; a pipeline brackets the truth between them).  Public
    basis: Misra & Gries 1982; the mergeable-summaries form is
    Agarwal et al., PODS'12.

    Form: the ORDER-INVARIANT closed form of an MG sweep over counted
    input — per shard, t = the (k+1)-th largest count (0 when ≤ k
    keys) and the summary keeps c − t for every c > t; merging sums
    surviving counters by key and re-thresholds with the merged
    (k+1)-th largest T.  This is exactly what any arrival order's
    decrement process converges to, which is why the law is
    well-defined cross-engine.  Shards are event_id % 4 —
    deterministic and INDEPENDENT of the key, so each key's mass
    genuinely splits across summaries and the merge is exercised,
    not bypassed.

    Ledger: the surviving keys with exact count, merged estimate,
    deficit = exact − est (≥ 0 — the one-sided law, opposite CM's),
    and the provable bound Σ tₛ + T with deficit ≤ bound pinned by
    the oracle hash (both columns ride every row).

    Scale shape: per-shard counts are ONE map-combined aggregate
    (the same shuffle exact wordcount pays ONCE); each threshold is
    a top-(k+1) selection; everything after is O(shards·k) rows —
    the summary, the thing actually transmitted, is constant-size
    by construction, which is the whole point at 100 TB (per-batch
    partials stay ≤ k counters no matter the key cardinality — the
    streamed twin `st_topk_mg` runs the law over micro-batches)."""
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", (F.col("event_id") % _MG_SHARDS).alias("s")
    )
    counts = ev.groupBy("s", "user_id").agg(F.count("*").alias("c"))
    w_rank = Window.partitionBy("s").orderBy(F.desc("c"), "user_id")
    ranked = counts.withColumn("rn", F.row_number().over(w_rank))
    thresh = (
        ranked.where(F.col("rn") == _MG_K + 1)
        .select("s", F.col("c").alias("t"))
    )
    summaries = (
        counts.join(F.broadcast(thresh), "s", "left")
        .withColumn("t", F.coalesce("t", F.lit(0).cast("long")))
        .where(F.col("c") > F.col("t"))
        .select("s", "user_id", (F.col("c") - F.col("t")).alias("m"), "t")
    )
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    return _mg_merge_ledger(summaries, thresh.select("t"), exact)


def _mg_merge_ledger(summaries: DataFrame, thresholds: DataFrame,
                     exact: DataFrame) -> DataFrame:
    """The MG k-way MERGE + one-sided-bound ledger, shared by the
    batch (`w_topk_mg`, shards) and streamed (`st_topk_mg`,
    micro-batches) twins so the law's spelling cannot desynchronize
    (REVIEW r15): sum surviving counters by key, re-threshold with
    the merged (k+1)-th largest T (0 when ≤ k keys survive), emit
    (user_id, exact, mg_est, deficit, bound = Σt + T).

    ``summaries``: (user_id, m) one row per key per summary;
    ``thresholds``: (t) one row per summary; ``exact``: (user_id,
    exact)."""
    merged = summaries.groupBy("user_id").agg(F.sum("m").alias("m"))
    w_all = Window.orderBy(F.desc("m"), "user_id")
    big_t = (
        merged.withColumn("rn", F.row_number().over(w_all))
        .where(F.col("rn") == _MG_K + 1)
        .select(F.col("m").alias("bt"))
        .unionByName(
            merged.sparkSession.range(1).select(
                F.lit(0).cast("long").alias("bt"))
        )
        .agg(F.max("bt").alias("bt"))
    )
    sum_t = thresholds.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("st"))
    return (
        merged.crossJoin(F.broadcast(big_t))
        .where(F.col("m") > F.col("bt"))
        .select("user_id", (F.col("m") - F.col("bt")).alias("mg_est"),
                "bt")
        .join(exact, "user_id")
        .crossJoin(F.broadcast(sum_t))
        .select(
            "user_id", "exact", "mg_est",
            (F.col("exact") - F.col("mg_est")).alias("deficit"),
            (F.col("st") + F.col("bt")).alias("bound"),
        )
        .orderBy(F.desc("mg_est"), "user_id")
    )


def _topk_mg_sql(shards: int = _MG_SHARDS, k: int = _MG_K) -> str:
    """The MG summaries-and-merge oracle, parameterized on the shard
    count so the streamed twin's oracle is THIS SQL with shards :=
    micro-batches (the merge law is the same relation either way)."""
    return f"""
WITH ev AS (
  SELECT user_id, event_id % {shards} AS s FROM events
),
counts AS (
  SELECT s, user_id, count(*) AS c FROM ev GROUP BY 1, 2
),
ranked AS (
  SELECT s, user_id, c,
         row_number() OVER (PARTITION BY s ORDER BY c DESC, user_id)
           AS rn
  FROM counts
),
thresh AS (
  SELECT s, c AS t FROM ranked WHERE rn = {k + 1}
),
summaries AS (
  SELECT co.s, co.user_id, co.c - COALESCE(th.t, 0) AS m
  FROM counts co LEFT JOIN thresh th ON co.s = th.s
  WHERE co.c > COALESCE(th.t, 0)
),
merged AS (
  SELECT user_id, sum(m) AS m FROM summaries GROUP BY 1
),
bigt AS (
  SELECT COALESCE((
    SELECT m FROM merged ORDER BY m DESC, user_id
    LIMIT 1 OFFSET {k}
  ), 0) AS bt
),
sumt AS (SELECT CAST(COALESCE(sum(t), 0) AS BIGINT) AS st FROM thresh),
exact AS (
  SELECT user_id, count(*) AS exact FROM ev GROUP BY 1
)
SELECT m.user_id, e.exact,
       CAST(m.m - b.bt AS BIGINT) AS mg_est,
       CAST(e.exact - (m.m - b.bt) AS BIGINT) AS deficit,
       CAST(s.st + b.bt AS BIGINT) AS bound
FROM merged m
JOIN exact e ON m.user_id = e.user_id
CROSS JOIN bigt b
CROSS JOIN sumt s
WHERE m.m > b.bt
"""


W_TOPK_MG_SQL = _topk_mg_sql()


def w_lakehouse_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED under the driver's oracle — the PRODUCING
    half of the CDC story (`st_lakehouse_merge`/`st_lakehouse_mor`
    consume CDC; this derives it): `read_changes(v1, v3)` is the
    bag-exact row diff between two committed snapshots, every column
    plus `_change_type` ('insert' | 'delete'; an UPDATE is its
    delete+insert pair — the public-Delta reduction when no change
    files were stored at write time).

    The table takes two merges on top of its base commit: v2 updates
    every doc_id % 7 == 0 (score+1000, partition-stable) and inserts
    the doc_id+10⁶ keys for % 13; v3 updates every doc_id % 11 == 0
    with score·3 AND a MOVED partition (b' = (doc_id+1) % 4 — this
    round's allow_moves path), overwriting v2's +1000 on the %77
    overlap.  The diff is bag-exact via exceptAll, so the oracle —
    the same two EXCEPT ALLs over the base and final expressions —
    pins multiplicity, the overlap overwrite, and the moved keys'
    old-partition deletes in one hash.

    Scale shape: compute-from-data CDF — two snapshot scans + one
    hash-based bag anti-diff each; correct at any size, priced by
    the table not the change set (the O(changes) MoR-metadata fast
    path is the documented ROADMAP step, Delta's enable-CDF trade).
    [pins lakehouse.py: read_changes]"""
    from go_whisper_spark.lakehouse import merge_table, read_changes

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_lakecdf_")
    up2 = base.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang", (F.col("score") + 1000).alias("score"), "b",
    ).unionByName(
        base.where(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "lang",
            (F.col("score") * 2).alias("score"),
            ((F.col("doc_id") + 1000000) % 4).alias("b"),
        )
    )
    merge_table(spark, table, up2, key_cols=["doc_id"], part_col="b")
    up3 = base.where(F.col("doc_id") % 11 == 0).select(
        "doc_id", "lang",
        (F.col("score") * 3).alias("score"),
        ((F.col("doc_id") + 1) % 4).alias("b"),
    )
    merge_table(spark, table, up3, key_cols=["doc_id"], part_col="b")
    return read_changes(spark, table, from_version=1, to_version=3)


W_LAKEHOUSE_CDF_SQL = """
WITH base AS (
  SELECT doc_id % 4 AS b, doc_id, lang, CAST(n_chars AS BIGINT) AS score
  FROM documents
),
v3 AS (
  SELECT b, doc_id, lang, score FROM base
  WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
  UNION ALL
  SELECT b, doc_id, lang, score + 1000 FROM base
  WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
  UNION ALL
  SELECT (doc_id + 1) % 4, doc_id, lang, score * 3 FROM base
  WHERE doc_id % 11 = 0
  UNION ALL
  SELECT (doc_id + 1000000) % 4, doc_id + 1000000, lang, score * 2
  FROM base WHERE doc_id % 13 = 0
)
SELECT *, 'delete' AS _change_type
FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM v3)
UNION ALL
SELECT *, 'insert' AS _change_type
FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM base)
"""


def w_lakehouse_cdf_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(changes) CDF fast path under the driver's oracle — the
    ROADMAP step named the same session `w_lakehouse_cdf` landed:
    when every commit in the range is equality merge-on-read, the
    changed-key set comes from the dv/delta METADATA dirs and the
    feed diffs only those keys' endpoint rows — the table is never
    diffed (Delta's enable-CDF read side).

    Ops on the silver documents table: v2 = MoR upsert (score+1000
    for doc_id % 7), v3 = MoR delete (doc_id % 5) — so the %35
    overlap exercises upsert-then-delete netting to the pre-image
    delete, with zero base rewrites anywhere.  `read_changes_mor(v1,
    v3)` must equal the full bag diff the oracle computes from the
    base and final expressions: deletes = original rows of (%7 ∪ %5)
    keys minus the survivors, inserts = the %7-not-%5 post-images.

    Scale shape: changed keys = O(changes) metadata reads; endpoint
    scans carry a broadcast key semi-join (bloom/zone-map prunable);
    the bag diff runs over O(changed rows).  [pins lakehouse.py:
    read_changes_mor]"""
    from go_whisper_spark.lakehouse import read_changes_mor

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_lakecdfm_")
    _upsert_then_delete(spark, table, base)
    return read_changes_mor(spark, table, key_cols=["doc_id"],
                            from_version=1, to_version=3)


W_LAKEHOUSE_CDF_MOR_SQL = """
WITH base AS (
  SELECT doc_id % 4 AS b, doc_id, lang, CAST(n_chars AS BIGINT) AS score
  FROM documents
),
v3 AS (
  SELECT b, doc_id, lang, score FROM base
  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
  UNION ALL
  SELECT b, doc_id, lang, score + 1000 FROM base
  WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
)
SELECT *, 'delete' AS _change_type
FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM v3)
UNION ALL
SELECT *, 'insert' AS _change_type
FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM base)
"""


def w_lakehouse_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized-view maintenance from the change data
    feed — the CONSUMING end that makes CDF pay at 100 TB: a
    downstream aggregate view (per-lang doc count + score sum) is
    materialized ONCE from the v1 snapshot, the table then takes the
    `w_lakehouse_cdf_mor` change set (MoR upsert %7, MoR delete %5),
    and the refresh applies the O(changes) feed as SIGNED delta
    aggregates merged into the view — the base table is never
    re-aggregated.  This is the standard incremental view
    maintenance reduction (count/sum are self-maintainable under
    insert/delete — Gupta & Mumick's classic taxonomy): insert rows
    contribute (+1, +score), delete rows (−1, −score), groups
    folding to zero count are DROPPED (a lang whose every doc was
    deleted must vanish, not linger as a zero row).

    The oracle recomputes the view from the FINAL snapshot
    expression directly — so the incremental path (initial
    materialization + signed-delta merge over the metadata-derived
    feed) and the recompute path are two independent formulations
    that must agree to the cent.

    Scale shape: the initial materialization is one map-combined
    aggregate (paid once); each refresh is O(changed rows) feed read
    (`read_changes_mor`'s audited plan) + an O(changed groups)
    signed aggregate + a broadcast merge into the O(groups) view —
    refresh cost tracks the CHANGE RATE, not the table.  [pins
    lakehouse.py: read_changes_mor as a view-maintenance feed]"""
    from go_whisper_spark.lakehouse import read_changes_mor, read_table

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_lakemv_")
    # the ONE full aggregate this view ever pays (v1 materialization)
    mv = materialize(_mv_count_sum_view(read_table(spark, table, version=1)),
                     "w_lakehouse_mv:v1 view")
    _upsert_then_delete(spark, table, base)
    return _mv_count_sum_refresh(
        mv, read_changes_mor(spark, table, key_cols=["doc_id"],
                             from_version=1, to_version=3))


def _mv_count_sum_view(snapshot: DataFrame) -> DataFrame:
    """(lang, n_docs, sum_score) from a snapshot — the
    self-maintainable view of `w_lakehouse_mv` and `st_lakehouse_mv`."""
    return snapshot.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("score").alias("sum_score"))


def _mv_count_sum_refresh(view: DataFrame, feed: DataFrame) -> DataFrame:
    """Fold a change feed into `_mv_count_sum_view` as SIGNED deltas
    (insert +1/+score, delete −1/−score); groups folding to zero count
    drop."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)) \
            .otherwise(F.lit(-1))
    delta = (
        feed.groupBy("lang")
        .agg(F.sum(sign).alias("d_n"),
             F.sum(sign * F.col("score")).alias("d_score"))
    )
    # no broadcast hint: Spark cannot broadcast a FULL-OUTER join, so
    # it plans as a key-shuffled merge of two GROUP-cardinality
    # relations — O(langs), the permitted SMJ the plan spec documents
    return (
        view.join(delta, "lang", "full_outer")
        .select(
            "lang",
            (F.coalesce("n_docs", F.lit(0))
             + F.coalesce("d_n", F.lit(0))).alias("n_docs"),
            (F.coalesce("sum_score", F.lit(0))
             + F.coalesce("d_score", F.lit(0))).alias("sum_score"),
        )
        .where(F.col("n_docs") > 0)
    )


W_LAKEHOUSE_MV_SQL = """
WITH base AS (
  SELECT doc_id % 4 AS b, doc_id, lang, CAST(n_chars AS BIGINT) AS score
  FROM documents
),
v3 AS (
  SELECT b, doc_id, lang, score FROM base
  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
  UNION ALL
  SELECT b, doc_id, lang, score + 1000 FROM base
  WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
)
SELECT lang, count(*) AS n_docs, CAST(sum(score) AS BIGINT) AS sum_score
FROM v3 GROUP BY lang
"""


def _mv_minmax_view(snapshot: DataFrame) -> DataFrame:
    """Exact (lang, n_docs, max_score, n_at_max, min_score, n_at_min)
    from a snapshot — the TIE-AWARE min/max view, BOTH extremes
    (round 19: Gupta & Mumick's non-self-maintainable class is MIN
    *and* MAX; the r18 view carried only the max side).  `n_at_max`
    / `n_at_min` (how many rows hold each group extreme) are the
    extra state that lets a refresh PROVE an extreme survives a
    delete of SOME holders: a side is endangered only when the
    batch's deletes cover ALL of its holders (round-18 refinement of
    the conservative any-tying-delete rule, VERDICT r17 item 2).
    One window + one agg over the same lang-hash partitioning — a
    single shuffle, unchanged by the second extreme."""
    w = Window.partitionBy("lang")
    return (
        snapshot.withColumn("_mx", F.max("score").over(w))
        .withColumn("_mn", F.min("score").over(w))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.max("score").alias("max_score"),
             F.sum((F.col("score") == F.col("_mx")).cast("long"))
             .alias("n_at_max"),
             F.min("score").alias("min_score"),
             F.sum((F.col("score") == F.col("_mn")).cast("long"))
             .alias("n_at_min"))
    )


def _mv_minmax_refresh(view: DataFrame, feed: DataFrame,
                       snapshot: DataFrame,
                       with_flag: bool = True) -> DataFrame:
    """ONE min/max view refresh from a change feed — the
    safe/endangered/vanished classification shared VERBATIM by
    `w_lakehouse_mv_minmax` / `w_mv_minmax_ties` (batch, emit the
    `recomputed_max`/`recomputed_min` + `d_at_max`/`d_at_min` audit
    columns) and `st_mv_minmax` (per micro-batch, drops all four —
    the split is slicing-dependent), and pinned directly on crafted
    frames by
    tests/test_lakehouse.py::test_mv_minmax_refresh_classification.

    ``view``: (lang, n_docs, max_score, n_at_max, min_score,
    n_at_min) — exact at the feed's FROM version (build with
    `_mv_minmax_view`).  ``feed``:
    `read_changes_mor` rows (needs _change_type, lang, score).
    ``snapshot``: the table at the feed's TO version (consumed ONLY
    for endangered groups, via a LeftSemi prune).

    TIE-AWARE classification (round 18): a side is ENDANGERED iff
    the batch's deletes at its current extreme COVER every holder
    (d_at_max >= n_at_max; d_at_min >= n_at_min) — a delete of one
    of several tied holders stays on the O(changes) safe path,
    because a survivor proves the extreme.  The safe path also
    maintains n_at_max / n_at_min exactly: survivors-at-extreme
    minus deleted-at-extreme, plus inserts tying the new extreme;
    the endangered path re-derives BOTH sides from ONE pruned scan
    (a group endangered on either side pays the scan once and takes
    exact values for both extremes from it).  Measured on the
    coarsened-score ties rung at sf0.01: any-tying-delete endangered
    5/5 langs, coverage 0/5 (sf0.1: 4/5 -> 0/5) — the fallback-scan
    rate the `recomputed_max` ledger prices drops to zero wherever
    ties are common.

    ROUND 19 (VERDICT r18 item 2): the MIN side is maintained with
    the mirrored coverage rule — same extra state (one long per
    group), same single window/agg in the view, same join count in
    the refresh (each side's tying-insert and holder-delete counts
    fold into the already-present i_ext / d_at aggregates)."""
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)) \
            .otherwise(F.lit(-1))
    ins = feed.where(F.col("_change_type") == "insert")
    dels = feed.where(F.col("_change_type") == "delete")
    d_n = feed.groupBy("lang").agg(F.sum(sign).alias("d_n"))
    i_ext = ins.groupBy("lang").agg(F.max("score").alias("i_max"),
                                    F.min("score").alias("i_min"))
    # inserts that tie the batch-insert extremes — feed n_at_max /
    # n_at_min maintenance; O(changes), AQE sizes the tiny i_ext side
    i_at = (ins.join(i_ext, "lang")
            .groupBy("lang").agg(
                F.sum((F.col("score") == F.col("i_max")).cast("long"))
                .alias("i_at_max"),
                F.sum((F.col("score") == F.col("i_min")).cast("long"))
                .alias("i_at_min")))
    # deletes that hit the CURRENT extremes — COUNTED, not just
    # detected: the coverage rule needs how many holders died
    d_at = (dels.join(view.select("lang", "max_score", "min_score"),
                      "lang")
            .groupBy("lang").agg(
                F.sum((F.col("score") == F.col("max_score"))
                      .cast("long")).alias("d_at_max"),
                F.sum((F.col("score") == F.col("min_score"))
                      .cast("long")).alias("d_at_min")))
    merged = materialize(
        view.join(d_n, "lang", "full_outer")
        .join(i_ext, "lang", "left")
        .join(i_at, "lang", "left")
        .join(d_at, "lang", "left")
        .select(
            "lang",
            (F.coalesce("n_docs", F.lit(0))
             + F.coalesce("d_n", F.lit(0))).alias("n_docs"),
            "max_score", "n_at_max", "min_score", "n_at_min",
            "i_max", "i_min",
            F.coalesce("i_at_max", F.lit(0)).alias("i_at_max"),
            F.coalesce("i_at_min", F.lit(0)).alias("i_at_min"),
            F.coalesce("d_at_max", F.lit(0)).alias("d_at_max"),
            F.coalesce("d_at_min", F.lit(0)).alias("d_at_min"),
            # a side is ENDANGERED iff the deletes cover EVERY
            # current holder of its extreme — only then can the view
            # not prove the extreme survives.  A group ABSENT from
            # the view (all-new lang, NULL n_at_* -> NULL -> 0) is
            # safe: its extremes are the batch-insert extremes by
            # construction.
            F.coalesce(
                (F.coalesce("d_at_max", F.lit(0))
                 >= F.col("n_at_max")).cast("long"),
                F.lit(0)).alias("recomputed_max"),
            F.coalesce(
                (F.coalesce("d_at_min", F.lit(0))
                 >= F.col("n_at_min")).cast("long"),
                F.lit(0)).alias("recomputed_min"),
        )
        .where(F.col("n_docs") > 0),    # VANISHED groups drop
        "mv_minmax_refresh:merged view",
    )
    risky_flag = (F.col("recomputed_max") + F.col("recomputed_min")) > 0
    risky = merged.where(risky_flag).select("lang")
    w = Window.partitionBy("lang")
    recomp = (
        snapshot.join(risky, "lang", "left_semi")
        .withColumn("_mx", F.max("score").over(w))
        .withColumn("_mn", F.min("score").over(w))
        .groupBy("lang")
        .agg(F.max("score").alias("r_max"),
             F.sum((F.col("score") == F.col("_mx")).cast("long"))
             .alias("r_at_max"),
             F.min("score").alias("r_min"),
             F.sum((F.col("score") == F.col("_mn")).cast("long"))
             .alias("r_at_min"))
    )
    safe_max = F.greatest(F.coalesce("max_score", F.col("i_max")),
                          F.coalesce("i_max", F.col("max_score")))
    safe_min = F.least(F.coalesce("min_score", F.col("i_min")),
                       F.coalesce("i_min", F.col("min_score")))
    out = (
        merged.join(recomp, "lang", "left")
        .withColumn("_risky", risky_flag)
        .withColumn(
            "_new_max",
            F.when(F.col("_risky"), F.col("r_max")).otherwise(safe_max))
        .withColumn(
            "_new_min",
            F.when(F.col("_risky"), F.col("r_min")).otherwise(safe_min))
        .select(
            "lang", "n_docs",
            F.col("_new_max").alias("max_score"),
            # n_at_* maintenance: surviving holders (only if the old
            # extreme IS still the extreme) + inserts tying the new
            # extreme; groups that paid the scan take its exact
            # counts for BOTH sides
            F.when(F.col("_risky"), F.col("r_at_max"))
            .otherwise(
                F.coalesce(
                    F.when(F.col("_new_max") == F.col("max_score"),
                           F.col("n_at_max") - F.col("d_at_max")),
                    F.lit(0))
                + F.coalesce(
                    F.when(F.col("_new_max") == F.col("i_max"),
                           F.col("i_at_max")),
                    F.lit(0)))
            .alias("n_at_max"),
            F.col("_new_min").alias("min_score"),
            F.when(F.col("_risky"), F.col("r_at_min"))
            .otherwise(
                F.coalesce(
                    F.when(F.col("_new_min") == F.col("min_score"),
                           F.col("n_at_min") - F.col("d_at_min")),
                    F.lit(0))
                + F.coalesce(
                    F.when(F.col("_new_min") == F.col("i_min"),
                           F.col("i_at_min")),
                    F.lit(0)))
            .alias("n_at_min"),
            "d_at_max", "d_at_min",
            "recomputed_max", "recomputed_min",
        )
    )
    return out if with_flag else out.drop(
        "d_at_max", "d_at_min", "recomputed_max", "recomputed_min")


def w_lakehouse_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance at its HONEST BOUNDARY — MAX is
    NOT self-maintainable under deletes (Gupta & Mumick's taxonomy:
    count/sum fold signed deltas, `w_lakehouse_mv`; min/max cannot —
    the view does not know the runner-up when its extreme is
    deleted).  This rung maintains a per-lang (n_docs, max_score,
    min_score) view — BOTH extremes since round 19 (VERDICT r18
    item 2: Gupta & Mumick's class is MIN *and* MAX) — through the
    same change set with the standard production answer: classify
    each group PER SIDE from the FEED alone —

      * SAFE (no deleted row carried the group's current max): the
        old extreme provably survives, so
        new_max = greatest(old_max, batch-insert max) — O(changes),
        no base read;
      * ENDANGERED (some delete ties the current max — the extreme
        holder may be gone): recompute max for THOSE groups only,
        via a semi-join-pruned scan of the final snapshot —
        O(endangered groups' rows), never the table;
      * VANISHED (count folds to zero): the group drops.

    The `recomputed_max` / `recomputed_min` columns ship IN the view
    — the audit artifacts that price the fallback rate PER SIDE
    (measured at sf0.01: max fires 2/5 langs, min 1/5; sf0.1: max
    1/5, min 2/5 — the 1-in-5 delete sample only sometimes catches a
    holder, independently per extreme; the oracle re-derives both
    flags from first principles: v1 holders vs net deletes).  A
    group endangered on EITHER side pays ONE pruned scan that
    re-derives both extremes exactly.  n_docs stays the signed-delta
    fold (count IS self-maintainable — the two taxonomy classes
    coexist in one refresh).  Oracle: the final view recomputed from
    the snapshot expression + the flag derivation — two independent
    formulations.

    ROUND 18: the classification is TIE-AWARE — the view carries
    `n_at_max` (how many rows hold the max) and a side is endangered
    only when the deletes COVER every holder, so a delete of one of
    several tied holders stays on the safe path.  On the raw score
    both extremes' holders are unique in every lang at both SFs
    (measured n_at_max = n_at_min = 1), so the flags here are
    unchanged from the any-tying-delete rule; `w_mv_minmax_ties`
    runs the SAME machinery on a coarsened score where ties are
    common and measures the fallback-rate drop (max: 5/5 -> 0/5
    langs at sf0.01; min: 0/5 under coverage at both SFs with
    n_at_min up to 34).

    Scale shape: feed read is the audited O(changes) plan; the flag
    derivation is one O(changed groups) aggregate joined to the
    O(groups) view; the fallback scan is semi-join-pruned to
    endangered groups.  [pins lakehouse.py: read_changes_mor;
    the Gupta-Mumick non-self-maintainability boundary]"""
    return _mv_minmax_run(spark, sf_dir, coarse=False)


def w_mv_minmax_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tie-aware min/max maintenance MEASUREMENT rung — the
    `w_lakehouse_mv_minmax` machinery verbatim on a COARSENED score
    (`n_chars div 64`) where group extremes are held by several rows
    (measured at the max: n_at_max 3-12 at sf0.01, 40-53 at sf0.1
    except en; at the min: n_at_min 1-4 at sf0.01, 7-34 at sf0.1):
    under the r17 any-tying-delete rule every lang with a tied
    holder in the delete sample paid the fallback scan (5/5 langs at
    sf0.01, 4/5 at sf0.1); under the coverage rule (deletes must
    kill ALL holders) BOTH `recomputed_max` and `recomputed_min` are
    0 everywhere at both SFs — the forcing artifact for shipping
    `n_at_max`/`n_at_min` in the view, exactly the knob-sweep
    discipline (`d_lsh_tuning`, `m_ahash_tuning`) applied to a
    maintenance policy.  `d_at_max`/`d_at_min` ship alongside so the
    ledger shows the deletes the rule survived (up to 20 min-holder
    deletes in one lang at sf0.1, all proven safe by survivors).

    The cross-engine value is the SAFE-PATH TIE ARITHMETIC: with
    every group safe, n_at_max' = holders − deleted-at-max + inserts
    tying the new max (and the min-side mirror) must match the
    oracle's from-scratch v3 count — a wrong survivor fold turns the
    hash red.  [pins _mv_minmax_refresh under real ties; Gupta &
    Mumick boundary]"""
    return _mv_minmax_run(spark, sf_dir, coarse=True)


def _mv_minmax_run(spark: SparkSession, sf_dir: str,
                   coarse: bool) -> DataFrame:
    """Shared body of `w_lakehouse_mv_minmax` (raw score) and
    `w_mv_minmax_ties` (score div 64): stage the silver table, build
    the v1 tie-aware view, land the %7 MoR upserts (+1000) and %5
    deletes, refresh from the v1->v3 feed."""
    from go_whisper_spark.lakehouse import (
        read_changes_mor,
        read_table,
        read_table_mor,
    )

    base = _silver_docs_base(spark, sf_dir)
    if coarse:
        base = base.withColumn("score", F.expr("score div 64"))
    table = _stage_silver(spark, base, "gws_lakemvx_")
    mv = materialize(_mv_minmax_view(read_table(spark, table, version=1)),
                     "mv_minmax:v1 view")
    _upsert_then_delete(spark, table, base)
    feed = materialize(read_changes_mor(spark, table, key_cols=["doc_id"],
                                        from_version=1, to_version=3),
                       "mv_minmax:feed")
    return _mv_minmax_refresh(
        mv, feed, read_table_mor(spark, table, key_cols=["doc_id"]))


def _w_lakehouse_mv_minmax_sql(with_flag: bool = True,
                               coarse: bool = False) -> str:
    """Oracle for the min/max view family, re-derived from first
    principles (from-scratch v3 aggregation + the coverage-rule flag
    from v1 holders vs feed deletes, per extreme).  ``with_flag=False``
    drops the `recomputed_max`/`recomputed_min`/`d_at_max`/`d_at_min`
    columns — the STREAMED form
    (`st_mv_minmax`) reaches the same exact view but its
    safe/endangered split depends on micro-batch slicing, so only
    the view itself is oracle-comparable (the `st_labelprop`
    convention).  ``coarse`` selects `w_mv_minmax_ties`'s
    div-64 score."""
    score = "CAST(n_chars AS BIGINT)"
    if coarse:
        score += " // 64"
    flag = (
        """,
       CAST(COALESCE(h.dk, 0) AS BIGINT) AS d_at_max,
       CAST(COALESCE(hn.dkn, 0) AS BIGINT) AS d_at_min,
       CAST(CASE WHEN COALESCE(h.dk, 0) >= h.k1 THEN 1 ELSE 0 END
            AS BIGINT) AS recomputed_max,
       CAST(CASE WHEN COALESCE(hn.dkn, 0) >= hn.k1n THEN 1 ELSE 0 END
            AS BIGINT) AS recomputed_min"""
        if with_flag else ""
    )
    return f"""
WITH base AS (
  SELECT doc_id % 4 AS b, doc_id, lang, {score} AS score
  FROM documents
),
mx1 AS (SELECT lang, max(score) AS m1 FROM base GROUP BY lang),
mn1 AS (SELECT lang, min(score) AS m1n FROM base GROUP BY lang),
hold1 AS (
  -- v1 max holders, and how many of them the feed's net deletes
  -- remove (%5 deletes + the %7 upserts' old versions): the
  -- coverage rule endangers a side only when dk >= k1
  SELECT b.lang, count(*) AS k1,
         sum(CASE WHEN b.doc_id % 5 = 0 OR b.doc_id % 7 = 0
             THEN 1 ELSE 0 END) AS dk
  FROM base b JOIN mx1 m ON b.lang = m.lang AND b.score = m.m1
  GROUP BY b.lang
),
hold1n AS (
  -- v1 MIN holders, mirrored (round 19: both extremes maintained)
  SELECT b.lang, count(*) AS k1n,
         sum(CASE WHEN b.doc_id % 5 = 0 OR b.doc_id % 7 = 0
             THEN 1 ELSE 0 END) AS dkn
  FROM base b JOIN mn1 m ON b.lang = m.lang AND b.score = m.m1n
  GROUP BY b.lang
),
v3 AS (
  SELECT b, doc_id, lang, score FROM base
  WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
  UNION ALL
  SELECT b, doc_id, lang, score + 1000 FROM base
  WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
),
mx3 AS (SELECT lang, max(score) AS m3 FROM v3 GROUP BY lang),
mn3 AS (SELECT lang, min(score) AS m3n FROM v3 GROUP BY lang)
SELECT v.lang,
       count(*) AS n_docs,
       CAST(max(v.score) AS BIGINT) AS max_score,
       CAST(sum(CASE WHEN v.score = x.m3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_max,
       CAST(min(v.score) AS BIGINT) AS min_score,
       CAST(sum(CASE WHEN v.score = y.m3n THEN 1 ELSE 0 END) AS BIGINT)
         AS n_at_min{flag}
FROM v3 v
JOIN mx3 x ON v.lang = x.lang
JOIN mn3 y ON v.lang = y.lang
LEFT JOIN hold1 h ON v.lang = h.lang
LEFT JOIN hold1n hn ON v.lang = hn.lang
GROUP BY v.lang, h.dk, h.k1, hn.dkn, hn.k1n
"""


def w_lakehouse_cdf_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(changes) CDF fast path over POSITIONAL commits (VERDICT
    r15 item 2) — the same change set as `w_lakehouse_cdf_mor`
    spelled in the OTHER deletion dialect: the %5 delete ships as a
    positional deletion vector naming (directory, position) pairs
    instead of an equality key vector, and `read_changes_mor`
    resolves those tombstones to keys by scanning ONLY the addressed
    directories (a broadcast position semi-join per directory).
    Because the two dialects express the identical logical change,
    the feed — and therefore the oracle — is `w_lakehouse_cdf_mor`'s
    verbatim: equality vs positional is an ENCODING choice the CDF
    must be invariant to.

    Ops on the pos-stamped silver documents table: v1 =
    `commit_partitions_pos` (4 buckets, `_pos` minted per row), v2 =
    equality MoR upsert (score+1000 for doc_id % 7 — delta rows
    inherit `_pos` stamps), v3 = positional delete of EVERY physical
    row with doc_id % 5 == 0, addressed via `read_table_pos` across
    base AND delta dirs (pdv applies to seq <= its own, so both are
    named; the %35 base rows it names are already equality-shadowed
    — redundant tombstones must be harmless).

    Scale shape: changed keys = O(changes) metadata for dv/delta
    plus O(addressed dirs) scans for pdv resolution; endpoint scans
    carry the broadcast key semi-join; the bag diff runs over
    O(changed rows).  [pins lakehouse.py: read_changes_mor pdv
    branch / commit_partitions_pos / delete_rows_pos /
    read_table_pos]"""
    from go_whisper_spark.lakehouse import read_changes_mor

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_lakecdfp_", positional=True)
    _upsert_then_delete(spark, table, base)
    return read_changes_mor(spark, table, key_cols=["doc_id"],
                            from_version=1, to_version=3)


_BLOOMSKIP_PROBES = tuple(37 * i for i in range(8)) + tuple(
    10 ** 9 + i for i in range(4)
)


def w_lakehouse_bloomskip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER file skipping under the driver's oracle — the
    point-lookup complement of the min/max ledgers (`w_zorder_
    skipping` family): commit payloads carry a per-directory Bloom
    filter (k=4 md5 hashes into 4096 bits) over `doc_id`, and
    `read_table_lookup` prunes directories from METADATA alone — the
    Delta bloom-index / Iceberg metadata-skipping shape.

    The silver documents table is committed partitioned by lang (one
    dir per language) with `bloom_cols=["doc_id"]`.  Twelve probes —
    eight present at every SF, four impossible (doc_id ≥ 10⁹) — are
    answered two ways: `bloom_dirs` from the commit-log filters alone
    (zero data scanned), `true_dirs` from the pruned scan itself.
    The oracle recomputes BOTH from the raw table with the identical
    md5 bit-position spelling, so the pruning decision — including
    every false positive — is cross-engine-exact, and the no-false-
    negative law surfaces as bloom_dirs ≥ true_dirs on every row
    (violations hash-fail).

    Scale shape: the filter build is one distinct-aggregate per
    (directory, column) folded to ≤ 4096 ints — commit-payload-sized
    at ANY row count; the lookup is O(partitions) driver metadata
    (the same control-plane class as the manifest read) + a scan of
    only admitted directories.  At 100 TB with daily partitions the
    metadata probe replaces a full-table scan per point lookup —
    precisely Delta's bloom-index pitch.  [pins lakehouse.py:
    _bloom_stats / read_table_lookup / CommitLog bloom payload]"""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        _bloom_positions_py,
        commit_partitions,
        read_table_lookup,
    )
    from go_whisper_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    table = os.path.join(_tmpdir("gws_lakebloom_"),
                         "silver_docs")
    commit_partitions(
        spark, table,
        {f"lang={lg}": docs.where(F.col("lang") == lg) for lg in langs},
        base_version=0,
        bloom_cols=["doc_id"],
    )
    st = CommitLog(table).state()
    bloom, parts = st["bloom"], st["partitions"]
    probes = list(_BLOOMSKIP_PROBES)
    meta = spark.createDataFrame(
        [
            (
                k,
                sum(
                    1 for d in parts.values()
                    if _bloom_positions_py(k)
                    <= set(bloom.get(d, {}).get("doc_id", ()))
                ),
            )
            for k in probes
        ],
        "probe long, bloom_dirs long",
    )
    truth = (
        read_table_lookup(spark, table, "doc_id", probes)
        .groupBy(F.col("doc_id").alias("probe"))
        .agg(F.countDistinct("lang").alias("true_dirs"))
    )
    return meta.join(truth, "probe", "left").select(
        "probe", "bloom_dirs",
        F.coalesce("true_dirs", F.lit(0).cast("long")).alias("true_dirs"),
    )


W_LAKEHOUSE_BLOOMSKIP_SQL = f"""
WITH probes(probe) AS (
  VALUES {", ".join(f"({p})" for p in _BLOOMSKIP_PROBES)}
),
ks(i) AS (VALUES (0), (1), (2), (3)),
ppos AS (
  SELECT DISTINCT probe,
         CAST('0x' || substring(
           md5(CAST(i AS VARCHAR) || ':' || CAST(probe AS VARCHAR)),
           1, 8) AS BIGINT) % 4096 AS pos
  FROM probes, ks
),
npp AS (SELECT probe, count(*) AS np FROM ppos GROUP BY 1),
part_pos AS (
  SELECT DISTINCT lang,
         CAST('0x' || substring(
           md5(CAST(i AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)),
           1, 8) AS BIGINT) % 4096 AS pos
  FROM documents, ks
),
hits AS (
  SELECT p.probe, pl.lang, count(DISTINCT p.pos) AS m
  FROM ppos p JOIN part_pos pl ON p.pos = pl.pos
  GROUP BY 1, 2
),
bh AS (
  SELECT h.probe, count(*) AS bloom_dirs
  FROM hits h JOIN npp n ON h.probe = n.probe AND h.m = n.np
  GROUP BY 1
),
th AS (
  SELECT d.doc_id AS probe, count(DISTINCT d.lang) AS true_dirs
  FROM documents d JOIN probes p ON d.doc_id = p.probe
  GROUP BY 1
)
SELECT p.probe,
       CAST(COALESCE(b.bloom_dirs, 0) AS BIGINT) AS bloom_dirs,
       CAST(COALESCE(t.true_dirs, 0) AS BIGINT) AS true_dirs
FROM probes p
LEFT JOIN bh b ON p.probe = b.probe
LEFT JOIN th t ON p.probe = t.probe
"""


_OPT_BUCKETS = 16


def w_lakehouse_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER as a lakehouse VERB, its file-skipping WIN
    oracle-checked — the `w_zorder_skipping` math graduated from a
    simulated ledger to real committed directories: events are
    quantized onto the 32×32 (user, hour) grid, committed in ingest
    order (event_id % 8 — every directory spans the full grid, the
    unclustered shape every ingest produces), then `optimize_table`
    rewrites the WHOLE table into 16 Morton-value buckets as ONE
    atomic remove+add commit with fresh zone-map stats.

    The ledger answers the three standard boxes (user-slice,
    time-slice, 2-D) from METADATA alone, before and after: dirs_pre
    counts directories admitted by the ingest layout's min/max stats
    (all 8, every box — the point), dirs_post the optimized layout's
    (the z-range overlap only), n_rows the true matches.  The oracle
    re-derives all three from the raw table with the identical
    quantization + Morton + value-bucket spelling — so the VERB's
    measurable benefit, not just its content preservation, is
    cross-engine-pinned.

    Scale shape: bucket assignment is a pure map (bucket = z·K div
    |domain| — no global sort, no sampled boundaries; data-dependent
    sizes bounded by grid uniformity), one shuffle to cluster, one
    sortWithinPartitions so parquet row-group stats tighten too;
    stats/pruning are O(partitions) metadata.  OPTIMIZE's conflict
    footprint is the whole table (removes every old key) — the
    public Delta contract.  [pins lakehouse.py: optimize_table /
    read_table_range / _range_pruned / commit stats payload]"""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        _range_pruned,
        commit_partitions,
        optimize_table,
        read_table,
    )
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("unix_timestamp(ts) div 3600").alias("hr"),
    )
    b = ev.agg(
        F.max("user_id").alias("mu"),
        F.min("hr").alias("h0"),
        F.max("hr").alias("mh"),
    )
    q = materialize(ev.crossJoin(F.broadcast(b)).select(
        "event_id",
        F.expr(f"(user_id * {_Z_G}) div (mu + 1)").alias("qx"),
        F.expr(f"((hr - h0) * {_Z_G}) div (mh - h0 + 1)").alias("qt"),
    ), "w_lakehouse_optimize:quantized events")
    table = os.path.join(_tmpdir("gws_lakeopt_"),
                         "silver_events")
    # ADVICE r15: commit ONLY the non-empty ingest shards.  An empty
    # shard would be registered with [None, None] stats, which
    # _range_pruned conservatively admits — while the oracle's
    # pre_stats GROUP BY simply has no row for it, an off-by-one in
    # dirs_pre at any SF where some event_id % 8 class is absent
    # (optimize_table already skips empty buckets for the same
    # reason; the metadata-only distinct is 8 rows).
    live = sorted(
        r.d for r in
        q.select((F.col("event_id") % 8).alias("d")).distinct().collect()
    )
    commit_partitions(
        spark, table,
        {f"d={k}": q.where(F.col("event_id") % 8 == k) for k in live},
        base_version=0,
        minmax_cols=["qx", "qt"],
    )

    def admitted(st):
        return {
            name: sum(
                1 for d in st["partitions"].values()
                if not _range_pruned(
                    st["stats"].get(d, {}),
                    {"qx": (xl, xh), "qt": (tl, th)},
                )
            )
            for name, xl, xh, tl, th in _Z_BOXES
        }

    pre = admitted(CommitLog(table).state())
    optimize_table(
        spark, table,
        zvalue=F.expr(_z_interleave(spark=True)),
        z_domain=_Z_G * _Z_G,
        n_buckets=_OPT_BUCKETS,
        minmax_cols=["qx", "qt"],
    )
    post = admitted(CommitLog(table).state())
    meta = spark.createDataFrame(
        [(name, pre[name], post[name]) for name, *_ in _Z_BOXES],
        "box string, dirs_pre long, dirs_post long",
    )
    boxes = spark.createDataFrame(
        list(_Z_BOXES),
        "box string, x_lo long, x_hi long, t_lo long, t_hi long",
    )
    truth = (
        read_table(spark, table)
        .crossJoin(F.broadcast(boxes))
        .where(F.col("qx").between(F.col("x_lo"), F.col("x_hi"))
               & F.col("qt").between(F.col("t_lo"), F.col("t_hi")))
        .groupBy("box")
        .agg(F.count("*").alias("n_rows"))
    )
    return meta.join(F.broadcast(truth), "box", "left").select(
        "box", "dirs_pre", "dirs_post",
        F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"),
    )


W_LAKEHOUSE_OPTIMIZE_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id,
         (epoch_ns(ts) // 1000000000) // 3600 AS hr
  FROM events
),
b AS (SELECT max(user_id) AS mu, min(hr) AS h0, max(hr) AS mh FROM ev),
q AS (
  SELECT event_id,
         (user_id * {_Z_G}) // (mu + 1) AS qx,
         ((hr - h0) * {_Z_G}) // (mh - h0 + 1) AS qt
  FROM ev, b
),
pre_stats AS (
  SELECT event_id % 8 AS d,
         min(qx) AS x_min, max(qx) AS x_max,
         min(qt) AS t_min, max(qt) AS t_max
  FROM q GROUP BY 1
),
zb AS (
  SELECT qx, qt,
         (({_z_interleave(spark=False)}) * {_OPT_BUCKETS})
           // {_Z_G * _Z_G} AS bkt
  FROM q
),
post_stats AS (
  SELECT bkt,
         min(qx) AS x_min, max(qx) AS x_max,
         min(qt) AS t_min, max(qt) AS t_max
  FROM zb GROUP BY 1
),
boxes(box, x_lo, x_hi, t_lo, t_hi) AS (
  VALUES {", ".join(f"('{n}', {xl}, {xh}, {tl}, {th})"
                    for n, xl, xh, tl, th in _Z_BOXES)}
),
pre AS (
  SELECT box, count(*) AS dirs_pre
  FROM boxes b JOIN pre_stats s
    ON NOT (s.x_max < b.x_lo OR s.x_min > b.x_hi
            OR s.t_max < b.t_lo OR s.t_min > b.t_hi)
  GROUP BY 1
),
post AS (
  SELECT box, count(*) AS dirs_post
  FROM boxes b JOIN post_stats s
    ON NOT (s.x_max < b.x_lo OR s.x_min > b.x_hi
            OR s.t_max < b.t_lo OR s.t_min > b.t_hi)
  GROUP BY 1
),
truth AS (
  SELECT box, count(*) AS n_rows
  FROM boxes b JOIN q
    ON qx BETWEEN b.x_lo AND b.x_hi AND qt BETWEEN b.t_lo AND b.t_hi
  GROUP BY 1
)
SELECT b.box,
       CAST(COALESCE(pre.dirs_pre, 0) AS BIGINT) AS dirs_pre,
       CAST(COALESCE(post.dirs_post, 0) AS BIGINT) AS dirs_post,
       CAST(COALESCE(truth.n_rows, 0) AS BIGINT) AS n_rows
FROM boxes b
LEFT JOIN pre ON b.box = pre.box
LEFT JOIN post ON b.box = post.box
LEFT JOIN truth ON b.box = truth.box
"""


def _stage_two_specs(spark: SparkSession, d: DataFrame, prefix: str):
    """Stage a documents frame ``d`` under an EVOLVED partition spec:
    v1 range-buckets the old half (``rb = doc_id * 4 div split`` for
    doc_id < split = max // 2), v2 lang-partitions the new half, both
    commits carrying (doc_id, lang) zone maps.  Only non-empty keys
    are committed (the w_lakehouse_optimize empty-shard rule).
    Returns (table, split, max doc_id)."""
    from go_whisper_spark.lakehouse import commit_partitions

    mx = int(d.agg(F.max("doc_id")).first()[0])
    split = mx // 2
    g1 = d.where(F.col("doc_id") < split).withColumn(
        "rb", F.expr(f"(doc_id * 4) div {split}"))
    g2 = d.where(F.col("doc_id") >= split)
    table = os.path.join(_tmpdir(prefix), "silver_docs")
    rbs = sorted(r.rb for r in g1.select("rb").distinct().collect())
    commit_partitions(
        spark, table,
        {f"rb={k}": g1.where(F.col("rb") == k).drop("rb") for k in rbs},
        base_version=0,
        minmax_cols=["doc_id", "lang"],
    )
    langs = sorted(r.lang for r in g2.select("lang").distinct().collect())
    commit_partitions(
        spark, table,
        {f"lang={lg}": g2.where(F.col("lang") == lg) for lg in langs},
        base_version=1,
        minmax_cols=["doc_id", "lang"],
    )
    return table, split, mx


def w_lakehouse_partevolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION under the driver's oracle — Iceberg's
    headline metadata feature: generation 1 of the silver documents
    table is ingested under the OLD spec (4 doc_id-range buckets,
    `rb=K`), generation 2 under the EVOLVED spec (one directory per
    lang, `lang=L`) — and neither generation is ever rewritten.  The
    layer needs no new machinery for this: partition keys are opaque
    strings and zone-map stats are per-DIRECTORY, so the two specs
    coexist in one manifest and `read_table_range` prunes each
    generation by whatever its own stats can prove (the Iceberg
    partition-spec-id story, expressed through stats alone).

    The ledger answers three probes from METADATA, each showing a
    different evolution lesson: `old_slice` (a doc_id range below
    the split) prunes gen2 ENTIRELY via its doc_id stats and keeps
    one gen1 range bucket — old-spec pruning still works; `lang_en`
    prunes gen2 to exactly its lang=en directory while admitting
    every gen1 directory whose [min,max] lang range covers 'en' —
    the new key prunes new data sharply and old data only as far as
    its accidental stats allow (the reason Iceberg does NOT require
    rewriting history on spec change); `new_en` composes both
    predicates.  The oracle re-derives the admitted-directory counts
    AND the true row counts from the raw table with the identical
    split/bucket/stat spelling, so the pruning decisions are
    cross-engine-exact.

    Scale shape: the split scalar and distinct-key lists are
    control-plane; stats/pruning are O(partitions) metadata; the
    truth pass is one stats-pruned scan per box.  [pins lakehouse.py:
    commit_partitions heterogeneous-spec coexistence /
    read_table_range / _range_pruned]"""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        _range_pruned,
        read_table_range,
    )
    from go_whisper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    table, split, mx = _stage_two_specs(spark, d, "gws_lakepe_")
    boxes = [
        ("old_slice", 0, split // 4, None, None),
        ("lang_en", None, None, "en", "en"),
        ("new_en", split, mx, "en", "en"),
    ]
    st = CommitLog(table).state()
    rows = []
    for name, ilo, ihi, llo, lhi in boxes:
        preds = {}
        if ilo is not None:
            preds["doc_id"] = (ilo, ihi)
        if llo is not None:
            preds["lang"] = (llo, lhi)
        admitted = sum(
            1 for dd in st["partitions"].values()
            if not _range_pruned(st["stats"].get(dd, {}), preds)
        )
        n = read_table_range(spark, table, preds).count()
        rows.append((name, admitted, n))
    return spark.createDataFrame(
        rows, "box string, dirs_admitted long, n_rows long")


W_LAKEHOUSE_PARTEVOLVE_SQL = """
WITH d AS (SELECT doc_id, lang FROM documents),
sp AS (SELECT max(doc_id) // 2 AS split, max(doc_id) AS m FROM d),
g1 AS (
  SELECT 'rb=' || CAST((doc_id * 4) // split AS VARCHAR) AS k,
         doc_id, lang
  FROM d, sp WHERE doc_id < split
),
g2 AS (
  SELECT 'lang=' || lang AS k, doc_id, lang
  FROM d, sp WHERE doc_id >= split
),
stats AS MATERIALIZED (
  SELECT k, min(doc_id) AS id_lo, max(doc_id) AS id_hi,
         min(lang) AS la_lo, max(lang) AS la_hi
  FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)
  GROUP BY k
),
boxes AS (
  SELECT 'old_slice' AS box, 0 AS id_lo, split // 4 AS id_hi,
         CAST(NULL AS VARCHAR) AS l_lo, CAST(NULL AS VARCHAR) AS l_hi
  FROM sp
  UNION ALL
  SELECT 'lang_en', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         'en', 'en' FROM sp
  UNION ALL
  SELECT 'new_en', split, m, 'en', 'en' FROM sp
),
pre AS (
  SELECT b.box, count(*) AS dirs_admitted
  FROM boxes b JOIN stats s
    ON NOT (b.id_lo IS NOT NULL
            AND (s.id_hi < b.id_lo OR s.id_lo > b.id_hi))
   AND NOT (b.l_lo IS NOT NULL
            AND (s.la_hi < b.l_lo OR s.la_lo > b.l_hi))
  GROUP BY 1
),
truth AS (
  SELECT b.box, count(*) AS n_rows
  FROM boxes b JOIN d
    ON (b.id_lo IS NULL OR d.doc_id BETWEEN b.id_lo AND b.id_hi)
   AND (b.l_lo IS NULL OR d.lang BETWEEN b.l_lo AND b.l_hi)
  GROUP BY 1
)
SELECT b.box,
       CAST(COALESCE(pre.dirs_admitted, 0) AS BIGINT) AS dirs_admitted,
       CAST(COALESCE(truth.n_rows, 0) AS BIGINT) AS n_rows
FROM boxes b
LEFT JOIN pre ON b.box = pre.box
LEFT JOIN truth ON b.box = truth.box
"""


def w_lakehouse_partevolve_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of partition-spec evolution (VERDICT r16 item 6)
    — `w_lakehouse_partevolve` pinned reads over mixed-generation
    layouts; this pins what a WRITER may do to one.  The table is the
    same two-generation silver: gen1 under the old spec (4
    doc_id-range buckets, `rb=K`), gen2 under the evolved spec
    (`lang=L`), neither ever rewritten.  Then an upsert batch
    (n_chars bump on doc_id % 7 == 0 — members of BOTH generations —
    plus 20 brand-new `zz` rows) exercises both write paths:

    * the PARTITION-ADDRESSED path (`merge_table(part_col='lang')`)
      REFUSES — the scheme guard sees live `rb=` keys outside the
      `lang=` scheme and raises instead of rewriting only the lang
      generation (which would leave every gen1 match as a stale
      duplicate).  `merge_refused` pins the refusal BEHAVIORALLY: if
      the guard ever regressed, the merge would commit, the resolved
      read would double the gen1 matches, and every count below
      would go red cross-engine.
    * the KEY-ADDRESSED MoR path (`upsert_rows_mor`) is the
      layout-agnostic answer to "which generation do new rows land
      in": NEITHER — the batch lands as its own delta+dv generation
      at a fresh sequence, updates shadow their old versions in
      whichever spec's directory holds them, and `dirs_unrewritten`
      pins that every original directory of BOTH specs is still live
      byte-for-byte (= n_rb_buckets + n_langs, re-derived in SQL).

    The conflict contract across specs is pytest-pinned
    (tests/test_lakehouse.py::test_partevolve_racing_writers): key
    overlap conflicts regardless of which spec minted the key, MoR
    racers coexist by sequence, and the refusal is spec-order-
    independent.  Oracle: the resolved read re-derived relationally
    (updates ∪ untouched ∪ inserts), per-lang.
    [pins lakehouse.py: merge_table scheme guard / upsert_rows_mor /
    read_table_mor across heterogeneous specs]"""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        merge_table,
        read_table_mor,
        upsert_rows_mor,
    )
    from go_whisper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    table, _, mx = _stage_two_specs(spark, d, "gws_lakepem_")
    pre = dict(CommitLog(table).state()["partitions"])

    chars_t = dict(d.dtypes)["n_chars"]
    updates = (
        d.where(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang",
                (F.col("n_chars") + 1000).alias("n_chars"))
        .unionByName(
            spark.range(1, 21).select(
                (F.lit(mx) + F.col("id")).alias("doc_id"),
                F.lit("zz").alias("lang"),
                (F.lit(100) + F.col("id")).cast(chars_t).alias("n_chars"),
            ))
    )
    try:
        merge_table(spark, table, updates, key_cols=["doc_id"],
                    part_col="lang")
        refused = 0
    except ValueError:
        refused = 1
    upsert_rows_mor(spark, table, updates, key_cols=["doc_id"])
    post = CommitLog(table).state()["partitions"]
    unrewritten = sum(1 for k, dd in pre.items() if post.get(k) == dd)
    return (
        read_table_mor(spark, table, key_cols=["doc_id"])
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").alias("sum_chars"))
        .select(
            "lang", "n_docs", "sum_chars",
            F.lit(refused).cast("long").alias("merge_refused"),
            F.lit(unrewritten).cast("long").alias("dirs_unrewritten"),
        )
    )


W_LAKEHOUSE_PARTEVOLVE_MERGE_SQL = """
WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
mx AS (SELECT max(doc_id) AS m FROM d),
sp AS (SELECT m // 2 AS split FROM mx),
upd AS (
  SELECT doc_id, lang, n_chars + 1000 AS n_chars
  FROM d WHERE doc_id % 7 = 0
  UNION ALL
  SELECT m + i, 'zz', 100 + i FROM mx, generate_series(1, 20) AS g(i)
),
fin AS (
  SELECT * FROM upd
  UNION ALL
  SELECT * FROM d WHERE doc_id % 7 <> 0
),
dirs AS (
  SELECT (SELECT count(DISTINCT (doc_id * 4) // split)
          FROM d, sp WHERE doc_id < split)
       + (SELECT count(DISTINCT lang)
          FROM d, sp WHERE doc_id >= split) AS n
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(1 AS BIGINT) AS merge_refused,
       (SELECT CAST(n AS BIGINT) FROM dirs) AS dirs_unrewritten
FROM fin
GROUP BY lang
"""


def w_lakehouse_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE under the driver's oracle — zero-copy table
    forking (public Delta's ``SHALLOW CLONE``): the silver documents
    table is cloned at v1 (pure metadata — the clone's manifest
    references the source's directories), then BOTH tables diverge by
    copy-on-write merges touching DIFFERENT partitions (src: +100 on
    b=0 ∧ doc_id%9=0; clone: +200 on b=1 ∧ doc_id%11=0).  The ledger
    pins the three clone laws at once: ISOLATION (each side's
    per-lang aggregate reflects only its own merge — the oracle
    recomputes both sides independently from the raw table),
    ZERO-COPY (``shared_dirs`` counts the clone's directories that
    are STILL the source-v1 directories byte-for-byte — 4 minus the
    one partition the clone's merge rewrote; cross-checked in SQL as
    4 − |buckets the clone-merge touches|), and full metadata
    fidelity (the clone reads through the same manifest machinery
    with the source's schema/stats payload — pytest covers the
    stat-pruned path and the documented vacuum trade).

    Scale shape: the clone is O(partitions) metadata — at 100 TB a
    fork for an experiment costs a manifest write, and divergence
    pays only for partitions actually rewritten.  [pins lakehouse.py:
    clone_table / merge_table divergence]"""
    from go_whisper_spark.lakehouse import (
        CommitLog,
        clone_table,
        merge_table,
        read_table,
    )

    base = _silver_docs_base(spark, sf_dir)
    src = _stage_silver(spark, base, "gws_lakeclone_")
    dst = os.path.join(os.path.dirname(src), "silver_docs_fork")
    clone_table(src, dst)
    v1_dirs = set(CommitLog(src).state(at_version=1)["partitions"].values())
    merge_table(
        spark, src,
        base.where((F.col("b") == 0) & (F.col("doc_id") % 9 == 0))
        .select("doc_id", "lang", (F.col("score") + 100).alias("score"),
                "b"),
        key_cols=["doc_id"], part_col="b",
    )
    merge_table(
        spark, dst,
        base.where((F.col("b") == 1) & (F.col("doc_id") % 11 == 0))
        .select("doc_id", "lang", (F.col("score") + 200).alias("score"),
                "b"),
        key_cols=["doc_id"], part_col="b",
    )
    shared = len(
        set(CommitLog(dst).state()["partitions"].values()) & v1_dirs)

    def ledger(table: str, side: str) -> DataFrame:
        return (
            read_table(spark, table)
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("score").alias("sum_score"))
            .select(F.lit(side).alias("side"), "lang", "n_docs",
                    "sum_score", F.lit(shared).cast("long")
                    .alias("shared_dirs"))
        )

    return ledger(src, "src").unionByName(ledger(dst, "clone"))


W_LAKEHOUSE_CLONE_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         doc_id % 4 AS b
  FROM documents
),
sh AS (
  SELECT 4 - count(DISTINCT b) AS shared_dirs
  FROM base WHERE b = 1 AND doc_id % 11 = 0
)
SELECT 'src' AS side, lang,
       count(*) AS n_docs,
       CAST(sum(score + CASE WHEN b = 0 AND doc_id % 9 = 0
                             THEN 100 ELSE 0 END) AS BIGINT)
         AS sum_score,
       CAST((SELECT shared_dirs FROM sh) AS BIGINT) AS shared_dirs
FROM base GROUP BY lang
UNION ALL
SELECT 'clone', lang,
       count(*),
       CAST(sum(score + CASE WHEN b = 1 AND doc_id % 11 = 0
                             THEN 200 ELSE 0 END) AS BIGINT),
       CAST((SELECT shared_dirs FROM sh) AS BIGINT)
FROM base GROUP BY lang
"""


W_LAKEHOUSE_MOVE_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         doc_id % 4 AS b
  FROM documents
)
SELECT doc_id, lang, score, b FROM base WHERE doc_id % 7 <> 0
UNION ALL
SELECT doc_id, lang, score + 1000 AS score, (doc_id + 1) % 4 AS b
FROM base WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id + 1000000 AS doc_id, lang, score * 2 AS score,
       (doc_id + 1000000) % 4 AS b
FROM base WHERE doc_id % 13 = 0
"""


W_LAKEHOUSE_EVOLVE_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         doc_id % 4 AS b
  FROM documents
)
SELECT doc_id, lang, score, b, CAST(NULL AS DOUBLE) AS stars
FROM base WHERE doc_id % 7 <> 0
UNION ALL
SELECT doc_id, lang, score + 1000 AS score, b,
       CAST(doc_id % 5 AS DOUBLE) AS stars
FROM base WHERE doc_id % 7 = 0
"""


W_LAKEHOUSE_MOR_POS_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         doc_id % 3 AS b
  FROM documents
)
SELECT doc_id, lang, score, b FROM base WHERE doc_id % 5 <> 0
UNION ALL
SELECT doc_id, lang, score, b FROM base
WHERE doc_id % 5 <> 0 AND doc_id % 3 <> 0
"""


W_LAKEHOUSE_MERGE_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         'base' AS src, doc_id % 4 AS b
  FROM documents
),
updates AS (
  SELECT doc_id, lang, score + 1000 AS score, 'merge' AS src, b
  FROM base WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, lang, score * 2, 'merge',
         (doc_id + 1000000) % 4
  FROM base WHERE doc_id % 13 = 0
)
SELECT doc_id, lang, score, src, b FROM base
WHERE doc_id NOT IN (SELECT doc_id FROM updates)
UNION ALL
SELECT doc_id, lang, score, src, b FROM updates
"""


QUERIES = {
    "w_retention_expand": w_retention_expand,
    "w_lakehouse_rollup": w_lakehouse_rollup,
    "w_lakehouse_compact": w_lakehouse_compact,
    "w_lakehouse_timetravel": w_lakehouse_timetravel,
    "w_lakehouse_merge": w_lakehouse_merge,
    "w_lakehouse_mor": w_lakehouse_mor,
    "w_heavy_hitters_cms": w_heavy_hitters_cms,
    "w_distinct_hll": w_distinct_hll,
    "w_funnel_3step": w_funnel_3step,
    "w_funnel_4step": w_funnel_4step,
    "w_funnel_latency": w_funnel_latency,
    "w_kmv_jaccard": w_kmv_jaccard,
    "w_quantile_hdr": w_quantile_hdr,
    "w_funnel_cohort": w_funnel_cohort,
    "w_event_transitions": w_event_transitions,
    "w_event_pagerank": w_event_pagerank,
    "w_triangles": w_triangles,
    "w_truss_support": w_truss_support,
    "w_truss_decomp": w_truss_decomp,
    "w_kcore_decomp": w_kcore_decomp,
    "w_link_cn": w_link_cn,
    "w_link_cn_sample": w_link_cn_sample,
    "w_bfs_layers": w_bfs_layers,
    "w_triangles_serve": w_triangles_serve,
    "w_lakehouse_mor_pos": w_lakehouse_mor_pos,
    "w_lakehouse_evolve": w_lakehouse_evolve,
    "w_lakehouse_move": w_lakehouse_move,
    "w_lakehouse_bloomskip": w_lakehouse_bloomskip,
    "w_lakehouse_optimize": w_lakehouse_optimize,
    "w_lakehouse_cdf": w_lakehouse_cdf,
    "w_lakehouse_cdf_mor": w_lakehouse_cdf_mor,
    "w_lakehouse_cdf_pos": w_lakehouse_cdf_pos,
    "w_lakehouse_mv": w_lakehouse_mv,
    "w_lakehouse_mv_minmax": w_lakehouse_mv_minmax,
    "w_mv_minmax_ties": w_mv_minmax_ties,
    "w_lakehouse_partevolve": w_lakehouse_partevolve,
    "w_lakehouse_partevolve_merge": w_lakehouse_partevolve_merge,
    "w_lakehouse_clone": w_lakehouse_clone,
    "w_topk_mg": w_topk_mg,
    "w_triangle_sample": w_triangle_sample,
    "w_pagerank_fixpoint": w_pagerank_fixpoint,
    "w_zorder_skipping": w_zorder_skipping,
    "w_hilbert_skipping": w_hilbert_skipping,
    "w_join_cms_estimate": w_join_cms_estimate,
    "w_cohorts": w_cohorts,
    "w_retention_reap": w_retention_reap,
    "w_store_fetch": w_store_fetch,
    "w_wsp_roundtrip": w_wsp_roundtrip,
    "w_wsp_propagate": w_wsp_propagate,
    "w_wsp_export": w_wsp_export,
    "w_carbon_ingest": w_carbon_ingest,
    "w_carbon_hashring": w_carbon_hashring,
    "w_lww_1h": w_lww_1h,
    "w_asof_join": w_asof_join,
    "w_range_join_binned": w_range_join_binned,
    "w_session_window_native": w_session_window_native,
    "w_xff_sensitivity": w_xff_sensitivity,
    "w_derivative_1h": w_derivative_1h,
    "w_sliding_1h_30m": w_sliding_1h_30m,
    "w_percentiles_1d": w_percentiles_1d,
    "w_sessionize_30m": w_sessionize_30m,
    "w_sessionize_chunked": w_sessionize_chunked,
    "w_approx_stats": w_approx_stats,
    "w_rollup_6h": w_rollup_6h,
    "w_cascade_1d": w_cascade_1d,
    "w_agg_methods_1d": w_agg_methods_1d,
    "w_fetch_dense_3d": w_fetch_dense_3d,
    "w_resize": w_resize,
    "w_fetch_coarse_30d": w_fetch_coarse_30d,
    "w_retention_7d": w_retention_7d,
    "w_diff_series": w_diff_series,
    "w_fill_merge": w_fill_merge,
}

ORACLES = {
    "w_retention_expand": W_RETENTION_EXPAND_SQL,
    "w_lakehouse_rollup": W_LAKEHOUSE_ROLLUP_SQL,
    "w_lakehouse_compact": W_LAKEHOUSE_COMPACT_SQL,
    "w_lakehouse_timetravel": W_LAKEHOUSE_TIMETRAVEL_SQL,
    "w_lakehouse_merge": W_LAKEHOUSE_MERGE_SQL,
    "w_lakehouse_mor": W_LAKEHOUSE_MOR_SQL,
    "w_heavy_hitters_cms": W_HEAVY_HITTERS_CMS_SQL,
    "w_distinct_hll": W_DISTINCT_HLL_SQL,
    "w_funnel_3step": W_FUNNEL_3STEP_SQL,
    "w_funnel_4step": W_FUNNEL_4STEP_SQL,
    "w_funnel_latency": W_FUNNEL_LATENCY_SQL,
    "w_kmv_jaccard": _w_kmv_jaccard_sql(),
    "w_quantile_hdr": W_QUANTILE_HDR_SQL,
    "w_funnel_cohort": W_FUNNEL_COHORT_SQL,
    "w_event_transitions": W_EVENT_TRANSITIONS_SQL,
    "w_event_pagerank": W_EVENT_PAGERANK_SQL,
    "w_triangles": W_TRIANGLES_SQL,
    "w_truss_support": W_TRUSS_SUPPORT_SQL,
    "w_truss_decomp": _w_truss_decomp_sql(),
    "w_kcore_decomp": _w_kcore_decomp_sql(),
    "w_link_cn": W_LINK_CN_SQL,
    "w_link_cn_sample": W_LINK_CN_SAMPLE_SQL,
    "w_bfs_layers": _w_bfs_layers_sql(),
    "w_triangles_serve": W_TRIANGLES_SQL,
    "w_lakehouse_mor_pos": W_LAKEHOUSE_MOR_POS_SQL,
    "w_lakehouse_evolve": W_LAKEHOUSE_EVOLVE_SQL,
    "w_lakehouse_move": W_LAKEHOUSE_MOVE_SQL,
    "w_lakehouse_bloomskip": W_LAKEHOUSE_BLOOMSKIP_SQL,
    "w_lakehouse_optimize": W_LAKEHOUSE_OPTIMIZE_SQL,
    "w_lakehouse_cdf": W_LAKEHOUSE_CDF_SQL,
    "w_lakehouse_cdf_mor": W_LAKEHOUSE_CDF_MOR_SQL,
    "w_lakehouse_cdf_pos": W_LAKEHOUSE_CDF_MOR_SQL,
    "w_lakehouse_mv": W_LAKEHOUSE_MV_SQL,
    "w_lakehouse_mv_minmax": _w_lakehouse_mv_minmax_sql(),
    "w_mv_minmax_ties": _w_lakehouse_mv_minmax_sql(coarse=True),
    "w_lakehouse_partevolve": W_LAKEHOUSE_PARTEVOLVE_SQL,
    "w_lakehouse_partevolve_merge": W_LAKEHOUSE_PARTEVOLVE_MERGE_SQL,
    "w_lakehouse_clone": W_LAKEHOUSE_CLONE_SQL,
    "w_topk_mg": W_TOPK_MG_SQL,
    "w_triangle_sample": W_TRIANGLE_SAMPLE_SQL,
    "w_pagerank_fixpoint": _w_pagerank_fixpoint_sql(),
    "w_zorder_skipping": _w_zorder_skipping_sql(),
    "w_hilbert_skipping": _w_hilbert_skipping_sql(),
    "w_join_cms_estimate": W_JOIN_CMS_ESTIMATE_SQL,
    "w_cohorts": W_COHORTS_SQL,
    "w_retention_reap": W_RETENTION_REAP_SQL,
    "w_store_fetch": W_STORE_FETCH_SQL,
    "w_wsp_roundtrip": W_WSP_ROUNDTRIP_SQL,
    "w_wsp_propagate": W_WSP_PROPAGATE_SQL,
    "w_wsp_export": W_WSP_PROPAGATE_SQL,
    "w_carbon_ingest": W_CARBON_INGEST_SQL,
    "w_carbon_hashring": _w_carbon_hashring_sql(),
    "w_lww_1h": W_LWW_1H_SQL,
    "w_asof_join": W_ASOF_SQL,
    "w_range_join_binned": W_RANGE_JOIN_BINNED_SQL,
    "w_session_window_native": W_SESSION_NATIVE_SQL,
    "w_xff_sensitivity": W_XFF_SENSITIVITY_SQL,
    "w_derivative_1h": W_DERIVATIVE_1H_SQL,
    "w_sliding_1h_30m": W_SLIDING_SQL,
    "w_rollup_6h": W_ROLLUP_6H_SQL,
    "w_cascade_1d": W_CASCADE_1D_SQL,
    "w_agg_methods_1d": W_AGG_METHODS_1D_SQL,
    "w_fetch_dense_3d": W_FETCH_DENSE_3D_SQL,
    "w_resize": W_RESIZE_SQL,
    "w_fetch_coarse_30d": W_FETCH_COARSE_30D_SQL,
    "w_retention_7d": W_RETENTION_7D_SQL,
    "w_percentiles_1d": W_PERCENTILES_SQL,
    "w_sessionize_30m": W_SESSIONIZE_SQL,
    "w_sessionize_chunked": W_SESSIONIZE_SQL,
    "w_approx_stats": W_APPROX_STATS_SQL,
    "w_diff_series": W_DIFF_SQL,
    "w_fill_merge": W_FILL_MERGE_SQL,
}
