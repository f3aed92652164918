"""Graphite render-API function analogs over whisper series.

go-whisper is the storage engine under Graphite; the queries its users
actually run go through Graphite's function library (movingAverage,
integral, keepLastValue, summarize, derivative — derivative lives in
``whisper_queries``).  Re-expressed over the 1h LWW series as window /
re-bucketing aggregates, each with a DuckDB oracle.

A query whose answer is exactly a render target's value column is
registered as that target (``_rendered``): ``render.py`` is its only
Spark implementation, and its hand-written ``G_*_SQL`` oracle checks
``render`` independently of the render SQL visitor.  The functions
left here differ from render in rounding, rows, plan shape or grammar.

All are per-metric windows ordered by interval (unique within metric →
deterministic), shuffle key = metric: at 100 TB each metric's series
streams through one window partition, which is exactly the reference's
one-file-per-metric access pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_whisper_spark.operators.whisper_queries import (
    CENTS_SQL,
    HOUR,
    LWW_1H_CTE,
    PTS_CTE,
    _avg6,
    _cents,
    _lww,
    _points,
)
from go_whisper_spark.render import (
    _cents_str,
    _lww1h,
    _tagged_points,
    render,
    render_oracle_sql,
)


def _rendered(target: str, col: str = "value", dtype: str | None = None):
    """Registered query = one render target, its value column renamed
    to ``col`` (and cast to ``dtype`` when the oracle's type differs)."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = render(spark, sf_dir, target)
        if dtype:
            df = df.withColumn("value", F.col("value").cast(dtype))
        return df.withColumnRenamed("value", col)

    query.__doc__ = f"render `{target}`"
    return query


# ---------------------------------------------------------- g_moving_avg
def g_moving_avg_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movingAverage(series, 3): mean of the current + 2 preceding
    known slots (Graphite computes over fetched points)."""
    w = (
        Window.partitionBy("metric")
        .orderBy("interval")
        .rowsBetween(-2, 0)
    )
    # exact integer (cent) arithmetic: window sums of doubles can differ
    # by a ulp between engines (segment-tree vs sequential accumulation)
    # and /2^k counts land exactly on rounding boundaries
    return _lww1h(spark, sf_dir).withColumn("cents", _cents()).select(
        "metric",
        "interval",
        _avg6(F.sum("cents").over(w), F.count("value").over(w)).alias("moving_avg"),
        F.count("value").over(w).alias("window_n"),
    )


G_MOVING_AVG_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       floor(CAST(sum({CENTS_SQL}) OVER w AS DOUBLE) * 10000
             / (count(value) OVER w)) / 1000000.0 AS moving_avg,
       count(value) OVER w AS window_n
FROM lww1h
WINDOW w AS (PARTITION BY metric ORDER BY interval
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------------------------ g_integral
G_INTEGRAL_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       round(sum(value) OVER (PARTITION BY metric ORDER BY interval
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum
FROM lww1h
"""


# ---------------------------------------------------------- g_keep_last
def g_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keepLastValue(): fill NULL slots of the dense last-3-days series
    with the most recent known value (forward fill)."""
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir)
    w = (
        Window.partitionBy("metric")
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "metric",
        "interval",
        F.last("value", ignorenulls=True).over(w).alias("filled"),
    )


G_KEEP_LAST_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
)
SELECT metric, interval,
       last_value(value IGNORE NULLS) OVER (
         PARTITION BY metric ORDER BY interval
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled
FROM dense
"""


# ------------------------------------------------- g_keep_last_limit
def g_keep_last_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keepLastValue(series, limit=2): forward-fill gaps of AT MOST 2
    consecutive missing slots; longer outages stay NULL (Graphite's
    bounded variant — unbounded fill would mask dead series).

    The fill decision needs the distance to the last known slot:
    ``max(CASE WHEN known THEN interval END) OVER (unbounded
    preceding)`` gives it without a self-join, then the carried value
    applies only when ``interval − last_known ≤ limit·spp``.  Same
    one-window-per-metric shape as the unbounded fill.
    """
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir)
    w = (
        Window.partitionBy("metric")
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    last_known_iv = F.max(
        F.when(F.col("value").isNotNull(), F.col("interval"))
    ).over(w)
    carried = F.last("value", ignorenulls=True).over(w)
    filled = F.when(
        F.col("interval") - last_known_iv <= 2 * HOUR, carried
    )
    return dense.select(
        "metric",
        "interval",
        F.col("value").alias("raw"),
        filled.alias("filled"),
        # DOUBLE, not BIGINT: staleness is NULL before the first known
        # slot, and the driver's pandas materialization turns a
        # nullable-int oracle column into float64 — int64 on the Spark
        # side would hash-mismatch.  Cast both sides to double.
        (F.col("interval") - last_known_iv).cast("double").alias("staleness"),
    )


G_KEEP_LAST_LIMIT_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
),
carried AS (
  SELECT metric, interval, value,
         max(CASE WHEN value IS NOT NULL THEN interval END) OVER w AS last_known_iv,
         last_value(value IGNORE NULLS) OVER w AS carried
  FROM dense
  WINDOW w AS (PARTITION BY metric ORDER BY interval
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT metric, interval,
       value AS raw,
       CASE WHEN interval - last_known_iv <= 7200 THEN carried END AS filled,
       CAST(interval - last_known_iv AS DOUBLE) AS staleness
FROM carried
"""


# ---------------------------------------------------------- g_summarize
def g_summarize_4h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summarize(series, "4h", "sum"): re-bucket the 1h series into 4h
    buckets — the query-time counterpart of archive propagation."""
    lww = _lww1h(spark, sf_dir)
    return (
        lww.withColumn(
            "interval4h",
            (F.col("interval") - F.col("interval") % F.lit(4 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval4h")
        .agg(
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count("value").alias("known"),
        )
        .select("metric", F.col("interval4h").alias("interval"), "sum_value", "known")
    )


G_SUMMARIZE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 14400 AS interval,
       round(sum(value), 4) AS sum_value,
       count(value) AS known
FROM lww1h
GROUP BY 1, 2
"""


# ------------------------------------------------ g_nonneg_derivative
def g_nonneg_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nonNegativeDerivative()/perSecond(): counter rate with reset
    handling — a negative delta means the counter wrapped/reset and
    yields NULL; per_second divides by the (possibly multi-slot) gap.
    """
    w = Window.partitionBy("metric").orderBy("interval")
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    delta_c = F.col("cents") - F.lag("cents", 1).over(w)
    dt = (F.col("interval") - F.lag("interval", 1).over(w)).cast("double")
    nn_c = F.when(delta_c >= 0, delta_c)
    # exact integer deltas; the rate is floor-truncated at 1e-6 in exact
    # arithmetic (cents*10000/dt hits .5 micro-boundaries exactly when
    # dt divides the cent delta — round() there is engine-divergent)
    return lww.select(
        "metric",
        "interval",
        (nn_c.cast("double") / F.lit(100.0)).alias("nn_delta"),
        (F.floor(nn_c.cast("double") * 10000 / dt) / F.lit(1000000.0)).alias("per_second"),
    )


G_NONNEG_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
d AS (
  SELECT metric, interval,
         {CENTS_SQL} - lag({CENTS_SQL}, 1) OVER w AS delta_c,
         CAST(interval - lag(interval, 1) OVER w AS DOUBLE) AS dt
  FROM lww1h
  WINDOW w AS (PARTITION BY metric ORDER BY interval)
)
SELECT metric, interval,
       CAST(CASE WHEN delta_c >= 0 THEN delta_c END AS DOUBLE) / 100.0 AS nn_delta,
       floor(CAST(CASE WHEN delta_c >= 0 THEN delta_c END AS DOUBLE) * 10000 / dt) / 1000000.0 AS per_second
FROM d
"""


# ---------------------------------------------------------- g_sum_series
def g_sum_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumSeries()/averageSeries(): combine all metrics into one series
    per interval (cross-series math on aligned slots — the whisper-
    native 'join': series align by interval).
    """
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    return (
        lww.groupBy("interval")
        .agg(
            F.count("value").alias("n_series"),
            F.round(F.sum("value"), 4).alias("sum_all"),
            F.sum("cents").alias("sc"),
        )
        .select(
            "interval",
            "n_series",
            "sum_all",
            _avg6(F.col("sc"), F.col("n_series")).alias("avg_all"),
        )
    )


G_SUM_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT interval,
       count(value) AS n_series,
       round(sum(value), 4) AS sum_all,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS avg_all
FROM lww1h
GROUP BY interval
"""


# ---------------------------------------------------------- g_timeshift
def g_timeshift_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeShift(series, "-1d") compared to the unshifted series:
    day-over-day slot delta via a self-join on (metric, interval+86400)
    — the whisper-native join is alignment on interval.
    """
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    prev = lww.select(
        "metric",
        (F.col("interval") + F.lit(86400)).cast("long").alias("interval"),
        F.col("cents").alias("prev_cents"),
    )
    return (
        lww.join(prev, ["metric", "interval"], "inner")
        .select(
            "metric",
            "interval",
            (F.col("cents").cast("double") / 100.0).alias("value"),
            (F.col("prev_cents").cast("double") / 100.0).alias("value_1d_ago"),
            ((F.col("cents") - F.col("prev_cents")).cast("double") / 100.0).alias("dod_delta"),
        )
    )


G_TIMESHIFT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
c AS (SELECT metric, interval, {CENTS_SQL} AS cents FROM lww1h)
SELECT a.metric, a.interval,
       CAST(a.cents AS DOUBLE) / 100.0 AS value,
       CAST(b.cents AS DOUBLE) / 100.0 AS value_1d_ago,
       CAST(a.cents - b.cents AS DOUBLE) / 100.0 AS dod_delta
FROM c a JOIN c b ON a.metric = b.metric AND a.interval = b.interval + 86400
"""


# ---------------------------------------------------------- g_as_percent
def g_as_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asPercent(): each metric's share of the cross-series total per
    interval, in exact integer arithmetic (cents/total_cents hits .5
    boundaries whenever the total divides the scaled numerator).
    """
    w = Window.partitionBy("interval")
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    total = F.sum("cents").over(w)
    pct_micro = F.floor(F.col("cents").cast("double") * 100_000_000 / total)
    return lww.select(
        "metric",
        "interval",
        F.count("*").over(w).alias("n_series"),
        (pct_micro / F.lit(1_000_000.0)).alias("pct"),
    )


G_AS_PERCENT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
c AS (SELECT metric, interval, {CENTS_SQL} AS cents FROM lww1h)
SELECT metric, interval,
       count(*) OVER (PARTITION BY interval) AS n_series,
       floor(CAST(cents AS DOUBLE) * 100000000
             / (sum(cents) OVER (PARTITION BY interval))) / 1000000.0 AS pct
FROM c
"""


# -------------------------------------------------------- g_group_by_node
def g_group_by_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupByNode(1h-series, 0, "sum"): Graphite metric names are
    dot-hierarchies; aggregate every series sharing path node 0.

    Leaf paths are ``<event_type>.u<user_id % 4>`` (the "one series per
    server" layout), LWW-consolidated per (path, interval), then summed
    across the u* leaves per node+interval.  Shuffle keys: the leaf
    slot key for LWW, then the node slot key — both partitionable at
    100 TB (this is exactly carbon's fan-in aggregation).
    """
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(F.col("event_type"), F.lit(".u"), (F.col("user_id") % 4).cast("string")).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long"))
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    return (
        lww.withColumn("node", F.split("path", "[.]").getItem(0))
        .withColumn("cents", _cents())
        .groupBy("node", "interval")
        .agg(
            F.count("*").alias("n_leaves"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


G_GROUP_BY_NODE_SQL = f"""
WITH pths AS (
  SELECT event_type || '.u' || CAST(user_id % 4 AS VARCHAR) AS path,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value, event_id AS write_seq
  FROM events
),
lwwp AS (
  SELECT path, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pths GROUP BY 1, 2
)
SELECT split_part(path, '.', 1) AS node, interval,
       count(*) AS n_leaves,
       CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0 AS sum_value
FROM lwwp GROUP BY 1, 2
"""


# ------------------------------------------------------ g_highest_avg_3
def g_highest_avg_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """highestAverage(series, 3): series *selection* — keep the full
    series of the 3 metrics with the highest overall average.

    Scale shape (round-8 rewrite): per-metric exact averages (integer
    cents, map-side combine), then ``orderBy().limit(3)`` — Spark
    plans a **TakeOrderedAndProject**: each partition keeps its own
    top-3 and only k·partitions rows merge, so there is NO
    single-partition Exchange even at 10⁷ metrics (the old global
    row_number window pushed the whole per-metric relation through
    one partition).  The rank window that labels the 3 winners runs
    on TakeOrdered's already-single-partition 3-row output, so
    EnsureRequirements inserts no exchange for it; the join back is
    an explicit broadcast of the 3 winners against the slot rows.
    """
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = lww.groupBy("metric").agg(F.sum("cents").alias("sc"), F.count("*").alias("n"))
    top = (
        per.select("metric", _avg6(F.col("sc"), F.col("n")).alias("avg_value"))
        .orderBy(F.desc("avg_value"), F.asc("metric"))
        .limit(3)
    )
    ranked = top.withColumn(
        "series_rank",
        F.row_number().over(Window.orderBy(F.desc("avg_value"), F.asc("metric"))),
    )
    return lww.join(F.broadcast(ranked), "metric").select(
        "metric", "interval", "value", "avg_value", "series_rank"
    )


G_HIGHEST_AVG_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0 AS avg_value
  FROM lww1h GROUP BY metric
),
ranked AS (
  SELECT metric, avg_value,
         CAST(row_number() OVER (ORDER BY avg_value DESC, metric ASC) AS INTEGER) AS series_rank
  FROM per
)
SELECT l.metric, l.interval, l.value, r.avg_value, r.series_rank
FROM lww1h l JOIN ranked r ON l.metric = r.metric
WHERE r.series_rank <= 3
"""


# ------------------------------------------------------------ g_stdev_1d
def g_stdev_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stdev(): per-metric daily sample variance/stddev over the 1h
    series, in exact integer arithmetic: with S1=Σcents, S2=Σcents²,
    var = (n·S2 − S1²) / (n(n−1)) — the numerator is an exact BIGINT
    in both engines, so the 6-dp floor truncation can't straddle a
    rounding boundary (round(var_double) is not cross-engine stable;
    see whisper_queries._avg6).  stddev = round(sqrt(var), 6): sqrt is
    correctly-rounded IEEE in both engines.
    """
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    day = (F.col("interval") - F.col("interval") % F.lit(24 * HOUR)).cast("long")
    agged = (
        lww.groupBy("metric", day.alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .where(F.col("n") >= 2)
    )
    num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    den = F.col("n") * (F.col("n") - 1)
    variance = F.floor(num.cast("double") * 100 / den) / F.lit(1_000_000.0)
    return agged.select(
        "metric",
        F.col("day").alias("interval"),
        "n",
        variance.alias("variance"),
        F.round(F.sqrt(variance), 6).alias("stdev"),
    )


G_STDEV_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
agged AS (
  SELECT metric,
         interval - interval % 86400 AS day,
         count(*) AS n,
         sum({CENTS_SQL}) AS s1,
         sum({CENTS_SQL} * {CENTS_SQL}) AS s2
  FROM lww1h GROUP BY 1, 2
)
SELECT metric, day AS interval, n,
       floor(CAST(n * s2 - s1 * s1 AS DOUBLE) * 100 / (n * (n - 1))) / 1000000.0 AS variance,
       round(sqrt(floor(CAST(n * s2 - s1 * s1 AS DOUBLE) * 100 / (n * (n - 1))) / 1000000.0), 6) AS stdev
FROM agged
WHERE n >= 2
"""


# ------------------------------------------------------------- g_ewma
def g_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exponentialMovingAverage(series, 3): final EWMA state per metric
    (alpha = 2/(N+1) = 0.5) over the 1h LWW series.

    The recurrence e_t = α·x_t + (1−α)·e_{t−1} is a left fold, seeded
    with the first slot — expressed as ``aggregate()`` over the
    interval-sorted value array.  Cross-engine exactness: both engines
    run the *identical* IEEE-754 op sequence (0.5·x + 0.5·acc, same
    fold order), so the doubles are bit-equal and need no rounding.
    At 100 TB the same fold runs per metric inside one shuffle
    partition (key = metric, the reference's one-file-per-metric
    layout); state is O(1) per series.
    """
    lww = _lww1h(spark, sf_dir)
    arr = F.array_sort(F.collect_list(F.struct("interval", "value")))
    vals = F.transform(arr, lambda s: s["value"])
    per = lww.groupBy("metric").agg(vals.alias("vals"))
    v = F.col("vals")
    ewma = F.aggregate(
        F.slice(v, 2, F.size(v) - 1),
        F.element_at(v, 1),
        lambda acc, x: F.lit(0.5) * x + F.lit(0.5) * acc,
    )
    return per.select(
        "metric",
        F.size(v).alias("n_slots"),
        ewma.alias("ewma"),
        F.element_at(v, -1).alias("last_value"),
    )


G_EWMA_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (SELECT metric, list(value ORDER BY interval) AS vals FROM lww1h GROUP BY metric)
SELECT metric,
       CAST(len(vals) AS INTEGER) AS n_slots,
       list_reduce(vals, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma,
       vals[-1] AS last_value
FROM per
"""


# ---------------------------------------------------- g_moving_median_5
def g_moving_median_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movingMedian(series, 5): lower median (sorted element at
    ceil(k/2)) of the current + 4 preceding slots.  Element selection
    from a sorted array is exact — no float arithmetic, so no rounding
    policy is needed (unlike interpolating percentile_cont).  Window
    key = metric, ordered by the unique interval → deterministic.
    """
    w = Window.partitionBy("metric").orderBy("interval").rowsBetween(-4, 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    med = F.element_at(arr, F.ceil(F.size(arr) / 2).cast("int"))
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        F.size(arr).alias("window_n"),
        med.alias("moving_median"),
    )


G_MOVING_MEDIAN_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST(len(list(value) OVER w) AS INTEGER) AS window_n,
       list_sort(list(value) OVER w)[CAST(ceil(len(list(value) OVER w) / 2.0) AS INT)]
         AS moving_median
FROM lww1h
WINDOW w AS (PARTITION BY metric ORDER BY interval
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------- g_transform_chain
def g_transform_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scale(offset(absolute(series), 10), 2) and invert(series):
    Graphite's pointwise transform family composed in one pass.  Pure
    narrow map — zero shuffles beyond the LWW consolidation, and both
    engines apply the identical IEEE op chain to the same stored
    doubles, so results are bit-equal unrounded.
    """
    lww = _lww1h(spark, sf_dir)
    scaled = (F.abs(F.col("value")) + F.lit(10.0)) * F.lit(2.0)
    inverted = F.lit(1.0) / scaled
    return lww.select(
        "metric",
        "interval",
        scaled.alias("scaled"),
        inverted.alias("inverted"),
    )


G_TRANSFORM_CHAIN_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       (abs(value) + 10.0) * 2.0 AS scaled,
       1.0 / ((abs(value) + 10.0) * 2.0) AS inverted
FROM lww1h
"""


# ------------------------------------------------------- g_linreg_1d
def g_linreg_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """linearRegression(series): per-metric per-day OLS slope/intercept
    over the 1h series.  x = hour slot index within the day (0..23,
    small exact ints), y = integer cents, so the OLS numerators
    n·Σxy − Σx·Σy and n·Σx² − (Σx)² are exact BIGINTs in both engines
    (≪ 2^53, so the DOUBLE casts are exact too) and the 6-dp floor
    truncation cannot straddle a rounding boundary.  Shuffle key =
    (metric, day): fully partitionable, partial-aggregated map-side.
    """
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    day = (F.col("interval") - F.col("interval") % F.lit(24 * HOUR)).cast("long")
    x = ((F.col("interval") % F.lit(24 * HOUR)) / F.lit(HOUR)).cast("long")
    agged = (
        lww.select("metric", day.alias("day"), x.alias("x"), "cents")
        .groupBy("metric", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("cents").alias("sy"),
            F.sum(F.col("x") * F.col("cents")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .where(F.col("n") >= 2)
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_c = F.floor(num.cast("double") * 1_000_000 / den) / F.lit(1_000_000.0)
    icept_c = (
        F.floor((F.col("sy") - slope_c * F.col("sx")) * 1_000_000 / F.col("n"))
        / F.lit(1_000_000.0)
    )
    return agged.select(
        "metric",
        F.col("day").alias("interval"),
        "n",
        (slope_c / F.lit(100.0)).alias("slope_per_hour"),
        (icept_c / F.lit(100.0)).alias("intercept"),
    )


G_LINREG_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
agged AS (
  SELECT metric,
         interval - interval % 86400 AS day,
         count(*) AS n,
         sum((interval % 86400) // 3600) AS sx,
         sum({CENTS_SQL}) AS sy,
         sum(((interval % 86400) // 3600) * {CENTS_SQL}) AS sxy,
         sum(((interval % 86400) // 3600) * ((interval % 86400) // 3600)) AS sxx
  FROM lww1h GROUP BY 1, 2
),
fitted AS (
  SELECT metric, day, n, sx, sy,
         floor(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000
               / (n * sxx - sx * sx)) / 1000000.0 AS slope_c
  FROM agged WHERE n >= 2
)
SELECT metric, day AS interval, n,
       slope_c / 100.0 AS slope_per_hour,
       (floor((sy - slope_c * sx) * 1000000 / n) / 1000000.0) / 100.0 AS intercept
FROM fitted
"""


# ---------------------------------------------- g_remove_above_pctile
def g_remove_above_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """removeAbovePercentile(series, 90): drop slots above the series'
    90th-percentile value.  The threshold is rank-based (the value at
    sorted position ceil(0.9·n)) — pure ordering, no interpolation, so
    it is float-exact in both engines; ties at the boundary share one
    value, making the cutoff tiebreak-independent.  Two-pass plan:
    the per-metric threshold relation (O(n_metrics) rows) joins back
    un-hinted — AQE sizes it at runtime.
    """
    lww = _lww1h(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("value")
    ranked = lww.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("metric"))
    )
    thresh = (
        ranked.where(F.col("rn") <= F.ceil(F.col("n") * 0.9).cast("long"))
        .groupBy("metric")
        .agg(F.max("value").alias("p90"))
    )
    return (
        lww.join(thresh, "metric")
        .where(F.col("value") <= F.col("p90"))
        .select("metric", "interval", "value", "p90")
    )


G_REMOVE_ABOVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
ranked AS (
  SELECT metric, interval, value,
         row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM lww1h
),
thresh AS (
  SELECT metric, max(value) AS p90
  FROM ranked WHERE rn <= CAST(ceil(n * 0.9) AS BIGINT)
  GROUP BY metric
)
SELECT l.metric, l.interval, l.value, t.p90
FROM lww1h l JOIN thresh t ON l.metric = t.metric
WHERE l.value <= t.p90
"""


# ---------------------------------------------- g_remove_below_pctile
def g_remove_below_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """removeBelowPercentile(series, 10): the mirror of
    ``g_remove_above_pctile`` — drop slots under the series' 10th-
    percentile value (rank-based threshold, value at sorted position
    ceil(0.1·n), float-exact, tie-sharing).  Same two-pass plan: the
    O(n_metrics) per-metric threshold relation joins back un-hinted
    (AQE sizes it)."""
    lww = _lww1h(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("value")
    ranked = lww.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("metric"))
    )
    thresh = (
        ranked.where(F.col("rn") <= F.ceil(F.col("n") * 0.1).cast("long"))
        .groupBy("metric")
        .agg(F.max("value").alias("p10"))
    )
    return (
        lww.join(thresh, "metric")
        .where(F.col("value") >= F.col("p10"))
        .select("metric", "interval", "value", "p10")
    )


G_REMOVE_BELOW_PCTILE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
ranked AS (
  SELECT metric, interval, value,
         row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM lww1h
),
thresh AS (
  SELECT metric, max(value) AS p10
  FROM ranked WHERE rn <= CAST(ceil(n * 0.1) AS BIGINT)
  GROUP BY metric
)
SELECT l.metric, l.interval, l.value, t.p10
FROM lww1h l JOIN thresh t ON l.metric = t.metric
WHERE l.value >= t.p10
"""


# ------------------------------------------------- g_moving_avg_time
def g_moving_avg_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movingAverage(series, "3h") — the *time-based* window frame:
    ``RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW`` over the interval
    value, so the window covers a fixed time span no matter how many
    slots are present (sparse series get smaller counts, not a longer
    reach-back — the semantic difference from the row-count frame in
    ``g_moving_avg_3``).  Exact integer (cent) arithmetic as usual.
    Window key = metric; RANGE frames need the same per-metric sort
    the ROWS frame already pays.
    """
    w = (
        Window.partitionBy("metric")
        .orderBy("interval")
        .rangeBetween(-2 * HOUR, 0)
    )
    return _lww1h(spark, sf_dir).withColumn("cents", _cents()).select(
        "metric",
        "interval",
        _avg6(F.sum("cents").over(w), F.count("value").over(w)).alias("moving_avg_3h"),
        F.count("value").over(w).alias("window_n"),
    )


G_MOVING_AVG_TIME_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       floor(CAST(sum({CENTS_SQL}) OVER w AS DOUBLE) * 10000
             / (count(value) OVER w)) / 1000000.0 AS moving_avg_3h,
       count(value) OVER w AS window_n
FROM lww1h
WINDOW w AS (PARTITION BY metric ORDER BY interval
             RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------------------ g_holt_winters
def g_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """holtWintersForecast() analog: one-step-ahead double exponential
    smoothing (Holt's linear trend, alpha=0.5, beta=0.3) per metric
    over the 1h LWW series.

    The recurrence s_t = α·x_t + (1−α)(s_{t−1}+b_{t−1}) is inherently
    sequential per series, so this is the canonical applyInPandas
    operator: shuffle key = metric (one series per group, the
    reference's one-file-per-metric layout), sequential numpy loop
    inside the worker.

    Oracle: a DuckDB recursive CTE that performs the IDENTICAL
    per-step IEEE double operations in the identical order (each
    multiply/add is individually rounded in both engines, no FMA, and
    α=0.5 / β=0.3 parse to the same doubles), so the fold is
    bit-identical — the recursion is deterministic, not
    engine-specific.  (1−α)/(1−β) are spelled as ``1 - 0.5`` /
    ``1 - 0.3`` in BOTH engines so the constant subtraction rounds
    the same way.
    """
    import pandas as pd

    lww = _lww1h(spark, sf_dir)
    alpha, beta = 0.5, 0.3

    def smooth(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("interval").reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=float)
        n = len(x)
        level = x.copy()
        trend = [0.0] * n
        forecast = [None] * n
        s, b = x[0], 0.0
        for t in range(1, n):
            forecast[t] = s + b
            s_new = alpha * x[t] + (1 - alpha) * (s + b)
            b = beta * (s_new - s) + (1 - beta) * b
            s = s_new
            level[t], trend[t] = s, b
        return pd.DataFrame(
            {
                "metric": pdf["metric"],
                "interval": pdf["interval"],
                "value": pdf["value"],
                "level": level,
                "trend": trend,
                "forecast": forecast,
            }
        )

    return lww.groupBy("metric").applyInPandas(
        smooth,
        "metric string, interval long, value double, level double, trend double, forecast double",
    )


# The recursive term re-derives s_new inside the trend expression so
# every operand sequence matches the Python loop exactly:
#   forecast_t = s + b
#   s_new      = 0.5*x_t + (1 - 0.5)*(s + b)
#   b_new      = 0.3*(s_new - s) + (1 - 0.3)*b
G_HOLT_WINTERS_SQL = f"""
WITH RECURSIVE {PTS_CTE}, {LWW_1H_CTE},
seq AS (
  SELECT metric, interval, value,
         row_number() OVER (PARTITION BY metric ORDER BY interval) AS t
  FROM lww1h
),
hw AS (
  SELECT metric, t, interval, value,
         value AS level,
         CAST(0.0 AS DOUBLE) AS trend,
         CAST(NULL AS DOUBLE) AS forecast
  FROM seq WHERE t = 1
  UNION ALL
  SELECT s.metric, s.t, s.interval, s.value,
         0.5 * s.value + (1 - 0.5) * (h.level + h.trend) AS level,
         0.3 * ((0.5 * s.value + (1 - 0.5) * (h.level + h.trend)) - h.level)
           + (1 - 0.3) * h.trend AS trend,
         h.level + h.trend AS forecast
  FROM hw AS h
  JOIN seq AS s ON s.metric = h.metric AND s.t = h.t + 1
)
SELECT metric, interval, value, level, trend, forecast FROM hw
"""


# ---------------------------------------------------------------- g_scale
G_SCALE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST({CENTS_SQL} * 8 AS DOUBLE) / 100.0 AS scaled
FROM lww1h
"""


# --------------------------------------------------------------- g_offset
G_OFFSET_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST({CENTS_SQL} + 10000 AS DOUBLE) / 100.0 AS shifted
FROM lww1h
"""


# -------------------------------------------------------- g_alias_by_node
def g_alias_by_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aliasByNode(seriesList, 1): rename each series to one node of
    its dot-path — over the same ``<event_type>.u<user_id % 4>`` leaf
    layout as ``g_group_by_node``.  The alias is not unique across
    series (that's Graphite's behavior too), so the original path is
    kept alongside.  String-only transform; no extra shuffle beyond
    the per-path LWW."""
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"), F.lit(".u"), (F.col("user_id") % 4).cast("string")
        ).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long"))
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    return lww.select(
        F.split("path", "[.]").getItem(1).alias("alias"),
        "path",
        "interval",
        "value",
    )


G_ALIAS_BY_NODE_SQL = f"""
WITH pths AS (
  SELECT event_type || '.u' || CAST(user_id % 4 AS VARCHAR) AS path,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value, event_id AS write_seq
  FROM events
),
lwwp AS (
  SELECT path, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pths GROUP BY 1, 2
)
SELECT split_part(path, '.', 2) AS alias, path, interval, value
FROM lwwp
"""


# ------------------------------------------------------------- g_hitcount
def g_hitcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hitcount(series, "4h"): rate × slot-width summed per 4h bucket —
    converts a per-second rate series into total hits, resolution-
    adjusting like archive propagation does.  value·3600 s = cents·36
    stays integer, so the bucket total is exact."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    return (
        lww.withColumn(
            "interval4h",
            (F.col("interval") - F.col("interval") % F.lit(4 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval4h")
        .agg(
            ((F.sum("cents") * 36).cast("double") / F.lit(100.0)).alias("hits"),
            F.count("value").alias("known"),
        )
        .select("metric", F.col("interval4h").alias("interval"), "hits", "known")
    )


G_HITCOUNT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 14400 AS interval,
       CAST(sum({CENTS_SQL}) * 36 AS DOUBLE) / 100.0 AS hits,
       count(value) AS known
FROM lww1h
GROUP BY 1, 2
"""


# ------------------------------------------------------- g_consolidate_by
def g_consolidate_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """consolidateBy(series, method): all four render consolidations of
    the 1h series into 6h buckets side by side (avg/max/min/sum) — the
    choice Graphite applies when more points exist than pixels.
    Average in exact cent arithmetic; max/min are exact doubles; sum
    exact via cents."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    return (
        lww.withColumn(
            "interval6h",
            (F.col("interval") - F.col("interval") % F.lit(6 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval6h")
        .agg(
            _avg6(F.sum("cents"), F.count("value")).alias("cons_avg"),
            F.max("value").alias("cons_max"),
            F.min("value").alias("cons_min"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("cons_sum"),
            F.count("value").alias("known"),
        )
        .select(
            "metric", F.col("interval6h").alias("interval"),
            "cons_avg", "cons_max", "cons_min", "cons_sum", "known",
        )
    )


G_CONSOLIDATE_BY_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 21600 AS interval,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(value)) / 1000000.0 AS cons_avg,
       max(value) AS cons_max,
       min(value) AS cons_min,
       CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0 AS cons_sum,
       count(value) AS known
FROM lww1h
GROUP BY 1, 2
"""


# ------------------------------------------------- g_remove_below_value
G_REMOVE_BELOW_VALUE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CASE WHEN value >= 30.0 THEN value END AS filtered
FROM lww1h
"""


# ------------------------------------------------- g_remove_above_value
G_REMOVE_ABOVE_VALUE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CASE WHEN value <= 70.0 THEN value END AS filtered
FROM lww1h
"""


# ---------------------------------------------------------- g_average_above
def g_average_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """averageAbove(seriesList, 51): series *selection* — keep only the
    metrics whose overall average exceeds the threshold.  The compare
    is exact integers (sum_cents > 51·100·n), so no float average is
    ever materialized for the decision; the tiny winners relation
    broadcast-joins back to the slot rows (same two-level shape as
    ``g_highest_avg_3``)."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    winners = (
        lww.groupBy("metric")
        .agg(F.sum("cents").alias("sc"), F.count("*").alias("n"))
        .where(F.col("sc") > 5100 * F.col("n"))
        .select("metric", _avg6(F.col("sc"), F.col("n")).alias("avg_value"))
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "avg_value"
    )


G_AVERAGE_ABOVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0 AS avg_value
  FROM lww1h GROUP BY metric
  HAVING sum({CENTS_SQL}) > 5100 * count(*)
)
SELECT l.metric, l.interval, l.value, w.avg_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ---------------------------------------------------------- g_current_above
def g_current_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """currentAbove(seriesList, 40): keep only the metrics whose most
    recent slot value exceeds the threshold.  "Current" = value at the
    max interval (``max_by(value, interval)``, unique per metric).
    Same broadcast-back shape as the other selectors."""
    lww = _lww1h(spark, sf_dir)
    winners = (
        lww.groupBy("metric")
        .agg(F.max_by("value", "interval").alias("current_value"))
        .where(F.col("current_value") > 40.0)
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "current_value"
    )


G_CURRENT_ABOVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric, arg_max(value, interval) AS current_value
  FROM lww1h GROUP BY metric
  HAVING arg_max(value, interval) > 40.0
)
SELECT l.metric, l.interval, l.value, w.current_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ----------------------------------------------------- g_integral_by_interval
def g_integral_by_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """integralByInterval(series, "1d"): running sum that resets at
    each day boundary — ``g_integral`` with the day in the partition
    key, so state never spans a day (at 100 TB the window partition is
    (metric, day), which is exactly the archive's day-partitioned
    layout)."""
    w = (
        Window.partitionBy("metric", "day")
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        _lww1h(spark, sf_dir)
        .withColumn(
            "day", (F.col("interval") - F.col("interval") % F.lit(86400)).cast("long")
        )
        .select(
            "metric",
            "day",
            "interval",
            F.round(F.sum("value").over(w), 4).alias("running_sum"),
        )
    )


G_INTEGRAL_BY_INTERVAL_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 86400 AS day,
       interval,
       round(sum(value) OVER (
         PARTITION BY metric, interval - interval % 86400
         ORDER BY interval
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum
FROM lww1h
"""


# ------------------------------------------------------- g_sort_by_maxima
def g_sort_by_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortByMaxima(seriesList): order series by their peak value —
    emitted as one row per metric with its rank (the render API sorts
    the legend; the relational form is the rank relation).  Max is an
    exact double; ties break on metric name."""
    return (
        _lww1h(spark, sf_dir)
        .groupBy("metric")
        .agg(F.max("value").alias("max_value"))
        .withColumn(
            "series_rank",
            F.row_number().over(Window.orderBy(F.desc("max_value"), F.asc("metric"))),
        )
    )


G_SORT_BY_MAXIMA_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (SELECT metric, max(value) AS max_value FROM lww1h GROUP BY metric)
SELECT metric, max_value,
       CAST(row_number() OVER (ORDER BY max_value DESC, metric ASC) AS INTEGER) AS series_rank
FROM per
"""



# ------------------------------------------------------------ g_absolute
G_ABSOLUTE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST(abs({CENTS_SQL} - 5000) AS DOUBLE) / 100.0 AS abs_dev
FROM lww1h
"""


# -------------------------------------------------------------- g_invert
def g_invert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """invert(series): 1/value (latency <-> rate flips).  A single IEEE
    double division is correctly rounded in both engines, and the
    events domain is strictly positive (min 0.01), so the result is
    bit-exact cross-engine with no rounding step."""
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        (F.lit(1.0) / F.col("value")).alias("inverted"),
    )


G_INVERT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, 1.0 / value AS inverted
FROM lww1h
"""


# --------------------------------------------------------- g_square_root
def g_square_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """squareRoot(series): sqrt(value).  IEEE-754 sqrt is correctly
    rounded (unlike log/exp), so like ``g_invert`` this is bit-exact
    cross-engine without a rounding step."""
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        F.sqrt("value").alias("sqrt_value"),
    )


G_SQUARE_ROOT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, sqrt(value) AS sqrt_value
FROM lww1h
"""


# ---------------------------------------------------------- g_logarithm
def g_logarithm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """logarithm(series, 10): log10(value), rounded to 6 dp.  libm
    log10 is NOT guaranteed correctly rounded, so Java's Math.log10
    and DuckDB's C log10 may differ in the last ulp; rounding to 6 dp
    collapses that (a mismatch needs a true value within ~1e-16 of a
    .5e-6 boundary — the same argument as the cosine rounding above
    ``_seq_dot`` in llm_ops).  Domain is strictly positive (min 0.01).
    """
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        F.round(F.log10("value"), 6).alias("log10_value"),
    )


G_LOGARITHM_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, round(log10(value), 6) AS log10_value
FROM lww1h
"""


# ---------------------------------------------------------- g_derivative
G_DERIVATIVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST({CENTS_SQL} - lag({CENTS_SQL}, 1) OVER (PARTITION BY metric ORDER BY interval)
            AS DOUBLE) / 100.0 AS delta
FROM lww1h
"""


# ---------------------------------------------------------- g_per_second
def g_per_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perSecond(series): non-negative slot delta divided by the slot
    width (counter -> rate).  The cent delta is an exact integer and
    the single division by 360000.0 (100 cents x 3600 s) is IEEE
    correctly rounded, so no rounding step is needed."""
    w = Window.partitionBy("metric").orderBy("interval")
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    d = (F.col("cents") - F.lag("cents", 1).over(w)).alias("dc")
    return lww.select(
        "metric",
        "interval",
        F.when(d >= 0, d.cast("double") / F.lit(360000.0)).alias("rate"),
    )


G_PER_SECOND_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
d AS (
  SELECT metric, interval,
         {CENTS_SQL} - lag({CENTS_SQL}, 1) OVER (PARTITION BY metric ORDER BY interval) AS dc
  FROM lww1h
)
SELECT metric, interval,
       CASE WHEN dc >= 0 THEN CAST(dc AS DOUBLE) / 360000.0 END AS rate
FROM d
"""


# ------------------------------------------------------ g_series_combine
def g_series_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxSeries / minSeries / rangeOfSeries / countSeries across all
    metrics, per slot — the across-series combiners that complement
    ``g_sum_series``.  Max/min are exact doubles, the range is a
    single exact subtraction, count is integral."""
    return (
        _lww1h(spark, sf_dir)
        .groupBy("interval")
        .agg(
            F.max("value").alias("max_v"),
            F.min("value").alias("min_v"),
            (F.max("value") - F.min("value")).alias("range_v"),
            F.count("value").alias("n_series"),
        )
    )


G_SERIES_COMBINE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT interval,
       max(value) AS max_v,
       min(value) AS min_v,
       max(value) - min(value) AS range_v,
       count(value) AS n_series
FROM lww1h
GROUP BY interval
"""


# ------------------------------------------------------ g_sort_by_total
def g_sort_by_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortByTotal(seriesList): series ranked by their sum — exact via
    integer cents; one row per metric (the legend order relation, as
    ``g_sort_by_maxima``)."""
    return (
        _lww1h(spark, sf_dir)
        .withColumn("cents", _cents())
        .groupBy("metric")
        .agg((F.sum("cents").cast("double") / F.lit(100.0)).alias("total"))
        .withColumn(
            "series_rank",
            F.row_number().over(Window.orderBy(F.desc("total"), F.asc("metric"))),
        )
    )


G_SORT_BY_TOTAL_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric, CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0 AS total
  FROM lww1h GROUP BY metric
)
SELECT metric, total,
       CAST(row_number() OVER (ORDER BY total DESC, metric ASC) AS INTEGER) AS series_rank
FROM per
"""


# ------------------------------------------------------------ g_exclude
G_EXCLUDE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, value
FROM lww1h
WHERE NOT regexp_matches(metric, '^c')
"""


# ------------------------------------------------------ g_nth_percentile
G_NTH_PERCENTILE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
ranked AS (
  SELECT metric, value,
         row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM lww1h
),
thresh AS (
  SELECT metric, max(value) AS p95
  FROM ranked WHERE rn <= CAST(ceil(n * 0.95) AS BIGINT)
  GROUP BY metric
)
SELECT l.metric, l.interval, t.p95
FROM lww1h l JOIN thresh t ON l.metric = t.metric
"""


# ---------------------------------------------------- g_lowest_average
def g_lowest_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lowestAverage(seriesList, 3): the bottom-3 mirror of
    ``g_highest_avg_3`` — exact cent averages, partial top-k via
    ``orderBy().limit(3)`` (TakeOrderedAndProject: per-partition
    bottom-3, no single-partition Exchange at any metric count), a
    3-row rank label, winners broadcast back to slots."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = lww.groupBy("metric").agg(F.sum("cents").alias("sc"), F.count("*").alias("n"))
    top = (
        per.select("metric", _avg6(F.col("sc"), F.col("n")).alias("avg_value"))
        .orderBy(F.asc("avg_value"), F.asc("metric"))
        .limit(3)
    )
    ranked = top.withColumn(
        "series_rank",
        F.row_number().over(Window.orderBy(F.asc("avg_value"), F.asc("metric"))),
    )
    return lww.join(F.broadcast(ranked), "metric").select(
        "metric", "interval", "value", "avg_value", "series_rank"
    )


G_LOWEST_AVERAGE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0 AS avg_value
  FROM lww1h GROUP BY metric
),
ranked AS (
  SELECT metric, avg_value,
         CAST(row_number() OVER (ORDER BY avg_value ASC, metric ASC) AS INTEGER) AS series_rank
  FROM per
)
SELECT l.metric, l.interval, l.value, r.avg_value, r.series_rank
FROM lww1h l JOIN ranked r ON l.metric = r.metric
WHERE r.series_rank <= 3
"""


# -------------------------------------------------------- g_alias_sub
def g_alias_sub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aliasSub(seriesList, "u([0-9]+)$", "user-\\1"): regex rename
    over the same dotted-path layout as ``g_alias_by_node``.  String
    transform only; each engine spells the backreference its own way
    (Java ``$1`` vs RE2 ``\\1``) but the semantics — and therefore
    the output strings — are identical."""
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"), F.lit(".u"), (F.col("user_id") % 4).cast("string")
        ).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long"))
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    return lww.select(
        F.regexp_replace("path", "u([0-9]+)$", "user-$1").alias("alias"),
        "path",
        "interval",
        "value",
    )


G_ALIAS_SUB_SQL = """
WITH pths AS (
  SELECT event_type || '.u' || CAST(user_id % 4 AS VARCHAR) AS path,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value, event_id AS write_seq
  FROM events
),
lwwp AS (
  SELECT path, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pths GROUP BY 1, 2
)
SELECT regexp_replace(path, 'u([0-9]+)$', 'user-\\1') AS alias, path, interval, value
FROM lwwp
"""


# =====================================================================
# Round-6 batch (43-55): selection mirrors, slot transforms, the
# series-combining division/percentile forms, and linear interpolation.


# ---------------------------------------------------------------- g_grep
G_GREP_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, value
FROM lww1h
WHERE regexp_matches(metric, '^(c|v)')
"""


# ------------------------------------------------------ g_maximum_above
def g_maximum_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maximumAbove(seriesList, 360): keep series whose peak exceeds
    the threshold.  Max of raw doubles is float-exact (no arithmetic),
    so the compare needs no integer detour.  The winner set is
    data-dependent and O(n_metrics) in the worst case, so the
    join-back carries NO broadcast hint — AQE sizes it at runtime
    (broadcast at test scale, shuffled when a 10^7-metric universe
    makes the set multi-hundred-MB); same policy across the selector
    family and ``d_incremental``."""
    lww = _lww1h(spark, sf_dir)
    winners = (
        lww.groupBy("metric")
        .agg(F.max("value").alias("max_value"))
        .where(F.col("max_value") > 360.0)
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "max_value"
    )


# ------------------------------------------------------ g_maximum_below
def g_maximum_below(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maximumBelow(seriesList, 360): the complement selector of
    ``g_maximum_above`` — keep series whose peak stays UNDER the
    threshold.  Same float-exact max compare, same un-hinted
    O(n_metrics) winner join-back (AQE sizes it)."""
    lww = _lww1h(spark, sf_dir)
    winners = (
        lww.groupBy("metric")
        .agg(F.max("value").alias("max_value"))
        .where(F.col("max_value") < 360.0)
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "max_value"
    )


G_MAXIMUM_BELOW_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric, max(value) AS max_value
  FROM lww1h GROUP BY metric
  HAVING max(value) < 360.0
)
SELECT l.metric, l.interval, l.value, w.max_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


G_MAXIMUM_ABOVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric, max(value) AS max_value
  FROM lww1h GROUP BY metric
  HAVING max(value) > 360.0
)
SELECT l.metric, l.interval, l.value, w.max_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ------------------------------------------------------ g_minimum_below
def g_minimum_below(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minimumBelow(seriesList, 0.05): keep series whose minimum dips
    under the threshold.  Min is float-exact; same selector shape."""
    lww = _lww1h(spark, sf_dir)
    winners = (
        lww.groupBy("metric")
        .agg(F.min("value").alias("min_value"))
        .where(F.col("min_value") < 0.05)
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "min_value"
    )


G_MINIMUM_BELOW_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric, min(value) AS min_value
  FROM lww1h GROUP BY metric
  HAVING min(value) < 0.05
)
SELECT l.metric, l.interval, l.value, w.min_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ------------------------------------------------------ g_average_below
def g_average_below(spark: SparkSession, sf_dir: str) -> DataFrame:
    """averageBelow(seriesList, 51): the mirror of ``g_average_above``
    — exact integer decision (sum_cents < 51·100·n), no float average
    in the filter."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    winners = (
        lww.groupBy("metric")
        .agg(F.sum("cents").alias("sc"), F.count("*").alias("n"))
        .where(F.col("sc") < 5100 * F.col("n"))
        .select("metric", _avg6(F.col("sc"), F.col("n")).alias("avg_value"))
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "avg_value"
    )


G_AVERAGE_BELOW_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0 AS avg_value
  FROM lww1h GROUP BY metric
  HAVING sum({CENTS_SQL}) < 5100 * count(*)
)
SELECT l.metric, l.interval, l.value, w.avg_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ---------------------------------------------------- g_highest_current
def g_highest_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """highestCurrent(seriesList, 3) and lowestCurrent in one relation:
    rank series by their most recent slot value (exact ``max_by``,
    unique interval per metric), keep the top-3 and bottom-3 with
    BOTH their global ranks.  Ties break on metric name.

    Scale shape (round-8 rewrite): the winners come from two partial
    top-k passes (``orderBy().limit(3)`` → TakeOrderedAndProject —
    per-partition top-3/bottom-3, never a single-partition window over
    the full per-metric relation).  A winner's *other* rank can be as
    large as #metrics, so it cannot come from a top-k pass; instead
    each global rank is restated as a COUNT — row_number over (v DESC,
    metric) ≡ 1 + #{p : p.v > w.v OR (p.v = w.v AND p.metric <
    w.metric)} — computed by broadcasting the ≤6 winners over the
    per-metric relation and counting with a map-side-combining
    aggregate keyed by winner.  Exact row_number equivalence (metric
    names are unique ⇒ strict total order), zero single-partition
    stages at any metric count."""
    lww = _lww1h(spark, sf_dir)
    per = lww.groupBy("metric").agg(F.max_by("value", "interval").alias("current_value"))
    hi3 = per.orderBy(F.desc("current_value"), F.asc("metric")).limit(3)
    lo3 = per.orderBy(F.asc("current_value"), F.asc("metric")).limit(3)
    cand = (
        hi3.unionByName(lo3)
        .distinct()
        .select(
            F.col("metric").alias("w_metric"),
            F.col("current_value").alias("w_value"),
        )
    )
    before_high = (F.col("current_value") > F.col("w_value")) | (
        (F.col("current_value") == F.col("w_value"))
        & (F.col("metric") < F.col("w_metric"))
    )
    before_low = (F.col("current_value") < F.col("w_value")) | (
        (F.col("current_value") == F.col("w_value"))
        & (F.col("metric") < F.col("w_metric"))
    )
    ranked = (
        per.crossJoin(F.broadcast(cand))
        .groupBy("w_metric", "w_value")
        .agg(
            (F.count(F.when(before_high, 1)) + 1).cast("int").alias("high_rank"),
            (F.count(F.when(before_low, 1)) + 1).cast("int").alias("low_rank"),
        )
        .where((F.col("high_rank") <= 3) | (F.col("low_rank") <= 3))
        .select(
            F.col("w_metric").alias("metric"),
            F.col("w_value").alias("current_value"),
            "high_rank",
            "low_rank",
        )
    )
    return lww.join(F.broadcast(ranked), "metric").select(
        "metric", "interval", "value", "current_value", "high_rank", "low_rank"
    )


G_HIGHEST_CURRENT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric, arg_max(value, interval) AS current_value
  FROM lww1h GROUP BY metric
),
ranked AS (
  SELECT metric, current_value,
         CAST(row_number() OVER (ORDER BY current_value DESC, metric ASC) AS INTEGER) AS high_rank,
         CAST(row_number() OVER (ORDER BY current_value ASC, metric ASC) AS INTEGER) AS low_rank
  FROM per
)
SELECT l.metric, l.interval, l.value, r.current_value, r.high_rank, r.low_rank
FROM lww1h l JOIN ranked r ON l.metric = r.metric
WHERE r.high_rank <= 3 OR r.low_rank <= 3
"""


# ---------------------------------------------------- g_offset_to_zero
def g_offset_to_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """offsetToZero(series): subtract each series' minimum so it
    touches zero.  Exact via cents (both the min and the subtraction
    stay integral until one final /100)."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    mins = lww.groupBy("metric").agg(F.min("cents").alias("min_c"))
    return lww.join(mins, "metric").select(
        "metric",
        "interval",
        ((F.col("cents") - F.col("min_c")).cast("double") / F.lit(100.0)).alias("zeroed"),
    )


G_OFFSET_TO_ZERO_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
mins AS (SELECT metric, min({CENTS_SQL}) AS min_c FROM lww1h GROUP BY metric)
SELECT l.metric, l.interval,
       CAST({CENTS_SQL} - m.min_c AS DOUBLE) / 100.0 AS zeroed
FROM lww1h l JOIN mins m ON l.metric = m.metric
"""


# -------------------------------------------------------- g_time_slice
def g_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeSlice(series, now-7d, now-1d): null out every slot outside
    the window but keep the slot grid (Graphite renders the gap).
    Bounds derive from the data's max timestamp — same convention as
    the fetch queries."""
    lww = _lww1h(spark, sf_dir)
    bounds = lww.agg(
        (F.max("interval") - 7 * 86400).alias("from_iv"),
        (F.max("interval") - 1 * 86400).alias("until_iv"),
    )
    return lww.crossJoin(F.broadcast(bounds)).select(
        "metric",
        "interval",
        F.when(
            (F.col("interval") >= F.col("from_iv"))
            & (F.col("interval") < F.col("until_iv")),
            F.col("value"),
        ).alias("sliced"),
    )


G_TIME_SLICE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
bounds AS (
  SELECT max(interval) - 7 * 86400 AS from_iv,
         max(interval) - 1 * 86400 AS until_iv
  FROM lww1h
)
SELECT metric, interval,
       CASE WHEN interval >= from_iv AND interval < until_iv THEN value END AS sliced
FROM lww1h, bounds
"""


# ----------------------------------------------------------- g_changed
G_CHANGED_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST(CASE WHEN lag(value, 1) OVER w IS NULL
                   OR value = lag(value, 1) OVER w THEN 0 ELSE 1 END AS BIGINT) AS changed
FROM lww1h
WINDOW w AS (PARTITION BY metric ORDER BY interval)
"""


# ------------------------------------------------------------- g_delay
G_DELAY_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       lag(value, 3) OVER (PARTITION BY metric ORDER BY interval) AS delayed
FROM lww1h
"""


# ------------------------------------------------------ g_divide_series
def g_divide_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """divideSeries(click, view) and multiplySeries(click, view) per
    slot — the binary series combiners.  Both series land in one
    grouped row per interval (conditional aggregates — no self-join),
    then a single IEEE op each: / is correctly rounded, and the cent
    cross-product keeps × exact until one final division."""
    lww = _lww1h(spark, sf_dir).where(F.col("metric").isin("click", "view"))
    per = lww.groupBy("interval").agg(
        F.max(F.when(F.col("metric") == "click", F.col("value"))).alias("click_v"),
        F.max(F.when(F.col("metric") == "view", F.col("value"))).alias("view_v"),
        F.max(F.when(F.col("metric") == "click", _cents())).alias("click_c"),
        F.max(F.when(F.col("metric") == "view", _cents())).alias("view_c"),
    )
    return per.select(
        "interval",
        (F.col("click_v") / F.col("view_v")).alias("click_per_view"),
        ((F.col("click_c") * F.col("view_c")).cast("double") / F.lit(10_000.0)).alias(
            "click_times_view"
        ),
    )


G_DIVIDE_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT interval,
         max(CASE WHEN metric = 'click' THEN value END) AS click_v,
         max(CASE WHEN metric = 'view' THEN value END) AS view_v,
         max(CASE WHEN metric = 'click' THEN {CENTS_SQL} END) AS click_c,
         max(CASE WHEN metric = 'view' THEN {CENTS_SQL} END) AS view_c
  FROM lww1h WHERE metric IN ('click', 'view')
  GROUP BY interval
)
SELECT interval,
       click_v / view_v AS click_per_view,
       CAST(click_c * view_c AS DOUBLE) / 10000.0 AS click_times_view
FROM per
"""


# ----------------------------------------------- g_percentile_of_series
def g_percentile_of_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentileOfSeries(seriesList, 50): per-slot median ACROSS
    series (the across-series quantile, vs ``g_nth_percentile``'s
    within-series one).  Rank convention: value at sorted position
    ceil(0.5·n) — pure ordering, no FP."""
    lww = _lww1h(spark, sf_dir)
    w = Window.partitionBy("interval").orderBy("value", "metric")
    ranked = lww.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("interval"))
    )
    return (
        ranked.where(F.col("rn") == F.ceil(F.col("n") * 0.5).cast("long"))
        .select("interval", F.col("value").alias("p50_across"),
                F.col("n").alias("n_series"))
    )


G_PERCENTILE_OF_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
ranked AS (
  SELECT interval, value,
         row_number() OVER (PARTITION BY interval ORDER BY value, metric) AS rn,
         count(*) OVER (PARTITION BY interval) AS n
  FROM lww1h
)
SELECT interval, value AS p50_across, n AS n_series
FROM ranked
WHERE rn = CAST(ceil(n * 0.5) AS BIGINT)
"""


# ------------------------------------------------------ g_moving_extremes
def g_moving_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movingMin(series, 5) + movingMax(series, 5): rolling extremes
    over the current + 4 preceding known slots.  Min/max of untouched
    doubles are float-exact — no rounding step."""
    w = Window.partitionBy("metric").orderBy("interval").rowsBetween(-4, 0)
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        F.min("value").over(w).alias("moving_min"),
        F.max("value").over(w).alias("moving_max"),
    )


G_MOVING_EXTREMES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       min(value) OVER w AS moving_min,
       max(value) OVER w AS moving_max
FROM lww1h
WINDOW w AS (PARTITION BY metric ORDER BY interval
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


# -------------------------------------------------------- g_interpolate
def g_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interpolate(series): linear-fill the null slots of the dense
    last-3-days grid between their nearest known neighbours (leading /
    trailing nulls stay null, matching Graphite).  The interpolation
    weight is computed in exact integers — cents × second-offsets —
    with one final floor-truncated division:
    filled_c = (prev_c·(next_iv−iv) + next_c·(iv−prev_iv)) / (next_iv−prev_iv).
    """
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir).withColumn("cents", _cents())
    wb = Window.partitionBy("metric").orderBy("interval").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("metric").orderBy("interval").rowsBetween(
        0, Window.unboundedFollowing
    )
    known_iv = F.when(F.col("cents").isNotNull(), F.col("interval"))
    marked = dense.select(
        "metric",
        "interval",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(known_iv, ignorenulls=True).over(wb).alias("prev_iv"),
        F.first("cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(known_iv, ignorenulls=True).over(wf).alias("next_iv"),
    )
    num = (
        F.col("prev_c") * (F.col("next_iv") - F.col("interval"))
        + F.col("next_c") * (F.col("interval") - F.col("prev_iv"))
    )
    den = F.col("next_iv") - F.col("prev_iv")
    filled = F.when(
        F.col("cents").isNotNull(), F.col("cents").cast("double") / F.lit(100.0)
    ).otherwise(
        # interior gap only: both neighbours exist
        F.floor(num.cast("double") * 10_000 / den) / F.lit(1_000_000.0)
    )
    return marked.select("metric", "interval", filled.alias("interpolated"))


G_INTERPOLATE_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval,
         CAST(round(l.value * 100) AS BIGINT) AS cents
  FROM spine LEFT JOIN lww1h l
    ON l.metric = spine.metric AND l.interval = spine.interval
),
marked AS (
  SELECT metric, interval, cents,
         last_value(cents IGNORE NULLS) OVER wb AS prev_c,
         last_value(CASE WHEN cents IS NOT NULL THEN interval END IGNORE NULLS) OVER wb AS prev_iv,
         first_value(cents IGNORE NULLS) OVER wf AS next_c,
         first_value(CASE WHEN cents IS NOT NULL THEN interval END IGNORE NULLS) OVER wf AS next_iv
  FROM dense
  WINDOW wb AS (PARTITION BY metric ORDER BY interval
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY metric ORDER BY interval
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT metric, interval,
       CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE) / 100.0
            ELSE floor(CAST(prev_c * (next_iv - interval)
                            + next_c * (interval - prev_iv) AS DOUBLE)
                       * 10000 / (next_iv - prev_iv)) / 1000000.0
       END AS interpolated
FROM marked
"""


# =====================================================================
# Round-6 batch 2 (56-66): line/selection/normalization forms and the
# stacked / weighted across-series combiners.


# ------------------------------------------------------ g_aggregate_line
def g_aggregate_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateLine(series, 'avg'|'max'|'min'): the flat per-series
    line relation — one row per metric carrying all three levels (the
    render API draws one; the relational form carries them together).
    Average is exact integer cents; max/min are float-exact."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    return lww.groupBy("metric").agg(
        _avg6(F.sum("cents"), F.count("*")).alias("avg_line"),
        F.max("value").alias("max_line"),
        F.min("value").alias("min_line"),
    )


G_AGGREGATE_LINE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0 AS avg_line,
       max(value) AS max_line,
       min(value) AS min_line
FROM lww1h
GROUP BY metric
"""


# ------------------------------------------------------ g_remove_empty
def g_remove_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """removeEmptySeries(seriesList, xFilesFactor=0.9): keep only the
    series whose known-slot fraction on the dense last-3-days grid
    meets the xff — the render-side twin of the propagate gate.  The
    decision is exact integer cross-multiplication
    (known·10 ≥ total·9)."""
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir)
    winners = (
        dense.groupBy("metric")
        .agg(F.count("value").alias("known"), F.count("*").alias("total"))
        .where(F.col("known") * 10 >= F.col("total") * 9)
    )
    return dense.join(winners, "metric").select(
        "metric", "interval", "value", "known", "total"
    )


G_REMOVE_EMPTY_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
),
winners AS (
  SELECT metric, count(value) AS known, count(*) AS total
  FROM dense GROUP BY metric
  HAVING count(value) * 10 >= count(*) * 9
)
SELECT d.metric, d.interval, d.value, w.known, w.total
FROM dense d JOIN winners w ON d.metric = w.metric
"""


# ---------------------------------------------------------- g_stacked
def g_stacked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stacked(seriesList): per slot, each series' value plus the
    running total of the series stacked beneath it (stack order =
    metric name).  Exact via a cents window sum keyed by interval."""
    w = (
        Window.partitionBy("interval")
        .orderBy("metric")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return _lww1h(spark, sf_dir).withColumn("cents", _cents()).select(
        "metric",
        "interval",
        "value",
        (F.sum("cents").over(w).cast("double") / F.lit(100.0)).alias("stacked_top"),
    )


G_STACKED_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, value,
       CAST(sum({CENTS_SQL}) OVER (
         PARTITION BY interval ORDER BY metric
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS stacked_top
FROM lww1h
"""


# ------------------------------------------------- g_weighted_average
def g_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weightedAverage(valueSeries, weightSeries): per slot, the
    across-series average of LWW values weighted by each series' raw
    write count in that slot (the natural companion series whisper
    actually has).  Exact: Σ(cents·w) and Σw are integers; the
    quotient is floor-truncated at 6 dp (`_avg6` with weighted sums).
    """
    pts = _points(spark, sf_dir)
    slot = (
        pts.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long"))
        .groupBy("metric", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"), F.count("*").alias("w"))
        .withColumn("cents", _cents())
    )
    return slot.groupBy("interval").agg(
        _avg6(F.sum(F.col("cents") * F.col("w")), F.sum("w")).alias("wavg"),
        F.sum("w").alias("total_weight"),
    )


G_WEIGHTED_AVERAGE_SQL = f"""
WITH {PTS_CTE},
slot AS (
  SELECT metric, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value,
         count(*) AS w
  FROM pts GROUP BY 1, 2
)
SELECT interval,
       floor(CAST(sum({CENTS_SQL} * w) AS DOUBLE) * 10000 / sum(w)) / 1000000.0 AS wavg,
       CAST(sum(w) AS BIGINT) AS total_weight
FROM slot
GROUP BY interval
"""


# -------------------------------------------------------------- g_pow
def g_pow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pow(series, 2): squared series.  A single IEEE multiply of the
    untouched double is bit-exact cross-engine (spelled x·x, not a
    libm pow call)."""
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        (F.col("value") * F.col("value")).alias("squared"),
    )


G_POW_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, value * value AS squared
FROM lww1h
"""


# -------------------------------------------------------------- g_exp
def g_exp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exp(scale(series, 0.01)): exponential of the percent-scaled
    series.  libm exp is not correctly rounded, so the result is
    floor-truncated to 6 dp (the ``_avg6`` pattern — floor(x*1e6)/1e6
    is pure binary float math, identical in both engines, unlike
    engine round() whose decimal-repr-vs-binary semantics diverge).
    Validity is not just the measure-zero "exp of a nonzero rational
    is transcendental" argument — the real risk is a 1-ulp-off libm
    pair straddling a boundary, which needs the TRUE value within a
    few ulps of one.  That is VERIFIED, not assumed: tests/
    test_float_boundaries.py enumerates the entire finite cents
    domain [0, 60000] in 40-digit decimal and shows every
    exp(c/1e4)·1e6 clears the nearest integer by >16 product-ulps
    (min distance 2.5e-05 vs ulp 6e-08; c=0 is exactly exp(0)=1, an
    exact IEEE result with no libm rounding).  The 0.01 scale itself:
    cents/10000.0 is one exact division."""
    scaled = _cents().cast("double") / F.lit(10_000.0)
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        (F.floor(F.exp(scaled) * F.lit(1_000_000.0)) / F.lit(1_000_000.0)).alias(
            "exp_scaled"
        ),
    )


G_EXP_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       floor(exp(CAST({CENTS_SQL} AS DOUBLE) / 10000.0) * 1000000.0)
         / 1000000.0 AS exp_scaled
FROM lww1h
"""


# --------------------------------------------------------- g_round_to
G_ROUND_TO_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST(({CENTS_SQL} + 5) // 10 AS DOUBLE) / 10.0 AS rounded1
FROM lww1h
"""


# ------------------------------------------------------ g_limit_sorted
def g_limit_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """limit(sortByName(seriesList), 3): the first 3 series
    alphabetically, slots passed through untouched — pure name
    ordering, no data math.  The name pick is a partial top-k
    (``orderBy().limit(3)`` → TakeOrderedAndProject over the distinct
    metric names), not a global rank window, so no single-partition
    Exchange exists at any metric count."""
    lww = _lww1h(spark, sf_dir)
    first3 = (
        lww.select("metric")
        .distinct()
        .orderBy("metric")
        .limit(3)
        .withColumn("name_rank", F.row_number().over(Window.orderBy("metric")))
    )
    return lww.join(F.broadcast(first3), "metric").select(
        "metric", "interval", "value", "name_rank"
    )


G_LIMIT_SORTED_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
first3 AS (
  SELECT metric,
         CAST(row_number() OVER (ORDER BY metric) AS INTEGER) AS name_rank
  FROM (SELECT DISTINCT metric FROM lww1h)
  QUALIFY name_rank <= 3
)
SELECT l.metric, l.interval, l.value, f.name_rank
FROM lww1h l JOIN first3 f ON l.metric = f.metric
"""


# --------------------------------------------- g_avg_outside_pctile
def g_avg_outside_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """averageOutsidePercentile(seriesList, 25): keep series whose
    average lies in the top or bottom quartile of the per-series
    averages.  Averages are exact (`_avg6`); the quartile cut is a
    rank threshold (ceil(0.25·n)) — ordering only, ties on metric
    name.

    Scale shape (round-8 rewrite): rank-window-free.  Under the
    strict total order (avg_value, metric), ``rk <= cut`` is exactly
    membership in ``orderBy(asc).limit(cut)`` and
    ``rk >= n+1-cut`` exactly ``orderBy(desc).limit(cut)`` — two
    partial top-k selections (TakeOrderedAndProject: each partition
    keeps cut rows, only cut·partitions merge), replacing the
    single-partition row_number window over the whole per-metric
    relation.  The per-metric relation is localCheckpoint-ed once so
    the count scalar (cut = ceil(n/4), the only driver value) and
    both TakeOrdereds read the materialized aggregate instead of
    re-running it."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = lww.groupBy("metric").agg(
        _avg6(F.sum("cents"), F.count("*")).alias("avg_value")
    ).localCheckpoint()
    n = per.count()
    cut = -(-n // 4)  # ceil(n * 0.25) without float
    low = per.orderBy(F.asc("avg_value"), F.asc("metric")).limit(cut)
    high = per.orderBy(F.desc("avg_value"), F.desc("metric")).limit(cut)
    winners = low.union(high).dropDuplicates(["metric"])
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "avg_value"
    )


G_AVG_OUTSIDE_PCTILE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric,
         floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0 AS avg_value
  FROM lww1h GROUP BY metric
),
ranked AS (
  SELECT metric, avg_value,
         row_number() OVER (ORDER BY avg_value, metric) AS rk,
         count(*) OVER () AS n
  FROM per
),
winners AS (
  SELECT metric, avg_value FROM ranked
  WHERE rk <= CAST(ceil(n * 0.25) AS BIGINT)
     OR rk >= n + 1 - CAST(ceil(n * 0.25) AS BIGINT)
)
SELECT l.metric, l.interval, l.value, w.avg_value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ------------------------------------ g_avg_outside_pctile_vt
def g_avg_outside_pctile_vt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """averageOutsidePercentile via the two-pass VALUE-THRESHOLD form —
    the documented successor to ``g_avg_outside_pctile``'s partial
    top-k once the cut size itself is huge (at 10⁷ metrics the
    TakeOrdered heaps hold n/4 = 2.5M rows per partition; here they
    hold only the boundary BUCKET's rows).

    Pass 1: per-series averages (exact ``_avg6``, so ``avg·10⁶`` is an
    integer) are histogrammed into ≤4096 equi-width integer buckets —
    one map-side-combined aggregate; the ≤4096-row histogram is the
    only thing the driver reads (plus one (n, min, max) scalar).  The
    driver walks the cumulative counts to find the bucket containing
    the cut-th order statistic on each side and how many rows of it
    are needed.
    Pass 2: full buckets strictly outside the boundaries are kept
    wholesale (a narrow filter); ONLY the two boundary buckets run a
    TakeOrdered, sized ``need ≤ bucket population`` (~n/4096 uniform;
    worst-case all-in-one-bucket degenerates to the top-k form —
    documented, not hidden).  Ties in ``avg`` share a bucket by
    construction, so the (avg, metric) resolution inside the boundary
    bucket reproduces the global rank semantics EXACTLY — same oracle
    as the rank form, bit for bit.
    """
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = (
        lww.groupBy("metric")
        .agg(_avg6(F.sum("cents"), F.count("*")).alias("avg_value"))
        .withColumn("u6", F.round(F.col("avg_value") * 1_000_000).cast("long"))
        .localCheckpoint()
    )
    st = per.agg(
        F.count("*").alias("n"), F.min("u6").alias("lo"), F.max("u6").alias("hi")
    ).first()
    n, lo_u6 = st["n"], st["lo"]
    cut = -(-n // 4)
    width = max(1, -(-(st["hi"] - lo_u6 + 1) // 4096))
    perb = per.withColumn("b", F.expr(f"(u6 - {lo_u6}) div {width}"))
    hist = {
        r["b"]: r["cnt"]
        for r in perb.groupBy("b").agg(F.count("*").alias("cnt")).collect()
    }
    cum, lo_b, need_lo = 0, 0, 0
    for b in sorted(hist):
        if cum + hist[b] >= cut:
            lo_b, need_lo = b, cut - cum
            break
        cum += hist[b]
    cum, hi_b, need_hi = 0, 0, 0
    for b in sorted(hist, reverse=True):
        if cum + hist[b] >= cut:
            hi_b, need_hi = b, cut - cum
            break
        cum += hist[b]
    low_edge = (
        perb.where(F.col("b") == F.lit(lo_b))
        .orderBy(F.asc("avg_value"), F.asc("metric"))
        .limit(need_lo)
    )
    high_edge = (
        perb.where(F.col("b") == F.lit(hi_b))
        .orderBy(F.desc("avg_value"), F.desc("metric"))
        .limit(need_hi)
    )
    winners = (
        perb.where(F.col("b") < F.lit(lo_b))
        .unionByName(low_edge)
        .unionByName(perb.where(F.col("b") > F.lit(hi_b)))
        .unionByName(high_edge)
        .select("metric", "avg_value")
        .dropDuplicates(["metric"])
    )
    return lww.join(winners, "metric").select(
        "metric", "interval", "value", "avg_value"
    )


# ------------------------------------------------------ g_cacti_style
def g_cacti_style(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cactiStyle(seriesList): annotate each series' legend with its
    Current / Max / Min, Cacti-dashboard style.  Current = the value
    at the series' LATEST interval (``max_by`` — no window); Max/Min
    are plain aggregates; the legend string renders the exact
    2-decimal values via integer-cents string assembly (see
    ``_cents_str``).  One map-side-combining aggregate per metric —
    same scan cost as any per-series stat, join-free."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = lww.groupBy("metric").agg(
        F.max_by("cents", "interval").alias("cur"),
        F.max("cents").alias("mx"),
        F.min("cents").alias("mn"),
    )
    return per.select(
        "metric",
        F.concat(
            F.col("metric"),
            F.lit(" Current:"), _cents_str(F.col("cur")),
            F.lit(" Max:"), _cents_str(F.col("mx")),
            F.lit(" Min:"), _cents_str(F.col("mn")),
        ).alias("legend"),
        (F.col("cur").cast("double") / 100).alias("current"),
        (F.col("mx").cast("double") / 100).alias("max_value"),
        (F.col("mn").cast("double") / 100).alias("min_value"),
    )


_CENTS_STR_SQL = """CASE WHEN {c} < 0 THEN '-' ELSE '' END ||
           CAST(abs({c}) // 100 AS VARCHAR) || '.' ||
           lpad(CAST(abs({c}) % 100 AS VARCHAR), 2, '0')"""

G_CACTI_STYLE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric,
         arg_max({CENTS_SQL}, interval) AS cur,
         max({CENTS_SQL}) AS mx,
         min({CENTS_SQL}) AS mn
  FROM lww1h GROUP BY metric
)
SELECT metric,
       metric || ' Current:' || {_CENTS_STR_SQL.format(c="cur")} ||
       ' Max:' || {_CENTS_STR_SQL.format(c="mx")} ||
       ' Min:' || {_CENTS_STR_SQL.format(c="mn")} AS legend,
       CAST(cur AS DOUBLE) / 100 AS current,
       CAST(mx AS DOUBLE) / 100 AS max_value,
       CAST(mn AS DOUBLE) / 100 AS min_value
FROM per
"""


# ------------------------------------------------------ g_minmax_norm
def g_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minMax(series): normalize each series to [0, 1] by its own
    range.  Numerator and denominator are exact integer cent deltas;
    the single division is correctly rounded on identical inputs.
    Degenerate flat series (max = min) yield NULL."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    rng = lww.groupBy("metric").agg(
        F.min("cents").alias("min_c"), F.max("cents").alias("max_c")
    )
    return lww.join(rng, "metric").select(
        "metric",
        "interval",
        F.when(
            F.col("max_c") > F.col("min_c"),
            (F.col("cents") - F.col("min_c")).cast("double")
            / (F.col("max_c") - F.col("min_c")).cast("double"),
        ).alias("normalized"),
    )


G_MINMAX_NORM_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
rng AS (
  SELECT metric, min({CENTS_SQL}) AS min_c, max({CENTS_SQL}) AS max_c
  FROM lww1h GROUP BY metric
)
SELECT l.metric, l.interval,
       CASE WHEN r.max_c > r.min_c
            THEN CAST({CENTS_SQL} - r.min_c AS DOUBLE) / CAST(r.max_c - r.min_c AS DOUBLE)
       END AS normalized
FROM lww1h l JOIN rng r ON l.metric = r.metric
"""


# -------------------------------------------------------- g_timestack
def g_timestack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeStack(series, "1d", 0, 3): three day-shifted copies of each
    series overlaid on a common axis — pure projection + union, the
    window-compare primitive behind day-over-day dashboards."""
    lww = _lww1h(spark, sf_dir)
    copies = [
        lww.select(
            "metric",
            F.lit(k).cast("int").alias("shift_days"),
            (F.col("interval") + F.lit(k * 86400)).alias("interval"),
            "value",
        )
        for k in range(3)
    ]
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


G_TIMESTACK_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, CAST(k AS INTEGER) AS shift_days,
       interval + k * 86400 AS interval, value
FROM lww1h
CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)
"""


# =====================================================================
# Round-6 batch 3 (67-72): moving sum, the null-handling family, path
# aliasing, renamed selectors, and day-over-day differencing.


# --------------------------------------------------------- g_moving_sum
G_MOVING_SUM_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST(sum({CENTS_SQL}) OVER (PARTITION BY metric ORDER BY interval
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS moving_sum
FROM lww1h
"""


# ------------------------------------------------------ g_transform_null
def g_transform_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformNull(series, 0) over the dense last-3-days grid: gaps
    become 0 (the render default for stacked charts); the companion
    isNonNull indicator rides along.  Pure coalesce — no arithmetic."""
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir)
    return dense.select(
        "metric",
        "interval",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("filled"),
        F.when(F.col("value").isNotNull(), 1).otherwise(0).cast("long").alias("known"),
    )


G_TRANSFORM_NULL_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
)
SELECT metric, interval,
       coalesce(value, 0.0) AS filled,
       CAST(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS known
FROM dense
"""


# ----------------------------------------------------- g_alias_by_metric
def g_alias_by_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aliasByMetric(seriesList): rename each series to the LAST node
    of its dotted path (the ``metric.uX`` layout of ``g_alias_sub``).
    String split only."""
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"), F.lit(".u"), (F.col("user_id") % 4).cast("string")
        ).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn("interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long"))
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    return lww.select(
        F.element_at(F.split("path", r"\."), -1).alias("alias"),
        "path",
        "interval",
        "value",
    )


G_ALIAS_BY_METRIC_SQL = """
WITH pths AS (
  SELECT event_type || '.u' || CAST(user_id % 4 AS VARCHAR) AS path,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value, event_id AS write_seq
  FROM events
),
lwwp AS (
  SELECT path, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pths GROUP BY 1, 2
)
SELECT list_extract(string_split(path, '.'), -1) AS alias, path, interval, value
FROM lwwp
"""


# -------------------------------------------------- g_use_series_above
def g_use_series_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """useSeriesAbove(seriesList, 360, "^", "hot."): keep series whose
    peak exceeds the threshold AND rename them (prefix substitution) —
    Graphite's select-then-switch-series idiom, here selection + regex
    rename in one relation."""
    lww = _lww1h(spark, sf_dir)
    winners = (
        lww.groupBy("metric")
        .agg(F.max("value").alias("max_value"))
        .where(F.col("max_value") > 360.0)
        .select("metric", F.regexp_replace("metric", "^", "hot.").alias("alias"))
    )
    return lww.join(winners, "metric").select(
        "alias", "metric", "interval", "value"
    )


G_USE_SERIES_ABOVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
winners AS (
  SELECT metric, 'hot.' || metric AS alias
  FROM lww1h GROUP BY metric
  HAVING max(value) > 360.0
)
SELECT w.alias, l.metric, l.interval, l.value
FROM lww1h l JOIN winners w ON l.metric = w.metric
"""


# ------------------------------------------------- g_diff_vs_yesterday
def g_diff_vs_yesterday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diffSeries(series, timeShift(series, "1d")): day-over-day delta
    — each slot minus the same slot 24 h earlier, NULL where yesterday
    has no value.  Exact via integer cents; the shifted copy joins on
    (metric, interval−86400), the same equi-join key layout as the
    archive tables (bucketed → no exchange)."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    today = lww.select("metric", "interval", "value", "cents")
    yday = lww.select(
        F.col("metric").alias("y_metric"),
        (F.col("interval") + F.lit(86400)).alias("y_interval"),
        F.col("cents").alias("y_cents"),
    )
    return (
        today.join(
            yday,
            (F.col("metric") == F.col("y_metric"))
            & (F.col("interval") == F.col("y_interval")),
            "left",
        )
        .select(
            "metric",
            "interval",
            "value",
            ((F.col("cents") - F.col("y_cents")).cast("double") / F.lit(100.0)).alias(
                "dod_delta"
            ),
        )
    )


G_DIFF_VS_YESTERDAY_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT t.metric, t.interval, t.value,
       CAST(CAST(round(t.value * 100) AS BIGINT)
            - CAST(round(y.value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS dod_delta
FROM lww1h t
LEFT JOIN lww1h y
  ON y.metric = t.metric AND y.interval + 86400 = t.interval
"""


# ------------------------------------------------------ g_count_series
def g_count_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isNonNull folded across the list: per slot, how many series are
    known on the dense grid and which fraction that is — the
    per-interval completeness relation behind removeEmptySeries-style
    dashboards.  Exact: integer counts, one final division of small
    ints."""
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir)
    return dense.groupBy("interval").agg(
        F.count("value").alias("n_known"),
        F.count("*").alias("n_series"),
        (F.count("value").cast("double") / F.count("*").cast("double")).alias(
            "known_frac"
        ),
    )


G_COUNT_SERIES_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
)
SELECT interval,
       count(value) AS n_known,
       count(*) AS n_series,
       CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS known_frac
FROM dense
GROUP BY interval
"""


# --------------------------------------------------------- g_area_between
def g_area_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """areaBetween(click, view): the per-slot band between two named
    series — low/high bounds plus the band width.  min/max of raw
    doubles are float-exact; the width is one exact cent subtraction.
    Conditional aggregates (no self-join), like ``g_divide_series``."""
    lww = _lww1h(spark, sf_dir).where(F.col("metric").isin("click", "view"))
    per = lww.groupBy("interval").agg(
        F.max(F.when(F.col("metric") == "click", F.col("value"))).alias("click_v"),
        F.max(F.when(F.col("metric") == "view", F.col("value"))).alias("view_v"),
        F.max(F.when(F.col("metric") == "click", _cents())).alias("click_c"),
        F.max(F.when(F.col("metric") == "view", _cents())).alias("view_c"),
    )
    return per.select(
        "interval",
        F.least("click_v", "view_v").alias("band_low"),
        F.greatest("click_v", "view_v").alias("band_high"),
        (
            F.abs(F.col("click_c") - F.col("view_c")).cast("double") / F.lit(100.0)
        ).alias("band_width"),
    )


G_AREA_BETWEEN_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT interval,
         max(CASE WHEN metric = 'click' THEN value END) AS click_v,
         max(CASE WHEN metric = 'view' THEN value END) AS view_v,
         max(CASE WHEN metric = 'click' THEN {CENTS_SQL} END) AS click_c,
         max(CASE WHEN metric = 'view' THEN {CENTS_SQL} END) AS view_c
  FROM lww1h WHERE metric IN ('click', 'view')
  GROUP BY interval
)
SELECT interval,
       least(click_v, view_v) AS band_low,
       greatest(click_v, view_v) AS band_high,
       CAST(abs(click_c - view_c) AS DOUBLE) / 100.0 AS band_width
FROM per
"""


# ------------------------------------------------------ g_smart_summarize
def g_smart_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """smartSummarize(series, '4h', 'sum'): like summarize() but the
    buckets align to the SERIES START (alignTo=from), not the epoch —
    the Graphite distinction this function exists for.  Per-metric
    start via a window min, bucket = interval − ((interval − start) %
    4h) in pure integer arithmetic; exact cent sums."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    start = F.min("interval").over(Window.partitionBy("metric"))
    return (
        lww.withColumn(
            "bucket",
            (F.col("interval") - (F.col("interval") - start) % F.lit(4 * HOUR)).cast(
                "long"
            ),
        )
        .groupBy("metric", "bucket")
        .agg(
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("sum_value"),
            F.count("*").alias("n_slots"),
        )
    )


G_SMART_SUMMARIZE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
st AS (
  SELECT metric, interval, value,
         min(interval) OVER (PARTITION BY metric) AS start
  FROM lww1h
)
SELECT metric,
       interval - ((interval - start) % 14400) AS bucket,
       CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0 AS sum_value,
       count(*) AS n_slots
FROM st
GROUP BY 1, 2
"""


# ------------------------------------------------------ g_agg_wildcards
def g_agg_wildcards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateWithWildcards(seriesList, 'average', 1): drop node 1 of
    every ``<event_type>.u<user_id % 4>`` leaf path and average the
    series that collapse together.  Same leaf layout as
    ``g_group_by_node`` but the average consolidator (exact ``_avg6``
    cents), which groupByNode's sum does not cover."""
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"), F.lit(".u"), (F.col("user_id") % 4).cast("string")
        ).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn(
            "interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long")
        )
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    return (
        lww.withColumn("name", F.split("path", "[.]").getItem(0))
        .withColumn("cents", _cents())
        .groupBy("name", "interval")
        .agg(
            _avg6(F.sum("cents"), F.count("*")).alias("avg_value"),
            F.count("*").alias("n_series"),
        )
    )


NODE_PATH_CTE = """pths AS (
  SELECT event_type || '.u' || CAST(user_id % 4 AS VARCHAR) AS path,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value, event_id AS write_seq
  FROM events
),
plww AS (
  SELECT path,
         ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pths
  GROUP BY 1, 2
)"""

G_AGG_WILDCARDS_SQL = f"""
WITH {NODE_PATH_CTE}
SELECT split_part(path, '.', 1) AS name,
       interval,
       floor(CAST(sum({CENTS_SQL}) AS DOUBLE) * 10000 / count(*)) / 1000000.0
         AS avg_value,
       count(*) AS n_series
FROM plww
GROUP BY 1, 2
"""


# ------------------------------------------------------- g_apply_by_node
def g_apply_by_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyByNode(seriesList, 0, 'asPercent(%, node-total)'): for each
    node-0 group, render every leaf as its percentage of the group's
    per-slot total.  One window sum over (node, interval) — no
    self-join.  pct = double(cents)·100 / double(total) is two
    correctly-rounded IEEE ops on exact operands, so it is
    cross-engine stable without truncation."""
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"), F.lit(".u"), (F.col("user_id") % 4).cast("string")
        ).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn(
            "interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long")
        )
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    node = F.split("path", "[.]").getItem(0)
    w = Window.partitionBy("node", "interval")
    return (
        lww.withColumn("node", node)
        .withColumn("cents", _cents())
        .withColumn("total_cents", F.sum("cents").over(w))
        .select(
            "path",
            "node",
            "interval",
            (
                F.col("cents").cast("double") * F.lit(100.0)
                / F.col("total_cents").cast("double")
            ).alias("pct_of_node"),
        )
    )


G_APPLY_BY_NODE_SQL = f"""
WITH {NODE_PATH_CTE}
SELECT path,
       split_part(path, '.', 1) AS node,
       interval,
       CAST({CENTS_SQL} AS DOUBLE) * 100.0
         / CAST(sum({CENTS_SQL}) OVER (PARTITION BY split_part(path, '.', 1),
                                       interval) AS DOUBLE) AS pct_of_node
FROM plww
"""


# ------------------------------------------------------- g_constant_line
def g_constant_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """constantLine(42.5): a generator function — emit the constant at
    every 1h step of the query range (range = events' [min, max] ts
    floored to the hour).  One tiny agg row exploded via sequence();
    at 100 TB the spine generation is O(range/step), data-free."""
    pts = _points(spark, sf_dir)
    bounds = pts.agg(
        (F.min("ts") - F.min("ts") % F.lit(HOUR)).cast("long").alias("lo"),
        (F.max("ts") - F.max("ts") % F.lit(HOUR)).cast("long").alias("hi"),
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600).cast("long"))).alias("interval")
    ).withColumn("constant", F.lit(42.5))


G_CONSTANT_LINE_SQL = f"""
WITH {PTS_CTE},
b AS (
  SELECT min(ts_sec) - min(ts_sec) % 3600 AS lo,
         max(ts_sec) - max(ts_sec) % 3600 AS hi
  FROM pts
)
SELECT unnest(generate_series(lo, hi, 3600)) AS interval,
       42.5 AS constant
FROM b
"""


# ------------------------------------------------------- g_time_function
def g_time_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeFunction('t', 3600): a generator whose value IS the
    timestamp at each step — the building block Graphite composes into
    synthetic test series.  Also emits seconds-since-range-start."""
    pts = _points(spark, sf_dir)
    bounds = pts.agg(
        (F.min("ts") - F.min("ts") % F.lit(HOUR)).cast("long").alias("lo"),
        (F.max("ts") - F.max("ts") % F.lit(HOUR)).cast("long").alias("hi"),
    )
    return (
        bounds.select(
            "lo",
            F.explode(F.sequence("lo", "hi", F.lit(3600).cast("long"))).alias(
                "interval"
            ),
        )
        .select(
            "interval",
            (F.col("interval") - F.col("lo")).alias("rel_sec"),
            F.col("interval").cast("double").alias("t_value"),
        )
    )


G_TIME_FUNCTION_SQL = f"""
WITH {PTS_CTE},
b AS (
  SELECT min(ts_sec) - min(ts_sec) % 3600 AS lo,
         max(ts_sec) - max(ts_sec) % 3600 AS hi
  FROM pts
),
spine AS (
  SELECT lo, unnest(generate_series(lo, hi, 3600)) AS interval FROM b
)
SELECT interval,
       interval - lo AS rel_sec,
       CAST(interval AS DOUBLE) AS t_value
FROM spine
"""


# -------------------------------------------------- g_holt_winters_bands
def g_holt_winters_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """holtWintersConfidenceBands(): the ``g_holt_winters`` recursion
    extended with an exponentially-smoothed absolute deviation
    (γ=0.1), bands = forecast ± 3·deviation — Graphite's confidence
    envelope.  Same applyInPandas shape, same bit-exact recursive-CTE
    oracle discipline: every float op appears in the same order in
    both engines (abs is exact; 3·d then f±… is two rounded ops)."""
    import pandas as pd

    lww = _lww1h(spark, sf_dir)
    alpha, beta, gamma = 0.5, 0.3, 0.1

    def bands(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("interval").reset_index(drop=True)
        x = pdf["value"].to_numpy(dtype=float)
        n = len(x)
        dev = [0.0] * n
        forecast = [None] * n
        upper = [None] * n
        lower = [None] * n
        s, b, d = x[0], 0.0, 0.0
        for t in range(1, n):
            f = s + b
            forecast[t] = f
            d = gamma * abs(x[t] - f) + (1 - gamma) * d
            dev[t] = d
            upper[t] = f + 3 * d
            lower[t] = f - 3 * d
            s_new = alpha * x[t] + (1 - alpha) * (s + b)
            b = beta * (s_new - s) + (1 - beta) * b
            s = s_new
        return pd.DataFrame(
            {
                "metric": pdf["metric"],
                "interval": pdf["interval"],
                "value": pdf["value"],
                "forecast": forecast,
                "dev": dev,
                "upper": upper,
                "lower": lower,
            }
        )

    return lww.groupBy("metric").applyInPandas(
        bands,
        "metric string, interval long, value double, forecast double, "
        "dev double, upper double, lower double",
    )


# Operand-order notes mirror the Python loop exactly:
#   f     = s + b                       (h.level + h.trend)
#   d_new = 0.1*abs(x - f) + (1 - 0.1)*d
#   upper = f + 3*d_new ; lower = f - 3*d_new
#   s_new = 0.5*x + (1 - 0.5)*(s + b)
#   b_new = 0.3*(s_new - s) + (1 - 0.3)*b
# (shared by the bands and aberration oracles)
_HW_BANDS_CTE = f"""
WITH RECURSIVE {PTS_CTE}, {LWW_1H_CTE},
seq AS (
  SELECT metric, interval, value,
         row_number() OVER (PARTITION BY metric ORDER BY interval) AS t
  FROM lww1h
),
hw AS (
  SELECT metric, t, interval, value,
         value AS level,
         CAST(0.0 AS DOUBLE) AS trend,
         CAST(0.0 AS DOUBLE) AS dev,
         CAST(NULL AS DOUBLE) AS forecast,
         CAST(NULL AS DOUBLE) AS upper,
         CAST(NULL AS DOUBLE) AS lower
  FROM seq WHERE t = 1
  UNION ALL
  SELECT s.metric, s.t, s.interval, s.value,
         0.5 * s.value + (1 - 0.5) * (h.level + h.trend) AS level,
         0.3 * ((0.5 * s.value + (1 - 0.5) * (h.level + h.trend)) - h.level)
           + (1 - 0.3) * h.trend AS trend,
         0.1 * abs(s.value - (h.level + h.trend)) + (1 - 0.1) * h.dev AS dev,
         h.level + h.trend AS forecast,
         (h.level + h.trend)
           + 3 * (0.1 * abs(s.value - (h.level + h.trend)) + (1 - 0.1) * h.dev)
           AS upper,
         (h.level + h.trend)
           - 3 * (0.1 * abs(s.value - (h.level + h.trend)) + (1 - 0.1) * h.dev)
           AS lower
  FROM hw AS h
  JOIN seq AS s ON s.metric = h.metric AND s.t = h.t + 1
)"""

G_HW_BANDS_SQL = f"""{_HW_BANDS_CTE}
SELECT metric, interval, value, forecast, dev, upper, lower FROM hw
"""


# ------------------------------------------------------ g_hw_aberration
def g_hw_aberration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """holtWintersAberration(): how far each point strays OUTSIDE the
    confidence bands — positive above, negative below, 0.0 inside (and
    0.0 where bands don't exist yet).  Computed on top of the
    band columns themselves, so band determinism carries over; the
    stray is one exact-operand IEEE subtraction."""
    b = g_holt_winters_bands(spark, sf_dir)
    ab = (
        F.when(F.col("upper").isNull(), F.lit(0.0))
        .when(F.col("value") > F.col("upper"), F.col("value") - F.col("upper"))
        .when(F.col("value") < F.col("lower"), F.col("value") - F.col("lower"))
        .otherwise(F.lit(0.0))
    )
    return b.select("metric", "interval", "value", ab.alias("aberration"))


G_HW_ABERRATION_SQL = f"""{_HW_BANDS_CTE}
SELECT metric, interval, value,
       CASE WHEN upper IS NULL THEN 0.0
            WHEN value > upper THEN value - upper
            WHEN value < lower THEN value - lower
            ELSE 0.0 END AS aberration
FROM hw
"""


# ------------------------------------------------------ g_range_of_series
def g_range_of_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rangeOfSeries(*): per-slot max − min across every base series —
    exact as one integer cent subtraction."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    return lww.groupBy("interval").agg(
        (
            (F.max("cents") - F.min("cents")).cast("double") / F.lit(100.0)
        ).alias("range_value"),
        F.count("*").alias("n_series"),
    )


G_RANGE_OF_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT interval,
       CAST(max({CENTS_SQL}) - min({CENTS_SQL}) AS DOUBLE) / 100.0 AS range_value,
       count(*) AS n_series
FROM lww1h
GROUP BY interval
"""


# ------------------------------------------------------ g_multiply_series
def g_multiply_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiplySeries(click, view): per-slot product of two named
    series.  cents·cents ≤ ~3.1e9 stays exact in BIGINT and double, so
    product/10000 is one correctly-rounded division; slots missing
    either factor yield NULL (Graphite's behavior for missing
    points)."""
    lww = _lww1h(spark, sf_dir).where(F.col("metric").isin("click", "view"))
    per = lww.groupBy("interval").agg(
        F.max(F.when(F.col("metric") == "click", _cents())).alias("click_c"),
        F.max(F.when(F.col("metric") == "view", _cents())).alias("view_c"),
    )
    return per.select(
        "interval",
        (
            (F.col("click_c") * F.col("view_c")).cast("double") / F.lit(10_000.0)
        ).alias("product"),
    )


G_MULTIPLY_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT interval,
         max(CASE WHEN metric = 'click' THEN {CENTS_SQL} END) AS click_c,
         max(CASE WHEN metric = 'view' THEN {CENTS_SQL} END) AS view_c
  FROM lww1h WHERE metric IN ('click', 'view')
  GROUP BY interval
)
SELECT interval,
       CAST(click_c * view_c AS DOUBLE) / 10000.0 AS product
FROM per
"""


# -------------------------------------------------------- g_stddev_series
def g_stddev_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddevSeries(*): per-slot population stddev across the base
    series.  The variance numerator n·Σc² − (Σc)² is computed in EXACT
    integer cents² (≤ ~1.6e11 ≪ 2^53), then sqrt — which IEEE 754
    requires to be correctly rounded in both engines — and two more
    correctly-rounded divisions, all in the same spelled order."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = lww.groupBy("interval").agg(
        F.count("*").alias("n_series"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    num = F.col("n_series") * F.col("s2") - F.col("s1") * F.col("s1")
    return per.select(
        "interval",
        "n_series",
        (
            F.sqrt(num.cast("double")) / F.col("n_series").cast("double")
            / F.lit(100.0)
        ).alias("stddev_value"),
    )


G_STDDEV_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT interval,
         count(*) AS n_series,
         sum({CENTS_SQL}) AS s1,
         sum({CENTS_SQL} * {CENTS_SQL}) AS s2
  FROM lww1h
  GROUP BY interval
)
SELECT interval,
       n_series,
       sqrt(CAST(n_series * s2 - s1 * s1 AS DOUBLE))
         / CAST(n_series AS DOUBLE) / 100.0 AS stddev_value
FROM per
"""


# ------------------------------------------------------- g_most_deviant
def g_most_deviant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mostDeviant(seriesList, 3): the 3 series with the largest
    population variance.  Variance numerator n·Σc² − (Σc)² is exact
    integer cents² (≤ ~1.6e15 ≪ 2^53); the single division to a
    double is correctly rounded in both engines, so the ranking —
    ties broken by metric — is identical."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    per = lww.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    num = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    top = (
        per.select(
            "metric",
            (num.cast("double") / (F.col("n") * F.col("n")).cast("double")).alias(
                "variance_c2"
            ),
        )
        # Partial top-k (TakeOrderedAndProject) instead of a global
        # rank window: no single-partition Exchange at 10⁷ metrics;
        # the labeling window below sees only TakeOrdered's 3-row,
        # already-single-partition output.
        .orderBy(F.desc("variance_c2"), F.asc("metric"))
        .limit(3)
    )
    return top.select(
        "metric",
        "variance_c2",
        F.row_number()
        .over(Window.orderBy(F.desc("variance_c2"), F.asc("metric")))
        .alias("dev_rank"),
    )


G_MOST_DEVIANT_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric,
         count(*) AS n,
         sum({CENTS_SQL}) AS s1,
         sum({CENTS_SQL} * {CENTS_SQL}) AS s2
  FROM lww1h
  GROUP BY metric
),
ranked AS (
  SELECT metric,
         CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE) AS variance_c2,
         CAST(row_number() OVER (
           ORDER BY CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE) DESC,
                    metric ASC) AS INTEGER) AS dev_rank
  FROM per
)
SELECT metric, variance_c2, dev_rank
FROM ranked WHERE dev_rank <= 3
"""


# ------------------------------------------------------ g_minimum_above
def g_minimum_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minimumAbove(summarize(series, '4h', 'sum'), 9): keep the
    summarized series whose MINIMUM bucket exceeds the threshold —
    the chained form Graphite users actually write (raw per-slot
    minima here sit near 0 for every series, so the unchained filter
    would be vacuous).  Threshold 9 discriminates at both driver
    scale factors (4/5 series at sf0.01 and sf0.1).  Window min over
    the bucketed relation — join-free, exact integer-cent compare."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    s4 = (
        lww.withColumn(
            "bucket",
            (F.col("interval") - F.col("interval") % F.lit(4 * HOUR)).cast("long"),
        )
        .groupBy("metric", "bucket")
        .agg(F.sum("cents").alias("sum_c"))
    )
    mn = F.min("sum_c").over(Window.partitionBy("metric"))
    return (
        s4.withColumn("mn", mn)
        .where(F.col("mn") > 900)
        .select(
            "metric",
            F.col("bucket").alias("interval"),
            (F.col("sum_c").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


G_MINIMUM_ABOVE_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
s4 AS (
  SELECT metric,
         interval - interval % 14400 AS bucket,
         sum({CENTS_SQL}) AS sum_c
  FROM lww1h
  GROUP BY 1, 2
),
keep AS (
  SELECT metric FROM s4 GROUP BY metric HAVING min(sum_c) > 900
)
SELECT s.metric,
       s.bucket AS interval,
       CAST(s.sum_c AS DOUBLE) / 100.0 AS sum_value
FROM s4 s JOIN keep k ON s.metric = k.metric
"""


# ------------------------------------------------------ g_current_below
def g_current_below(spark: SparkSession, sf_dir: str) -> DataFrame:
    """currentBelow(seriesList, 50): keep series whose most recent
    slot value is under the threshold (exact ``max_by`` by interval,
    float compare of the untouched double).  50 discriminates at both
    driver scale factors (3/5 series at sf0.01 and sf0.1)."""
    lww = _lww1h(spark, sf_dir)
    per = (
        lww.groupBy("metric")
        .agg(F.max_by("value", "interval").alias("current_value"))
        .where(F.col("current_value") < 50.0)
    )
    return lww.join(per, "metric").select(
        "metric", "interval", "value", "current_value"
    )


G_CURRENT_BELOW_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
per AS (
  SELECT metric, arg_max(value, interval) AS current_value
  FROM lww1h GROUP BY metric
  HAVING arg_max(value, interval) < 50.0
)
SELECT l.metric, l.interval, l.value, p.current_value
FROM lww1h l JOIN per p ON l.metric = p.metric
"""


# ------------------------------------------------------ g_sort_by_minima
def g_sort_by_minima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortByMinima(seriesList): order series by their minimum value
    (float min is selection, not arithmetic — exact); ties break on
    metric name."""
    per = _lww1h(spark, sf_dir).groupBy("metric").agg(
        F.min("value").alias("min_value")
    )
    return per.select(
        "metric",
        "min_value",
        F.row_number()
        .over(Window.orderBy(F.asc("min_value"), F.asc("metric")))
        .alias("order_rank"),
    )


G_SORT_BY_MINIMA_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       min(value) AS min_value,
       CAST(row_number() OVER (ORDER BY min(value) ASC, metric ASC) AS INTEGER)
         AS order_rank
FROM lww1h
GROUP BY metric
"""


# --------------------------------------------------- g_scale_to_seconds
def g_scale_to_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scaleToSeconds(series, 1): per-second rate for a 1h-step series
    — value · (1/3600) spelled as one exact-integer-cents division
    (cents / 360000), correctly rounded once in both engines."""
    return _lww1h(spark, sf_dir).withColumn("cents", _cents()).select(
        "metric",
        "interval",
        (F.col("cents").cast("double") / F.lit(360_000.0)).alias("per_second"),
    )


G_SCALE_TO_SECONDS_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       CAST({CENTS_SQL} AS DOUBLE) / 360000.0 AS per_second
FROM lww1h
"""


# ---------------------------------------------------- g_fallback_series
def g_fallback_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fallbackSeries(seriesList, constantLine(42.5)): series with NO
    data in the render range are replaced by the fallback constant;
    series with any data pass through (nulls intact).  A ghost series
    with an all-null dense range is synthesized to exercise the
    fallback branch; emptiness = one window count per series."""
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir).select("metric", "interval", "value")
    ghost = dense.where(F.col("metric") == "click").select(
        F.lit("ghost").alias("metric"),
        "interval",
        F.lit(None).cast("double").alias("value"),
    )
    uni = dense.unionByName(ghost)
    known = F.count("value").over(Window.partitionBy("metric"))
    return uni.withColumn("known", known).select(
        "metric",
        "interval",
        F.when(F.col("known") == 0, F.lit(42.5)).otherwise(F.col("value")).alias(
            "out_value"
        ),
        F.when(F.col("known") == 0, 1).otherwise(0).cast("long").alias("is_fallback"),
    )


G_FALLBACK_SERIES_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
),
ghost AS (
  SELECT 'ghost' AS metric, interval, CAST(NULL AS DOUBLE) AS value
  FROM dense WHERE metric = 'click'
),
uni AS (
  SELECT * FROM dense UNION ALL SELECT * FROM ghost
),
k AS (
  SELECT metric, interval, value,
         count(value) OVER (PARTITION BY metric) AS known
  FROM uni
)
SELECT metric, interval,
       CASE WHEN known = 0 THEN 42.5 ELSE value END AS out_value,
       CAST(CASE WHEN known = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_fallback
FROM k
"""


# ---------------------------------------------------- g_summarize_last
def g_summarize_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """summarize(series, '4h', 'last'): re-bucket with the LAST
    consolidator — ``max_by(value, interval)`` per bucket, pure
    selection, no arithmetic (the 'sum' form is ``g_summarize_4h``)."""
    lww = _lww1h(spark, sf_dir)
    return (
        lww.withColumn(
            "interval4h",
            (F.col("interval") - F.col("interval") % F.lit(4 * HOUR)).cast("long"),
        )
        .groupBy("metric", "interval4h")
        .agg(
            F.max_by("value", "interval").alias("last_value"),
            F.count("value").alias("known"),
        )
        .select("metric", F.col("interval4h").alias("interval"), "last_value", "known")
    )


G_SUMMARIZE_LAST_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric,
       interval - interval % 14400 AS interval,
       arg_max(value, interval) AS last_value,
       count(value) AS known
FROM lww1h
GROUP BY 1, 2
"""


# --------------------------------------------------------- g_sigmoid
def g_sigmoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sigmoid(scale(series, 0.01)): logistic squash of the
    percent-scaled series.  Same determinism treatment as ``g_exp``:
    the one libm call (exp) may differ by 1 ulp cross-engine, so the
    result is floor-truncated to 6 dp; every other op (negate exact,
    1+e and 1/x correctly rounded) is spelled in the same order in
    both engines.  As with g_exp, boundary safety is enumerated, not
    argued: tests/test_float_boundaries.py shows every true
    sigmoid(c/1e4)·1e6 over cents ∈ [1, 60000] clears the nearest
    integer by >16 product-ulps (min 2.1e-08 vs ulp 1.2e-10), and
    c=0 → 0.5 exactly (exact IEEE arithmetic, no libm rounding)."""
    scaled = _cents().cast("double") / F.lit(10_000.0)
    sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-scaled))
    return _lww1h(spark, sf_dir).select(
        "metric",
        "interval",
        (F.floor(sig * F.lit(1_000_000.0)) / F.lit(1_000_000.0)).alias("sigmoid"),
    )


G_SIGMOID_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval,
       floor(1.0 / (1.0 + exp(-(CAST({CENTS_SQL} AS DOUBLE) / 10000.0)))
             * 1000000.0) / 1000000.0 AS sigmoid
FROM lww1h
"""


# ------------------------------------------------------------- tagged series
# Graphite tag support (the tagged-series data model: a series is
# ``name;tag1=v1;tag2=v2``, selected with seriesByTag() and aggregated
# with groupByTags()).  The tag universe is derived deterministically
# from events: dc = user_id % 3, host = user_id % 10, name =
# event_type — so both engines construct the identical series set from
# first principles, and the Spark side must then PARSE the path back
# (str_to_map / substring_index) while the oracle re-derives or parses
# with different primitives (split_part / regexp_extract): any parse
# drift diverges the hash.  [ref: graphite tags docs — tagged carbon
# paths; whisper.go stores one file per path, tags included]
# The Spark-side universe is ``render._tagged_points``.

TAGGED_CTE = """tagged AS (
  SELECT event_type || ';dc=dc' || CAST(user_id % 3 AS VARCHAR)
           || ';host=h' || CAST(user_id % 10 AS VARCHAR) AS metric,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value,
         event_id AS write_seq
  FROM events
)"""

TAGGED_LWW_CTE = """tlww AS (
  SELECT metric,
         ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM tagged
  GROUP BY 1, 2
)"""


# ---------------------------------------------------------- g_tag_select
def g_tag_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seriesByTag('name=~^(click|error)$', 'dc=dc1'): select tagged
    series by a name regex plus an exact tag match, then render their
    1h LWW slots.  The tag predicate is evaluated on the PARSED path
    (substring_index + str_to_map), not on the base columns, so the
    round-trip through the tagged-path encoding is what's pinned."""
    lww = _lww(_tagged_points(spark, sf_dir), HOUR)
    tags = F.expr("str_to_map(substring_index(metric, ';', -2), ';', '=')")
    return (
        lww.withColumn("name", F.substring_index("metric", ";", 1))
        .withColumn("tags", tags)
        .where(
            F.col("name").rlike("^(click|error)$")
            & (F.col("tags")["dc"] == "dc1")
        )
        .select(
            "metric",
            "name",
            F.col("tags")["host"].alias("host"),
            "interval",
            "value",
        )
    )


G_TAG_SELECT_SQL = f"""
WITH {TAGGED_CTE}, {TAGGED_LWW_CTE}
SELECT metric,
       split_part(metric, ';', 1) AS name,
       replace(split_part(metric, ';', 3), 'host=', '') AS host,
       interval,
       value
FROM tlww
WHERE regexp_matches(split_part(metric, ';', 1), '^(click|error)$')
  AND split_part(metric, ';', 2) = 'dc=dc1'
"""


# ----------------------------------------------------------- g_tag_group
def g_tag_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupByTags(seriesByTag('name=~.*'), 'sum', 'dc'): aggregate the
    whole tagged universe down to (name, dc) — every host's series
    summed per slot.  Exact integer cents for the cross-series sum
    (float sum order differs between engines); n_series counts the
    distinct member series with data in the slot."""
    lww = _lww(_tagged_points(spark, sf_dir), HOUR).withColumn("cents", _cents())
    return (
        lww.withColumn("name", F.substring_index("metric", ";", 1))
        .withColumn("dc", F.regexp_extract("metric", ";dc=([^;]+)", 1))
        .groupBy("name", "dc", "interval")
        .agg(
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("sum_value"),
            F.count("*").alias("n_series"),
        )
    )


G_TAG_GROUP_SQL = f"""
WITH {TAGGED_CTE}, {TAGGED_LWW_CTE}
SELECT split_part(metric, ';', 1) AS name,
       regexp_extract(metric, ';dc=([^;]+)', 1) AS dc,
       interval,
       CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0 AS sum_value,
       count(*) AS n_series
FROM tlww
GROUP BY 1, 2, 3
"""


# ----------------------------------------------------------- g_tag_parse
def g_tag_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag inventory (aliasByTags / tag-value browse): one row per
    tagged series with its parsed name/dc/host plus raw-point stats.
    150 series (5 names x 3 dcs x 10 hosts), so the whole result is a
    small dimension — at 100 TB this is the `seriesByTag` index table
    you'd broadcast, not a data-volume scan."""
    pts = _tagged_points(spark, sf_dir).withColumn("cents", _cents())
    tags = F.expr("str_to_map(substring_index(metric, ';', -2), ';', '=')")
    return (
        pts.groupBy("metric")
        .agg(
            F.count("*").alias("n_pts"),
            F.sum("cents").alias("total_cents"),
        )
        .withColumn("name", F.substring_index("metric", ";", 1))
        .withColumn("tags", tags)
        .select(
            "metric",
            "name",
            F.col("tags")["dc"].alias("dc"),
            F.col("tags")["host"].alias("host"),
            "n_pts",
            "total_cents",
        )
    )


G_TAG_PARSE_SQL = f"""
WITH {TAGGED_CTE}
SELECT metric,
       split_part(metric, ';', 1) AS name,
       replace(split_part(metric, ';', 2), 'dc=', '') AS dc,
       replace(split_part(metric, ';', 3), 'host=', '') AS host,
       count(*) AS n_pts,
       CAST(sum({CENTS_SQL}) AS BIGINT) AS total_cents
FROM tagged
GROUP BY 1, 2, 3, 4
"""


# =====================================================================
# Round-8 batch: the remaining data-semantic render functions —
# list-pairwise division, the multi-offset timeShift form, tag-based
# aliasing, threshold comparison, and the isNonNull availability
# integral.  Presentation-only functions (cactiStyle, legendValue,
# verticalLine, drawAsInfinite, color/lineWidth cosmetics) are out of
# scope by design — they alter legend text or pixel rendering, not
# data; docs/QUERIES.md records the exclusion.


# ------------------------------------------------- g_divide_series_lists
def g_divide_series_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """divideSeriesLists([click, error], [view, signup]): pairwise
    series division — dividend i over divisor i, matched by list
    position.  The pairing is a literal CASE map applied to the
    dividend side (expression-level, no extra table), then one
    equi-join on (divisor, interval) — both sides shuffle once on the
    join key, the whisper-native alignment.  The ratio is a single
    correctly-rounded IEEE divide of bit-identical LWW doubles;
    zero-valued divisor slots are excluded on BOTH sides (Graphite
    renders them as None)."""
    lww = _lww1h(spark, sf_dir)
    pair = F.when(F.col("metric") == "click", "view").otherwise("signup")
    num = lww.where(F.col("metric").isin("click", "error")).select(
        F.col("metric").alias("dividend"),
        pair.alias("divisor"),
        "interval",
        F.col("value").alias("num_v"),
    )
    den = (
        lww.where(F.col("metric").isin("view", "signup"))
        .where(F.col("value") != 0.0)
        .select(F.col("metric").alias("divisor"), "interval",
                F.col("value").alias("den_v"))
    )
    return num.join(den, ["divisor", "interval"], "inner").select(
        "dividend",
        "divisor",
        "interval",
        (F.col("num_v") / F.col("den_v")).alias("ratio"),
    )


G_DIVIDE_SERIES_LISTS_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
num AS (
  SELECT metric AS dividend,
         CASE metric WHEN 'click' THEN 'view' ELSE 'signup' END AS divisor,
         interval, value AS num_v
  FROM lww1h WHERE metric IN ('click', 'error')
),
den AS (
  SELECT metric AS divisor, interval, value AS den_v
  FROM lww1h WHERE metric IN ('view', 'signup') AND value <> 0.0
)
SELECT n.dividend, n.divisor, n.interval, n.num_v / d.den_v AS ratio
FROM num n JOIN den d ON n.divisor = d.divisor AND n.interval = d.interval
"""


# --------------------------------------------------- g_time_shift_multi
def g_time_shift_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timeShift(series, "-1d") AND "-7d" in one pass — the
    multi-offset form behind week-over-week dashboards: the base slot
    LEFT-joined against its day-ago and week-ago values via two
    interval-shifted projections of the SAME LWW frame (self-joins on
    the whisper-native (metric, interval) key; absent history stays
    NULL).  Deltas in exact integer cents; every output re-scaled
    through one exact /100.0."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())

    def shifted(off: int, name: str) -> DataFrame:
        return lww.select(
            "metric",
            (F.col("interval") + F.lit(off)).cast("long").alias("interval"),
            F.col("cents").alias(name),
        )

    return (
        lww.join(shifted(86400, "c_1d"), ["metric", "interval"], "left")
        .join(shifted(604800, "c_7d"), ["metric", "interval"], "left")
        .select(
            "metric",
            "interval",
            (F.col("cents").cast("double") / 100.0).alias("value"),
            (F.col("c_1d").cast("double") / 100.0).alias("value_1d_ago"),
            (F.col("c_7d").cast("double") / 100.0).alias("value_7d_ago"),
            ((F.col("cents") - F.col("c_1d")).cast("double") / 100.0).alias(
                "dod_delta"
            ),
            ((F.col("cents") - F.col("c_7d")).cast("double") / 100.0).alias(
                "wow_delta"
            ),
        )
    )


G_TIME_SHIFT_MULTI_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
c AS (SELECT metric, interval, {CENTS_SQL} AS cents FROM lww1h)
SELECT a.metric, a.interval,
       CAST(a.cents AS DOUBLE) / 100.0 AS value,
       CAST(b.cents AS DOUBLE) / 100.0 AS value_1d_ago,
       CAST(w.cents AS DOUBLE) / 100.0 AS value_7d_ago,
       CAST(a.cents - b.cents AS DOUBLE) / 100.0 AS dod_delta,
       CAST(a.cents - w.cents AS DOUBLE) / 100.0 AS wow_delta
FROM c a
LEFT JOIN c b ON a.metric = b.metric AND a.interval = b.interval + 86400
LEFT JOIN c w ON a.metric = w.metric AND a.interval = w.interval + 604800
"""


# ------------------------------------------------------ g_alias_by_tags
def g_alias_by_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aliasByTags(seriesByTag('name=~.*'), 'host', 'name'): rename
    every tagged series to "<host>.<name>" — the alias form one
    projection above g_tag_parse's tag universe.  Aliases are NOT
    deduplicated (the three dcs sharing a host.name label each keep
    their rows), exactly Graphite's legend behavior; slot data rides
    along unchanged, so this is a zero-shuffle narrow map over the
    tagged LWW."""
    lww = _lww(_tagged_points(spark, sf_dir), HOUR)
    tags = F.expr("str_to_map(substring_index(metric, ';', -2), ';', '=')")
    return lww.withColumn("tags", tags).select(
        F.concat(
            F.col("tags")["host"], F.lit("."), F.substring_index("metric", ";", 1)
        ).alias("alias"),
        "interval",
        "value",
    )


G_ALIAS_BY_TAGS_SQL = f"""
WITH {TAGGED_CTE}, {TAGGED_LWW_CTE}
SELECT replace(split_part(metric, ';', 3), 'host=', '') || '.'
         || split_part(metric, ';', 1) AS alias,
       interval, value
FROM tlww
"""


# ---------------------------------------------------------- g_threshold
def g_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """threshold(250, "warn") rendered against the series list: the
    constant plus each series' per-slot breach flag and running breach
    count — the alerting-join semantics behind threshold dashboards
    (drawing the line itself is presentation; the comparison is data).
    Breach test on exact integer cents (25000), running count an
    integer window sum."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    w = (
        Window.partitionBy("metric")
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    above = (F.col("cents") > 25000).cast("long")
    return lww.select(
        "metric",
        "interval",
        F.lit(250.0).alias("threshold"),
        above.alias("above"),
        F.sum(above).over(w).alias("breaches_so_far"),
    )


G_THRESHOLD_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE}
SELECT metric, interval, 250.0 AS threshold,
       CAST(CASE WHEN {CENTS_SQL} > 25000 THEN 1 ELSE 0 END AS BIGINT) AS above,
       CAST(sum(CASE WHEN {CENTS_SQL} > 25000 THEN 1 ELSE 0 END)
            OVER (PARTITION BY metric ORDER BY interval
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS breaches_so_far
FROM lww1h
"""


# -------------------------------------------------------- g_is_non_null
def g_is_non_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """isNonNull(series) over the dense last-3-days grid: the 0/1
    known-slot indicator plus its integral (running known count) and
    the running availability ratio in integer micro units — the uptime
    statistic a gap-aware dashboard derives from isNonNull.  All
    integer arithmetic: the ratio uses integral DIV, so there is no
    float rounding anywhere."""
    from go_whisper_spark.operators.whisper_queries import w_fetch_dense_3d

    dense = w_fetch_dense_3d(spark, sf_dir)
    wrun = (
        Window.partitionBy("metric")
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    known = F.when(F.col("value").isNotNull(), 1).otherwise(0).cast("long")
    return (
        dense.select(
            "metric",
            "interval",
            known.alias("known"),
            F.sum(known).over(wrun).alias("known_so_far"),
            F.row_number()
            .over(Window.partitionBy("metric").orderBy("interval"))
            .cast("long")
            .alias("slots"),
        )
        .withColumn(
            "avail_micro", F.expr("CAST((known_so_far * 1000000) DIV slots AS BIGINT)")
        )
        .drop("slots")
    )


G_IS_NON_NULL_SQL = f"""
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
),
dense AS (
  SELECT spine.metric, spine.interval, lww1h.value
  FROM spine LEFT JOIN lww1h
    ON lww1h.metric = spine.metric AND lww1h.interval = spine.interval
),
k AS (
  SELECT metric, interval,
         CAST(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS known,
         CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) OVER wrun
              AS BIGINT) AS known_so_far,
         row_number() OVER (PARTITION BY metric ORDER BY interval) AS slots
  FROM dense
  WINDOW wrun AS (PARTITION BY metric ORDER BY interval
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT metric, interval, known, known_so_far,
       CAST((known_so_far * 1000000) // slots AS BIGINT) AS avail_micro
FROM k
"""


# =====================================================================
# Round-8 batch 2: list-pairwise sum/diff, multi-node grouping, the
# TakeOrdered highestMax selector, the deterministic sine generator,
# counter-wrap derivative, and two-argument asPercent.


# ---------------------------------------------- g_aggregate_series_lists
def g_aggregate_series_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateSeriesLists([click, error], [view, signup], 'sum') and
    'diff' in one relation: pairwise position-matched combination of
    two series lists (the add/subtract siblings of
    ``g_divide_series_lists``, same literal CASE pairing + one
    equi-join on the whisper-native key).  Exact integer cents until
    the final /100."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    pair = F.when(F.col("metric") == "click", "view").otherwise("signup")
    a = lww.where(F.col("metric").isin("click", "error")).select(
        F.col("metric").alias("series_a"),
        pair.alias("series_b"),
        "interval",
        F.col("cents").alias("ca"),
    )
    b = lww.where(F.col("metric").isin("view", "signup")).select(
        F.col("metric").alias("series_b"), "interval", F.col("cents").alias("cb")
    )
    return a.join(b, ["series_b", "interval"], "inner").select(
        "series_a",
        "series_b",
        "interval",
        ((F.col("ca") + F.col("cb")).cast("double") / 100.0).alias("sum_value"),
        ((F.col("ca") - F.col("cb")).cast("double") / 100.0).alias("diff_value"),
    )


G_AGGREGATE_SERIES_LISTS_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
a AS (
  SELECT metric AS series_a,
         CASE metric WHEN 'click' THEN 'view' ELSE 'signup' END AS series_b,
         interval, {CENTS_SQL} AS ca
  FROM lww1h WHERE metric IN ('click', 'error')
),
b AS (
  SELECT metric AS series_b, interval, {CENTS_SQL} AS cb
  FROM lww1h WHERE metric IN ('view', 'signup')
)
SELECT a.series_a, a.series_b, a.interval,
       CAST(a.ca + b.cb AS DOUBLE) / 100.0 AS sum_value,
       CAST(a.ca - b.cb AS DOUBLE) / 100.0 AS diff_value
FROM a JOIN b ON a.series_b = b.series_b AND a.interval = b.interval
"""


# ------------------------------------------------------ g_group_by_nodes
def g_group_by_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupByNodes(seriesList, 'sum', 0, 2): the multi-node form of
    groupByNode — leaf paths ``<event_type>.u<u%4>.h<u%2>`` collapse
    onto nodes (0, 2), dropping the middle node.  Same carbon fan-in
    shape (leaf LWW then node rollup, both keys partitionable); exact
    integer cents."""
    from go_whisper_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"),
            F.lit(".u"), (F.col("user_id") % 4).cast("string"),
            F.lit(".h"), (F.col("user_id") % 2).cast("string"),
        ).alias("path"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    lww = (
        pts.withColumn(
            "interval", (F.col("ts") - F.col("ts") % F.lit(HOUR)).cast("long")
        )
        .groupBy("path", "interval")
        .agg(F.max_by("value", "write_seq").alias("value"))
    )
    parts = F.split("path", "[.]")
    return (
        lww.withColumn("cents", _cents())
        .withColumn("key", F.concat(parts.getItem(0), F.lit("."), parts.getItem(2)))
        .groupBy("key", "interval")
        .agg(
            F.count("*").alias("n_leaves"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


G_GROUP_BY_NODES_SQL = f"""
WITH pths3 AS (
  SELECT event_type || '.u' || CAST(user_id % 4 AS VARCHAR)
                    || '.h' || CAST(user_id % 2 AS VARCHAR) AS path,
         epoch_ns(ts) // 1000000000 AS ts_sec,
         value, event_id AS write_seq
  FROM events
),
lwwp3 AS (
  SELECT path, ts_sec - ts_sec % 3600 AS interval,
         arg_max(value, write_seq) AS value
  FROM pths3 GROUP BY 1, 2
)
SELECT split_part(path, '.', 1) || '.' || split_part(path, '.', 3) AS key,
       interval,
       count(*) AS n_leaves,
       CAST(sum({CENTS_SQL}) AS DOUBLE) / 100.0 AS sum_value
FROM lwwp3
GROUP BY 1, 2
"""


# -------------------------------------------------------- g_highest_max
def g_highest_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """highestMax(seriesList, 3): keep the full series of the 3
    metrics with the largest peak — the max-statistic member of the
    partial-top-k selector family (TakeOrderedAndProject, 3-row rank
    label, broadcast join back; no single-partition Exchange at any
    metric count).  Peak of untouched doubles is float-exact."""
    lww = _lww1h(spark, sf_dir)
    top = (
        lww.groupBy("metric")
        .agg(F.max("value").alias("max_value"))
        .orderBy(F.desc("max_value"), F.asc("metric"))
        .limit(3)
    )
    ranked = top.withColumn(
        "series_rank",
        F.row_number().over(Window.orderBy(F.desc("max_value"), F.asc("metric"))),
    )
    return lww.join(F.broadcast(ranked), "metric").select(
        "metric", "interval", "value", "max_value", "series_rank"
    )


G_HIGHEST_MAX_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
ranked AS (
  SELECT metric, max(value) AS max_value,
         CAST(row_number() OVER (ORDER BY max(value) DESC, metric ASC)
              AS INTEGER) AS series_rank
  FROM lww1h GROUP BY metric
  QUALIFY series_rank <= 3
)
SELECT l.metric, l.interval, l.value, r.max_value, r.series_rank
FROM lww1h l JOIN ranked r ON l.metric = r.metric
"""


# ------------------------------------------------------- g_sin_function
def g_sin_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sinFunction(42.5, 1h) over the events range: the sine-wave
    generator at hour-of-day phase.  The angle is (2·hour+1)·π/24 —
    ODD multiples of π/24 only, so the true sine never sits at the
    ±1/0 extremes where a floor boundary lives; there are exactly 24
    distinct angles, and tests/test_float_boundaries.py enumerates
    all 24 scaled values in high-precision decimal (min distance to a
    1e-6 floor boundary 0.0376 vs product ulp 7.5e-9 — ~5·10⁶ ulps of
    clearance, so a 1-ulp cross-libm sin() disagreement cannot change
    the floor).  π enters both engines as the same literal double."""
    import math

    pts = _points(spark, sf_dir)
    bounds = pts.agg(
        (F.min("ts") - F.min("ts") % F.lit(HOUR)).cast("long").alias("lo"),
        (F.max("ts") - F.max("ts") % F.lit(HOUR)).cast("long").alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.lit(3600).cast("long"))).alias("interval")
    )
    hour = (F.col("interval") % 86400) / 3600  # integer-valued
    angle = (F.lit(2.0) * hour + F.lit(1.0)) * F.lit(math.pi) / F.lit(24.0)
    return spine.select(
        "interval",
        (
            F.floor(F.lit(42.5) * F.sin(angle) * F.lit(1_000_000.0))
            / F.lit(1_000_000.0)
        ).alias("sine"),
    )


G_SIN_FUNCTION_SQL = f"""
WITH {PTS_CTE},
b AS (
  SELECT min(ts_sec) - min(ts_sec) % 3600 AS lo,
         max(ts_sec) - max(ts_sec) % 3600 AS hi
  FROM pts
),
spine AS (SELECT unnest(generate_series(lo, hi, 3600)) AS interval FROM b)
SELECT interval,
       floor(42.5 * sin((2.0 * ((interval % 86400) / 3600) + 1.0)
                        * 3.141592653589793 / 24.0) * 1000000.0)
         / 1000000.0 AS sine
FROM spine
"""


# ------------------------------------------------------- g_counter_wrap
G_COUNTER_WRAP_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
c AS (SELECT metric, interval, {CENTS_SQL} AS cents FROM lww1h)
SELECT metric, interval,
       CAST(CASE WHEN cents >= lag(cents) OVER w
                 THEN cents - lag(cents) OVER w
                 ELSE 60000 - lag(cents) OVER w + cents + 1 END
            AS DOUBLE) / 100.0 AS wrapped_delta
FROM c
WINDOW w AS (PARTITION BY metric ORDER BY interval)
"""


# --------------------------------------------------- g_as_percent_series
def g_as_percent_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asPercent(seriesList, view): the two-argument form — each
    series as a percentage of one DIVISOR series per slot (vs
    ``g_as_percent``'s share-of-total).  The divisor is a single
    series (720 slots), broadcast onto the others; the percentage is
    exact integral arithmetic: floor((cents·10⁸) DIV total_c) micro-
    percent, one final exact /10⁶.  Zero-valued divisor slots are
    excluded on both contract sides."""
    lww = _lww1h(spark, sf_dir).withColumn("cents", _cents())
    div = (
        lww.where((F.col("metric") == "view") & (F.col("cents") != 0))
        .select("interval", F.col("cents").alias("total_c"))
    )
    return (
        lww.where(F.col("metric") != "view")
        .join(F.broadcast(div), "interval")
        .withColumn(
            "pct_micro",
            F.expr("CAST((cents * 100000000) DIV total_c AS BIGINT)"),
        )
        .select(
            "metric",
            "interval",
            (F.col("pct_micro").cast("double") / F.lit(1_000_000.0)).alias("pct_of_view"),
        )
    )


G_AS_PERCENT_SERIES_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
c AS (SELECT metric, interval, {CENTS_SQL} AS cents FROM lww1h),
div AS (
  SELECT interval, cents AS total_c FROM c
  WHERE metric = 'view' AND cents <> 0
)
SELECT c.metric, c.interval,
       CAST((c.cents * 100000000) // d.total_c AS DOUBLE) / 1000000.0
         AS pct_of_view
FROM c JOIN div d ON c.interval = d.interval
WHERE c.metric <> 'view'
"""


# ------------------------------------------- g_remove_between_pctile
def g_remove_between_pctile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """removeBetweenPercentile(series, 30): drop slots whose value lies
    INSIDE the [p30, p70] band, keeping the outliers on both tails —
    the inverse selector of removeAbove/BelowPercentile.  Thresholds
    are rank-based (values at sorted positions ceil(0.3·n) and
    ceil(0.7·n)) — pure ordering, float-exact in both engines, and
    band membership uses the thresholds' own values so ties at a
    boundary fall inside the band in both engines.  Same two-pass
    shape as g_remove_above_pctile: tiny per-metric threshold relation
    broadcast back over the slots."""
    lww = _lww1h(spark, sf_dir)
    w = Window.partitionBy("metric").orderBy("value")
    ranked = lww.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("metric"))
    )
    thresh = (
        ranked.groupBy("metric").agg(
            F.max(
                F.when(
                    F.col("rn") <= F.ceil(F.col("n") * 0.3).cast("long"),
                    F.col("value"),
                )
            ).alias("p30"),
            F.max(
                F.when(
                    F.col("rn") <= F.ceil(F.col("n") * 0.7).cast("long"),
                    F.col("value"),
                )
            ).alias("p70"),
        )
    )
    return (
        lww.join(thresh, "metric")
        .where((F.col("value") < F.col("p30")) | (F.col("value") > F.col("p70")))
        .select("metric", "interval", "value", "p30", "p70")
    )


G_REMOVE_BETWEEN_SQL = f"""
WITH {PTS_CTE}, {LWW_1H_CTE},
ranked AS (
  SELECT metric, interval, value,
         row_number() OVER (PARTITION BY metric ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY metric) AS n
  FROM lww1h
),
thresh AS (
  SELECT metric,
         max(CASE WHEN rn <= CAST(ceil(n * 0.3) AS BIGINT)
                  THEN value END) AS p30,
         max(CASE WHEN rn <= CAST(ceil(n * 0.7) AS BIGINT)
                  THEN value END) AS p70
  FROM ranked GROUP BY metric
)
SELECT l.metric, l.interval, l.value, t.p30, t.p70
FROM lww1h l JOIN thresh t ON l.metric = t.metric
WHERE l.value < t.p30 OR l.value > t.p70
"""


# --------------------------------------------------- g_random_walk
def g_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """randomWalkFunction('rw', 3600): the seeded synthetic-series
    generator.  Graphite's uses wall-clock random(); a distributed,
    oracle-checkable engine needs a PINNED stream, so the step at slot
    i is an md5-derived uniform — ``u32('rw:' || i)`` mapped to
    integer micro-units in [-0.5, 0.5) — and the walk is its running
    sum.  Every value is integer until the final /1e6 cast, so the
    cumulative sum is accumulation-order-free and bit-identical
    cross-engine (the module's md5 discipline).  Generator shape:
    data-free after the bounds agg, O(range/step) spine."""
    pts = _points(spark, sf_dir)
    bounds = pts.agg(
        (F.min("ts") - F.min("ts") % F.lit(HOUR)).cast("long").alias("lo"),
        (F.max("ts") - F.max("ts") % F.lit(HOUR)).cast("long").alias("hi"),
    )
    spine = bounds.select(
        "lo",
        F.explode(F.sequence("lo", "hi", F.lit(3600).cast("long"))).alias(
            "interval"
        ),
    ).select("interval", ((F.col("interval") - F.col("lo")) / 3600).cast("long").alias("i"))
    u32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("rw:"), F.col("i"))), 1, 8), 16, 10
    ).cast("long")
    step_u6 = (u32 * 1000000).cast("long") / F.lit(4294967296).cast("long")
    stepped = spine.withColumn(
        "step_u6", F.floor(step_u6).cast("long") - 500000
    )
    w = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    return stepped.select(
        "interval",
        (F.sum("step_u6").over(w).cast("double") / 1000000.0).alias("walk"),
    )


G_RANDOM_WALK_SQL = f"""
WITH {PTS_CTE},
b AS (
  SELECT min(ts_sec) - min(ts_sec) % 3600 AS lo,
         max(ts_sec) - max(ts_sec) % 3600 AS hi
  FROM pts
),
spine AS (
  SELECT unnest(generate_series(lo, hi, 3600)) AS interval, lo FROM b
),
stepped AS (
  SELECT interval, (interval - lo) // 3600 AS i,
         CAST(floor(CAST('0x' || substring(
                md5('rw:' || CAST((interval - lo) // 3600 AS VARCHAR)),
                1, 8) AS BIGINT) * 1000000.0 / 4294967296) AS BIGINT)
           - 500000 AS step_u6
  FROM spine
)
SELECT interval,
       CAST(sum(step_u6) OVER (ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / 1000000.0 AS walk
FROM stepped
"""


# ------------------------------------------------------ render targets
# The composable render-expression layer (go_whisper_spark/render.py):
# each g_render_* query is ONE nested Graphite target string, parsed
# and composed into a single declarative plan; the oracle SQL is
# EMITTED FROM THE SAME AST by the paired SQL visitor, so Spark and
# DuckDB evaluate the identical composition.  perfbench/targets.py
# keeps a copy of these strings.
RENDER_EXPR_PIPELINE = (
    "movingSum(offset(scale(grep(seriesByGlob('*'), '^(c|v)'), 3), -1), 4)"
)
RENDER_EXPR_SUM_DERIV = "derivative(sumSeries(scale('*', 2)))"
# The ^ anchor keeps regexp_replace single-match: Spark replaces all
# matches and DuckDB the first, which would otherwise diverge.
RENDER_EXPR_SELECT_ALIAS = (
    "aliasSub(maximumAbove(absolute('*'), 300), '^c', 'C')"
)
RENDER_EXPR_CUMCOUNT = (
    "alias(integral(timeShift(countSeries(grep('*', '^(c|e)')), 2)), "
    "'cum_present')"
)
RENDER_EXPR_RATIO = "asPercent(sumSeries('c*'), sumSeries('*'))"
RENDER_EXPR_SMOOTH = (
    "diffSeries(averageSeries('*'), movingAverage(sumSeries('*'), 6))"
)
RENDER_EXPR_GROUP = (
    "group(alias(sumSeries('c*'), 'clicks'), "
    "scale(grep('*', '^(e|p)'), -1), "
    "timeShift(maximumAbove('v*', 300), 1))"
)
# nonNegativeDerivative nulls every drop slot (frequent on the raw
# fluctuating series); keepLastValue fills them and transformNull
# zeroes each series' unfillable first slot.
RENDER_EXPR_COUNTERS = (
    "transformNull(keepLastValue("
    "nonNegativeDerivative(highestMax('*', 3))), 0)"
)
RENDER_EXPR_SUMMARIZE = (
    "diffSeries(sumSeries(summarize('*', 6, 'max')), "
    "sumSeries(summarize('*', 6, 'avg')))"
)
RENDER_EXPR_TOPAVG = (
    "offsetToZero(highestAverage(perSecond(summarize('*', 2, 'sum')), 3))"
)
RENDER_EXPR_NODES = (
    "groupByNode(group(aliasSub('c*', '^', 'dc1.'), "
    "aliasSub('[ve]*', '^', 'dc2.')), 0, 'sum')"
)
# The depth-6 per-series window chain the benchmark tracks as the
# parser-composed worst case: every op rides ONE metric-partitioned
# window ordering.
RENDER_EXPR_DEEP = (
    "movingSum(changed(keepLastValue(removeBelowPercentile("
    "delay(scale('*', 3), 1), 10))), 4)"
)
RENDER_EXPR_SPREAD = (
    "movingSum(divideSeries(rangeOfSeries('*'), "
    "percentileOfSeries('*', 50)), 4)"
)
RENDER_EXPR_HW = (
    "diffSeries(sumSeries('*'), sumSeries(holtWintersForecast('*')))"
)
RENDER_EXPR_BANDS = (
    "diffSeries(sumSeries(holtWintersConfidenceUpper('*')), "
    "sumSeries(holtWintersConfidenceLower('*')))"
)
RENDER_EXPR_HITSTACK = (
    "highestCurrent(hitcount(sumSeriesWithWildcards("
    "group(aliasSub('c*', '^', 'dc1.'), aliasSub('[ve]*', '^', 'dc2.')), "
    "1), 4), 2)"
)
# sumSeries(isNonNull('*')) is the single-series right side the
# multiplySeries combiner contract requires.
RENDER_EXPR_VOLATILITY = (
    "multiplySeries(aggregateLine(stdev(scaleToSeconds('*', 60), 6), "
    "'max'), sumSeries(isNonNull('*')))"
)
RENDER_EXPR_TAGS = (
    "movingSum(highestAverage(groupByTags("
    "seriesByTag('name=~^(click|view|purchase)$', 'host!=h3'), "
    "'sum', 'dc'), 2), 4)"
)
RENDER_EXPR_CACTI = "cactiStyle(filterSeries('*', 'average', '>=', 45))"
# divideSeriesLists pairs the i-th series of each side by sorted
# label rank, the deterministic analog of Graphite's positional
# pairing.
RENDER_EXPR_PAIRS = (
    "divideSeriesLists(smartSummarize(grep('*', '^c'), 4, 'sum'), "
    "smartSummarize(exclude('*', '^c'), 4, 'sum'))"
)
RENDER_EXPR_GENERIC = (
    "movingWindow(highest(asPercent(seriesByGlob('*')), 2, 'average'), "
    "4, 'median')"
)
RENDER_EXPR_XFF = (
    "sortBy(legendValue(summarize(setXFilesFactor(seriesByGlob('*'), 75), "
    "4, 'avg'), 'max', 'avg'), 'average', 1)"
)
# Desugared at the parser to areaBetween(lower, upper), so there is
# no visitor case of its own to drift.
RENDER_EXPR_HWAREA = "holtWintersConfidenceArea(sumSeries('*'))"
# Left-folds the multiplySeries cent contract in ORIGINAL-label
# order, so the per-step flooring is identical in both engines.
RENDER_EXPR_PRODUCT = (
    "movingSum(multiplySeriesWithWildcards(seriesByGlob('[cv]*'), 0), 4)"
)
RENDER_EXPR_INFSTACK = (
    "sortByTotal(timeStack(drawAsInfinite(seriesByGlob('click')), "
    "'6h', 0, 3))"
)
# removeEmptySeries(89) keeps 1 of 5 series at sf0.01 and 2 of 5 at
# sf0.1.
RENDER_EXPR_GAPFILL = (
    "aliasByNode(removeEmptySeries(interpolate(removeAboveValue("
    "aliasSub('*', '^', 'dc1.x.'), 40), 3), 89), 0, 2)"
)
RENDER_EXPR_VLINE = (
    "group(verticalLine(12, 'deploy'), "
    "integral(sumSeries(seriesByGlob('c*'))))"
)
RENDER_EXPR_LISTS = (
    "movingSum(aggregateSeriesLists(seriesByGlob('[ce]*'), "
    "seriesByGlob('[vs]*'), 'diff'), 4)"
)
RENDER_EXPR_APPLY = (
    "sortByMaxima(applyByNode(timeStack(seriesByGlob('click'), 1, 0, 3), "
    "0, 'asPercent(%)'))"
)
# unique() is proven duplicate-free to the analyzer, so the
# order-sensitive movingSum above it composes.
RENDER_EXPR_UNIQUE = (
    "movingSum(unique(seriesByGlob('c*'), seriesByGlob('*')), 4)"
)
RENDER_EXPR_BAND = (
    "movingSum(areaBetween(sumSeries('c*'), sumSeries('[ve]*')), 4)"
)
RENDER_EXPR_MULTINODE = (
    "sortByMinima(groupByNodes(group(aliasSub('c*', '^', 'dc1.x.'), "
    "aliasSub('[ve]*', '^', 'dc2.y.')), 'avg', 0, 1))"
)


QUERIES = {
    "g_remove_between_pctile": g_remove_between_pctile,
    "g_random_walk": g_random_walk,
    "g_moving_avg_3": g_moving_avg_3,
    "g_nonneg_derivative": g_nonneg_derivative,
    "g_sum_series": g_sum_series,
    "g_timeshift_1d": g_timeshift_1d,
    "g_as_percent": g_as_percent,
    "g_integral": _rendered("integral('*')", "running_sum"),
    "g_keep_last": g_keep_last,
    "g_keep_last_limit": g_keep_last_limit,
    "g_summarize_4h": g_summarize_4h,
    "g_group_by_node": g_group_by_node,
    "g_highest_avg_3": g_highest_avg_3,
    "g_stdev_1d": g_stdev_1d,
    "g_ewma": g_ewma,
    "g_moving_median_5": g_moving_median_5,
    "g_transform_chain": g_transform_chain,
    "g_linreg_1d": g_linreg_1d,
    "g_remove_above_pctile": g_remove_above_pctile,
    "g_remove_below_pctile": g_remove_below_pctile,
    "g_moving_avg_time": g_moving_avg_time,
    "g_holt_winters": g_holt_winters,
    "g_scale": _rendered("scale('*', 8)", "scaled"),
    "g_offset": _rendered("offset('*', 100)", "shifted"),
    "g_alias_by_node": g_alias_by_node,
    "g_hitcount": g_hitcount,
    "g_consolidate_by": g_consolidate_by,
    "g_remove_below_value": _rendered("removeBelowValue('*', 30)", "filtered"),
    "g_remove_above_value": _rendered("removeAboveValue('*', 70)", "filtered"),
    "g_average_above": g_average_above,
    "g_current_above": g_current_above,
    "g_integral_by_interval": g_integral_by_interval,
    "g_sort_by_maxima": g_sort_by_maxima,
    "g_absolute": _rendered("absolute(offset('*', -50))", "abs_dev"),
    "g_invert": g_invert,
    "g_square_root": g_square_root,
    "g_logarithm": g_logarithm,
    "g_derivative": _rendered("derivative('*')", "delta"),
    "g_per_second": g_per_second,
    "g_series_combine": g_series_combine,
    "g_sort_by_total": g_sort_by_total,
    "g_exclude": _rendered("exclude('*', '^c')"),
    "g_nth_percentile": _rendered("nPercentile('*', 95)", "p95"),
    "g_lowest_average": g_lowest_average,
    "g_alias_sub": g_alias_sub,
    "g_grep": _rendered("grep('*', '^(c|v)')"),
    "g_render_pipeline": _rendered(RENDER_EXPR_PIPELINE),
    "g_render_sum_deriv": _rendered(RENDER_EXPR_SUM_DERIV),
    "g_render_select_alias": _rendered(RENDER_EXPR_SELECT_ALIAS),
    "g_render_cumcount": _rendered(RENDER_EXPR_CUMCOUNT),
    "g_render_ratio": _rendered(RENDER_EXPR_RATIO),
    "g_render_smooth": _rendered(RENDER_EXPR_SMOOTH),
    "g_render_group": _rendered(RENDER_EXPR_GROUP),
    "g_render_counters": _rendered(RENDER_EXPR_COUNTERS),
    "g_render_summarize": _rendered(RENDER_EXPR_SUMMARIZE),
    "g_render_topavg": _rendered(RENDER_EXPR_TOPAVG),
    "g_render_nodes": _rendered(RENDER_EXPR_NODES),
    "g_render_deep": _rendered(RENDER_EXPR_DEEP),
    "g_render_spread": _rendered(RENDER_EXPR_SPREAD),
    "g_render_hw": _rendered(RENDER_EXPR_HW),
    "g_render_bands": _rendered(RENDER_EXPR_BANDS),
    "g_render_hitstack": _rendered(RENDER_EXPR_HITSTACK),
    "g_render_volatility": _rendered(RENDER_EXPR_VOLATILITY),
    "g_render_tags": _rendered(RENDER_EXPR_TAGS),
    "g_render_cacti": _rendered(RENDER_EXPR_CACTI),
    "g_render_pairs": _rendered(RENDER_EXPR_PAIRS),
    "g_render_generic": _rendered(RENDER_EXPR_GENERIC),
    "g_render_xff": _rendered(RENDER_EXPR_XFF),
    "g_render_hwarea": _rendered(RENDER_EXPR_HWAREA),
    "g_render_product": _rendered(RENDER_EXPR_PRODUCT),
    "g_render_infstack": _rendered(RENDER_EXPR_INFSTACK),
    "g_render_gapfill": _rendered(RENDER_EXPR_GAPFILL),
    "g_render_vline": _rendered(RENDER_EXPR_VLINE),
    "g_render_lists": _rendered(RENDER_EXPR_LISTS),
    "g_render_apply": _rendered(RENDER_EXPR_APPLY),
    "g_render_unique": _rendered(RENDER_EXPR_UNIQUE),
    "g_render_band": _rendered(RENDER_EXPR_BAND),
    "g_render_multinode": _rendered(RENDER_EXPR_MULTINODE),
    "g_maximum_above": g_maximum_above,
    "g_maximum_below": g_maximum_below,
    "g_minimum_below": g_minimum_below,
    "g_average_below": g_average_below,
    "g_highest_current": g_highest_current,
    "g_offset_to_zero": g_offset_to_zero,
    "g_time_slice": g_time_slice,
    "g_changed": _rendered("changed('*')", "changed", "long"),
    "g_delay": _rendered("delay('*', 3)", "delayed"),
    "g_divide_series": g_divide_series,
    "g_percentile_of_series": g_percentile_of_series,
    "g_moving_extremes": g_moving_extremes,
    "g_interpolate": g_interpolate,
    "g_aggregate_line": g_aggregate_line,
    "g_remove_empty": g_remove_empty,
    "g_stacked": g_stacked,
    "g_weighted_average": g_weighted_average,
    "g_pow": g_pow,
    "g_exp": g_exp,
    "g_round_to": _rendered("roundTo('*', 1)", "rounded1"),
    "g_limit_sorted": g_limit_sorted,
    "g_avg_outside_pctile": g_avg_outside_pctile,
    "g_avg_outside_pctile_vt": g_avg_outside_pctile_vt,
    "g_cacti_style": g_cacti_style,
    "g_minmax_norm": g_minmax_norm,
    "g_timestack": g_timestack,
    "g_moving_sum": _rendered("movingSum('*', 4)", "moving_sum"),
    "g_transform_null": g_transform_null,
    "g_alias_by_metric": g_alias_by_metric,
    "g_use_series_above": g_use_series_above,
    "g_diff_vs_yesterday": g_diff_vs_yesterday,
    "g_count_series": g_count_series,
    "g_area_between": g_area_between,
    "g_tag_select": g_tag_select,
    "g_tag_group": g_tag_group,
    "g_tag_parse": g_tag_parse,
    "g_smart_summarize": g_smart_summarize,
    "g_agg_wildcards": g_agg_wildcards,
    "g_apply_by_node": g_apply_by_node,
    "g_constant_line": g_constant_line,
    "g_time_function": g_time_function,
    "g_holt_winters_bands": g_holt_winters_bands,
    "g_range_of_series": g_range_of_series,
    "g_multiply_series": g_multiply_series,
    "g_stddev_series": g_stddev_series,
    "g_hw_aberration": g_hw_aberration,
    "g_most_deviant": g_most_deviant,
    "g_minimum_above": g_minimum_above,
    "g_current_below": g_current_below,
    "g_sort_by_minima": g_sort_by_minima,
    "g_scale_to_seconds": g_scale_to_seconds,
    "g_fallback_series": g_fallback_series,
    "g_summarize_last": g_summarize_last,
    "g_sigmoid": g_sigmoid,
    "g_divide_series_lists": g_divide_series_lists,
    "g_time_shift_multi": g_time_shift_multi,
    "g_alias_by_tags": g_alias_by_tags,
    "g_threshold": g_threshold,
    "g_is_non_null": g_is_non_null,
    "g_aggregate_series_lists": g_aggregate_series_lists,
    "g_group_by_nodes": g_group_by_nodes,
    "g_highest_max": g_highest_max,
    "g_sin_function": g_sin_function,
    "g_counter_wrap": _rendered(
        "nonNegativeDerivative('*', 600)", "wrapped_delta"
    ),
    "g_as_percent_series": g_as_percent_series,
}

ORACLES = {
    "g_remove_between_pctile": G_REMOVE_BETWEEN_SQL,
    "g_random_walk": G_RANDOM_WALK_SQL,
    "g_holt_winters": G_HOLT_WINTERS_SQL,
    "g_tag_select": G_TAG_SELECT_SQL,
    "g_tag_group": G_TAG_GROUP_SQL,
    "g_tag_parse": G_TAG_PARSE_SQL,
    "g_smart_summarize": G_SMART_SUMMARIZE_SQL,
    "g_agg_wildcards": G_AGG_WILDCARDS_SQL,
    "g_apply_by_node": G_APPLY_BY_NODE_SQL,
    "g_constant_line": G_CONSTANT_LINE_SQL,
    "g_time_function": G_TIME_FUNCTION_SQL,
    "g_holt_winters_bands": G_HW_BANDS_SQL,
    "g_range_of_series": G_RANGE_OF_SERIES_SQL,
    "g_multiply_series": G_MULTIPLY_SERIES_SQL,
    "g_stddev_series": G_STDDEV_SERIES_SQL,
    "g_hw_aberration": G_HW_ABERRATION_SQL,
    "g_most_deviant": G_MOST_DEVIANT_SQL,
    "g_minimum_above": G_MINIMUM_ABOVE_SQL,
    "g_current_below": G_CURRENT_BELOW_SQL,
    "g_sort_by_minima": G_SORT_BY_MINIMA_SQL,
    "g_scale_to_seconds": G_SCALE_TO_SECONDS_SQL,
    "g_fallback_series": G_FALLBACK_SERIES_SQL,
    "g_summarize_last": G_SUMMARIZE_LAST_SQL,
    "g_sigmoid": G_SIGMOID_SQL,
    "g_moving_avg_3": G_MOVING_AVG_SQL,
    "g_nonneg_derivative": G_NONNEG_SQL,
    "g_sum_series": G_SUM_SERIES_SQL,
    "g_timeshift_1d": G_TIMESHIFT_SQL,
    "g_as_percent": G_AS_PERCENT_SQL,
    "g_integral": G_INTEGRAL_SQL,
    "g_keep_last": G_KEEP_LAST_SQL,
    "g_keep_last_limit": G_KEEP_LAST_LIMIT_SQL,
    "g_summarize_4h": G_SUMMARIZE_SQL,
    "g_group_by_node": G_GROUP_BY_NODE_SQL,
    "g_highest_avg_3": G_HIGHEST_AVG_SQL,
    "g_stdev_1d": G_STDEV_SQL,
    "g_ewma": G_EWMA_SQL,
    "g_moving_median_5": G_MOVING_MEDIAN_SQL,
    "g_transform_chain": G_TRANSFORM_CHAIN_SQL,
    "g_linreg_1d": G_LINREG_SQL,
    "g_remove_above_pctile": G_REMOVE_ABOVE_SQL,
    "g_remove_below_pctile": G_REMOVE_BELOW_PCTILE_SQL,
    "g_moving_avg_time": G_MOVING_AVG_TIME_SQL,
    "g_scale": G_SCALE_SQL,
    "g_offset": G_OFFSET_SQL,
    "g_alias_by_node": G_ALIAS_BY_NODE_SQL,
    "g_hitcount": G_HITCOUNT_SQL,
    "g_consolidate_by": G_CONSOLIDATE_BY_SQL,
    "g_remove_below_value": G_REMOVE_BELOW_VALUE_SQL,
    "g_remove_above_value": G_REMOVE_ABOVE_VALUE_SQL,
    "g_average_above": G_AVERAGE_ABOVE_SQL,
    "g_current_above": G_CURRENT_ABOVE_SQL,
    "g_integral_by_interval": G_INTEGRAL_BY_INTERVAL_SQL,
    "g_sort_by_maxima": G_SORT_BY_MAXIMA_SQL,
    "g_absolute": G_ABSOLUTE_SQL,
    "g_invert": G_INVERT_SQL,
    "g_square_root": G_SQUARE_ROOT_SQL,
    "g_logarithm": G_LOGARITHM_SQL,
    "g_derivative": G_DERIVATIVE_SQL,
    "g_per_second": G_PER_SECOND_SQL,
    "g_series_combine": G_SERIES_COMBINE_SQL,
    "g_sort_by_total": G_SORT_BY_TOTAL_SQL,
    "g_exclude": G_EXCLUDE_SQL,
    "g_nth_percentile": G_NTH_PERCENTILE_SQL,
    "g_lowest_average": G_LOWEST_AVERAGE_SQL,
    "g_alias_sub": G_ALIAS_SUB_SQL,
    "g_grep": G_GREP_SQL,
    "g_render_pipeline": render_oracle_sql(RENDER_EXPR_PIPELINE),
    "g_render_sum_deriv": render_oracle_sql(RENDER_EXPR_SUM_DERIV),
    "g_render_select_alias": render_oracle_sql(RENDER_EXPR_SELECT_ALIAS),
    "g_render_cumcount": render_oracle_sql(RENDER_EXPR_CUMCOUNT),
    "g_render_ratio": render_oracle_sql(RENDER_EXPR_RATIO),
    "g_render_smooth": render_oracle_sql(RENDER_EXPR_SMOOTH),
    "g_render_group": render_oracle_sql(RENDER_EXPR_GROUP),
    "g_render_counters": render_oracle_sql(RENDER_EXPR_COUNTERS),
    "g_render_summarize": render_oracle_sql(RENDER_EXPR_SUMMARIZE),
    "g_render_topavg": render_oracle_sql(RENDER_EXPR_TOPAVG),
    "g_render_nodes": render_oracle_sql(RENDER_EXPR_NODES),
    "g_render_deep": render_oracle_sql(RENDER_EXPR_DEEP),
    "g_render_spread": render_oracle_sql(RENDER_EXPR_SPREAD),
    "g_render_hw": render_oracle_sql(RENDER_EXPR_HW),
    "g_render_bands": render_oracle_sql(RENDER_EXPR_BANDS),
    "g_render_hitstack": render_oracle_sql(RENDER_EXPR_HITSTACK),
    "g_render_volatility": render_oracle_sql(RENDER_EXPR_VOLATILITY),
    "g_render_tags": render_oracle_sql(RENDER_EXPR_TAGS),
    "g_render_cacti": render_oracle_sql(RENDER_EXPR_CACTI),
    "g_render_pairs": render_oracle_sql(RENDER_EXPR_PAIRS),
    "g_render_generic": render_oracle_sql(RENDER_EXPR_GENERIC),
    "g_render_xff": render_oracle_sql(RENDER_EXPR_XFF),
    "g_render_hwarea": render_oracle_sql(RENDER_EXPR_HWAREA),
    "g_render_product": render_oracle_sql(RENDER_EXPR_PRODUCT),
    "g_render_infstack": render_oracle_sql(RENDER_EXPR_INFSTACK),
    "g_render_gapfill": render_oracle_sql(RENDER_EXPR_GAPFILL),
    "g_render_vline": render_oracle_sql(RENDER_EXPR_VLINE),
    "g_render_lists": render_oracle_sql(RENDER_EXPR_LISTS),
    "g_render_apply": render_oracle_sql(RENDER_EXPR_APPLY),
    "g_render_unique": render_oracle_sql(RENDER_EXPR_UNIQUE),
    "g_render_band": render_oracle_sql(RENDER_EXPR_BAND),
    "g_render_multinode": render_oracle_sql(RENDER_EXPR_MULTINODE),
    "g_maximum_above": G_MAXIMUM_ABOVE_SQL,
    "g_maximum_below": G_MAXIMUM_BELOW_SQL,
    "g_minimum_below": G_MINIMUM_BELOW_SQL,
    "g_average_below": G_AVERAGE_BELOW_SQL,
    "g_highest_current": G_HIGHEST_CURRENT_SQL,
    "g_offset_to_zero": G_OFFSET_TO_ZERO_SQL,
    "g_time_slice": G_TIME_SLICE_SQL,
    "g_changed": G_CHANGED_SQL,
    "g_delay": G_DELAY_SQL,
    "g_divide_series": G_DIVIDE_SERIES_SQL,
    "g_percentile_of_series": G_PERCENTILE_OF_SERIES_SQL,
    "g_moving_extremes": G_MOVING_EXTREMES_SQL,
    "g_interpolate": G_INTERPOLATE_SQL,
    "g_aggregate_line": G_AGGREGATE_LINE_SQL,
    "g_remove_empty": G_REMOVE_EMPTY_SQL,
    "g_stacked": G_STACKED_SQL,
    "g_weighted_average": G_WEIGHTED_AVERAGE_SQL,
    "g_pow": G_POW_SQL,
    "g_exp": G_EXP_SQL,
    "g_round_to": G_ROUND_TO_SQL,
    "g_limit_sorted": G_LIMIT_SORTED_SQL,
    "g_avg_outside_pctile": G_AVG_OUTSIDE_PCTILE_SQL,
    "g_avg_outside_pctile_vt": G_AVG_OUTSIDE_PCTILE_SQL,
    "g_cacti_style": G_CACTI_STYLE_SQL,
    "g_minmax_norm": G_MINMAX_NORM_SQL,
    "g_timestack": G_TIMESTACK_SQL,
    "g_moving_sum": G_MOVING_SUM_SQL,
    "g_transform_null": G_TRANSFORM_NULL_SQL,
    "g_alias_by_metric": G_ALIAS_BY_METRIC_SQL,
    "g_use_series_above": G_USE_SERIES_ABOVE_SQL,
    "g_diff_vs_yesterday": G_DIFF_VS_YESTERDAY_SQL,
    "g_count_series": G_COUNT_SERIES_SQL,
    "g_area_between": G_AREA_BETWEEN_SQL,
    "g_divide_series_lists": G_DIVIDE_SERIES_LISTS_SQL,
    "g_time_shift_multi": G_TIME_SHIFT_MULTI_SQL,
    "g_alias_by_tags": G_ALIAS_BY_TAGS_SQL,
    "g_threshold": G_THRESHOLD_SQL,
    "g_is_non_null": G_IS_NON_NULL_SQL,
    "g_aggregate_series_lists": G_AGGREGATE_SERIES_LISTS_SQL,
    "g_group_by_nodes": G_GROUP_BY_NODES_SQL,
    "g_highest_max": G_HIGHEST_MAX_SQL,
    "g_sin_function": G_SIN_FUNCTION_SQL,
    "g_counter_wrap": G_COUNTER_WRAP_SQL,
    "g_as_percent_series": G_AS_PERCENT_SERIES_SQL,
}
