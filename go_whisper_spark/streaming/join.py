"""Stream-stream event-time interval join — the correlation pattern.

The seventh streaming module (after rollup, sessions, cascade,
stateful derivative, dedup, stream-static enrich): correlating two
live firehoses on a key within an event-time window — impressions to
clicks, deploy markers to error spikes, a metric's samples to samples
of the same metric in the following hour.  Structured Streaming's
inner stream-stream join with watermarks on both sides and a
time-range condition is exactly this shape:

- BOTH sides buffer state; a pair is emitted as soon as the later row
  arrives (append mode, no window-close wait — unlike aggregations);
- the watermark + range condition bound the state: a left row can be
  evicted once the watermark passes ``l_ts + range`` (no future right
  row can match it), a right row once the watermark passes ``r_ts``
  (future left rows would need ``l_ts <= r_ts``, but anything below
  the watermark is late) — so state per executor is
  O(arrival rate × (lateness + range)), never unbounded;
- late input on either side (event time below the watermark) is
  dropped before the join, the streaming form of whisper's
  maxRetention rejection.

At 100 TB the join key partitions state across executors exactly as a
batch shuffle would; a skewed key (one hot metric) concentrates state
the same way it concentrates a batch join, and the same salting fence
applies (functions/salting.py).

[ref: SURVEY §2B streaming row; whisper has no streaming surface —
the analog is correlating two whisper series by aligned interval,
w_asof_join's streaming sibling]
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interval_join(
    stream: DataFrame,
    key: str,
    left_pred: Column,
    right_pred: Column,
    range_seconds: int,
    lateness_seconds: int,
    how: str = "inner",
    n_salt: int = 0,
) -> DataFrame:
    """The one interval-join body behind the three public variants:
    watermark the stream, split it into the left and right sides, join
    on ``key`` (plus the salt when ``n_salt`` > 0) within
    ``[l_ts, l_ts + range]``, and project ``(key, l_seq, r_seq, l_ts,
    lag_s)`` — with the nullable right-side columns cast to DOUBLE for
    ``how="left_outer"``."""
    s = stream.withWatermark("ts", f"{lateness_seconds} seconds")
    left = s.filter(left_pred).select(
        key,
        F.col("ts").alias("l_ts"),
        F.col("write_seq").alias("l_seq"),
    )
    right = s.filter(right_pred).select(
        F.col(key).alias(f"r_{key}"),
        F.col("ts").alias("r_ts"),
        F.col("write_seq").alias("r_seq"),
    )
    on = F.col(key) == F.col(f"r_{key}")
    if n_salt:
        salt_all = F.array(*[F.lit(i) for i in range(n_salt)])
        left = left.withColumn("salt", F.explode(salt_all))
        right = right.withColumn(
            "r_salt", (F.col("r_seq") % n_salt).cast("int"))
        on = on & (F.col("salt") == F.col("r_salt"))
    on = (
        on
        & (F.col("r_ts") >= F.col("l_ts"))
        & (
            F.col("r_ts")
            <= F.col("l_ts") + F.expr(f"INTERVAL {range_seconds} SECONDS")
        )
    )
    r_seq = F.col("r_seq")
    lag = F.col("r_ts").cast("long") - F.col("l_ts").cast("long")
    if how == "left_outer":
        r_seq, lag = r_seq.cast("double"), lag.cast("double")
    return left.join(right, on, how).select(
        key,
        "l_seq",
        r_seq.alias("r_seq"),
        F.col("l_ts").cast("long").alias("l_ts"),
        lag.alias("lag_s"),
    )


def streaming_interval_join(
    stream: DataFrame,
    key: str,
    left_pred: Column,
    right_pred: Column,
    range_seconds: int,
    lateness_seconds: int,
) -> DataFrame:
    """Self-join of a watermarked stream: pair each left row (rows
    matching ``left_pred``) with the right rows (``right_pred``) of the
    same ``key`` whose event time falls in ``[l_ts, l_ts + range]``.

    The stream must carry ``ts`` (timestamp), ``write_seq`` (unique
    id), and the ``key`` column.  Returns one row per matched pair:
    ``(key, l_seq, r_seq, l_ts, lag_s)``.
    """
    return _interval_join(stream, key, left_pred, right_pred,
                          range_seconds, lateness_seconds)


def streaming_interval_join_salted(
    stream: DataFrame,
    key: str,
    left_pred: Column,
    right_pred: Column,
    range_seconds: int,
    lateness_seconds: int,
    n_salt: int = 8,
) -> DataFrame:
    """Hot-key fence for the interval join: identical pair semantics to
    ``streaming_interval_join``, with join-state for a skewed ``key``
    spread over ``n_salt`` sub-partitions.

    The composite join key becomes ``(key, salt)``: the right side
    derives its salt deterministically from its unique ``write_seq``
    (so each right row lives in exactly ONE salt partition and every
    pair still emits exactly once); the left side replicates into all
    ``n_salt`` partitions (×n_salt left state — the standard
    replicate-the-smaller-state-side trade; pick the replicated side
    by which stream is thinner).  A key holding 100 GB of right-side
    state now holds 100/n_salt GB per state-store partition, which is
    what keeps a single RocksDB instance / executor heap from owning
    the whole hot key.  Watermark eviction bounds are unchanged —
    salting only re-keys the state distribution, never the event-time
    logic.
    """
    return _interval_join(stream, key, left_pred, right_pred,
                          range_seconds, lateness_seconds, n_salt=n_salt)


def streaming_interval_join_outer(
    stream: DataFrame,
    key: str,
    left_pred: Column,
    right_pred: Column,
    range_seconds: int,
    lateness_seconds: int,
) -> DataFrame:
    """LEFT OUTER variant of ``streaming_interval_join``: identical
    pair semantics, plus a null-extended row for every on-time left
    row that never found a partner.

    The null row can only emit when the engine can PROVE no partner
    will arrive — i.e. when the watermark passes ``l_ts + range`` and
    the left row's state is evicted.  That makes outer results
    watermark-paced: a caller that stops the stream immediately after
    the last data row never sees the tail's null rows (their join
    windows are still open).  The replay harness closes the stream
    deterministically with sentinel flush passes that advance the
    watermark past every real row's eviction bound
    (``st_join_1h_outer``).

    ``r_seq``/``lag_s`` are DOUBLE: they are nullable by construction,
    and the driver's oracle materialization (pandas) upcasts nullable
    BIGINT to float64 — casting BOTH engines keeps the typed hash
    stable (check_contract.py's documented nullable-int rule).
    """
    return _interval_join(stream, key, left_pred, right_pred,
                          range_seconds, lateness_seconds, how="left_outer")
