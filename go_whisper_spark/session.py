"""SparkSession factory tuned for the whisper engine.

Local testing runs ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE on (skew joins,
runtime coalescing), shuffle partitions sized to cores, UTC session
timezone (whisper is calendar-free integer-seconds math), Arrow enabled
for the Pandas-UDF slow path.  ``session_memo`` is the one per-session
memo of built plans and collected artifacts; ``materialize`` is the one
eager checkpoint, which labels the job it starts.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

MEMO_MAX_ENTRIES = 256  # per memo; a bulk caller (the render fuzz test) hits it


def get_spark(app_name: str = "go_whisper_spark", cpus: "int | None" = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    # Shuffle partitions (r19 optimization round, guide §2.2):
    # parameterised via SPARK_GRAFT_SHUFFLE_PARTITIONS so a
    # deployment sizes it to its cluster (2-3x total cores, or rely
    # on AQE initialPartitionNum); the local default stays 8 — the
    # r19 full-bench A/B (same host, back-to-back) measured the
    # cores-derived default (32) LOSING 5.7% on the 66-query
    # headline (91.6 s vs 86.7 s): post-shuffle data is MB-scale
    # here, so extra partitions are pure scheduling overhead, and
    # the one stage that genuinely needed full-core parallelism
    # (the 41M-row wedge join) now gets it from the serve
    # substrate's explicit cores-derived partitioning instead
    # (whisper_queries.tri_substrate_cached).  OPTIMIZATION_r19.md
    # has the per-query table.
    shuffle_parts = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0") or 0
    ) or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()


def session_memo(memo: dict, spark: SparkSession, key, build: Callable[[], object]):
    """``build()``'s result, built at most once per (session, ``key``)
    and kept in the module-level dict ``memo``.

    Entries are keyed by the session's ``applicationId``, not
    ``id(spark)``: CPython reuses an id after GC, so a fresh session
    could hit a stale entry holding frames bound to a STOPPED
    SparkContext.  Every call drops the entries of other applications,
    so at most one live application's entries survive; a memo that
    reaches ``MEMO_MAX_ENTRIES`` is cleared before the next insert.
    A hit returns the stored object itself.
    """
    app_id = spark.sparkContext.applicationId
    for k in [k for k in memo if k[0] != app_id]:
        del memo[k]
    hit = memo.get((app_id, key))
    if hit is None:
        hit = build()
        if len(memo) >= MEMO_MAX_ENTRIES:
            memo.clear()
        memo[(app_id, key)] = hit
    return hit


def materialize(df: DataFrame, label: str, reset_stats: bool = False) -> DataFrame:
    """``df.localCheckpoint()``: the frame computed now, its lineage cut.

    The eager job (and any AQE stage job it starts) runs under the job
    description ``label``, conventionally ``"<query>:<step>"``; the
    caller's description is restored afterwards, and its job group is
    never touched.

    ``reset_stats=True`` also RESETS plan statistics — required by any
    iteration whose recursive frame enters its own round plan
    MULTIPLICATIVELY.  ``localCheckpoint`` truncates lineage but
    PRESERVES the origin plan's sizeInBytes estimate.  A round plan
    that joins the recursive frame with an aggregate derived from that
    same frame (the truss peel: wedge self-join × closing probe ×
    support join-back) therefore multiplies the estimate into the next
    round: bits(size) × ~4 per round — a DOUBLE-exponential BigInteger
    whose Toom-Cook multiplications inside Catalyst's
    SizeInBytesOnlyStatsPlanVisitor burn unbounded driver CPU by round
    ~13 (measured: jstack pins the py4j thread in
    BigInteger.multiplyToomCook3; a 100-row 8-round repro grows 29 →
    6729 bits).  PageRank's loop survives without this because its
    frame enters each round LINEARLY (bits grow arithmetically).

    The fix re-wraps the checkpointed RDD[InternalRow] as a fresh
    LogicalRDD carrying no origin stats (sizeInBytes falls back to the
    conservative default).  Join planning inside the loop then relies
    on explicit broadcast hints plus AQE's RUNTIME sizes — exactly the
    posture you want on a cluster anyway.  Falls back to the plain
    localCheckpoint if the private constructor ever moves."""
    spark = df.sparkSession
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        ck = df.localCheckpoint()
    finally:
        sc.setLocalProperty("spark.job.description", prev)
    if not reset_stats:
        return ck
    try:
        jdf = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False)
        return DataFrame(jdf, spark)
    except Exception:  # pragma: no cover - exercised only on API drift
        return ck
