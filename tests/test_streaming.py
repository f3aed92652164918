"""Streaming rollup tests (SURVEY.md §5.2 item 5).

File-source micro-batches (one file per trigger so the watermark
advances between batches) → tumbling-window LWW rollup; asserts
(a) windows emit correct LWW values once the watermark passes,
(b) points later than the lateness bound are dropped — the streaming
analog of whisper's maxRetention rejection, (c) the xff gate filters
under-filled windows.
"""

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from go_whisper_spark.model import SeriesConfig
from go_whisper_spark.streaming.rollup import streaming_rollup

BASE = 1_700_000_000 - (1_700_000_000 % 3600)
SCHEMA = "metric string, ts timestamp, value double, write_seq long"


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "metric string, ts_sec long, value double, write_seq long"
    ).select("metric", F.timestamp_seconds("ts_sec").alias("ts"), "value", "write_seq")
    df.coalesce(1).write.mode("append").parquet(path)
    time.sleep(0.05)  # distinct mtimes → stable file-source ordering


def _run(spark, src, cfg, out, checkpoint, **kwargs):
    """One availableNow pass into a parquet sink; the checkpoint persists
    the watermark so a later pass over new files sees the advanced
    watermark (this is how a production incremental rollup runs, too)."""
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        streaming_rollup(stream, cfg, **kwargs)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return {
        (r["metric"], r["interval"]): (r["value"], r["known"])
        for r in spark.read.parquet(out).collect()
    }


@pytest.fixture
def srcdir(tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    yield src
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_streaming_lww_and_late_drop(spark, srcdir, tmp_path):
    cfg = SeriesConfig.from_defs("60s:1h,300s:6h", "average", 0.0)
    ckpt = str(tmp_path / "ckpt")
    # Pass 1: LWW pair in slot BASE + a pusher that advances the
    # watermark to BASE+7200-600 once the batch commits.
    _write_batch(
        spark,
        srcdir,
        [("m", BASE + 0, 1.0, 1), ("m", BASE + 30, 2.0, 2), ("m", BASE + 7200, 9.0, 3)],
    )
    got1 = _run(spark, srcdir, cfg, str(tmp_path / "out"), ckpt, archive_index=0, lateness_seconds=600)

    # Pass 2 (same checkpoint → watermark persisted): a late write into
    # slot BASE (behind the watermark → dropped) + a pusher past
    # BASE+7260 so slot BASE+7200 flushes.
    _write_batch(spark, srcdir, [("m", BASE + 31, 99.0, 9), ("m", BASE + 9000, 7.0, 10)])
    got2 = _run(spark, srcdir, cfg, str(tmp_path / "out"), ckpt, archive_index=0, lateness_seconds=600)

    got = {**got1, **got2}
    # Slot BASE: LWW of seq 1,2 → 2.0; the late 99.0 (seq 9) was dropped.
    assert got[("m", BASE)] == (2.0, 2)
    assert got[("m", BASE + 7200)] == (9.0, 1)


def test_streaming_xff_gate(spark, tmp_path):
    # 5 fine slots per 300s window; xff 0.5 → need known/5 >= 0.5.
    # The window value is the shared agg_expr: sum, and last (the
    # latest ts in the window, not the latest write).
    for agg, want in (("sum", 6.0), ("last", 3.0)):
        cfg = SeriesConfig.from_defs("60s:1h,300s:6h", agg, 0.5)
        src, ckpt, out = (str(tmp_path / f"{d}_{agg}") for d in ("src", "ckpt", "out"))
        _write_batch(
            spark,
            src,
            [
                ("a", BASE + 120, 3.0, 1),
                ("a", BASE + 0, 1.0, 2),
                ("a", BASE + 60, 2.0, 3),    # 3/5 → passes
                ("b", BASE + 0, 5.0, 4),     # 1/5 → gated out
                ("a", BASE + 7200, 1.0, 5),  # watermark pusher
            ],
        )
        kwargs = dict(archive_index=1, lateness_seconds=600, expected_points_per_window=5)
        got1 = _run(spark, src, cfg, out, ckpt, **kwargs)
        _write_batch(spark, src, [("a", BASE + 9000, 1.0, 6)])  # flush pusher
        got2 = _run(spark, src, cfg, out, ckpt, **kwargs)
        got = {**got1, **got2}
        assert got[("a", BASE)] == (want, 3), agg
        assert ("b", BASE) not in got


def test_kmv_bottomk_merge_law(spark):
    """st_kmv_jaccard's merge law, stated directly: bottom-k of the
    DISTINCT union of per-slice bottom-k partials equals bottom-k of
    the whole member set, for ANY slicing — and replaying a slice
    (at-least-once delivery) changes nothing, because hashes are a
    set and the distinct absorbs duplicates.  Uses K=8 over 100
    members sliced 3 ways, with slice 1 delivered twice."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    K = 8
    rows = [("a", i) for i in range(100)] + [("b", i) for i in range(40, 140)]
    m = spark.createDataFrame(rows, "metric string, mem long").select(
        "metric",
        F.conv(F.substring(F.md5(F.col("mem").cast("string")), 1, 10),
               16, 10).cast("long").alias("h"),
    )
    w = Window.partitionBy("metric").orderBy("h")

    def bottomk(df):
        return (df.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= K).select("metric", "h"))

    want = sorted((r.metric, r.h) for r in bottomk(m.distinct()).collect())
    slices = [m.where(F.col("h") % 3 == s) for s in range(3)]
    partials = [bottomk(s.distinct()) for s in slices]
    partials.append(bottomk(slices[1].distinct()))   # replayed slice
    union = partials[0]
    for p in partials[1:]:
        union = union.unionByName(p)
    got = sorted((r.metric, r.h)
                 for r in bottomk(union.distinct()).collect())
    assert got == want


def test_labelprop_warm_start_law(spark):
    """st_labelprop's correctness argument, stated directly: warm-
    starting min-label propagation from the PREVIOUS fixpoint after
    adding edges converges to exactly the cold-start fixpoint on the
    grown graph.  Adversarial slicing: a chain built far-end first
    (so early components have misleadingly high minima), then a
    bridge edge that merges two large components whose carried
    labels must both collapse to the global min."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.llm_ops import _labelprop_round

    def sym(pairs):
        e = spark.createDataFrame(pairs, "u long, v long")
        return e.select(F.col("u").alias("src"), F.col("v").alias("dst")) \
            .unionAll(e.select(F.col("v").alias("src"),
                               F.col("u").alias("dst"))).localCheckpoint()

    def fix(edges, lab):
        lab = lab.localCheckpoint()
        for _ in range(64):
            new = _labelprop_round(edges, lab).localCheckpoint()
            d = (new.join(lab.withColumnRenamed("comm", "prev"), "node")
                 .agg(F.max(F.col("prev") - F.col("comm"))).first()[0])
            lab = new
            if d == 0:
                return lab
        raise AssertionError("no fixpoint in 64 rounds")

    def labels_of(nodes, prev=None):
        lab = spark.createDataFrame([(n, n) for n in nodes],
                                    "node long, comm long")
        if prev is not None:
            fresh = lab.join(prev.select("node"), "node", "left_anti")
            lab = prev.unionByName(fresh)
        return lab

    # batch 1: chain 10-9-8-7-6 and pair 1-2 (two components)
    e1 = [(9, 10), (8, 9), (7, 8), (6, 7), (1, 2)]
    n1 = {1, 2, 6, 7, 8, 9, 10}
    edges1 = sym(e1)
    warm = fix(edges1, labels_of(n1))
    # batch 2: bridge 2-6 merges everything with component min 1
    e2 = e1 + [(2, 6)]
    edges2 = sym(e2)
    warm = fix(edges2, labels_of(n1, prev=warm))
    cold = fix(edges2, labels_of(n1))
    got = sorted((r.node, r.comm) for r in warm.collect())
    want = sorted((r.node, r.comm) for r in cold.collect())
    assert got == want
    assert all(c == 1 for _, c in got)
