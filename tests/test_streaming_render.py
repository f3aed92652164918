"""Streaming render layer (streaming/render.py): streamability
gate + plan shape + replay equivalence at test scale.

The full 3-pass replay vs the DuckDB watermark-algebra oracle runs
under the driver contract (st_render_6h); here we pin the pieces a
contract mismatch would not localize: which ASTs are accepted, and
that the streaming plan is the declarative watermark+window shape.
"""

import pytest
from pyspark.sql import functions as F

from go_whisper_spark.render import RenderParseError, parse_target
from go_whisper_spark.streaming.render import (
    check_streamable,
    streaming_render_frame,
)


def test_streamable_gate():
    ok = [
        "scale('*', 3)",
        "removeBelowValue(aliasSub(grep('c*', '^c'), '^c', 'K'), 40)",
        "summarize(invert(transformNull('*', 2)), 6, 'avg')",
        "summarize('*', 2, 'last')",
        # stateless ops ABOVE the windowed aggregate are append-safe
        "scale(summarize('*', 6, 'max'), 2)",
        "alias(offset(summarize(grep('c*', '^c'), 4, 'sum'), -1), 'x')",
    ]
    for t in ok:
        check_streamable(parse_target(t))
    # the summarize node is returned for the aggregate builder
    assert check_streamable(parse_target(ok[4]))[1].name == "summarize"
    assert check_streamable(parse_target(ok[0])) == (None, None)
    # order-sensitive window ops ARE streamable above the aggregate
    # level (the stateful trailing-window kernel, round 12); the
    # window node comes back for the extra chained query.
    win, agg = check_streamable(
        parse_target("movingSum(scale(summarize('*', 6, 'max'), 2), 4)"))
    assert win.name == "movingSum" and agg.name == "summarize"
    win, agg = check_streamable(parse_target("derivative(scale('*', 2))"))
    assert win.name == "derivative" and agg is None
    bad = [
        # at most ONE window op (a second is a second stateful query)
        "movingSum(derivative('*'), 3)",
        # window ops BELOW the aggregate would need a handoff below it
        "summarize(movingSum('*', 3), 6, 'max')",
        # the maxValue counter-wrap form is batch-only
        "nonNegativeDerivative('*', 600)",
        # only ONE watermarked aggregate level per handoff
        "summarize(scale(summarize('*', 2, 'max'), 2), 6, 'max')",
        # cross-series reducers need their own shuffle semantics
        "sumSeries('*')",
        "summarize(sumSeries('*'), 6, 'max')",
        # selectors require a second pass over the full series
        "maximumAbove('*', 10)",
        # no window op hiding inside a group() branch
        "group(movingSum('*', 3), scale('c*', 2))",
    ]
    for t in bad:
        with pytest.raises(RenderParseError):
            check_streamable(parse_target(t))


def test_streaming_plan_is_watermark_window(spark):
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = streaming_render_frame(
        src, "summarize(removeBelowValue(scale('*', 2), 40), 6, 'max')"
    )
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    assert "window" in plan.lower()
    assert out.columns == ["metric", "interval", "value"]
    # stateless-only target: no watermark, no aggregate
    flat = streaming_render_frame(src, "offset(absolute('c*'), -1)")
    assert flat.isStreaming
    fplan = flat._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" not in fplan


def test_round11_stateless_ops_streamable(spark):
    """pow/squareRoot/aliasByNode are per-row maps — streamable both
    below and above the windowed aggregate."""
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = streaming_render_frame(
        src,
        "squareRoot(summarize(pow(aliasByNode('*', 0), 2), 6, 'max'))",
    )
    assert out.isStreaming
    assert out.columns == ["metric", "interval", "value"]
    check_streamable(parse_target("pow(grep('*', 'c'), 3)"))


def test_hitcount_streamable(spark):
    """hitcount is summarize-sum × slot width: accepted as THE
    aggregate level, scale applied over emitted closed windows."""
    assert check_streamable(parse_target("hitcount('*', 4)"))[1].name == \
        "hitcount"
    assert check_streamable(
        parse_target("scale(hitcount(grep('c*', '^c'), 2), 3)")
    )[1].name == "hitcount"
    # still at most one aggregate level
    with pytest.raises(RenderParseError):
        check_streamable(parse_target("hitcount(summarize('*', 2, 'sum'), 4)"))
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = streaming_render_frame(src, "hitcount('*', 4)")
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_wave56_stateless_ops_evaluate_on_stream(spark):
    """isNonNull/scaleToSeconds/roundTo/substr are streamable stateless
    ops — they must EVALUATE on a streaming frame, not just pass the gate
    (a gate-only entry raises at eval time)."""
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    for t in (
        "isNonNull('*')",
        "scaleToSeconds('*', 60)",
        "roundTo('*', 1)",
        "substr(aliasSub('*', '^', 'x.'), 0, 1)",
        "roundTo(hitcount(isNonNull('*'), 2), 0)",
    ):
        out = streaming_render_frame(src, t)
        assert out.isStreaming and out.columns == ["metric", "interval", "value"]


def test_window_kernel_matches_batch(spark, tmp_path):
    """The stateful trailing-window kernel must equal the batch ROWS
    window operator row for row — including NULL slots inside the
    window frame and state carried across arrival passes (the
    checkpoint round-trip)."""
    import os

    from pyspark.sql import Window

    from go_whisper_spark.streaming.stateful import render_window_op

    rows = []
    for m in ("a", "b"):
        for i in range(10):
            cents = None if (m == "a" and i in (2, 3, 7)) else (i + 1) * 100
            rows.append((m, i * 3600, cents))
    static = spark.createDataFrame(
        rows, "metric string, interval long, cents long")

    for op, k in (("movingSum", 3), ("movingAverage", 2), ("movingMin", 4),
                  ("movingMax", 3), ("derivative", 1),
                  ("nonNegativeDerivative", 1)):
        base = str(tmp_path / op)
        src, out, ckpt = (os.path.join(base, d)
                          for d in ("src", "out", "ckpt"))
        # two arrival passes split mid-series: state must survive the
        # checkpoint between them (source dir must exist before the
        # stream is declared, so write the pass first)
        for lo, hi in ((0, 6), (6, 10)):
            (static.where((F.col("interval") / 3600).between(lo, hi - 1))
             .coalesce(1).write.mode("append").parquet(src))
            stream = render_window_op(
                spark.readStream.schema(
                    "metric string, interval long, cents long").parquet(src),
                op, k)
            q = (stream.writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt).outputMode("append")
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(300)
        got = {(r.metric, r.interval): r.cents
               for r in spark.read.parquet(out).collect()}

        w = Window.partitionBy("metric").orderBy("interval")
        if op == "derivative":
            exp = static.withColumn(
                "cents", F.col("cents") - F.lag("cents").over(w))
        elif op == "nonNegativeDerivative":
            d = F.col("cents") - F.lag("cents").over(w)
            exp = static.withColumn("cents", F.when(d >= 0, d))
        else:
            fr = w.rowsBetween(-(k - 1), 0)
            agg = {"movingSum": F.sum("cents").over(fr),
                   "movingMin": F.min("cents").over(fr),
                   "movingMax": F.max("cents").over(fr),
                   "movingAverage": F.floor(
                       F.sum("cents").over(fr).cast("double")
                       / F.count("cents").over(fr)).cast("long")}[op]
            exp = static.withColumn("cents", agg)
        want = {(r.metric, r.interval): r.cents for r in exp.collect()}
        assert got == want, f"{op}(k={k}) kernel != batch window"


def test_tagged_streaming_gate_and_eval(spark):
    """Round-12 seed widening: seriesByTag predicates are stateless
    per-row filters; groupByTags is accepted as THE aggregate level
    (the groupByNode shape with the name;tag=value relabel); window
    ops compose above it like any other aggregate."""
    win, agg = check_streamable(
        parse_target("scale(groupByTags(seriesByTag('host!=h3'), "
                     "'max', 'dc'), 2)"))
    assert win is None and agg.name == "groupByTags"
    win, agg = check_streamable(
        parse_target("movingSum(groupByTags(seriesByTag('dc=dc1'), "
                     "'sum', 'dc'), 4)"))
    assert win.name == "movingSum" and agg.name == "groupByTags"
    # 'last' is order-ambiguous across series — rejected like
    # groupByNode's
    with pytest.raises(RenderParseError):
        check_streamable(parse_target(
            "groupByTags(seriesByTag('dc=dc1'), 'last', 'dc')"))
    # malformed tag filter rejected at the gate
    with pytest.raises(RenderParseError):
        check_streamable(parse_target("seriesByTag('no filter here')"))

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.concat(
                (F.col("value") % 3).cast("string"),
                F.lit(";dc=dc"), (F.col("value") % 2).cast("string"),
                F.lit(";host=h"), (F.col("value") % 5).cast("string"),
            ).alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    out = streaming_render_frame(
        src, "scale(groupByTags(seriesByTag('host!=h3'), 'max', 'dc'), 2)")
    assert out.isStreaming
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    assert out.columns == ["metric", "interval", "value"]


# One target per op of the shared stateless table (a new op without a
# target here fails test_parity_targets_cover_stateless_table).
_STATELESS_TARGETS = {
    "scale": "scale('*', 3)",
    "offset": "offset('*', -1)",
    "absolute": "absolute(offset('*', -5))",
    "transformNull": "transformNull(removeBelowValue('*', 4), 2)",
    "invert": "invert(offset('*', -3))",
    "pow": "pow('*', 3)",
    "squareRoot": "squareRoot(offset('*', -4))",
    "removeAboveValue": "removeAboveValue('*', 5)",
    "removeBelowValue": "removeBelowValue('*', 5)",
    "grep": "grep('*', '^c')",
    "exclude": "exclude('*', '^c')",
    "alias": "alias(grep('*', '^v'), 'x')",
    "aliasSub": "aliasSub('*', '^(.)', 'K$1')",
    "aliasByNode": "aliasByNode(aliasSub('*', '^', 'dc1.x.'), 2)",
    "isNonNull": "isNonNull(removeAboveValue('*', 5))",
    "scaleToSeconds": "scaleToSeconds('*', 60)",
    "substr": "substr(aliasSub('*', '^', 'a.b.'), 1, 3)",
    "roundTo": "roundTo(scaleToSeconds('*', 7), 1)",
}


def test_parity_targets_cover_stateless_table():
    from go_whisper_spark.render import _STATELESS_OPS

    assert set(_STATELESS_TARGETS) == set(_STATELESS_OPS)


@pytest.mark.parametrize(
    "target",
    sorted(_STATELESS_TARGETS.values())
    + ["aliasByNode(aliasSub('*', '^', 'dc1.x.'), 0, 2)"]
    + [f"summarize('*', 6, '{how}')"
       for how in ("sum", "max", "min", "avg", "last")],
)
def test_streaming_render_matches_batch(spark, sf_dir, target):
    """The streaming render over the static 1h LWW archive equals the
    batch render of the same target row for row."""
    from go_whisper_spark.operators.whisper_queries import w_lww_1h
    from go_whisper_spark.render import render

    def rows(df):
        return sorted(
            df.select("metric", "interval", "value").collect(),
            key=lambda r: (r.metric, r.interval, r.value is None, r.value),
        )

    got = rows(streaming_render_frame(w_lww_1h(spark, sf_dir), target))
    want = rows(render(spark, sf_dir, target))
    assert want and got == want
