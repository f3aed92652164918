"""Streaming evaluation of render-target expressions.

The batch render layer (``go_whisper_spark/render.py``) composes a
parsed Graphite target into one lazy DataFrame plan.  This module
proves the SAME AST drives a Structured Streaming plan: a render
target is evaluated over the live 1h LWW archive stream using the
declarative chained handoff from ``streaming/chained.py`` —

  raw points ──(streaming_rollup, 1h LWW, watermark)──▶ level0 files
  level0 stream ──(AST value maps, stateless)──▶
                ──(AST summarize → tumbling window agg, 0-lateness
                   watermark: in-order handoff)──▶ rendered files

**Streamable subset** (enforced — anything else raises
``RenderParseError``): the grammar ``stateless* windowop?
stateless* (summarize (stateless* (seed)))?`` — seeds and every
stateless per-row operator (the keys of ``render._STATELESS_OPS``)
compose freely BELOW and ABOVE at most ONE aggregate level —
``summarize(s, h, how)``, ``hitcount``, ``groupByNode`` or
``groupByTags`` — which maps onto a watermarked tumbling window
aggregate (stateless ops above it are projections over the emitted
closed-window rows — append-safe) — Graphite consolidation as a
streaming window, the same mapping ``streaming_rollup`` uses for
whisper's propagate.

**One definition per operator.**  This module owns only the
streamability gate, the watermark/window mapping and the chained
handoff.  Every value map, label rewrite, tag filter and aggregate it
evaluates is the batch render's own definition: the stateless ops
dispatch to ``render._STATELESS_OPS``, ``seriesByTag`` to
``render._series_by_tag``, and the aggregate level's relabel and
cents aggregate come from ``render._one_level``, so a streamed target
computes exactly what ``render()`` computes over the same archive
rows.

At most ONE order-sensitive window op (movingSum / movingAverage /
movingMin / movingMax / derivative / nonNegativeDerivative) may sit
ABOVE the aggregate level: it runs as the ``applyInPandasWithState``
kernel from ``streaming/stateful.py`` (state = the trailing k−1 ROWS
per metric, O(k) — independent of stream length).  A streaming query
cannot chain two stateful operators, so a target containing both a
summarize and a window op splits into a THIRD chained query: the
aggregate's closed windows hand off through a parquet sink/source
(cents carried as exact longs) and the kernel consumes them in
order — the same in-order watermark argument as the summarize
handoff, extended one level.  Window ops below the aggregate are
rejected (they would need yet another handoff BELOW it — register
the batch form instead).

Why the summarize level can run with a ZERO-lateness watermark: the
level-0 query releases a 1h window only once its watermark passed the
window end, and the watermark is monotone across micro-batches — each
handoff batch carries intervals strictly above everything released
before it (the ``streaming/chained.py`` in-order argument).  State at
the summarize level is the currently-open coarse buckets only: O(1)
per metric, which is what keeps a composed render target viable on an
unbounded stream.

[ref: SURVEY §2B streaming row + §2C render language; the reference
render API is batch-only — this is the Spark-native streaming
extension of the same public target syntax.]
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_whisper_spark.model import SeriesConfig
from go_whisper_spark.operators.whisper_queries import _cents
from go_whisper_spark.render import (
    _STATELESS_OPS,
    Call,
    Glob,
    Node,
    Num,
    RenderParseError,
    Str,
    _one_level,
    _parse_tag_filter,
    _series_by_tag,
    _value_col,
    glob_to_regex,
    parse_target,
    validate_target,
)
from go_whisper_spark.streaming.rollup import streaming_rollup

_LEVEL_SCHEMA = "metric string, interval long, value double"


def check_streamable(node: Node):
    """Reject AST shapes the append-mode plan cannot express.  The
    streamable grammar is ``stateless* windowop? stateless*
    (summarize (stateless* (seed)))?`` — stateless value maps are
    append-trivial BOTH below and above the windowed aggregate (a
    projection over the emitted closed-window rows); at most ONE
    summarize, since each watermarked aggregate level needs its own
    handoff; at most ONE order-sensitive window op, ABOVE the
    aggregate, since it is a second stateful operator and therefore a
    third chained query.  Returns ``(window_node, summarize_node)``,
    either None when absent."""
    from go_whisper_spark.streaming.stateful import RENDER_WINDOW_OPS

    def walk(n: Node, allow_win: bool, allow_agg: bool):
        if isinstance(n, (Glob, Str)):
            return (None, None)
        if not isinstance(n, Call):
            raise RenderParseError(f"series expression expected, got {n}")
        if n.name == "seriesByGlob":
            return (None, None)
        if n.name == "seriesByTag":
            # tagged-universe seed: tag predicates are per-row filters
            # on the parsed path — stateless, stream-trivial (the feed
            # must carry tagged metrics).
            for a in n.args:
                if isinstance(a, Str):
                    _parse_tag_filter(a.value)
            return (None, None)
        if n.name in RENDER_WINDOW_OPS and allow_win:
            if n.name in ("derivative", "nonNegativeDerivative"):
                if len(n.args) != 1:
                    raise RenderParseError(
                        f"streaming {n.name} takes (series) — the "
                        "maxValue counter-wrap form is batch-only"
                    )
            elif len(n.args) != 2 or not isinstance(n.args[1], Num) \
                    or n.args[1].value < 1:
                raise RenderParseError(f"{n.name} takes (series, k >= 1)")
            _, agg = walk(n.args[0], False, allow_agg)
            return (n, agg)
        if n.name in ("summarize", "groupByNode", "groupByTags",
                      "hitcount") and allow_agg:
            if n.name == "groupByTags":
                # validated here so rejection happens at the gate,
                # before any query is built
                if (len(n.args) != 3 or not isinstance(n.args[1], Str)
                        or not isinstance(n.args[2], Str)):
                    raise RenderParseError(
                        "groupByTags takes (series, 'method', 'tag')")
                if n.args[1].value not in ("sum", "max", "min", "avg"):
                    raise RenderParseError(
                        f"groupByTags: unknown or order-ambiguous "
                        f"method {n.args[1].value!r}")
            walk(n.args[0], False, False)
            return (None, n)
        if n.name == "group":
            # bag union of stateless branches is itself stateless —
            # streams union freely; no aggregate may hide inside.
            for a in n.args:
                walk(a, False, False)
            return (None, None)
        if n.name not in _STATELESS_OPS:
            raise RenderParseError(
                f"{n.name} is not streamable — only stateless value maps, "
                "group() unions of them, one window op above the "
                "aggregate, and one summarize/groupByNode/hitcount run "
                "on the archive stream"
            )
        return walk(n.args[0], allow_win, allow_agg)

    return walk(node, True, True)


def _apply_stateless(
    frame: DataFrame, node: Node, stop: Node = None,
    stop_frame: DataFrame = None,
) -> DataFrame:
    """Evaluate the stateless chain over a (metric, interval, cents)
    frame with the batch render's own operator definitions
    (``render._STATELESS_OPS``, ``render._series_by_tag``).  When
    ``stop`` is given, that AST node evaluates to ``stop_frame`` (the
    already-aggregated level) so the OUTER stateless chain composes
    over it."""

    def seed(pattern: str) -> DataFrame:
        return frame.where(F.col("metric").rlike(glob_to_regex(pattern)))

    def ev(n: Node) -> DataFrame:
        if n is stop:
            return stop_frame
        if isinstance(n, (Glob, Str)):
            return seed(n.pattern if isinstance(n, Glob) else n.value)
        name = n.name
        if name == "seriesByGlob":
            return seed(n.args[0].value)
        if name == "seriesByTag":
            return _series_by_tag(n, lambda: frame)
        if name == "group":
            out = ev(n.args[0])
            for a in n.args[1:]:
                out = out.unionByName(ev(a))
            return out
        if name not in _STATELESS_OPS:
            raise RenderParseError(f"{name} is not streamable")
        return _STATELESS_OPS[name](n, ev)

    return ev(node)


def _plan_below(base: DataFrame, top: Node, agg_node) -> DataFrame:
    """(metric, interval, cents) streaming plan for the subtree
    ``top`` — ``stateless* (aggregate (stateless* (seed)))?`` — over
    the level-0 cents frame ``base``; the aggregate level
    (``render._one_level``: the batch relabel and cents aggregate)
    becomes the watermarked tumbling window aggregate."""
    if agg_node is None:
        return _apply_stateless(base, top)
    lab, agg, hours = _one_level(agg_node)
    mapped = _apply_stateless(base, agg_node.args[0])
    if lab is not None:
        mapped = mapped.withColumn("metric", lab)
    # summarize/hitcount: h-hour windows; groupByNode/groupByTags: the
    # archive's own 1h step, so each window holds one interval's rows.
    win_secs = 3600 * (hours or 1)
    level = (
        mapped.withColumn("ts", F.timestamp_seconds(F.col("interval")))
        .withWatermark("ts", "0 seconds")
        .groupBy("metric", F.window("ts", f"{win_secs} seconds").alias("w"))
        .agg(agg.alias("cents"))
        .select(
            "metric", F.col("w.start").cast("long").alias("interval"), "cents"
        )
    )
    # stateless value maps ABOVE the windowed aggregate are a
    # projection over the emitted closed-window rows — append-safe.
    return _apply_stateless(base, top, stop=agg_node, stop_frame=level)


def _cents_base(archive_stream: DataFrame) -> DataFrame:
    return archive_stream.select("metric", "interval", _cents().alias("cents"))


def _to_value(frame: DataFrame) -> DataFrame:
    return frame.select("metric", "interval", _value_col())


def streaming_render_frame(archive_stream: DataFrame, target: str) -> DataFrame:
    """Streaming level-0 archive rows (metric, interval, value) →
    the rendered streaming frame (metric, interval, value) for the
    given target.  Stateless chains pass through append-trivially;
    an outermost summarize becomes a watermarked tumbling window
    aggregate (0-lateness — in-order handoff).  Targets containing an
    order-sensitive window op need the extra chained handoff —
    ``streaming_render_pass`` orchestrates it; this single-query
    entry point rejects them."""
    node = validate_target(parse_target(target))
    win, agg = check_streamable(node)
    if win is not None:
        raise RenderParseError(
            f"{win.name} needs its own chained query (two stateful "
            "operators cannot share one) — use streaming_render_pass"
        )
    return _to_value(_plan_below(_cents_base(archive_stream), node, agg))


def streaming_render_pass(
    spark: SparkSession,
    feed_schema,
    src: str,
    base: str,
    target: str,
    cfg: SeriesConfig,
    lateness_seconds: Optional[int] = None,
    await_secs: int = 600,
) -> str:
    """One availableNow pass of the chained queries: level-0 LWW
    rollup from the raw points file source, then the rendered target
    over the level-0 handoff.  A target containing an order-sensitive
    window op adds a THIRD query: the plan below the window op hands
    its closed rows off as exact cent longs, and the stateful
    trailing-window kernel (+ the stateless chain above it) renders
    from that — a streaming query cannot chain two stateful
    operators.  Checkpoints persist under ``base``, so the replay
    harness calls this once per arrival pass.  Returns the rendered
    output dir."""
    lvl0 = os.path.join(base, "level0")
    rendered = os.path.join(base, "rendered")

    def run(df, path, ckpt):
        q = (
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # RuntimeError, not assert: must survive `python -O`.
        if not q.awaitTermination(await_secs):
            raise RuntimeError("streaming render pass timed out")

    node = validate_target(parse_target(target))
    win, agg = check_streamable(node)

    run(
        streaming_rollup(
            spark.readStream.schema(feed_schema).parquet(src),
            cfg,
            0,
            lateness_seconds=lateness_seconds,
        ).select("metric", "interval", "value"),
        lvl0,
        os.path.join(base, "ckpt0"),
    )
    lvl0_stream = spark.readStream.schema(_LEVEL_SCHEMA).parquet(lvl0)
    if win is None:
        run(
            _to_value(_plan_below(_cents_base(lvl0_stream), node, agg)),
            rendered,
            os.path.join(base, "ckpt_render"),
        )
        return rendered

    from go_whisper_spark.streaming.stateful import render_window_op

    mid = os.path.join(base, "mid")
    run(
        _plan_below(_cents_base(lvl0_stream), win.args[0], agg),
        mid,
        os.path.join(base, "ckpt_mid"),
    )
    k = win.args[1].value if len(win.args) == 2 else 1
    kernel_out = render_window_op(
        spark.readStream.schema(
            "metric string, interval long, cents long"
        ).parquet(mid),
        win.name,
        k,
    )
    # the chain above the window op is pure single-spine stateless
    # (check_streamable forbids seeds/group branches up there), so the
    # seed frame is never consulted — kernel_out stands in for it.
    run(
        _to_value(
            _apply_stateless(kernel_out, node, stop=win,
                             stop_frame=kernel_out)
        ),
        rendered,
        os.path.join(base, "ckpt_render"),
    )
    return rendered
