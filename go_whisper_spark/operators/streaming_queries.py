"""Structured Streaming under the driver contract (SURVEY.md §2B
streaming row).

The streaming modules (``streaming/rollup.py``, ``streaming/sessions.py``)
were pytest-only through round 4; these two queries put the SAME module
code under the driver's DuckDB oracle by replaying the ``events`` table
through a deterministic file-source stream and snapshotting what the
stream emitted:

- ``st_rollup_lww_1h``  — watermarked tumbling-window LWW rollup
  (``streaming_rollup`` archive 0), foreachBatch-appended to a parquet
  table.  Late-data drop IS the maxRetention rejection
  [ref: whisper.go (func (*Whisper) Update — bounds check)]: the
  watermark delay equals the archive's retention
  (``SeriesConfig.from_defs("1h:2d")`` → lateness = 172800 s), so a
  point older than maxRetention relative to the stream's notion of
  "now" (the watermark) is rejected exactly as whisper rejects
  ``timestamp < now - maxRetention``.
- ``st_sessions_30m``   — watermarked ``session_window`` stream
  (``streaming_sessions``), same replay, same lateness bound.

Determinism (what makes an oracle possible at all):

* The replay is 3 micro-batch passes.  Rows are assigned a
  deterministic ``arrive`` pass: 10-day thirds of the event span by
  event time, EXCEPT (a) chunk-0 rows with ``event_id % 17 == 3``
  arrive in pass 2 (≈ 8 days later than the watermark allows → every
  plausible late predicate drops them) and (b) chunk-1 rows from the
  last day with ``event_id % 5 == 0`` arrive in pass 2 but are still
  inside the lateness bound (≥ 25 h of margin → kept and merged into
  their still-open windows/sessions).
* Each pass appends exactly ONE parquet file and runs one
  ``availableNow`` pass over a shared checkpoint, so batch boundaries
  — and therefore the watermark trajectory — are pinned by
  construction, not by file-listing order.
* The watermark before pass *k* is ``max(event time of passes < k) −
  lateness``; the final no-data micro-batch emits every window whose
  end ≤ the final watermark.  Margins were measured at sf0.001/0.01/0.1
  (min 11 s, typical ≥ 25 h; see tests) so ``<`` vs ``<=`` boundary
  conventions cannot change the result, and the oracle can state the
  same watermark algebra in plain SQL.

The oracle does NOT re-implement Spark's state machine — it states the
contract: survivors = rows whose window end clears the watermark of
their arrival pass; output = aggregate of survivors restricted to
windows closed by the final watermark.

Scale: the streaming plans are the ones audited for the batch twins —
state keyed by (metric, window) / (user_id, session), watermark-bounded
state, shuffle keys identical to the batch rollup/sessionize.  The
3-pass replay harness is test scaffolding (bounded, sf0.01), not the
production deployment path (that is ``streaming/cascade.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_whisper_spark.model import SeriesConfig
from go_whisper_spark.operators.whisper_queries import (
    _apply_changes,
    _key_disjoint_changes,
    _silver_docs_base,
    _stage_silver,
    _tmpdir,
)
from go_whisper_spark.render import _tagged_points
from go_whisper_spark.session import materialize
from go_whisper_spark.sources.tables import events_points, load_table
from go_whisper_spark.streaming.rollup import streaming_rollup
from go_whisper_spark.streaming.sessions import streaming_sessions

LATENESS = 172800  # = maxRetention of the 1h:2d archive (the analog pin)
CHUNK_SECONDS = 864000  # 10-day thirds of the 30-day events span
N_PASSES = 3


def _arrive(t0: int):
    """Deterministic arrival pass for each row (columns ts, write_seq)."""
    chunk = F.least(
        F.expr(f"(ts - {t0}) div {CHUNK_SECONDS}"), F.lit(N_PASSES - 1)
    ).cast("long")
    return (
        F.when((chunk == 0) & (F.col("write_seq") % 17 == 3), F.lit(2))
        .when(
            (chunk == 1)
            & (F.col("ts") >= F.lit(t0 + 19 * 86400))
            & (F.col("write_seq") % 5 == 0),
            F.lit(2),
        )
        .otherwise(chunk)
        .cast("long")
    )


# Identical arrival algebra in DuckDB (BIGINT // is floor-div, ts >= 0).
_MARKED_CTE = f"""t0v AS (SELECT min(ts) AS t0 FROM pts),
marked AS (
  SELECT p.*,
         CASE WHEN least((p.ts - t.t0) // {CHUNK_SECONDS}, 2) = 0
                   AND p.seq % 17 = 3 THEN 2
              WHEN least((p.ts - t.t0) // {CHUNK_SECONDS}, 2) = 1
                   AND p.ts >= t.t0 + 19 * 86400
                   AND p.seq % 5 = 0 THEN 2
              ELSE least((p.ts - t.t0) // {CHUNK_SECONDS}, 2) END AS arrive
  FROM pts p, t0v t
),
wm AS (
  SELECT a.arrive, max(b.ts) - {LATENESS} AS wm
  FROM (SELECT DISTINCT arrive FROM marked) a
  JOIN marked b ON b.arrive < a.arrive
  GROUP BY a.arrive
),
wmf AS (SELECT max(ts) - {LATENESS} AS wmf FROM marked)"""


def _replay(
    spark: SparkSession,
    marked: DataFrame,
    build,
    await_secs: int = 300,
    n_passes: int = N_PASSES,
    on_pass=None,
    sink=None,
) -> str:
    """Write one file per arrival pass, run one availableNow pass per
    file over a shared checkpoint, foreachBatch-append every emitted
    micro-batch to a parquet table; return the table path.
    ``n_passes`` > N_PASSES lets a caller append sentinel flush passes
    (watermark-only rows at arrive >= N_PASSES) — outer joins and
    other eviction-paced emissions need the watermark pushed past the
    real rows' bounds before their final results exist.
    ``on_pass(k, q)`` is called after pass ``k``'s query terminates —
    the hook ``st_late_ledger`` uses to read the pass's own
    StreamingQueryProgress (watermark trajectory + rows dropped by
    the watermark), which each ``start()`` scopes to its pass.
    ``sink(batch, bid)`` (REVIEW r15) replaces the default
    append-to-parquet foreachBatch — the lakehouse CDC sinks and the
    sketch-store sinks had each hand-rolled this whole loop just to
    swap the sink."""
    root = _tmpdir("gws_stream_")
    src, out, ckpt = (os.path.join(root, n) for n in ("src", "out", "ckpt"))
    feed = marked.drop("arrive")

    if sink is None:
        def sink(batch: DataFrame, _bid: int) -> None:
            if not batch.isEmpty():
                batch.write.mode("append").parquet(out)

    for k in range(n_passes):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        q = (
            build(spark.readStream.schema(feed.schema).parquet(src))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # RuntimeError, not assert: under `python -O` a stripped assert
        # would silently continue with a partial (wrong) snapshot.
        if not q.awaitTermination(await_secs):
            raise RuntimeError("streaming pass timed out")
        if on_pass is not None:
            on_pass(k, q)
    return out


# --------------------------------------------------------- st_rollup_lww_1h
def st_rollup_lww_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LWW rollup snapshot: events replayed in 3 deterministic
    passes through ``streaming_rollup`` (archive 1h:2d, watermark =
    maxRetention = 2 d) [ref: whisper.go (Update bounds check; ring
    WriteAt ≙ max_by(value, write_seq))]."""
    pts = events_points(spark, sf_dir).select(
        "metric", "ts", "value", "write_seq"
    )
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    cfg = SeriesConfig.from_defs("1h:2d", "average", 0.0)
    out = _replay(
        spark, marked, lambda s: streaming_rollup(s, cfg, archive_index=0)
    )
    return spark.read.parquet(out).select("metric", "interval", "value", "known")


ST_ROLLUP_LWW_1H_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
agg AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value,
         count(value) AS known
  FROM surv
  GROUP BY 1, 2
)
SELECT metric, interval, value, known
FROM agg
WHERE interval + 3600 <= (SELECT wmf FROM wmf)
"""


# ----------------------------------------------------------- st_sessions_30m
def st_sessions_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window snapshot: the same 3-pass replay through
    ``streaming_sessions`` (30 m gap, 2 d lateness).  Pass-2's in-bound
    late rows merge into their still-open sessions; out-of-bound rows
    are dropped — the sessionized form of the maxRetention rejection."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts_sec").alias("ts"),
        F.col("event_id").alias("write_seq"),
    )
    t0 = int(ev.agg(F.min("ts")).first()[0])
    marked = ev.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    out = _replay(
        spark,
        marked,
        lambda s: streaming_sessions(
            s, gap_seconds=1800, lateness_seconds=LATENESS
        ),
    )
    return spark.read.parquet(out).select(
        "user_id", "session_start", "window_end", "n_events"
    )


ST_SESSIONS_30M_SQL = f"""
WITH pts AS (
  SELECT user_id,
         epoch_ns(ts) // 1000000000 AS ts,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts + 1800 > wm.wm
),
flagged AS (
  SELECT user_id, ts, seq,
         CASE WHEN lag(ts, 1) OVER w IS NULL THEN 1
              WHEN ts - lag(ts, 1) OVER w > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM surv
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, seq)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, seq
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_seq
  FROM flagged
),
sess AS (
  SELECT user_id,
         min(ts) AS session_start,
         max(ts) + 1800 AS window_end,
         count(*) AS n_events
  FROM numbered
  GROUP BY user_id, session_seq
)
SELECT user_id, session_start, window_end, n_events
FROM sess
WHERE window_end <= (SELECT wmf FROM wmf)
"""


# ------------------------------------------------------------ st_cascade_6h
def st_cascade_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CASCADE snapshot: the same 3-pass replay driven through
    ``streaming_cascade`` ("1h:2d,6h:12d", max, xff=0.5) — archive 0 is
    the watermarked LWW rollup, and every micro-batch incrementally
    re-consolidates the touched day partitions of archive 1 from the
    level-0 store [ref: whisper.go (Update — propagate loop)].  This
    pins the full stream→propagate path the way ``w_wsp_propagate``
    pins it through ``.wsp`` bytes.

    Returned: both archive levels union'd with ``archive_id``.

    Determinism: aggregation method is MAX (order-free, bit-exact —
    AVERAGE would ride on FP summation order inside the streaming
    state); the xff gate count/6 ≥ 0.5 is integer-equivalent to
    known ≥ 3.  Because archive-0 windows for a day only ever close in
    batches that touch that day, and consolidation recomputes touched
    days from the FULL level-0 store, the final archive 1 equals a
    batch 6h consolidation of the final archive 0 — which is what the
    oracle states.
    """
    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    cfg = SeriesConfig.from_defs("1h:2d,6h:12d", "max", 0.5)

    from go_whisper_spark.retention import archive_path
    from go_whisper_spark.streaming.cascade import streaming_cascade

    root = _tmpdir("gws_stream_")
    src, base, ckpt = (os.path.join(root, n) for n in ("src", "arch", "ckpt"))
    feed = marked.drop("arrive")
    for k in range(N_PASSES):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        q = streaming_cascade(
            spark.readStream.schema(feed.schema).parquet(src),
            cfg,
            base,
            ckpt,
            lateness_seconds=LATENESS,
        )
        if not q.awaitTermination(600):
            raise RuntimeError("cascade pass timed out")

    a0 = spark.read.parquet(archive_path(base, 0)).select(
        F.lit(0).cast("int").alias("archive_id"), "metric", "interval", "value"
    )
    a1 = spark.read.parquet(archive_path(base, 1)).select(
        F.lit(1).cast("int").alias("archive_id"), "metric", "interval", "value"
    )
    return a0.unionByName(a1)


ST_CASCADE_6H_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
a1 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         max(value) AS value
  FROM a0
  GROUP BY 1, 2
  HAVING count(*) >= 3
)
SELECT CAST(0 AS INTEGER) AS archive_id, metric, interval, value FROM a0
UNION ALL
SELECT CAST(1 AS INTEGER) AS archive_id, metric, interval, value FROM a1
"""


# ------------------------------------------------------- st_lsh_prefilter
def st_lsh_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time LSH near-dedup prefilter (``streaming/prefilter.py``)
    under the oracle: the corpus's (doc_id % 4 != 3) band-signature
    index is built once batch-side; the incoming shard (doc_id % 4 = 3)
    arrives as a 3-pass document STREAM whose per-doc signatures are
    computed by the Arrow kernel INSIDE the streaming query
    (``doc_features_frame`` over mapInPandas — the only streaming
    module exercising a pandas kernel in-stream), then probed against
    the broadcast index.  Stateless append stream: arrival order
    can't matter, which the 3-pass replay verifies by construction.

    Returned: per-language ledger — shard docs with signatures,
    prefiltered (any band hit), passed, and the bit_xor of the
    prefiltered doc_ids pinning the exact flagged SET.
    """
    from go_whisper_spark.operators.llm_ops import _docs
    from go_whisper_spark.streaming.prefilter import (
        corpus_band_index,
        streaming_lsh_prefilter,
    )

    docs = _docs(spark, sf_dir)
    idx = materialize(corpus_band_index(docs.where(F.col("doc_id") % 4 != 3)),
                      "st_lsh_prefilter:band index")
    incoming = docs.where(F.col("doc_id") % 4 == 3).select("doc_id", "text")
    marked = incoming.withColumn("arrive", (F.col("doc_id") % 3).cast("int"))
    out = _replay(spark, marked, lambda s: streaming_lsh_prefilter(s, idx))
    per_doc = (
        spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.max("hit").alias("dropped"))
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_with_sig"),
            F.sum("dropped").alias("n_prefiltered"),
            F.sum(1 - F.col("dropped")).alias("n_passed"),
            F.coalesce(
                F.expr("bit_xor(CASE WHEN dropped = 1 THEN doc_id END)"),
                F.lit(0),
            ).alias("dropped_xor"),
        )
        .orderBy("lang")
    )


def _st_lsh_prefilter_sql() -> str:
    from go_whisper_spark.operators.llm_ops import (
        _SHINGLE_CTE,
        _X32_SQL,
        _minhash_sql_terms,
    )

    banded_arms = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id, {b} AS band,
         h{4 * b}::VARCHAR || '-' || h{4 * b + 1}::VARCHAR || '-' ||
         h{4 * b + 2}::VARCHAR || '-' || h{4 * b + 3}::VARCHAR AS sig
  FROM sigs"""
        for b in range(4)
    )
    return f"""
WITH {_SHINGLE_CTE},
hashed AS (SELECT doc_id, {_X32_SQL} AS x32 FROM shingle),
sigs AS (
  SELECT doc_id,
         {_minhash_sql_terms()}
  FROM hashed GROUP BY doc_id
),
banded AS (
{banded_arms}
),
idx AS (SELECT DISTINCT band, sig FROM banded WHERE doc_id % 4 != 3),
inc AS (
  SELECT b.doc_id,
         CASE WHEN i.sig IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM banded b
  LEFT JOIN idx i ON i.band = b.band AND i.sig = b.sig
  WHERE b.doc_id % 4 = 3
),
per_doc AS (SELECT doc_id, max(hit) AS dropped FROM inc GROUP BY 1)
SELECT d.lang,
       count(*) AS n_with_sig,
       CAST(sum(p.dropped) AS BIGINT) AS n_prefiltered,
       CAST(sum(1 - p.dropped) AS BIGINT) AS n_passed,
       COALESCE(bit_xor(CASE WHEN p.dropped = 1 THEN p.doc_id END), 0)
         AS dropped_xor
FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


# ------------------------------------------------------------ st_pq_score
def st_pq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ADC scoring (``streaming/adc.py``) under the oracle: the
    PQ-IVF index is built once batch-side (``pq_ivf_index`` — the
    same artifacts ``s_pq_search`` reads), the 50 query vectors
    arrive as a 3-pass STREAM, each is routed to its top-2 cells
    INSIDE the Arrow kernel (the 8-row centroid table ships in the
    task closure — per-key windows don't exist in append streams)
    and ADC-scored against the broadcast index.  Stateless append
    stream: no watermark, no state store, arrival order can't
    matter.  Per-query top-1 selection is the downstream batch
    aggregate.

    Returned: (qid, neighbor, adc_sim) — each query's best ADC
    neighbor, the serving-path half of the s_pq_search composition.
    """
    from go_whisper_spark.operators.llm_ops import _emb, pq_ivf_index
    from go_whisper_spark.streaming.adc import adc_candidates

    index, cents = pq_ivf_index(spark, sf_dir)
    index = materialize(index, "st_pq_score:index")
    cent_rows = cents.collect()  # 8 rows — control-plane
    q = _emb(spark, sf_dir).where(F.col("vec_id") < 50).select(
        "vec_id", "embedding"
    )
    marked = q.withColumn("arrive", (F.col("vec_id") % 3).cast("int"))
    out = _replay(
        spark, marked, lambda s: adc_candidates(s, cent_rows, index)
    )
    cand = spark.read.parquet(out)
    best = F.max_by(
        F.struct(F.col("vec_id").alias("neighbor"), F.col("adc_sim")),
        F.struct(F.col("adc_sim"), (-F.col("vec_id")).alias("nv")),
    ).alias("b")
    return cand.groupBy("qid").agg(best).select(
        "qid", F.col("b.neighbor").alias("neighbor"),
        F.col("b.adc_sim").alias("adc_sim"),
    )


def _st_pq_score_sql() -> str:
    from go_whisper_spark.operators.llm_ops import _PQ_ADC_CTES

    return f"""
WITH {_PQ_ADC_CTES}
SELECT qid, neighbor, adc_sim FROM (
  SELECT qid, vec_id AS neighbor, adc_sim,
         row_number() OVER (
           PARTITION BY qid ORDER BY adc_sim DESC, vec_id ASC) AS rn
  FROM adc
) WHERE rn = 1
"""


# ----------------------------------------------------- st_lakehouse_ingest
def st_lakehouse_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the ACID commit-log table: events arrive
    as the 3-pass replay stream, each micro-batch lands through
    ``lakehouse.incremental_rollup_tx`` (bounds-check → bronze append
    → touched-day recompute → optimistic commit-log publish), and the
    result is a snapshot ``read_table`` of the 1h archive — the
    composition that turns the streaming rollup and the lakehouse
    layer into one pipeline: exactly-once-published day partitions
    under micro-batch ingestion, with every intermediate state a
    readable snapshot.

    Determinism: the final table state is a pure function of the
    accepted point SET (each commit recomputes its touched days from
    the full bronze), so arrival order and micro-batch boundaries
    can't matter — which the replay verifies by construction, and the
    oracle restates as LWW-1h over the retention-windowed points.
    Fully-rejected micro-batches (everything outside the 2-day
    retention) are the no-op contract ``test_fully_rejected_batch``
    pins.  Scale: per batch the work is O(touched days), the same
    incremental-maintenance bound as the batch writer; N streaming
    writers racing on disjoint days is exactly the lakehouse
    concurrency test matrix.
    """
    from go_whisper_spark.lakehouse import (
        incremental_rollup_tx,
        read_table,
        table_path,
    )

    pts = events_points(spark, sf_dir).select(
        "metric", "ts", "value", "write_seq"
    )
    now = int(pts.agg(F.max("ts")).first()[0])
    t0 = int(pts.agg(F.min("ts")).first()[0])
    cfg = SeriesConfig.from_defs("1h:2d", "average", 0.0)
    base = _tmpdir("gws_stream_")
    marked = pts.withColumn("arrive", _arrive(t0))

    def sink(batch: DataFrame, _bid: int) -> None:
        if not batch.isEmpty():
            incremental_rollup_tx(spark, base, cfg, batch, now)

    _replay(spark, marked, lambda stream: stream, sink=sink)
    return read_table(spark, table_path(base, 0)).select(
        "metric", "interval", "value"
    )


ST_LAKEHOUSE_INGEST_SQL = """
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
bounds AS (SELECT max(ts) AS now FROM pts)
SELECT metric,
       ts - ts % 3600 AS interval,
       arg_max(value, seq) AS value
FROM pts, bounds
WHERE ts <= now AND ts > now - 172800
  AND ts - ts % 3600 > now - 172800
GROUP BY 1, 2
"""


# ------------------------------------------------------ st_lakehouse_merge
def st_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into the silver table: a re-annotation stream
    (re-scored documents + brand-new documents) lands micro-batch by
    micro-batch through ``lakehouse.merge_table`` in a foreachBatch
    sink — the streaming half of ``w_lakehouse_merge``, and the
    standard CDC-apply pattern (Delta's ``foreachBatch`` + MERGE).

    Determinism under replay: the three passes carry KEY-DISJOINT
    update sets (pass k owns doc_id % 3 == k), so the final table
    state is a pure function of the update SET — micro-batch
    boundaries and pass order cannot matter, and each pass's rows
    have unique keys so even an intra-pass batch split commutes.
    Updates: every doc_id % 7 == 0 re-scored +1000·(pass+1); inserts:
    every doc_id % 11 == 0 cloned to doc_id + 1000000·(pass+1) at
    double score (clone ids collide with nothing — base ids are far
    below 1e6 and the pass multiplier separates clones).

    Scale shape: per micro-batch the work is O(touched partitions)
    (the merge_table contract); one streaming writer here — N racing
    writers are the ConflictError matrix test_lakehouse pins."""
    from go_whisper_spark.lakehouse import merge_table, read_table

    base = _silver_docs_base(spark, sf_dir).withColumn("src", F.lit("base"))
    table = _stage_silver(spark, base, "gws_stream_")

    upd = base.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang",
        (F.col("score") + 1000 * (F.col("doc_id") % 3 + 1)).alias("score"),
        F.lit("merge").alias("src"),
        "b",
        (F.col("doc_id") % 3).alias("arrive"),
    )
    ins = base.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000 * (F.col("doc_id") % 3 + 1)).alias("doc_id"),
        "lang",
        (F.col("score") * 2).alias("score"),
        F.lit("merge").alias("src"),
        ((F.col("doc_id") + 1000000 * (F.col("doc_id") % 3 + 1)) % 4).alias("b"),
        (F.col("doc_id") % 3).alias("arrive"),
    )
    marked = upd.unionByName(ins)

    def sink(batch: DataFrame, _bid: int) -> None:
        if not batch.isEmpty():
            # keys here are partition-stable by construction (b is a
            # pure function of doc_id), so skip allow_moves' snapshot
            # probe — a per-micro-batch full-table semi-join otherwise
            merge_table(spark, table, batch, key_cols=["doc_id"],
                        part_col="b", allow_moves=False)

    _replay(spark, marked, lambda stream: stream, sink=sink)
    return read_table(spark, table).select(
        "doc_id", "lang", "score", "src", "b"
    )


ST_LAKEHOUSE_MERGE_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         'base' AS src, doc_id % 4 AS b
  FROM documents
),
upd AS (
  SELECT doc_id, lang, score + 1000 * (doc_id % 3 + 1) AS score,
         'merge' AS src, b
  FROM base WHERE doc_id % 7 = 0
),
ins AS (
  SELECT doc_id + 1000000 * (doc_id % 3 + 1) AS doc_id, lang,
         score * 2 AS score, 'merge' AS src,
         (doc_id + 1000000 * (doc_id % 3 + 1)) % 4 AS b
  FROM base WHERE doc_id % 11 = 0
)
SELECT doc_id, lang, score, src, b FROM base
WHERE doc_id NOT IN (SELECT doc_id FROM upd)
UNION ALL
SELECT doc_id, lang, score, src, b FROM upd
UNION ALL
SELECT doc_id, lang, score, src, b FROM ins
"""


# -------------------------------------------------------- st_lakehouse_mor
def st_lakehouse_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-apply in MERGE-ON-READ form: a change stream
    carrying DELETEs (every doc_id % 5 == 0) and UPSERTs (every
    doc_id % 7 == 0 not also deleted, re-scored +1000) lands
    micro-batch by micro-batch as METADATA-ONLY commits — each batch
    publishes an equality deletion vector and/or a delta append via
    ``delete_rows_mor`` / ``upsert_rows_mor``, never rewriting a base
    file (the write-amplification-free CDC sink; contrast
    ``st_lakehouse_merge``'s per-batch partition rewrite) — and the
    result is the final merge-on-read SCAN.

    Determinism under replay: the change set is KEY-DISJOINT (delete
    keys ∩ upsert keys = ∅ by the % 5 exclusion, and each key is
    touched exactly once across all passes), so the final MoR state
    is a pure function of the change SET — micro-batch boundaries,
    pass order, and the per-batch dv/delta sequencing cannot matter.
    The oracle is the eagerly-rewritten table in plain SQL: streamed
    MoR ≡ eager rewrite is the contract.

    Scale shape: per micro-batch the write is O(changed keys) —
    independent of table size, which is exactly why real CDC sinks
    prefer MoR; the read amortizes via compact_mor (pinned in
    test_lakehouse)."""
    from go_whisper_spark.lakehouse import read_table_mor

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(
        spark, base.withColumn("src", F.lit("base")), "gws_stream_")
    # every upserted row is relabelled; a delete reads only its key
    marked = _key_disjoint_changes(base).withColumn("src", F.lit("mor"))
    _replay(spark, marked, lambda stream: stream,
            sink=lambda batch, _bid: _apply_changes(spark, table, batch))
    return read_table_mor(spark, table, key_cols=["doc_id"]).select(
        "doc_id", "lang", "score", "src", "b"
    )


def st_topk_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra–Gries — the SIXTH streaming merge law, and the
    first whose partials are NOT slicing-invariant: each micro-batch
    folds to its own ≤ k-counter summary (count → (k+1)-th-largest
    threshold → surviving deficits), the store accumulates one
    summary + one threshold scalar per batch, and the final read is
    the flat k-way merge (sum by key, re-threshold) — Agarwal et
    al.'s mergeable-summaries law run over real micro-batches.

    Honesty note the other five laws didn't need: counter-sum
    sketches (CMS/HLL/KMV/HDR) give the SAME answer under any batch
    slicing, so their oracles ignore the stream's shape.  An MG
    summary depends on what shared a batch — so the slicing is made
    deterministic (arrive = event_id % 3, one coalesced file per
    pass, one availableNow batch per file) and the oracle is the
    batch MG SQL with shards := batches, verbatim.  What the oracle
    pins is the MERGE LAW and the one-sided bound (deficit ≤ Σ t_b +
    T on every surviving row), not slicing-invariance, which MG
    simply does not have.

    Scale shape: per batch ONE map-combined count + a top-(k+1)
    selection; the store grows ≤ k rows + 1 scalar per batch — the
    summary IS the transmitted object, constant-size at any key
    cardinality (the CM pairing: CM bounds from above, MG from
    below)."""
    from go_whisper_spark.operators.whisper_queries import _MG_K

    from go_whisper_spark.operators.whisper_queries import _mg_merge_ledger

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    marked = ev.withColumn("arrive", F.col("event_id") % N_PASSES)
    root = _tmpdir("gws_stream_")
    sum_store, t_store = (
        os.path.join(root, "summaries"),
        os.path.join(root, "thresholds"),
    )

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        counts = batch.groupBy("user_id").agg(F.count("*").alias("c"))
        w = Window.orderBy(F.desc("c"), "user_id")
        t_row = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == _MG_K + 1)
            .select("c")
            .collect()
        )
        t = t_row[0]["c"] if t_row else 0
        (
            counts.where(F.col("c") > t)
            .select("user_id", (F.col("c") - F.lit(t)).alias("m"))
            .write.mode("append").parquet(sum_store)
        )
        spark.createDataFrame([(t,)], "t long").write.mode(
            "append").parquet(t_store)

    _replay(spark, marked, lambda s: s, sink=sink)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact"))
    return _mg_merge_ledger(
        spark.read.parquet(sum_store),
        spark.read.parquet(t_store).select(F.col("t")),
        exact,
    )


def st_lakehouse_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed CDC PRODUCER closing the loop: a change stream
    lands micro-batch by micro-batch as metadata-only MoR commits
    (the `st_lakehouse_mor` sink), and the RESULT is the CHANGE DATA
    FEED derived afterwards by `read_changes_mor(v1, head)` — the
    O(changes) fast path reading changed keys from the dv/delta
    metadata the stream itself produced.  Produce and derive, both
    streaming-native: what `st_lakehouse_merge`/`st_lakehouse_mor`
    consume is now manufactured AND re-extracted under one oracle.

    The pin: the FEED is invariant to micro-batch boundaries.  The
    change set is key-disjoint (delete %5 ∪ upsert %7-not-%5, each
    key touched once), so however the arrival passes slice it into
    dv/delta commits, the endpoint snapshots — and therefore the bag
    diff — are fixed; the oracle computes the feed from the base and
    final expressions alone, no streaming in sight.

    Scale shape: per batch O(changed keys) metadata writes; the feed
    read is the audited `w_lakehouse_cdf_mor` plan (changed keys
    from metadata, broadcast semi-join endpoint diff).  [pins
    lakehouse.py: read_changes_mor over streamed commits]"""
    from go_whisper_spark.lakehouse import read_changes_mor

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_stream_")
    _replay(spark, _key_disjoint_changes(base), lambda s: s,
            sink=lambda batch, _bid: _apply_changes(spark, table, batch))
    return read_changes_mor(spark, table, key_cols=["doc_id"],
                            from_version=1)


# -------------------------------------------------- st_lakehouse_cdf_pos
def st_lakehouse_cdf_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed CDC producer over POSITIONAL commits — the
    `st_lakehouse_cdf` loop with its delete half re-spelled in the
    positional dialect (VERDICT r15 item 2's streamed half): each
    micro-batch lands its deletes as a pdv naming (directory,
    position) pairs (addressed via `read_table_pos` + a broadcast
    key semi-join; at production scale the addressing scan rides the
    bloom/zone-map-pruned lookup instead) and its upserts as
    equality delta+dv commits — then the feed is derived by
    `read_changes_mor(v1, head)`, whose pdv branch resolves the
    tombstones back to keys from only the addressed directories.

    The pin is the same boundary invariance: the change set is
    key-disjoint (delete %5 ∪ upsert %7-not-%5), so however the
    arrival passes slice it into pdv/delta commits the endpoint
    snapshots — and the bag diff — are fixed; and because equality
    and positional deletes encode the SAME logical change, the
    oracle is `st_lakehouse_cdf`'s VERBATIM: the feed is invariant
    to the deletion dialect AND to micro-batch boundaries at once.

    Scale shape: per batch O(changed keys) metadata writes plus the
    addressing scan; the feed read is the audited
    `w_lakehouse_cdf_pos` plan.  [pins lakehouse.py:
    read_changes_mor pdv branch over streamed commits]"""
    from go_whisper_spark.lakehouse import read_changes_mor

    base = _silver_docs_base(spark, sf_dir)
    # the _pos stamp makes _apply_changes delete positionally
    table = _stage_silver(spark, base, "gws_stream_", positional=True)
    _replay(spark, _key_disjoint_changes(base), lambda s: s,
            sink=lambda batch, _bid: _apply_changes(spark, table, batch))
    return read_changes_mor(spark, table, key_cols=["doc_id"],
                            from_version=1)


ST_LAKEHOUSE_CDF_SQL = """
WITH base AS (
  SELECT doc_id % 4 AS b, doc_id, lang, CAST(n_chars AS BIGINT) AS score
  FROM documents
),
v_final AS (
  SELECT b, doc_id, lang, score FROM base
  WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0
  UNION ALL
  SELECT b, doc_id, lang, score + 1000 FROM base
  WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
)
SELECT *, 'delete' AS _change_type
FROM (SELECT * FROM base EXCEPT ALL SELECT * FROM v_final)
UNION ALL
SELECT *, 'insert' AS _change_type
FROM (SELECT * FROM v_final EXCEPT ALL SELECT * FROM base)
"""


ST_LAKEHOUSE_MOR_SQL = """
WITH base AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS score,
         'base' AS src, doc_id % 4 AS b
  FROM documents
)
SELECT doc_id, lang, score, src, b FROM base
WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0
UNION ALL
SELECT doc_id, lang, score + 1000 AS score, 'mor' AS src, b
FROM base WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0
"""


# ----------------------------------------------------------- st_triangles
def st_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over a STREAMED co-purchase graph — the graph
    analog of the sketch merge laws, with the IDEMPOTENT one: the
    lineitem stream (orders arrive WHOLE — arrival pass = o % 3, the
    realistic CDC unit, so a batch always sees complete orders) feeds
    an incrementally-maintained DISTINCT edge store (per batch: the
    batch's bounded clique expansion, anti-joined against the store,
    appended — the lakehouse ingest pattern), and the per-node
    triangle/clustering ledger runs on the final store.

    The law: the edge relation is a SET and set union is associative,
    commutative AND idempotent — so unlike the counter-sum laws
    (CMS/HDR need exactly-once), duplicate edge delivery is tolerated
    BY CONSTRUCTION (the anti-join dedups; replaying a batch is a
    no-op), and the streamed graph equals the batch graph regardless
    of batch boundaries.  Triangle counting is a pure function of the
    edge set, so the oracle is the batch ledger SQL VERBATIM
    (`W_TRIANGLES_SQL`) — the st_zorder_stats discipline on a graph.

    Scale shape: per micro-batch the work is the batch's own bounded
    pair expansion + one anti-join against the store keyed (u, v);
    the ledger read is the audited w_triangles plan unchanged."""
    from go_whisper_spark.operators.whisper_queries import (
        _tri_degrees,
        _tri_node_ledger,
        _tri_orient,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
        (F.col("l_orderkey") % 3).alias("arrive"),
    )
    feed = li.drop("arrive")
    root = _tmpdir("gws_stream_")
    src, ckpt, store = (
        os.path.join(root, n) for n in ("src", "ckpt", "edges")
    )

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        items = batch.select("o", "p").distinct()
        pairs = (
            items.join(items.select("o", F.col("p").alias("q")), "o")
            .where(F.col("p") < F.col("q"))
            .select(F.col("p").alias("u"), F.col("q").alias("v"))
            .distinct()
        )
        if os.path.isdir(store):
            pairs = pairs.join(
                spark.read.parquet(store), ["u", "v"], "left_anti"
            )
        pairs.write.mode("append").parquet(store)

    for k in range(N_PASSES):
        (
            li.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        q = (
            spark.readStream.schema(feed.schema)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            raise RuntimeError("streaming pass timed out")
    edges = materialize(spark.read.parquet(store), "st_triangles:edges")
    deg = materialize(_tri_degrees(edges), "st_triangles:degrees")
    ori = materialize(_tri_orient(edges, deg), "st_triangles:oriented")
    return _tri_node_ledger(deg, ori)


# ------------------------------------------------- st_triangles_ledger
def _tri_new_triangles(old, delta: DataFrame) -> DataFrame:
    """(pre-batch store, deduped new edges) → the batch's NEW
    triangles (u, v, w — each exactly once), via the new-triangle
    decomposition (see st_triangles_ledger): class 1 = one new edge
    closed by two old-adjacency edges, class 2 = a Δ-wedge closed by
    an old edge, class 3 = the canonical triangle join on Δ alone.
    ``old`` is None for the first batch (classes 1-2 vacuous).
    Shared by the node ledger (`_tri_ledger_increment`), the edge
    SUPPORT ledger (`_tri_support_increment`), and the pytest laws
    so the tested math IS the shipped math."""
    tri_nodes = []
    if old is not None:
        adj_old = old.select(
            F.col("u").alias("z"), F.col("v").alias("x")
        ).unionAll(old.select(
            F.col("v").alias("z"), F.col("u").alias("x")))
        t1 = (
            delta
            .join(adj_old.select(F.col("z").alias("u"),
                                 F.col("x").alias("w")), "u")
            .join(adj_old.select(F.col("z").alias("v"),
                                 F.col("x").alias("w")), ["v", "w"])
            .select("u", "v", "w")
        )
        tri_nodes.append(t1)
        adj_d = delta.select(
            F.col("u").alias("z"), F.col("v").alias("x")
        ).unionAll(delta.select(
            F.col("v").alias("z"), F.col("u").alias("x")))
        t2 = (
            adj_d.alias("a")
            .join(adj_d.alias("b"), "z")
            .where(F.col("a.x") < F.col("b.x"))
            .select(F.col("z").alias("w"),
                    F.col("a.x").alias("u"),
                    F.col("b.x").alias("v"))
            .join(old, ["u", "v"], "left_semi")
        )
        tri_nodes.append(t2)
    e2 = delta.select(F.col("u").alias("v"), F.col("v").alias("w"))
    e3 = delta.select("u", F.col("v").alias("w"))
    t3 = delta.join(e2, "v").join(e3, ["u", "w"], "left_semi")
    tri_nodes.append(t3.select("u", "v", "w"))
    tri = tri_nodes[0]
    for t in tri_nodes[1:]:
        tri = tri.unionByName(t)
    return tri


def _tri_ledger_increment(old, delta: DataFrame) -> DataFrame:
    """(pre-batch store, deduped new edges) → the batch's exact
    ledger increments (node, d_deg, d_tri) over
    `_tri_new_triangles`'s enumeration.  Shared by the streaming
    sink and the pytest laws so the tested math IS the shipped
    math."""
    d_deg = (
        delta.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d_deg"))
    )
    tri = _tri_new_triangles(old, delta)
    d_tri = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d_tri"))
    )
    return (
        d_deg.join(d_tri, "node", "full_outer")
        .select(
            "node",
            F.coalesce("d_deg", F.lit(0).cast("long")).alias("d_deg"),
            F.coalesce("d_tri", F.lit(0).cast("long")).alias("d_tri"),
        )
    )


def _tri_support_increment(old, delta: DataFrame) -> DataFrame:
    """(pre-batch store, deduped new edges) → the batch's exact
    per-EDGE support increments (cu, cv, d_sup): every triangle born
    this batch (`_tri_new_triangles` — born exactly once, in the
    batch its LAST edge arrives) charges +1 to each of its three
    edges, OLD edges included (a new wedge closing over an old edge
    raises that old edge's support).  Folding the increments over
    any slicing therefore telescopes to the batch per-edge support
    relation — the same monotone-ledger law as the node ledger, on
    edge grain."""
    tri = _tri_new_triangles(old, delta)
    return (
        tri.select(
            F.explode(F.array(
                F.struct(F.least("u", "v").alias("cu"),
                         F.greatest("u", "v").alias("cv")),
                F.struct(F.least("u", "w").alias("cu"),
                         F.greatest("u", "w").alias("cv")),
                F.struct(F.least("v", "w").alias("cu"),
                         F.greatest("v", "w").alias("cv")),
            )).alias("e")
        )
        .select("e.cu", "e.cv")
        .groupBy("cu", "cv")
        .agg(F.count("*").alias("d_sup"))
    )


def _tri_ledger_fold(inc: DataFrame) -> DataFrame:
    """Increment rows → the (node, deg, tri_n, cc_ppm) ledger: one
    associative map-combined fold + the exact floored-ppm clustering
    coefficient (the `_tri_node_ledger` output contract)."""
    led = (
        inc.groupBy("node")
        .agg(F.sum("d_deg").alias("deg"), F.sum("d_tri").alias("tri_n"))
    )
    return led.select(
        "node",
        "deg",
        "tri_n",
        F.when(F.col("deg") < 2, F.lit(0).cast("long")).otherwise(
            F.expr("(2 * tri_n * 1000000) div (deg * (deg - 1))")
        ).alias("cc_ppm"),
    )


def st_triangles_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the per-node triangle/degree ledger
    over the streamed edge store (VERDICT r15 item 3) — where
    `st_triangles` re-derives the ledger from the final store, this
    maintains it per micro-batch and never recounts an old triangle:
    each batch computes only the NEW edges' ledger increments and
    appends them; the final ledger is one associative fold.

    The increment is EXACT by the new-triangle decomposition: a
    triangle born this batch contains 1, 2, or 3 new edges, and each
    class is enumerated exactly once —
      * 1 new edge (u,v): old-adjacency wedge closure (w adjacent to
        both u and v in the PRE-batch store) — only that one edge is
        new, so only it generates the triangle;
      * 2 new edges (w,u),(w,v): the Δ-wedge at their unique shared
        center w, closed by an OLD (u,v) edge;
      * 3 new edges: the canonical e1/e2/e3 triangle join on Δ alone.
    Degrees increment by the new edges' endpoints.  The monotone-
    ledger law extends `st_triangles`' set-union idempotency: the
    edge store dedups Δ (replaying a batch yields Δ = ∅ → zero
    increments), and because each increment is a pure function of
    (pre-store, Δ) the per-batch increments TELESCOPE to the batch
    ledger whatever the batch boundaries — so the oracle is the
    batch ledger SQL VERBATIM (`W_TRIANGLES_SQL`), the strongest
    shape available.

    Scale shape: per batch, O(Δ) joins against the store's
    adjacency (at production scale Δ is the broadcast side of every
    join — the store is only ever probed, never reshuffled) and an
    O(Δ-touched nodes) append; the final fold is one map-combined
    groupBy over O(touched nodes) increment rows.  No O(store)
    recount ever runs — that is the entire point vs `st_triangles`.
    [pins whisper_queries.py: _tri_node_ledger equivalence]"""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
        (F.col("l_orderkey") % 3).alias("arrive"),
    )
    root = _tmpdir("gws_stream_")
    store, ledger = (os.path.join(root, n) for n in ("edges", "ledger"))

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        items = batch.select("o", "p").distinct()
        delta = (
            items.join(items.select("o", F.col("p").alias("q")), "o")
            .where(F.col("p") < F.col("q"))
            .select(F.col("p").alias("u"), F.col("q").alias("v"))
            .distinct()
        )
        old = None
        if os.path.isdir(store):
            # file index snapshots at read() — everything below sees
            # the PRE-batch store even after the append at the end
            old = spark.read.parquet(store)
            delta = delta.join(old, ["u", "v"], "left_anti")
        # several consumers below
        delta = materialize(delta, "st_triangles_ledger:new edges")
        inc = _tri_ledger_increment(old, delta)
        inc.write.mode("append").parquet(ledger)
        delta.write.mode("append").parquet(store)

    _replay(spark, li, lambda s: s, sink=sink)
    return _tri_ledger_fold(spark.read.parquet(ledger))


# ------------------------------------------------------ st_distinct_hll
def st_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog — the MERGEABILITY property that makes
    sketches distributable, exercised on the ingest path: each
    micro-batch of the 3-pass replay computes its own PARTIAL
    register table (per-(metric, register) max rho — the same
    string-op rho as the batch form), appends it to a sketch store,
    and the final estimate merges all partials by register max.
    Register max is associative, commutative and idempotent, so the
    result is independent of batch boundaries, arrival order, and
    duplicate delivery — which is exactly why the oracle is the
    BATCH HLL SQL verbatim (``w_distinct_hll``); the replay proves
    the merge law, not a weaker restatement.

    Scale shape: per batch, one map-combined 64·n_metrics-cell
    aggregate (constant-size regardless of batch cardinality); the
    sketch store grows one tiny partial per batch and the final merge
    is a constant-size groupBy — the shape a fleet of ingest workers
    shipping per-shard sketches to a merger runs at any volume.
    Stateless sink: no watermark, no state store."""
    from go_whisper_spark.operators.whisper_queries import (
        _hll_ledger,
        _hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"), "user_id", "ts", "event_id"
    )
    t0 = int(ev.agg(F.min(F.unix_timestamp("ts"))).first()[0])
    chunk = F.least(
        F.expr(f"(unix_timestamp(ts) - {t0}) div {CHUNK_SECONDS}"),
        F.lit(N_PASSES - 1),
    ).cast("long")
    marked = ev.withColumn("arrive", chunk).drop("ts")
    store = os.path.join(_tmpdir("gws_stream_"), "sketch")

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        _hll_registers(batch).write.mode("append").parquet(store)

    _replay(spark, marked, lambda stream: stream, sink=sink)

    regs = (
        spark.read.parquet(store)
        .groupBy("metric", "j")
        .agg(F.max("mj").alias("mj"))
    )
    return _hll_ledger(spark, sf_dir, regs)


# --------------------------------------------------- st_lakehouse_mv
def st_lakehouse_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental view maintenance — the full CDC loop
    running live: each micro-batch lands its changes as metadata-only
    MoR commits (the `st_lakehouse_cdf` producer), then immediately
    refreshes the downstream per-lang aggregate view from
    `read_changes_mor(prev_head, new_head)` — the O(changes) feed of
    exactly the commits that batch produced — as signed deltas merged
    into the view store.  The base table is aggregated ONCE (the v1
    materialization); every subsequent refresh costs the batch's
    change rate.

    The law: per-range signed deltas TELESCOPE — Σ over consecutive
    ranges of (insert − delete) contributions equals the endpoint
    diff's contribution, because the feed of (v_a, v_b] followed by
    (v_b, v_c] bag-concatenates to a superset of the (v_a, v_c] feed
    that differs only by pairs that CANCEL in the signed aggregate
    (a row deleted at v_b and re-inserted identically later nets to
    zero both ways).  So the maintained view is invariant to commit
    boundaries AND to micro-batch boundaries, and the oracle
    recomputes it from the final snapshot expression alone — the
    strongest shape: streamed incremental vs batch recompute.

    Scale shape: per batch O(changed keys) metadata writes + the
    audited O(changes) feed read + an O(changed groups) signed
    aggregate merged into the O(groups) view (localCheckpoint →
    overwrite, the artifact a live MV run persists).  [pins
    lakehouse.py: read_changes_mor as a PER-BATCH streaming feed]"""
    from go_whisper_spark.lakehouse import read_changes_mor
    from go_whisper_spark.operators.whisper_queries import (
        _mv_count_sum_refresh,
        _mv_count_sum_view,
    )

    def refresh(view: DataFrame, table: str, prev: int, head: int):
        return _mv_count_sum_refresh(view, read_changes_mor(
            spark, table, key_cols=["doc_id"],
            from_version=prev, to_version=head))

    return _streamed_view(spark, sf_dir, _mv_count_sum_view, refresh)


def _streamed_view(spark: SparkSession, sf_dir: str, view, refresh
                   ) -> DataFrame:
    """The streamed view-maintenance loop of `st_lakehouse_mv` and
    `st_mv_minmax`: stage the silver table, store ``view`` of its v1
    snapshot, then replay the key-disjoint change stream — each
    micro-batch lands through ``_apply_changes`` and, when it
    committed, overwrites the store with ``refresh(stored view, table,
    prev_version, head_version)``.  Returns the final stored view."""
    from go_whisper_spark.lakehouse import CommitLog, read_table

    base = _silver_docs_base(spark, sf_dir)
    table = _stage_silver(spark, base, "gws_stream_")
    mv_store = os.path.join(_tmpdir("gws_stream_"), "mv")
    view(read_table(spark, table, version=1)) \
        .write.mode("overwrite").parquet(mv_store)

    def sink(batch: DataFrame, _bid: int) -> None:
        log = CommitLog(table)
        prev = log.state()["version"]
        _apply_changes(spark, table, batch)
        head = log.state()["version"]
        if head == prev:
            return                      # empty batch: nothing landed
        # materialized before overwriting the store it reads
        mv = materialize(refresh(spark.read.parquet(mv_store), table, prev, head),
                         "streamed_view:refreshed view")
        mv.write.mode("overwrite").parquet(mv_store)

    _replay(spark, _key_disjoint_changes(base), lambda s: s, sink=sink)
    return spark.read.parquet(mv_store)


# ------------------------------------------------------ st_labelprop
def st_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus clustering — `s_labelprop`'s community
    labels maintained as the embedding corpus STREAMS in: each
    micro-batch scores its new vectors against the corpus-so-far
    (the shard-vs-corpus shape of `d_incremental` — never
    corpus-vs-corpus), appends the qualifying cosine ≥ 0.35 edges,
    and re-propagates labels to the new fixpoint WARM-STARTED from
    the previous batch's labels (new vectors enter as their own
    label).

    The warm-start is correct by the monotone-label argument (the
    `st_triangles_ledger` discipline on labels instead of counters):
    adding edges only LOWERS min-reachable labels, the previous
    fixpoint is pointwise ≥ the new one, and every carried label is
    the id of a node inside the (grown) component that now contains
    it — so propagation from the carried labels converges to exactly
    the cold-start fixpoint (pytest-pinned on an adversarial
    slicing), in rounds ~ how far the NEW edges moved the frontier
    rather than the full diameter.  The round count therefore
    depends on batch boundaries and is NOT emitted; the fixpoint
    LABELS are boundary-invariant and the oracle is the batch
    28-round unrolled schedule SANS the iters derivation
    (`_s_labelprop_sql(with_iters=False)`).

    Scale shape: per batch O(|new| · |corpus|) pair scoring (the
    unrolled codegen dot chain; at 100 TB the new×corpus probe rides
    the LSH-bucketed candidate join instead — edge provenance is
    irrelevant to the loop), one edge append, then warm-start rounds
    of the audited `_labelprop_round` plan; the label store is
    O(nodes), rewritten from a localCheckpoint per batch (the
    artifact an incremental clustering run persists)."""
    from go_whisper_spark.operators.llm_ops import (
        _cos_frames,
        _dot_expr,
        _labelprop_round,
    )

    feed = _cos_frames(spark, sf_dir).select(
        "vec_id", "v", "norm", (F.col("vec_id") % 3).alias("arrive")
    )
    root = _tmpdir("gws_stream_")
    vstore, estore, lstore = (
        os.path.join(root, n) for n in ("vecs", "edges", "labels")
    )

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        newv = batch.select("vec_id", "v", "norm")
        if os.path.isdir(vstore):
            newv = newv.join(spark.read.parquet(vstore).select("vec_id"),
                             "vec_id", "left_anti")
        # several consumers below
        newv = materialize(newv, "st_labelprop:new vectors")
        if newv.isEmpty():
            return                      # replayed batch: a no-op
        corpus = newv
        if os.path.isdir(vstore):
            corpus = spark.read.parquet(vstore).unionByName(newv)
        a = newv.select(F.col("vec_id").alias("ida"),
                        F.col("v").alias("va"),
                        F.col("norm").alias("na"))
        b = corpus.select(F.col("vec_id").alias("idb"),
                          F.col("v").alias("vb"),
                          F.col("norm").alias("nb"))
        sim = F.round(_dot_expr("va", "vb") / (F.col("na") * F.col("nb")), 6)
        pairs = (
            a.join(b, F.col("ida") != F.col("idb"))
            .where(sim >= 0.35)
            .select(F.least("ida", "idb").alias("u"),
                    F.greatest("ida", "idb").alias("v"))
            .distinct()
        )
        pairs.write.mode("append").parquet(estore)
        newv.write.mode("append").parquet(vstore)
        # warm-started propagation over the grown edge store
        lab = newv.select(F.col("vec_id").alias("node")).withColumn(
            "comm", F.col("node"))
        if os.path.isdir(lstore):
            lab = spark.read.parquet(lstore).unionByName(lab)
        lab = materialize(lab, "st_labelprop:seed labels", reset_stats=True)
        ed = spark.read.parquet(estore)
        edges = ed.select(F.col("u").alias("src"), F.col("v").alias("dst")) \
            .unionAll(ed.select(F.col("v").alias("src"),
                                F.col("u").alias("dst")))
        rounds = 0
        while True:
            rounds += 1
            new = materialize(_labelprop_round(edges, lab),
                              f"st_labelprop:round {rounds}", reset_stats=True)
            delta = (
                new.join(lab.withColumnRenamed("comm", "prev"), "node")
                .agg(F.max(F.col("prev") - F.col("comm")))
                .first()[0]
            )
            lab = new
            if delta == 0:
                break
            if rounds >= 64:
                raise RuntimeError("warm-start propagation diverged")
        # lab is materialized, so overwriting
        # the store it was seeded from is safe
        lab.write.mode("overwrite").parquet(lstore)

    _replay(spark, feed, lambda s: s, sink=sink)
    return (
        spark.read.parquet(lstore)
        .select(F.col("node").alias("vec_id"), "comm")
    )


# -------------------------------------------------------- st_mv_minmax
def st_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING min/max view maintenance — `w_lakehouse_mv_minmax`'s
    non-self-maintainable boundary running live, batch by batch: each
    micro-batch lands its changes as MoR commits (the
    `st_lakehouse_mv` producer), then refreshes the per-lang
    (n_docs, max_score, min_score) view — BOTH extremes since round
    19, inherited verbatim from the shared refresh — from THAT
    range's O(changes) feed by the safe/endangered/vanished
    classification — safe sides fold O(changes) (the batch's deletes
    do not cover every holder of the extreme, so a survivor proves
    it), groups endangered on either side recompute both extremes
    via ONE LeftSemi-pruned scan of the NEW head, vanished groups
    drop.

    The view is EXACT after every refresh by induction: the
    classification consults the previous refresh's exact extremes
    and the batch feed, and each path re-establishes exactness at
    the new head — so the final view is a pure function of the final
    snapshot and the oracle recomputes it directly
    (`_w_lakehouse_mv_minmax_sql(with_flag=False)`).  The
    safe/endangered SPLIT, unlike the view, depends on micro-batch
    slicing (one big batch endangers where three small ones may
    not), so the flag column is not emitted — the `st_labelprop`
    convention, and the reason the batch rung keeps it.

    Scale shape: per batch O(changed keys) metadata commits + the
    audited O(changes) feed read + an O(changed groups)
    classification merge; the fallback scan is semi-join-pruned to
    endangered groups at the batch's head; the view store is
    O(groups), rewritten from a localCheckpoint.  [pins lakehouse.py:
    read_changes_mor feeding the Gupta-Mumick boundary per batch]"""
    from go_whisper_spark.lakehouse import read_changes_mor, read_table_mor
    from go_whisper_spark.operators.whisper_queries import (
        _mv_minmax_refresh,
        _mv_minmax_view,
    )

    def refresh(view: DataFrame, table: str, prev: int, head: int):
        feed = materialize(read_changes_mor(spark, table, key_cols=["doc_id"],
                                            from_version=prev, to_version=head),
                           "st_mv_minmax:feed")
        return _mv_minmax_refresh(
            view, feed,
            read_table_mor(spark, table, key_cols=["doc_id"],
                           version=head),
            with_flag=False,            # slicing-dependent: not emitted
        )

    return _streamed_view(spark, sf_dir, _mv_minmax_view, refresh)


def _mv_minmax_oracle_sql():
    from go_whisper_spark.operators.whisper_queries import (
        _w_lakehouse_mv_minmax_sql,
    )
    return _w_lakehouse_mv_minmax_sql(with_flag=False)


def _shot_bounds_oracle_sql():
    # slicing-invariant: the streamed ledger equals the batch rung's,
    # so the oracle is M_SHOT_BOUNDS_SQL verbatim
    from go_whisper_spark.operators.multimodal import M_SHOT_BOUNDS_SQL
    return M_SHOT_BOUNDS_SQL


# ----------------------------------------------------- st_shot_bounds
def st_shot_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING shot-boundary detection — the video family's
    streaming twin (VERDICT r17 item 3): frame rows arrive in
    f-monotone passes (arrive = least(3·f div nf, 2) — each video's
    frames split across the replay's 3 passes IN ORDER), the 64-bit
    aHash runs as `_shot_hash`'s narrow codegen map ON each
    micro-batch (the m_shot_bounds map verbatim — tested math IS
    shipped math), and the hamming-to-previous-frame is the
    `streaming_shot_hamming` ``applyInPandasWithState`` kernel:
    state = ONE frame's bits per video (the `st_derivative` trailing
    kernel shape), so adjacent frames straddling a batch boundary
    pair exactly.

    The per-pair hamming is slicing-INVARIANT (each h depends only
    on frames f-1 and f, delivered in order), so the emitted rows
    equal the batch lag window and the folded per-video ledger
    matches `m_shot_bounds`' oracle VERBATIM — the strongest
    streaming pin the convention allows (same SQL, not a weakened
    variant); batch-vs-streamed row equality is additionally
    pytest-pinned with a replayed slice.

    Scale shape: per batch one narrow hash map (no Python until the
    kernel) + the keyed state exchange (state: 64 longs per video,
    scaling with video cardinality, never frame volume); the ledger
    fold is a map-combined aggregate over the emitted rows.  [pins
    streaming/stateful.py: streaming_shot_hamming; multimodal.py:
    _shot_frames/_shot_hash shared with the batch rung]"""
    from go_whisper_spark.operators.multimodal import (
        _shot_frames,
        _shot_hash,
        _shot_ledger,
        _shot_videos,
    )
    from go_whisper_spark.streaming.stateful import streaming_shot_hamming

    marked = _shot_frames(_shot_videos(spark, sf_dir)).withColumn(
        "arrive", F.least(F.lit(2), F.expr("3 * f div nf"))
    )
    out = _replay(
        spark, marked, lambda s: streaming_shot_hamming(_shot_hash(s))
    )
    if not os.path.isdir(out):           # frame-free stream: empty ledger
        return spark.createDataFrame(
            [], "media_id long, n_frames long, n_shots long, max_ham long")
    return _shot_ledger(spark.read.parquet(out))


# ----------------------------------------------------------- st_kcore
_KCORE_PEEL_PERIOD = 2   # peel every 2nd micro-batch; read resolves the rest
_KCORE_WARM_MAX_ROUNDS = 512  # safety cap only: interim-subgraph peel
#                               schedules are NOT bounded by the final
#                               graph's fixpoint (the 2/3-graph peel at
#                               sf0.1 runs past w_kcore_decomp's 128)


def _kcore_warm_peel(edges: DataFrame, lb, dirty, deg_full=None):
    """Exact per-node coreness over ``edges``, WARM-STARTED from the
    previous peel's coreness ledger ``lb`` (None for the cold first
    peel) and the ``dirty`` node set touched since that peel.
    Returns (the (node, coreness) frame, flattened round count).
    Shared by `st_kcore`'s sink and the pytest laws so the tested
    math IS the shipped math (the `_tri_ledger_increment` pattern).

    Seeding law (the single-insert core-maintenance theorem —
    Sariyuce et al. 2013; Li, Yu & Mao 2014 — applied per insert and
    telescoped over the batch): under edge INSERTION coreness is
    monotone non-decreasing, and each insert can only change nodes
    whose CURRENT coreness equals the insert's min endpoint
    coreness; current coreness never drops below the ledger value,
    so every changed node has ledger coreness >= kmin := min over
    the dirty nodes of their ledger coreness (new nodes enter at 0).
    Hence (a) every node with lb < kmin keeps its ledger coreness
    VERBATIM (carried — never re-peeled), and (b) the new kmin-core
    is EXACTLY {lb >= kmin} (⊆ by monotonicity; ⊇ because a node
    below kmin is unchanged by (a), so it cannot have climbed into
    the kmin-core) — the peel therefore starts at threshold kmin+1
    over the induced survivor subgraph instead of threshold 2 over
    the whole graph.  With a stable node universe (the 100 TB
    regime: a fixed catalog growing edges) kmin sits at the churn
    level and the peel walks only the top of the hierarchy; when
    genuinely-new nodes arrive kmin collapses to 0 and the schedule
    degrades to the cold peel — never to a wrong answer.

    ``deg_full`` — the incrementally-maintained degree ledger fold —
    seeds the first round's degrees when kmin == 0 (survivors = the
    whole graph), skipping the O(edges) recount the cold peel pays;
    at kmin > 0 survivor degrees are induced-subgraph degrees, so
    one recount over the (smaller) induced edges runs instead."""
    nodes = edges.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    if lb is None:
        ann0 = nodes.withColumn("lb", F.lit(0).cast("long"))
        kmin = 0
    else:
        ann0 = nodes.join(lb.withColumnRenamed("coreness", "lb"),
                          "node", "left").select(
            "node", F.coalesce("lb", F.lit(0).cast("long")).alias("lb"))
        kmin = int(ann0.join(dirty, "node", "left_semi")
                   .agg(F.min("lb")).first()[0])
    ann0 = materialize(ann0, "kcore_warm_peel:lower bounds", reset_stats=True)
    carried = ann0.where(F.col("lb") < kmin).select(
        "node", F.col("lb").alias("coreness"))
    surv = ann0.where(F.col("lb") >= kmin).select("node")
    if kmin == 0:
        edges_s = edges
        seed = deg_full
    else:
        edges_s = materialize(
            edges.join(surv.select(F.col("node").alias("u")), "u",
                       "left_semi")
            .join(surv.select(F.col("node").alias("v")), "v", "left_semi"),
            "kcore_warm_peel:induced edges", reset_stats=True)
        seed = None
    nodes_c = surv
    n_nodes = nodes_c.count()
    k = max(kmin + 1, 2)
    iters = 0
    dropped = []
    ann = None
    recount = True
    while n_nodes > 0:
        iters += 1
        if iters > _KCORE_WARM_MAX_ROUNDS:
            raise RuntimeError("warm core peel did not reach a fixpoint")
        if recount:
            if iters == 1 and seed is not None:
                deg = seed
            else:
                deg = (
                    edges_s.select(
                        F.explode(F.array("u", "v")).alias("node"))
                    .groupBy("node")
                    .agg(F.count("*").alias("deg"))
                )
            ann = materialize(
                nodes_c.join(deg, "node", "left").select(
                    "node",
                    F.coalesce("deg", F.lit(0).cast("long")).alias("deg")),
                f"kcore_warm_peel:degrees round {iters}", reset_stats=True)
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
            bad.select("node", F.lit(k - 1).cast("long").alias("coreness")))
        nodes_c = ann.where(F.col("deg") >= k).select("node")
        edges_s = materialize(
            edges_s.join(bad.select(F.col("node").alias("u")), "u",
                         "left_anti")
            .join(bad.select(F.col("node").alias("v")), "v", "left_anti")
            .select("u", "v"),
            f"kcore_warm_peel:survivors round {iters}", reset_stats=True)
        n_nodes -= n_bad
        recount = True
    out = carried
    for d in dropped:
        out = out.unionByName(d)
    return out, iters


def st_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL k-core maintenance over the streamed co-purchase
    graph (VERDICT r16 item 4) — where `w_kcore_decomp` cold-peels
    the final graph once, this maintains per-node coreness as edges
    STREAM in, with the merge-on-read discipline: every micro-batch
    advances the cheap EXACT ledgers (the distinct edge store and
    the per-node degree ledger — O(delta) appends, the
    `st_triangles_ledger` pattern) and records its touched nodes as
    dirt; the coreness ledger is an honest LOWER BOUND between peels
    (coreness is monotone non-decreasing under insertion, so the
    last peel's labels never overshoot); and the exact peel runs
    PERIODICALLY (every _KCORE_PEEL_PERIOD micro-batches) plus once
    at read time — resolve-on-read, the MoR compaction trade.
    Per-batch cost stays O(delta); the amortized peel WARM-STARTS
    from the ledger via `_kcore_warm_peel`'s seeding law (carried
    sub-kmin labels + the {lb >= kmin} survivor seed + the
    degree-ledger first-round seed) instead of from scratch.

    Idempotency rides the edge store's set semantics (a replayed
    batch dedups to an empty delta → zero increments, no dirt, and
    the next peel is a no-op — pytest-pinned), and the final labels
    are a pure function of the edge SET, so the oracle is the batch
    peel SQL VERBATIM at node grain
    (`_w_kcore_decomp_sql(node_level=True)`); the peel schedule is
    slicing-dependent and not emitted (the `st_labelprop`
    convention).  [pins whisper_queries.py: w_kcore_decomp]"""
    from go_whisper_spark.operators.whisper_queries import _TRUSS_MOD

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % _TRUSS_MOD == 0)
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_partkey").alias("p"),
            (F.col("l_orderkey") % 3).alias("arrive"),
        )
    )
    root = _tmpdir("gws_stream_")
    store, degdir, dirtdir, core = (
        os.path.join(root, n) for n in ("edges", "deg", "dirt", "core"))
    state = {"batches": 0, "peeled_at": 0}

    def peel() -> None:
        if not os.path.isdir(dirtdir):
            return
        dirt = (
            spark.read.parquet(dirtdir)
            .where(F.col("b") > state["peeled_at"])
            .select("node").distinct()
        )
        if dirt.isEmpty():
            return                       # nothing stale: a no-op
        edges = materialize(spark.read.parquet(store), "st_kcore:edges")
        deg_full = (
            spark.read.parquet(degdir)
            .groupBy("node").agg(F.sum("d_deg").alias("deg"))
        )
        lb = spark.read.parquet(core) if os.path.isdir(core) else None
        led, _ = _kcore_warm_peel(edges, lb, dirt, deg_full)
        # materialized before overwriting the store it was seeded from
        materialize(led, "st_kcore:coreness").write.mode("overwrite").parquet(core)
        state["peeled_at"] = state["batches"]

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        items = batch.select("o", "p").distinct()
        delta = (
            items.join(items.select("o", F.col("p").alias("q")), "o")
            .where(F.col("p") < F.col("q"))
            .select(F.col("p").alias("u"), F.col("q").alias("v"))
            .distinct()
        )
        if os.path.isdir(store):
            delta = delta.join(spark.read.parquet(store), ["u", "v"],
                               "left_anti")
        # several consumers below
        delta = materialize(delta, "st_kcore:new edges")
        if delta.isEmpty():
            return                       # replayed batch: a no-op
        state["batches"] += 1
        (
            delta.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node").agg(F.count("*").alias("d_deg"))
            .write.mode("append").parquet(degdir)
        )
        (
            delta.select(F.explode(F.array("u", "v")).alias("node"))
            .distinct()
            .withColumn("b", F.lit(state["batches"]))
            .write.mode("append").parquet(dirtdir)
        )
        delta.write.mode("append").parquet(store)
        if state["batches"] % _KCORE_PEEL_PERIOD == 0:
            peel()

    _replay(spark, li, lambda s: s, sink=sink)
    peel()                               # resolve-on-read
    if not os.path.isdir(core):          # edge-free stream: empty ledger
        return spark.createDataFrame([], "node long, coreness long")
    return spark.read.parquet(core).select("node", "coreness")


# ----------------------------------------------------------- st_truss
def st_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truss decomposition over a STREAMED graph with INCREMENTALLY
    maintained support — the edge-grain completion of the ledger
    family (`st_triangles_ledger` maintains per-node counts,
    `st_kcore` per-node coreness; this maintains per-EDGE triangle
    support): each micro-batch appends O(Δ) support increments
    (`_tri_support_increment` — every new triangle charges its 3
    edges once, old edges included), and the read-time peel SEEDS
    its first round from the folded ledger instead of running the
    full-graph triangle join — which is the single most expensive
    stage of the cold decomposition (the wedge join over ALL
    surviving edges; later rounds re-count only shrinking
    survivors).

    The seeding is exact by the telescoping law (a triangle is born
    exactly once, in the batch its last edge arrives, so the fold IS
    the batch support relation), and it does not perturb the
    schedule: the peel makes identical peel/advance decisions from
    identical round-1 supports, so the flattened round count equals
    the cold peel's and the oracle is `w_truss_decomp`'s unrolled
    SQL VERBATIM — iteration count included, the strongest shape.
    Replay idempotency rides the edge store's set semantics (a
    replayed batch dedups to Δ = ∅ → zero increments).
    [pins whisper_queries.py: w_truss_decomp / _tri_triangles]"""
    from go_whisper_spark.operators.whisper_queries import (
        _TRUSS_MOD,
        _tri_degrees,
        _tri_orient,
        _truss_peel,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % _TRUSS_MOD == 0)
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_partkey").alias("p"),
            (F.col("l_orderkey") % 3).alias("arrive"),
        )
    )
    root = _tmpdir("gws_stream_")
    store, supdir = (os.path.join(root, n) for n in ("edges", "sup"))

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        items = batch.select("o", "p").distinct()
        delta = (
            items.join(items.select("o", F.col("p").alias("q")), "o")
            .where(F.col("p") < F.col("q"))
            .select(F.col("p").alias("u"), F.col("q").alias("v"))
            .distinct()
        )
        old = None
        if os.path.isdir(store):
            old = spark.read.parquet(store)
            delta = delta.join(old, ["u", "v"], "left_anti")
        # several consumers below
        delta = materialize(delta, "st_truss:new edges")
        if delta.isEmpty():
            return                       # replayed batch: a no-op
        _tri_support_increment(old, delta).write.mode("append") \
            .parquet(supdir)
        delta.write.mode("append").parquet(store)

    _replay(spark, li, lambda s: s, sink=sink)

    if not os.path.isdir(store):         # edge-free stream: empty ledger
        return spark.createDataFrame(
            [], "trussness long, n_edges long, iters long")
    edges = materialize(spark.read.parquet(store), "st_truss:edges")
    sup0 = (
        spark.read.parquet(supdir)
        .groupBy("cu", "cv").agg(F.sum("d_sup").alias("s"))
    ) if os.path.isdir(supdir) else None
    oriented = materialize(_tri_orient(edges, _tri_degrees(edges)),
                           "st_truss:oriented")
    # round 1 reads the maintained ledger instead of the full-graph
    # triangle join the cold peel pays there
    return _truss_peel(spark, oriented, sup0)


# ---------------------------------------------------- st_kmv_jaccard
def st_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV/Theta SET-OPERATION estimation — the pairwise
    Theta-intersection read side running against STREAMED sketches:
    each micro-batch ships its own bottom-k partial (the K smallest
    40-bit member hashes per set, one constant-size window-rank per
    batch) to a sketch store, and the merged sketch is the bottom-k
    of the DISTINCT union of partials.  The merge law itself is
    `st_kmv_bottomk`'s (the fourth: min-k ∘ union is associative,
    commutative and idempotent — safe under at-least-once delivery
    where CMS/HDR need exactly-once; re-pinned here directly in
    tests/test_streaming.py with a replayed slice); what is NEW is
    everything downstream of the merge: the pairwise set-operation
    ledger over streamed sketches.

    The sets: per event type, the distinct (user, hour) activity
    pairs — streamable membership (no global statistic), measured
    non-degenerate (pairwise Jaccards ≈ 0.007-0.010; the batch
    form's above-average-hours sets need a global total, which is
    exactly why the streamed rung swaps the set definition).  The
    read side is `_kmv_pairs_ledger` VERBATIM (re-threshold at
    min(θ), hash-keyed intersection, floor-truncated micro-units)
    against the merged sketch, with the exact baseline from the
    batch data — and the oracle is the same `_kmv_sql` tail over the
    same member CTE, so merge law AND estimator are cross-engine-
    pinned at once.

    Scale shape: per batch one map-combined distinct + per-set
    bottom-K rank (K·|sets| rows shipped — constant); the store
    grows one tiny partial per batch; the fold is one distinct +
    rank over O(batches·K·|sets|) sketch rows.  The exact columns
    price the estimate, as everywhere in the sketch family."""
    from go_whisper_spark.operators.whisper_queries import (
        _H40,
        _THETA_K,
        _kmv_pairs_ledger,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"),
        (F.col("user_id") * 100000
         + F.expr("unix_timestamp(ts) div 3600")).alias("mem"),
        (F.col("user_id") % 3).alias("arrive"),
    )
    h = F.conv(
        F.substring(F.md5(F.col("mem").cast("string")), 1, 10), 16, 10
    ).cast("long")
    root = _tmpdir("gws_stream_")
    store = os.path.join(root, "kmv_store")

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        mh = batch.select("metric", h.alias("h")).distinct()
        w = Window.partitionBy("metric").orderBy("h")
        partial = (
            mh.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _THETA_K)
            .select("metric", "h")
        )
        partial.write.mode("append").parquet(store)

    _replay(spark, ev, lambda s: s, sink=sink)

    merged = spark.read.parquet(store).distinct()
    w = Window.partitionBy("metric").orderBy("h")
    kept = materialize(
        merged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _THETA_K)
        .select("metric", "h"),
        "st_kmv_jaccard:kept hashes",
    )
    theta = kept.groupBy("metric").agg(
        F.when(F.count("*") >= _THETA_K, F.max("h"))
        .otherwise(F.lit(_H40)).alias("theta")
    )
    m_exact = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("metric"),
            (F.col("user_id") * 100000
             + F.expr("unix_timestamp(ts) div 3600")).alias("mem"),
        )
        .select("metric", h.alias("h"))
        .distinct()
    )
    return _kmv_pairs_ledger(m_exact, kept, theta)


_ST_KMV_MEMBER_CTES = """m AS (
  SELECT DISTINCT event_type AS metric,
         CAST('0x' || substring(md5(CAST(user_id * 100000
              + epoch_ns(ts) // 1000000000 // 3600 AS VARCHAR)), 1, 10)
              AS BIGINT) AS h
  FROM events
)"""


# ------------------------------------------------ st_heavy_hitters_cms
def st_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min — the ADDITIVE merge law next to
    ``st_distinct_hll``'s max law: each micro-batch ships its own
    partial d×w counter matrix (one constant-size aggregate per
    batch), the final sketch is the cell-wise SUM of the partials
    (counter addition is associative/commutative — but NOT
    idempotent, so unlike HLL this path relies on the file source's
    exactly-once batch delivery; the replay pins that too), and the
    estimate/top-20 ledger is ``w_heavy_hitters_cms``'s read side
    against the merged sketch — the oracle is the batch CMS SQL
    verbatim.

    Scale shape: per batch one map-combined d·w-cell aggregate; the
    sketch store grows one 256-row partial per batch; the merge is a
    constant-size groupBy-sum.  The per-shard-sketch-to-merger
    topology every streaming frequency pipeline runs."""
    from go_whisper_spark.operators.whisper_queries import (
        _cms_ledger,
        _cms_sketch,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    t0 = int(ev.agg(F.min(F.unix_timestamp("ts"))).first()[0])
    chunk = F.least(
        F.expr(f"(unix_timestamp(ts) - {t0}) div {CHUNK_SECONDS}"),
        F.lit(N_PASSES - 1),
    ).cast("long")
    marked = ev.withColumn("arrive", chunk).drop("ts")
    store = os.path.join(_tmpdir("gws_stream_"), "sketch")

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        _cms_sketch(batch).write.mode("append").parquet(store)

    _replay(spark, marked, lambda stream: stream, sink=sink)

    sketch = (
        spark.read.parquet(store)
        .groupBy("r", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return _cms_ledger(
        load_table(spark, sf_dir, "events").select("user_id"), sketch)


# ------------------------------------------------------ st_cascade_chained
def st_cascade_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECLARATIVE cascade (``streaming/chained.py``): same config
    and replay as ``st_cascade_6h``, but archive 1 is its own
    Structured Streaming query chained through the parquet
    file-sink→file-source handoff — no foreachBatch anywhere.

    Semantics delta vs the foreachBatch form, pinned by the oracle:
    archive 1 is itself watermark-gated, so a 6h window is emitted
    only once archive-0 windows PAST it exist — the final open 6h
    window stays in state (the oracle's ``interval6 + 21600 <=
    max(a0.interval)`` cut).  In-order handoff (see module docstring)
    means the 0-second level-1 watermark drops nothing else: every
    a0 emission batch carries event times strictly above all earlier
    batches.
    """
    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    cfg = SeriesConfig.from_defs("1h:2d,6h:12d", "max", 0.5)

    from go_whisper_spark.streaming.chained import chained_cascade_pass

    root = _tmpdir("gws_stream_")
    src, base = os.path.join(root, "src"), os.path.join(root, "arch")
    feed = marked.drop("arrive")
    for k in range(N_PASSES):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        paths = chained_cascade_pass(
            spark, feed.schema, src, base, cfg, lateness_seconds=LATENESS
        )
    lvl = "metric string, interval long, value double"
    a0 = spark.read.schema(lvl).parquet(paths[0]).select(
        F.lit(0).cast("int").alias("archive_id"), "metric", "interval", "value"
    )
    a1 = spark.read.schema(lvl).parquet(paths[1]).select(
        F.lit(1).cast("int").alias("archive_id"), "metric", "interval", "value"
    )
    return a0.unionByName(a1)


ST_CASCADE_CHAINED_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
a1 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         max(value) AS value
  FROM a0
  GROUP BY 1, 2
  HAVING count(*) >= 3
     AND interval - interval % 21600 + 21600 <= (SELECT max(interval) FROM a0)
)
SELECT CAST(0 AS INTEGER) AS archive_id, metric, interval, value FROM a0
UNION ALL
SELECT CAST(1 AS INTEGER) AS archive_id, metric, interval, value FROM a1
"""


# ---------------------------------------------------------- st_derivative
def st_derivative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (``applyInPandasWithState``) under
    the oracle: per-metric derivative with (last_ts, last_value) state
    carried ACROSS micro-batches.  The 3-pass replay makes the
    processing order fully deterministic — pass k is one micro-batch,
    and within a batch the operator sorts by (ts, write_seq) — so the
    emitted deltas equal a batch ``lag`` over the ordering
    (arrive, ts, write_seq), which is exactly what the oracle states.
    The cross-pass late rows of the harness produce the documented
    negative-dt deltas (state is trigger-ordered, not re-sorted), so
    the oracle also pins that semantic.  Raw double subtraction — no
    rounding needed.  [ref: SURVEY §2B UDF/state row; whisper has no
    streaming surface]
    """
    from go_whisper_spark.streaming.stateful import streaming_derivative

    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0))
    out = _replay(spark, marked, streaming_derivative)
    # dt is a NULLABLE integer (first point per metric): emit as double
    # on both sides — a nullable BIGINT oracle column surfaces as
    # float64 through the driver's pandas materialization.
    return spark.read.parquet(out).select(
        "metric", "ts", "value", "delta", F.col("dt").cast("double").alias("dt")
    )


ST_DERIVATIVE_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE}
SELECT metric, ts, value,
       value - lag(value) OVER w AS delta,
       CAST(ts - lag(ts) OVER w AS DOUBLE) AS dt
FROM marked
WINDOW w AS (PARTITION BY metric ORDER BY arrive, ts, seq)
"""


# -------------------------------------------------------------- st_dedup_1h
def st_dedup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup snapshot (``streaming/dedup.py``): the
    3-pass replay pushed through a watermarked ``dropDuplicates`` on
    the key (metric, floor(value), event-hour).

    What this pins beyond the batch dedup ops: (1) the watermark's
    late-row rejection — pass-2's out-of-bound rows never emit; (2)
    cross-batch dedup STATE — pass-2's in-bound tail rows suppress
    against keys first emitted in pass 1 (their state is still live:
    their event hour is above the pass-2 watermark); (3) eviction
    safety — a key can only re-appear with the SAME event hour, which
    is necessarily below any watermark that evicted it, so eviction
    never double-emits.  The emitted set is therefore exactly the
    distinct keys among on-time rows, which is what the oracle states
    (dedup emits immediately in append mode; no window-close wait).

    Every key's rows share one event hour, and the output is the key
    itself, so the result is order-independent — deterministic
    regardless of intra-batch file-split order."""
    from go_whisper_spark.streaming.dedup import streaming_dedup

    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = (
        pts.withColumn("arrive", _arrive(t0))
        .withColumn("vbucket", F.floor("value").cast("long"))
        .withColumn(
            "ts",
            F.timestamp_seconds(F.col("ts") - F.col("ts") % F.lit(3600)),
        )
        .select("metric", "ts", "vbucket", "arrive")
    )
    out = _replay(
        spark, marked, lambda s: streaming_dedup(s, ["metric", "vbucket"], LATENESS)
    )
    return spark.read.parquet(out).select(
        "metric", "vbucket", F.col("ts").cast("long").alias("hour_ts")
    )


ST_DEDUP_1H_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
wmd AS (
  -- Dedup-specific watermark: the Spark side floors ts to the hour
  -- BEFORE withWatermark, so its watermark advances off the FLOORED
  -- event times.  The shared wm CTE (raw max(ts) - lateness) can sit
  -- up to 3599 s above this; a row whose event hour equals the
  -- floored watermark is on-time for Spark but would be dropped by
  -- the raw-max filter.  Mirror Spark exactly: floor first, then max.
  SELECT a.arrive, max(b.ts - b.ts % 3600) - {LATENESS} AS wm
  FROM (SELECT DISTINCT arrive FROM marked) a
  JOIN marked b ON b.arrive < a.arrive
  GROUP BY a.arrive
),
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wmd ON wmd.arrive = m.arrive
  WHERE wmd.wm IS NULL OR m.ts - m.ts % 3600 >= wmd.wm
)
SELECT DISTINCT metric,
       CAST(floor(value) AS BIGINT) AS vbucket,
       ts - ts % 3600 AS hour_ts
FROM surv
"""


# ------------------------------------------------------------- st_enrich
_ENRICH_DIM = [
    ("click", "web"), ("view", "web"), ("error", "ops"),
    ("purchase", "biz"), ("signup", "biz"),
]


def st_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment snapshot (``streaming/enrich.py``): the
    3-pass replay pushed through a broadcast inner join against a
    static metric→family dimension.

    What this pins: every arriving row is enriched and emitted exactly
    once per arrival (no state, no watermark, no dedup — passes don't
    interact), the static side resolves per micro-batch, and the inner
    join drops nothing here because the dimension covers all metrics.
    The emitted multiset is therefore exactly pts ⋈ dim, which is what
    the oracle states; write_seq keeps rows unique so the
    order-insensitive hash pins row multiplicity too."""
    from go_whisper_spark.streaming.enrich import streaming_enrich

    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0))
    dim = spark.createDataFrame(_ENRICH_DIM, "metric string, family string")
    out = _replay(spark, marked, lambda s: streaming_enrich(s, dim, ["metric"]))
    return spark.read.parquet(out).select(
        "metric", "family", "ts", "value", "write_seq"
    )


ST_ENRICH_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
dim AS (
  SELECT * FROM (VALUES
    ('click', 'web'), ('view', 'web'), ('error', 'ops'),
    ('purchase', 'biz'), ('signup', 'biz')
  ) AS t(metric, family)
)
SELECT p.metric, d.family, p.ts, p.value, p.seq AS write_seq
FROM pts p JOIN dim d ON p.metric = d.metric
"""


# -------------------------------------------------------------- st_join_1h
def st_join_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval-join snapshot (``streaming/join.py``):
    the 3-pass replay through a watermarked self inner join — every
    20th event pairs with same-metric events ``seq % 7 == 3`` arriving
    within the following hour.

    What this pins beyond the batch as-of join: (1) pairs emit as soon
    as BOTH sides have arrived — cross-pass pairs (left in pass k,
    right in pass k+1) appear because the left row is still in state
    when its partner lands; (2) late input drops before the join —
    pass-2's out-of-bound rows (≈6 days below the watermark) produce
    no pairs on either side; (3) state-eviction safety — pass-2's
    in-bound tail rows keep ≥ 25 h of watermark margin and the range
    is 1 h, so every still-matchable partner is provably un-evicted
    (worst case 24 h of margin), and no boundary convention
    (``<`` vs ``<=`` on watermark or eviction) can change the result.
    The emitted set is therefore exactly the interval join of the
    on-time rows, which is what the oracle states."""
    from go_whisper_spark.streaming.join import streaming_interval_join

    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    out = _replay(
        spark,
        marked,
        lambda s: streaming_interval_join(
            s,
            "metric",
            F.col("write_seq") % 20 == 0,
            F.col("write_seq") % 7 == 3,
            range_seconds=3600,
            lateness_seconds=LATENESS,
        ),
    )
    return spark.read.parquet(out).select(
        "metric", "l_seq", "r_seq", "l_ts", "lag_s"
    )


ST_JOIN_1H_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  -- Strict > is one of several equivalent conventions here: in-bound
  -- late rows sit >= 25 h above their pass watermark and out-of-bound
  -- rows ~6 days below it, so any predicate within +/- the 1 h join
  -- range selects the same survivor set (measured margins, see
  -- module docstring).
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts > wm.wm
),
l AS (SELECT metric, ts AS l_ts, seq AS l_seq FROM surv WHERE seq % 20 = 0),
r AS (SELECT metric, ts AS r_ts, seq AS r_seq FROM surv WHERE seq % 7 = 3)
SELECT l.metric, l.l_seq, r.r_seq, l.l_ts, r.r_ts - l.l_ts AS lag_s
FROM l JOIN r
  ON l.metric = r.metric AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + 3600
"""


# -------------------------------------------------------- st_join_1h_outer
def st_join_1h_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the unmatched-left
    completion of ``st_join_1h``: every on-time left row emits, with
    nulls when no same-metric partner arrived within the hour.

    The outer-specific machinery this pins: a null row exists only
    once the watermark passes ``l_ts + range`` and the left state
    evicts, so stream-end tail rows would silently never emit.  The
    replay closes the stream DETERMINISTICALLY with two sentinel
    flush passes, and their construction is load-bearing twice over:

    - the sentinels MUST survive a join-side predicate — Catalyst
      pushes the deterministic filters BELOW the EventTimeWatermark
      node, so a row matching neither predicate is filtered before
      the watermark operator ever observes its event time and the
      watermark does not move (measured: a neither-pred sentinel left
      20 tail nulls unemitted).  They take the LEFT predicate
      (``seq % 20 == 0``, ``% 7 != 3``) on a metric with no partners;
    - they sit 60/61 days past the last event — the watermark lands
      ~58 days beyond every real row's eviction bound (no ``<`` vs
      ``<=`` convention can flip a row), while the sentinels
      THEMSELVES stay un-evicted (final wm = ts₂ − 2 d < ts₁ + 1 h),
      so neither ghost-emits a null row of its own.  The second pass
      also flushes emissions the first could only schedule (eviction
      output rides the finalize batch after the watermark moves).

    The emitted set is then exactly: inner pairs of on-time rows ∪
    null-extended on-time lefts with no on-time partner — which is
    what the oracle states.  ``r_seq``/``lag_s`` are DOUBLE on both
    sides (nullable-int hash rule)."""
    from go_whisper_spark.streaming.join import streaming_interval_join_outer

    pts = events_points(spark, sf_dir).select("metric", "ts", "value", "write_seq")
    t0 = int(pts.agg(F.min("ts")).first()[0])
    t_max = int(pts.agg(F.max("ts")).first()[0])
    flush = spark.createDataFrame(
        [
            ("zzzflush", t_max + 60 * 86400, 0.0, 10**11 + 20, 3),
            ("zzzflush", t_max + 61 * 86400, 0.0, 10**11 + 60, 4),
        ],
        "metric string, ts long, value double, write_seq long, arrive int",
    )
    marked = (
        pts.withColumn("arrive", _arrive(t0))
        .unionByName(flush)
        .withColumn("ts", F.timestamp_seconds(F.col("ts")))
    )
    out = _replay(
        spark,
        marked,
        lambda s: streaming_interval_join_outer(
            s,
            "metric",
            F.col("write_seq") % 20 == 0,
            F.col("write_seq") % 7 == 3,
            range_seconds=3600,
            lateness_seconds=LATENESS,
        ),
        n_passes=N_PASSES + 2,
    )
    return spark.read.parquet(out).select(
        "metric", "l_seq", "r_seq", "l_ts", "lag_s"
    )


ST_JOIN_1H_OUTER_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts > wm.wm
),
l AS (SELECT metric, ts AS l_ts, seq AS l_seq FROM surv WHERE seq % 20 = 0),
r AS (SELECT metric, ts AS r_ts, seq AS r_seq FROM surv WHERE seq % 7 = 3)
SELECT l.metric, l.l_seq,
       CAST(r.r_seq AS DOUBLE) AS r_seq,
       l.l_ts,
       CAST(r.r_ts - l.l_ts AS DOUBLE) AS lag_s
FROM l LEFT JOIN r
  ON l.metric = r.metric AND r.r_ts >= l.l_ts AND r.r_ts <= l.l_ts + 3600
"""


ST_RENDER_TARGET = "summarize(removeBelowValue(scale('*', 2), 40), 6, 'max')"


def _render_replay(spark: SparkSession, pts: DataFrame,
                   target: str) -> DataFrame:
    """Shared 3-pass chained replay for every streaming render entry
    (review finding r12: seven near-identical harness bodies): mark
    deterministic arrivals on the points frame, feed each pass to the
    chained level-0 -> rendered queries, return the final rendered
    snapshot."""
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    cfg = SeriesConfig.from_defs("1h:2d", "average", 0.0)

    from go_whisper_spark.streaming.render import streaming_render_pass

    root = _tmpdir("gws_stream_")
    src, base = os.path.join(root, "src"), os.path.join(root, "render")
    feed = marked.drop("arrive")
    for k in range(N_PASSES):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        rendered = streaming_render_pass(
            spark, feed.schema, src, base, target, cfg,
            lateness_seconds=LATENESS,
        )
    return spark.read.schema(
        "metric string, interval long, value double"
    ).parquet(rendered).select("metric", "interval", "value")


def st_render_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A render-target expression evaluated ON THE STREAM
    (``streaming/render.py``, VERDICT r10 item 7): the parsed AST of
    ``summarize(removeBelowValue(scale('*', 2), 40), 6, 'max')``
    drives a two-query chained plan — 1h LWW rollup (watermark =
    2 d lateness) hands off through the parquet file sink/source to
    the rendered query, whose stateless value maps (×2 cents,
    floor-at-40 NULLing) run per emitted row and whose outermost
    summarize is a 6h tumbling window aggregate under a 0-second
    watermark (in-order handoff, same argument as
    ``st_cascade_chained``).

    Oracle: the same watermark algebra as the chained cascade —
    1h survivors per arrival pass, then the cent-exact render
    arithmetic and the 6h buckets closed by the final level-0
    emission bound.  NULL-heavy buckets (every slot below 40 after
    scaling) emit NULL values, pinned by the oracle's max-over-NULLs.
    """
    return _render_replay(
        spark,
        events_points(spark, sf_dir).select(
            "metric", "ts", "value", "write_seq"),
        ST_RENDER_TARGET,
    )


ST_RENDER_6H_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
cents AS (
  SELECT metric, interval,
         CASE WHEN CAST(round(value * 100) AS BIGINT) * 2 >= 4000
              THEN CAST(round(value * 100) AS BIGINT) * 2 END AS cents
  FROM a0
),
r6 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         max(cents) AS cents
  FROM cents
  GROUP BY 1, 2
  HAVING interval - interval % 21600 + 21600 <= (SELECT max(interval) FROM a0)
)
SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value FROM r6
"""


ST_RENDER_SCALED_TARGET = "offset(scale(summarize('*', 6, 'avg'), 2), 1)"


def st_render_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The widened streaming-render grammar end-to-end: stateless
    value maps ABOVE the windowed aggregate —
    ``offset(scale(summarize('*', 6, 'avg'), 2), 1)`` — run as
    projections over the emitted closed 6h windows (append-safe),
    after the floored-avg consolidation under the same two-query
    chained replay as ``st_render_6h``."""
    return _render_replay(
        spark,
        events_points(spark, sf_dir).select(
            "metric", "ts", "value", "write_seq"),
        ST_RENDER_SCALED_TARGET,
    )


ST_RENDER_SCALED_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
r6 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         CAST(floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                    / count(*)) AS BIGINT) AS cents
  FROM a0
  GROUP BY 1, 2
  HAVING interval - interval % 21600 + 21600 <= (SELECT max(interval) FROM a0)
)
SELECT metric, interval, CAST(cents * 2 + 100 AS DOUBLE) / 100.0 AS value
FROM r6
"""


ST_RENDER_NODES_TARGET = (
    "groupByNode(group(aliasSub('c*', '^', 'dc1.'), "
    "aliasSub('[ve]*', '^', 'dc2.')), 0, 'sum')"
)


def st_render_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming wildcard-reducer: two stateless relabeled branches
    (bag union — streams union freely) collapsed per datacenter node
    by a groupByNode aggregate, which runs as a 1h tumbling window
    under the 0-lateness handoff watermark (each window holds exactly
    one interval's rows across the relabeled series).  Same replay
    and watermark algebra as ``st_render_6h``."""
    return _render_replay(
        spark,
        events_points(spark, sf_dir).select(
            "metric", "ts", "value", "write_seq"),
        ST_RENDER_NODES_TARGET,
    )


ST_RENDER_NODES_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
branches AS (
  SELECT regexp_replace(metric, '^', 'dc1.', 'g') AS metric, interval,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM a0 WHERE regexp_matches(metric, '^c[^.]*$')
  UNION ALL
  SELECT regexp_replace(metric, '^', 'dc2.', 'g') AS metric, interval,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM a0 WHERE regexp_matches(metric, '^[ve][^.]*$')
),
nodes AS (
  SELECT split_part(metric, '.', 1) AS metric, interval,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM branches
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT max(interval) FROM a0)
)
SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value FROM nodes
"""


ST_RENDER_HITCOUNT_TARGET = "hitcount(removeBelowValue('*', 40), 6)"


def st_render_hitcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hitcount ON the stream (the round-11 grammar widening): the
    below-40 NULLing runs per emitted level-0 row, then hitcount
    becomes the 6h watermarked tumbling window — summarize-sum with
    the ×3600 slot-width scale applied over the emitted closed
    windows (append-safe projection).  An all-NULL bucket emits NULL
    (sum over no known slots), pinned by the oracle.  Same two-query
    chained replay and watermark algebra as ``st_render_6h``."""
    return _render_replay(
        spark,
        events_points(spark, sf_dir).select(
            "metric", "ts", "value", "write_seq"),
        ST_RENDER_HITCOUNT_TARGET,
    )


ST_RENDER_HITCOUNT_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
cents AS (
  SELECT metric, interval,
         CASE WHEN CAST(round(value * 100) AS BIGINT) >= 4000
              THEN CAST(round(value * 100) AS BIGINT) END AS cents
  FROM a0
),
r6 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         CAST(sum(cents) AS BIGINT) * 3600 AS cents
  FROM cents
  GROUP BY 1, 2
  HAVING interval - interval % 21600 + 21600 <= (SELECT max(interval) FROM a0)
)
SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value FROM r6
"""

ST_RENDER_MWIN_TARGET = "movingSum(scale(summarize('*', 6, 'max'), 2), 4)"


def st_render_mwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An ORDER-SENSITIVE window op on the stream (VERDICT r11 item
    4): ``movingSum(scale(summarize('*', 6, 'max'), 2), 4)`` — the
    6h max consolidation closes under the 0-lateness handoff
    watermark, the ×2 scale rides the closed rows, and the 4-slot
    rolling sum runs as the ``applyInPandasWithState``
    trailing-window kernel in a THIRD chained query (state = the last
    3 closed cents per metric, O(k); a streaming query cannot chain
    two stateful operators).  Cross-pass correctness is the in-order
    handoff argument one level up: each pass's newly-closed 6h rows
    carry intervals strictly above everything emitted before, so the
    incremental kernel equals the batch ROWS window — which is
    exactly what the oracle computes over the final closed set.
    Same replay and watermark algebra as ``st_render_6h``; the
    kernel-vs-batch row equivalence (NULL frames, checkpoint
    round-trip) is pinned in tests/test_streaming_render.py."""
    return _render_replay(
        spark,
        events_points(spark, sf_dir).select(
            "metric", "ts", "value", "write_seq"),
        ST_RENDER_MWIN_TARGET,
    )


ST_RENDER_MWIN_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
r6 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         max(CAST(round(value * 100) AS BIGINT)) * 2 AS cents
  FROM a0
  GROUP BY 1, 2
  HAVING interval - interval % 21600 + 21600 <= (SELECT max(interval) FROM a0)
),
msum AS (
  SELECT metric, interval,
         sum(cents) OVER (PARTITION BY metric ORDER BY interval
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cents
  FROM r6
)
SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value FROM msum
"""


_ST_FUNNEL_W = 14 * 86400  # the w_funnel_4step window, on hour buckets


def st_funnel_4step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-step funnel ON the live stream (view → click → signup →
    purchase, 14-day window) — product analytics as a custom stateful
    operator: per-(user, event-type) points roll up to the 1h LWW
    level-0 archive (watermark = 2 d lateness), whose closed buckets
    hand off IN ORDER to the ``streaming_funnel`` kernel
    (``applyInPandasWithState`` keyed by user; state = the 4 fired
    bucket timestamps, O(1) per user).  Online == batch BECAUSE of
    the hour grain: the handoff delivers each user's buckets in
    bucket order across micro-batches, so the greedy first-match fold
    selects exactly what the batch min-filter chain selects, and
    strict > makes same-bucket ties unorderable in both formulations.
    The output is the append-safe step-ADVANCEMENT change stream
    (user_id, step, interval) — each step fires at most once per
    user, emitted in whichever pass it fires.

    Oracle: the standard watermark algebra (per-pass survivors,
    buckets closed by the final emission bound) feeding the
    independent 4-stage min-filter funnel at hour grain, one UNION
    branch per step."""
    funnel, _ = _funnel_replay(spark, sf_dir)
    return funnel


def _funnel_replay(spark: SparkSession, sf_dir: str,
                   track_first_seen: bool = False):
    """The 3-pass streaming-funnel harness (rollup → in-order level-0
    handoff → ``streaming_funnel`` kernel), shared by
    ``st_funnel_4step`` and ``st_funnel_cohort``.  With
    ``track_first_seen`` a third streaming query per pass runs the
    ``streaming_first_seen`` kernel over the RAW feed (pre-rollup —
    the cohort dimension needs every event, not the watermark
    survivors), emitting each user's first-touch day exactly once.
    Returns (funnel frame, first-seen frame or None)."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        F.concat(
            F.col("event_type"), F.lit(".u"), F.col("user_id").cast("string")
        ).alias("metric"),
        F.col("ts_sec").alias("ts"),
        "value",
        F.col("event_id").alias("write_seq"),
    )
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    cfg = SeriesConfig.from_defs("1h:2d", "average", 0.0)

    from go_whisper_spark.streaming.stateful import (
        streaming_first_seen,
        streaming_funnel,
    )

    root = _tmpdir("gws_stream_")
    src = os.path.join(root, "src")
    lvl0 = os.path.join(root, "level0")
    out = os.path.join(root, "funnel")
    first = os.path.join(root, "first_seen")
    feed = marked.drop("arrive")

    def run(df, path, ckpt):
        q = (
            df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", os.path.join(root, ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            raise RuntimeError("streaming funnel pass timed out")

    for k in range(N_PASSES):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        run(
            streaming_rollup(
                spark.readStream.schema(feed.schema).parquet(src),
                cfg,
                0,
                lateness_seconds=LATENESS,
            ).select("metric", "interval", "value"),
            lvl0,
            "ckpt0",
        )
        rows = (
            spark.readStream.schema(
                "metric string, interval long, value double"
            ).parquet(lvl0)
            .select(
                F.regexp_extract("metric", r"\.u(\d+)$", 1)
                .cast("long").alias("user_id"),
                F.substring_index("metric", ".", 1).alias("et"),
                "interval",
            )
        )
        run(
            streaming_funnel(
                rows, ["view", "click", "signup", "purchase"], _ST_FUNNEL_W
            ),
            out,
            "ckpt_funnel",
        )
        if track_first_seen:
            raw = (
                spark.readStream.schema(feed.schema).parquet(src)
                .select(
                    F.regexp_extract("metric", r"\.u(\d+)$", 1)
                    .cast("long").alias("user_id"),
                    (
                        F.unix_timestamp("ts")
                        - F.unix_timestamp("ts") % 86400
                    ).alias("day"),
                )
            )
            run(streaming_first_seen(raw), first, "ckpt_first")
    funnel = spark.read.schema(
        "user_id long, step int, interval long"
    ).parquet(out).select("user_id", "step", "interval")
    fs = (
        spark.read.schema("user_id long, day long").parquet(first)
        if track_first_seen else None
    )
    return funnel, fs


ST_FUNNEL_4STEP_SQL = f"""
WITH pts AS (
  SELECT user_id,
         event_type AS et,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT user_id, et, ts - ts % 3600 AS interval
  FROM surv
  GROUP BY 1, 2, 3
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
v1 AS (SELECT user_id, min(interval) AS v_ts FROM a0 WHERE et = 'view'
       GROUP BY user_id),
c2 AS (SELECT a.user_id, min(a.interval) AS c_ts
       FROM a0 a JOIN v1 ON a.user_id = v1.user_id
       WHERE a.et = 'click' AND a.interval > v1.v_ts
         AND a.interval <= v1.v_ts + {_ST_FUNNEL_W}
       GROUP BY a.user_id),
g3 AS (SELECT a.user_id, min(a.interval) AS g_ts
       FROM a0 a JOIN v1 ON a.user_id = v1.user_id
       JOIN c2 ON a.user_id = c2.user_id
       WHERE a.et = 'signup' AND a.interval > c2.c_ts
         AND a.interval <= v1.v_ts + {_ST_FUNNEL_W}
       GROUP BY a.user_id),
p4 AS (SELECT a.user_id, min(a.interval) AS p_ts
       FROM a0 a JOIN v1 ON a.user_id = v1.user_id
       JOIN g3 ON a.user_id = g3.user_id
       WHERE a.et = 'purchase' AND a.interval > g3.g_ts
         AND a.interval <= v1.v_ts + {_ST_FUNNEL_W}
       GROUP BY a.user_id)
SELECT user_id, 1 AS step, v_ts AS interval FROM v1
UNION ALL SELECT user_id, 2 AS step, c_ts AS interval FROM c2
UNION ALL SELECT user_id, 3 AS step, g_ts AS interval FROM g3
UNION ALL SELECT user_id, 4 AS step, p_ts AS interval FROM p4
"""


# ----------------------------------------------------- st_zorder_stats
def st_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse FILE-STATS table maintained ONLINE — what a
    Delta/Iceberg writer does on every commit: each micro-batch of
    the 3-pass replay quantizes its rows onto the layout grid and
    ships a PARTIAL per-(layout, file) stats row (min/max of both
    dims + count), the store merges by the stats' own laws (min of
    mins / max of maxes / sum of counts — min and max idempotent,
    the count leaning on exactly-once delivery like CMS), and the
    probe side answers the three box queries against the MERGED
    stats.  Merge-law associativity/commutativity makes the streamed
    stats equal the one-shot stats, so the oracle is the batch
    ``w_zorder_skipping`` SQL verbatim — the file-skipping answers a
    reader gets from incrementally-maintained footer stats are
    IDENTICAL to a full recompute.

    The grid bounds (max user, hour span) are control-plane
    constants from the table snapshot (a production writer knows its
    partitioning grid); the exact-match audit side runs on the batch
    relation as in every ``st_`` ledger.

    Scale shape: per batch ONE map-combined ≤2·64-cell aggregate; the
    store grows one tiny partial per batch; merge + probe run over
    stats rows, never data."""
    from go_whisper_spark.operators.whisper_queries import (
        _skip_assign,
        _skip_probe,
        _skip_quantize,
        _z_interleave,
        _Z_FPER,
        _Z_G,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_timestamp(ts) div 3600").alias("hr"), "ts"
    )
    bounds = ev.agg(
        F.max("user_id").alias("mu"),
        F.min("hr").alias("h0"),
        F.max("hr").alias("mh"),
    ).first()
    mu, h0, mh = bounds.mu, bounds.h0, bounds.mh
    t0 = int(ev.agg(F.min(F.unix_timestamp("ts"))).first()[0])
    chunk = F.least(
        F.expr(f"(unix_timestamp(ts) - {t0}) div {CHUNK_SECONDS}"),
        F.lit(N_PASSES - 1),
    ).cast("long")
    marked = ev.withColumn("arrive", chunk).drop("ts")
    feed = marked.drop("arrive")
    root = _tmpdir("gws_stream_")
    src, ckpt, store = (
        os.path.join(root, "src"),
        os.path.join(root, "ckpt"),
        os.path.join(root, "stats"),
    )

    def quant(batch: DataFrame) -> DataFrame:
        q = batch.select(
            F.expr(f"(user_id * {_Z_G}) div ({mu} + 1)").alias("qx"),
            F.expr(f"((hr - {h0}) * {_Z_G}) div ({mh} - {h0} + 1)")
            .alias("qt"),
        )
        return q.select(
            "qx", "qt",
            F.expr(f"({_z_interleave(spark=True)}) div {_Z_FPER}")
            .alias("fid_zorder"),
            F.expr(f"(qx * {_Z_G} + qt) div {_Z_FPER}").alias("fid_linear"),
        )

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        partial = _skip_assign(quant(batch), ("zorder", "linear")).groupBy(
            "layout", "fid"
        ).agg(
            F.min("qx").alias("x_min"), F.max("qx").alias("x_max"),
            F.min("qt").alias("t_min"), F.max("qt").alias("t_max"),
            F.count("*").alias("n_rows"),
        )
        partial.write.mode("append").parquet(store)

    for k in range(N_PASSES):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        q = (
            spark.readStream.schema(feed.schema)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            raise RuntimeError("streaming stats pass timed out")

    stats = (
        spark.read.parquet(store)
        .groupBy("layout", "fid")
        .agg(
            F.min("x_min").alias("x_min"), F.max("x_max").alias("x_max"),
            F.min("t_min").alias("t_min"), F.max("t_max").alias("t_max"),
            F.sum("n_rows").alias("n_rows"),
        )
    )
    return _skip_probe(spark, stats, _skip_quantize(spark, sf_dir))


# ---------------------------------------------------- st_funnel_cohort
def st_funnel_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort × funnel conversion matrix ONLINE — both dimensions
    computed on the stream: funnel advancement from the
    ``streaming_funnel`` kernel (hour grain over the in-order level-0
    handoff, as ``st_funnel_4step``) and the first-touch DAILY cohort
    from the new ``streaming_first_seen`` kernel — an append-safe
    streaming DISTINCT-keys (one (user, day) row at first
    appearance, no update mode).  The cohort is ARRIVAL-first-touch:
    a user whose entire earliest-day activity arrives LATE (the
    replay's late-data algebra reroutes some chunk-0 rows to pass 2)
    is cohorted by the earliest day among its first-ARRIVING rows —
    exactly what an online first-touch dimension does, and exactly
    one user on this corpus (the rest equal the event-time min).
    The matrix composition (reached = max emitted step, ≤4× sequence
    fan-out, ppm shares) is the batch ``w_funnel_cohort`` read side
    over the two change streams.

    Oracle: the st_funnel_4step watermark algebra (per-pass
    survivors, hour-grain min-filter chain) for the funnel dimension
    + the ARRIVAL-order first touch (min day among each user's
    min-arrive rows) for the cohort dimension — the late-data
    deviation is mirrored, not papered over.

    Scale shape: first-seen state is ONE flag per user (smaller than
    the funnel's k timestamps); the matrix aggregates run over the
    two tiny change streams, never the event volume."""
    funnel, fs = _funnel_replay(spark, sf_dir, track_first_seen=True)
    reached = funnel.groupBy("user_id").agg(
        F.max("step").cast("long").alias("reached")
    )
    first = fs.withColumnRenamed("day", "cohort_day")
    sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_users")
    )
    cells = (
        reached.join(first, "user_id")
        .select(
            "cohort_day",
            F.explode(F.expr("sequence(1L, reached)")).alias("step"),
        )
        .groupBy("cohort_day", "step")
        .agg(F.count("*").alias("n_step"))
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day", "step", "n_step", "cohort_users",
        F.expr("(n_step * 1000000) div cohort_users").alias("share_ppm"),
    )


# the funnel dimension reuses st_funnel_4step's watermark-algebra CTEs
# verbatim (everything up to the final step-union SELECT)
_ST_FUNNEL_CTES = ST_FUNNEL_4STEP_SQL[
    : ST_FUNNEL_4STEP_SQL.index("SELECT user_id, 1 AS step")
]

ST_FUNNEL_COHORT_SQL = _ST_FUNNEL_CTES.rstrip().removesuffix(")") + """),
reached AS (
  SELECT v1.user_id AS user_id,
         1 + CASE WHEN c_ts IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN g_ts IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS reached
  FROM v1 LEFT JOIN c2 ON v1.user_id = c2.user_id
  LEFT JOIN g3 ON v1.user_id = g3.user_id
  LEFT JOIN p4 ON v1.user_id = p4.user_id
),
fa AS (SELECT user_id, min(arrive) AS a0 FROM marked GROUP BY 1),
first AS (
  SELECT m.user_id AS user_id,
         min(m.ts - m.ts % 86400) AS cohort_day
  FROM marked m JOIN fa ON m.user_id = fa.user_id AND m.arrive = fa.a0
  GROUP BY 1
),
sizes AS (SELECT cohort_day, count(*) AS cohort_users FROM first GROUP BY 1),
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


ST_RENDER_TAGS_TARGET = (
    "scale(groupByTags(seriesByTag('host!=h3'), 'max', 'dc'), 2)"
)


def st_render_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAGGED series on the live stream (the round-12 seed widening):
    the archive stream carries Graphite tagged paths
    (``name;dc=..;host=..``), ``seriesByTag`` runs its predicates as
    per-row filters on the parsed path (stateless — stream-trivial),
    and ``groupByTags`` is THE watermarked aggregate level — the
    groupByNode shape with the ``name;dc=value`` relabel, each 1h
    tumbling window holding exactly one interval's rows across the
    relabeled series.  The ×2 scale rides the emitted closed windows.
    Same replay and watermark algebra as ``st_render_nodes``."""
    return _render_replay(
        spark, _tagged_points(spark, sf_dir), ST_RENDER_TAGS_TARGET)


ST_RENDER_TAGS_SQL = f"""
WITH pts AS (
  SELECT event_type || ';dc=dc' || CAST(user_id % 3 AS VARCHAR)
           || ';host=h' || CAST(user_id % 10 AS VARCHAR) AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
filt AS (
  SELECT * FROM a0
  WHERE regexp_extract(metric, ';host=([^;]+)', 1) != 'h3'
),
g AS (
  SELECT split_part(metric, ';', 1) || ';dc='
           || regexp_extract(metric, ';dc=([^;]+)', 1) AS metric,
         interval,
         max(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM filt
  GROUP BY 1, 2
  -- the close bound is the FILTERED stream's max interval: the plan
  -- assigns the 0-lateness watermark AFTER the seriesByTag filter,
  -- so watermark advancement only sees surviving rows (equal to
  -- a0's bound on this corpus, but the filtered bound is the one
  -- the stream actually uses — review finding r12)
  HAVING interval + 3600 <= (SELECT max(interval) FROM filt)
)
SELECT metric, interval, CAST(cents * 2 AS DOUBLE) / 100.0 AS value FROM g
"""


ST_RENDER_TAGWIN_TARGET = (
    "movingSum(groupByTags(seriesByTag('dc=dc1'), 'sum', 'host'), 4)"
)


def st_render_tagwin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH round-12 streaming widenings composed in one target: a
    tagged seed filters the live stream per row (``seriesByTag``),
    ``groupByTags`` closes per-host 1h windows under the 0-lateness
    handoff watermark, and the 4-slot rolling sum runs as the
    stateful trailing-window kernel in the third chained query — the
    grammar slice ``windowop (groupByTags (seriesByTag))`` that
    neither ``st_render_tags`` (no kernel) nor ``st_render_mwin``
    (plain summarize below) exercises.  Oracle = the watermark
    algebra with the tagged relabel, then the batch ROWS window over
    the final closed set (the in-order argument as usual)."""
    return _render_replay(
        spark, _tagged_points(spark, sf_dir), ST_RENDER_TAGWIN_TARGET)


ST_RENDER_TAGWIN_SQL = f"""
WITH pts AS (
  SELECT event_type || ';dc=dc' || CAST(user_id % 3 AS VARCHAR)
           || ';host=h' || CAST(user_id % 10 AS VARCHAR) AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
filt AS (
  SELECT * FROM a0
  WHERE regexp_extract(metric, ';dc=([^;]+)', 1) = 'dc1'
),
g AS (
  SELECT split_part(metric, ';', 1) || ';host='
           || regexp_extract(metric, ';host=([^;]+)', 1) AS metric,
         interval,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM filt
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT max(interval) FROM filt)
),
ms AS (
  SELECT metric, interval,
         sum(cents) OVER (PARTITION BY metric ORDER BY interval
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cents
  FROM g
)
SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value FROM ms
"""


ST_RENDER_DERIV_TARGET = "scale(derivative(summarize('*', 6, 'sum')), 3)"


def st_render_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lag-shaped window op on the stream (the movingSum rung's
    sibling): ``scale(derivative(summarize('*', 6, 'sum')), 3)`` —
    6h sum consolidation closes under the 0-lateness handoff
    watermark, the derivative kernel keeps ONE previous cent value
    per metric (the minimal trailing-window state), and the ×3 scale
    rides ABOVE the kernel as a stateless projection — exercising the
    ``stateless* windowop (summarize …)`` grammar slice
    ``st_render_mwin`` doesn't (state size 1, post-kernel chain
    non-empty).  Same replay, same in-order argument; oracle = the
    batch lag over the final closed set."""
    return _render_replay(
        spark,
        events_points(spark, sf_dir).select(
            "metric", "ts", "value", "write_seq"),
        ST_RENDER_DERIV_TARGET,
    )


ST_RENDER_DERIV_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
surv AS (
  SELECT m.* FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
  WHERE wm.wm IS NULL OR m.ts - m.ts % 3600 + 3600 > wm.wm
),
a0 AS (
  SELECT metric,
         ts - ts % 3600 AS interval,
         arg_max(value, seq) AS value
  FROM surv
  GROUP BY 1, 2
  HAVING interval + 3600 <= (SELECT wmf FROM wmf)
),
r6 AS (
  SELECT metric,
         interval - interval % 21600 AS interval,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM a0
  GROUP BY 1, 2
  HAVING interval - interval % 21600 + 21600 <= (SELECT max(interval) FROM a0)
),
d AS (
  SELECT metric, interval,
         (cents - lag(cents) OVER (PARTITION BY metric
                                   ORDER BY interval)) * 3 AS cents
  FROM r6
)
SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value FROM d
"""


def st_kmv_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-k (KMV/Theta) — the FOURTH streaming merge
    law, completing the set (HLL register-max, Count-Min cell-sum,
    Bloom word-OR, KMV min-k): each micro-batch of the 3-pass events
    replay ships its own partial bottom-k table (the K smallest
    distinct 40-bit user hashes per metric — one rank window per
    batch over that batch's distinct members), and the final sketch
    is the bottom-k OF THE UNION of partials.  min-k of a union is
    associative, commutative and idempotent (a duplicate hash ranks
    once — DISTINCT before the rank), so the streamed sketch equals
    the one-shot sketch and the oracle is the batch bottom-k SQL
    verbatim: the replay proves min-k-of-unions == union-of-min-ks,
    which is exactly how ``w_kmv_jaccard``'s sketches would merge
    across ingest workers.

    Scale shape: K rows per (metric, batch) regardless of batch
    cardinality; the final merge is one constant-size rank window."""
    from go_whisper_spark.operators.whisper_queries import _THETA_K

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"), "user_id", "ts"
    )
    t0 = int(ev.agg(F.min(F.unix_timestamp("ts"))).first()[0])
    chunk = F.least(
        F.expr(f"(unix_timestamp(ts) - {t0}) div {CHUNK_SECONDS}"),
        F.lit(N_PASSES - 1),
    ).cast("long")
    marked = ev.withColumn("arrive", chunk).drop("ts")
    store = os.path.join(_tmpdir("gws_stream_"), "sketch")
    h40 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 10), 16, 10
    ).cast("long")

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        w = Window.partitionBy("metric").orderBy("h")
        partial = (
            batch.select("metric", h40.alias("h")).distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= _THETA_K)
            .select("metric", "h")
        )
        partial.write.mode("append").parquet(store)

    _replay(spark, marked, lambda stream: stream, sink=sink)

    w = Window.partitionBy("metric").orderBy("h")
    return (
        spark.read.parquet(store)
        .distinct()
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _THETA_K)
        .select("metric", F.col("rn").cast("long").alias("rn"), "h")
    )


def _st_kmv_bottomk_sql() -> str:
    from go_whisper_spark.operators.whisper_queries import _THETA_K

    return f"""
WITH m AS (
  SELECT DISTINCT event_type AS metric,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 10)
              AS BIGINT) AS h
  FROM events
)
SELECT metric, CAST(rn AS BIGINT) AS rn, h FROM (
  SELECT metric, h,
         row_number() OVER (PARTITION BY metric ORDER BY h) AS rn
  FROM m
) WHERE rn <= {_THETA_K}
"""


def st_bloom_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom filter — the OR merge law completing the
    sketch-mergeability trio (HLL register-max, Count-Min cell-sum,
    Bloom word-OR): each micro-batch of a 3-pass documents replay
    builds its own PARTIAL 512-word bitmap over its test-split
    shingles (the ``t_bloom_decontam`` bits, exactly), appends it to
    the sketch store, and the final filter is the cell-wise bit_or of
    the partials.  bit_or is associative, commutative AND idempotent
    — like HLL's max (and unlike Count-Min's sum), the streamed
    sketch is independent of batch boundaries, arrival order, and
    duplicate delivery, so the oracle is the batch words SQL
    verbatim: the replay proves the merge law itself.

    Scale shape: one constant-size (≤512-cell) map-combined aggregate
    per batch regardless of batch cardinality; the store grows one
    tiny partial per batch; the final merge is a constant-size
    groupBy — the fleet-of-ingest-workers sketch-shipping shape."""
    from go_whisper_spark.operators.llm_ops import (
        _BLOOM_K,
        _BLOOM_M,
        _SHINGLES_EXPR,
        _SPLIT_VAL,
        _split_bucket_col,
        _tokens_col,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    marked = docs.withColumn("arrive", F.col("doc_id") % N_PASSES)
    store = os.path.join(_tmpdir("gws_stream_"), "sketch")
    js = spark.range(1, _BLOOM_K + 1).select(F.col("id").alias("j"))

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        sh = (
            batch.withColumn("bucket", _split_bucket_col())
            .where(F.col("bucket") >= _SPLIT_VAL)
            .withColumn("tokens", _tokens_col())
            .select(
                F.explode(F.array_distinct(F.expr(_SHINGLES_EXPR)))
                .alias("sh")
            )
            .distinct()
        )
        partial = (
            sh.join(F.broadcast(js))
            .withColumn(
                "p",
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("sh"), F.lit("#"),
                                       F.col("j").cast("string"))), 1, 8
                    ), 16, 10,
                ).cast("long") % _BLOOM_M,
            )
            .groupBy((F.col("p") / 32).cast("long").alias("word"))
            .agg(F.bit_or(F.expr("shiftleft(1L, int(p % 32))")).alias("bits"))
        )
        partial.write.mode("append").parquet(store)

    _replay(spark, marked, lambda stream: stream, sink=sink)

    return (
        spark.read.parquet(store)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def _st_bloom_words_sql() -> str:
    from go_whisper_spark.operators.llm_ops import (
        _BLOOM_K,
        _BLOOM_POS_SQL,
        _SPLIT_BUCKET_SQL,
        _SPLIT_VAL,
        _SHINGLES_SQL,
        _TOKENS_SQL,
    )

    return f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL.strip()}) AS sh,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM tok
),
js AS (SELECT unnest(generate_series(1, {_BLOOM_K})) AS j),
test_sh AS (SELECT DISTINCT sh FROM sh WHERE bucket >= {_SPLIT_VAL})
SELECT p // 32 AS word,
       bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
FROM (SELECT {_BLOOM_POS_SQL} AS p FROM test_sh, js) t
GROUP BY 1
"""


# ------------------------------------------------------ st_quantile_hdr
def st_quantile_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HDR rank sketch — the FIFTH streaming merge law next
    to HLL's register max, CMS's cell sum, Bloom's word OR and KMV's
    min-k: each micro-batch of the 3-pass replay computes its own
    PARTIAL bucket histogram (per-(metric, rep) count with the same
    integer top-5-significant-bits quantization as the batch form),
    appends it to a sketch store, and the final sketch is the keyed
    counter SUM over the UNION of bucket keys — unlike CMS's
    fixed-matrix sum the key set is dynamic and sparse, and the read
    side is a rank walk (first bucket whose cumulative count reaches
    ceil(q·N)), not a point lookup.  Counter addition is associative
    and commutative, so the merged sketch is independent of batch
    boundaries and arrival order — which is why the oracle is the
    BATCH SQL verbatim (``w_quantile_hdr``): the replay proves the
    merge law, not a weaker restatement.  (Not idempotent — like CMS
    this path relies on the file source's exactly-once delivery, and
    the replay pins that too.)

    Scale shape: per batch ONE map-combined aggregate into
    ≤ 16·octaves cells per key; the store grows one tiny partial per
    batch; merge + CDF walk run over sketch rows, never data.  The
    exact rank audit (same err_bp pricing as the batch form) is the
    O(n·log n) baseline the sketch replaces.  Stateless sink: no
    watermark, no state store."""
    from go_whisper_spark.operators.whisper_queries import (
        _hdr_ledger,
        _hdr_rep,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "ts",
    )
    t0 = int(ev.agg(F.min(F.unix_timestamp("ts"))).first()[0])
    chunk = F.least(
        F.expr(f"(unix_timestamp(ts) - {t0}) div {CHUNK_SECONDS}"),
        F.lit(N_PASSES - 1),
    ).cast("long")
    marked = ev.withColumn("arrive", chunk).drop("ts")
    store = os.path.join(_tmpdir("gws_stream_"), "sketch")

    def sink(batch: DataFrame, _bid: int) -> None:
        if batch.isEmpty():
            return
        partial = (
            batch.select("metric", _hdr_rep().alias("rep"))
            .groupBy("metric", "rep")
            .agg(F.count("*").alias("cnt"))
        )
        partial.write.mode("append").parquet(store)

    _replay(spark, marked, lambda stream: stream, sink=sink)

    sketch = (
        spark.read.parquet(store)
        .groupBy("metric", "rep")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # the read side (CDF walk + exact rank audit + err_bp pricing) is
    # the SHARED _hdr_ledger — a fix lands in both forms at once
    return _hdr_ledger(sketch, ev.drop("ts"))


# ----------------------------------------------------- st_event_pagerank
def st_event_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a STREAMED graph — the law here is that the rank
    computation COMMUTES with edge-sketch merging: what streams is
    the Markov edge multiset (per-batch partial (src, dst, n) counts
    from the ``streaming_transitions`` stateful kernel), the merge is
    the keyed counter SUM, and the 2-iteration fixed-point PR runs on
    the merged sketch — bit-identical to the batch form, so the
    oracle is ``w_event_pagerank``'s SQL verbatim.

    The kernel is the genuinely-new piece: the batch edge builder is
    ONE lag window per user, but online a user's consecutive events
    straddle micro-batch boundaries — the kernel carries the LAST
    (ts, seq, et) per user as state and prepends it to the next
    batch, so with the time-chunked replay delivering each user's
    events in (ts, seq) order across batches the emitted pair
    multiset equals the batch lag window's EXACTLY (no boundary
    transition is lost or double-counted; pytest pins streamed edge
    counts == batch edge counts).

    Scale shape: per batch the kernel holds 3 scalars per user (O(1)
    state regardless of volume) and ships per-user partial edge
    counts; the store grows one tiny partial per batch; the merge is
    a constant-size (≤ types²) groupBy-sum and the PR iterations are
    the batch plan on sketch-sized relations."""
    from go_whisper_spark.operators.whisper_queries import (
        _pagerank_ledger,
    )
    from go_whisper_spark.streaming.stateful import streaming_transitions

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.col("ts_sec").alias("tsec"),
        F.col("event_id").alias("seq"),
        "ts",
    )
    t0 = int(ev.agg(F.min("tsec")).first()[0])
    chunk = F.least(
        F.expr(f"(tsec - {t0}) div {CHUNK_SECONDS}"),
        F.lit(N_PASSES - 1),
    ).cast("long")
    marked = ev.withColumn("arrive", chunk).drop("ts").withColumnRenamed(
        "tsec", "ts"
    )
    feed = marked.drop("arrive")
    root = _tmpdir("gws_stream_")
    src, store = os.path.join(root, "src"), os.path.join(root, "edges")

    for k in range(N_PASSES):
        (
            marked.where(F.col("arrive") == k)
            .drop("arrive")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
        q = (
            streaming_transitions(
                spark.readStream.schema(feed.schema).parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            raise RuntimeError("streaming transitions pass timed out")

    edges = (
        spark.read.schema("src string, dst string, n long").parquet(store)
        .groupBy("src", "dst")
        .agg(F.sum("n").alias("n"))
    )
    return _pagerank_ledger(edges)


# ------------------------------------------------------- st_late_ledger
def st_late_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-correctness ledger — LATE-data accounting itself,
    the semantic every other ``st_*`` query silently relies on, made a
    first-class oracle-checked relation: per arrival pass of the
    standard 3-pass replay, how many rows arrived, how many the
    watermark DROPPED before the stateful rollup (whisper's
    ``timestamp < now - maxRetention`` rejection [ref: whisper.go
    (Update — bounds check)]), how many were admitted, and the
    operative watermark itself.

    The ledger is read from the STREAM'S OWN accounting, not
    recomputed: each pass's ``StreamingQueryProgress`` reports
    ``numInputRows``, the state operator's
    ``numRowsDroppedByWatermark`` / ``numRowsUpdated``, and the
    trigger's event-time watermark.  The metric semantics this pins
    (found by oracling it, not documented anywhere obvious): the
    state-operator counters are in units of MAP-COMBINED PARTIAL
    rows, not raw inputs — the drop filter runs at the state store,
    after the partial aggregate, so N late raw rows sharing a
    (metric, window) count ONCE (at sf0.01, 195 raw late rows arrive
    in pass 2 and the stream reports 194 — two shared a group).  The
    oracle therefore states the algebra in group units: wm(k) = max
    event time of passes < k − lateness; dropped(k) = DISTINCT late
    (metric, 1 h window) groups of pass k (window end ≤ wm(k));
    updated(k) = distinct admitted groups — plus the raw arrival
    count and the watermark trajectory itself, all verified
    bit-for-bit at sf0.001/0.01/0.1.

    Scale shape: the ledger is O(passes) rows assembled from
    driver-side progress metadata (control-plane, like the
    st_zorder_stats bounds snapshot); the streamed plan is the
    audited st_rollup_lww_1h plan unchanged.  Determinism caveat:
    group-unit counting relies on each pass reading as ONE input
    partition (the replay's coalesce(1) file per pass) — partial
    aggregates never split a group across map tasks."""
    import datetime as _dt
    import json as _json

    pts = events_points(spark, sf_dir).select(
        "metric", "ts", "value", "write_seq"
    )
    t0 = int(pts.agg(F.min("ts")).first()[0])
    marked = pts.withColumn("arrive", _arrive(t0)).withColumn(
        "ts", F.timestamp_seconds(F.col("ts"))
    )
    cfg = SeriesConfig.from_defs("1h:2d", "average", 0.0)
    ledger = []

    def on_pass(k: int, q) -> None:
        arrived = dropped = updated = wm_sec = 0
        for prog in q.recentProgress:
            p = _json.loads(prog.json) if hasattr(prog, "json") else prog
            nin = int(p.get("numInputRows", 0))
            if nin == 0:
                continue  # the no-data flush batch: nothing arrives
            arrived += nin
            for so in p.get("stateOperators", []):
                dropped += int(so.get("numRowsDroppedByWatermark", 0))
                updated += int(so.get("numRowsUpdated", 0))
            wm = p.get("eventTime", {}).get("watermark")
            if wm:
                ts = _dt.datetime.strptime(
                    wm, "%Y-%m-%dT%H:%M:%S.%fZ"
                ).replace(tzinfo=_dt.timezone.utc)
                wm_sec = max(wm_sec, int(ts.timestamp()))
        # a pass with ZERO arrivals emits no ledger row — the oracle
        # groups over the marked rows, so an empty arrive value has
        # no group there either (a corpus spanning < one chunk would
        # otherwise diverge on the phantom (k, 0, 0, 0, 0) row)
        if arrived:
            ledger.append((k, arrived, dropped, updated, wm_sec))

    _replay(
        spark, marked,
        lambda s: streaming_rollup(s, cfg, archive_index=0),
        on_pass=on_pass,
    )
    return spark.createDataFrame(
        ledger,
        "arrive long, n_arrived long, n_dropped long, "
        "n_updated long, wm_sec long",
    )


ST_LATE_LEDGER_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric,
         epoch_ns(ts) // 1000000000 AS ts,
         value,
         event_id AS seq
  FROM events
),
{_MARKED_CTE},
lab AS (
  SELECT m.arrive, m.metric, m.ts - m.ts % 3600 AS w0,
         CASE WHEN wm.wm IS NOT NULL
                   AND m.ts - m.ts % 3600 + 3600 <= wm.wm
              THEN 1 ELSE 0 END AS late
  FROM marked m LEFT JOIN wm ON wm.arrive = m.arrive
)
SELECT l.arrive,
       count(*) AS n_arrived,
       CAST(count(DISTINCT CASE WHEN late = 1 THEN (metric, w0) END)
            AS BIGINT) AS n_dropped,
       CAST(count(DISTINCT CASE WHEN late = 0 THEN (metric, w0) END)
            AS BIGINT) AS n_updated,
       COALESCE(w.wm, 0) AS wm_sec
FROM lab l LEFT JOIN wm w ON w.arrive = l.arrive
GROUP BY l.arrive, w.wm
"""


# st_distinct_hll's oracle IS the batch HLL SQL verbatim — register-max
# mergeability makes the streamed sketch equal the one-shot sketch.
from go_whisper_spark.operators.whisper_queries import (  # noqa: E402
    _topk_mg_sql,
    _w_zorder_skipping_sql,
    W_LAKEHOUSE_MV_SQL as _W_LAKEHOUSE_MV_ORACLE,
    W_TRIANGLES_SQL as _W_TRIANGLES_ORACLE,
    _kmv_sql,
    W_DISTINCT_HLL_SQL as _W_DISTINCT_HLL_ORACLE,
    W_HEAVY_HITTERS_CMS_SQL as _W_CMS_ORACLE,
    W_QUANTILE_HDR_SQL as _W_QUANTILE_HDR_ORACLE,
    W_EVENT_PAGERANK_SQL as _W_EVENT_PAGERANK_ORACLE,
)

_W_ZORDER_SKIPPING_ORACLE = _w_zorder_skipping_sql()


QUERIES = {
    "st_rollup_lww_1h": st_rollup_lww_1h,
    "st_sessions_30m": st_sessions_30m,
    "st_cascade_6h": st_cascade_6h,
    "st_derivative": st_derivative,
    "st_dedup_1h": st_dedup_1h,
    "st_enrich": st_enrich,
    "st_join_1h": st_join_1h,
    "st_join_1h_outer": st_join_1h_outer,
    "st_cascade_chained": st_cascade_chained,
    "st_render_6h": st_render_6h,
    "st_render_scaled": st_render_scaled,
    "st_render_nodes": st_render_nodes,
    "st_render_hitcount": st_render_hitcount,
    "st_render_mwin": st_render_mwin,
    "st_funnel_4step": st_funnel_4step,
    "st_bloom_words": st_bloom_words,
    "st_kmv_bottomk": st_kmv_bottomk,
    "st_quantile_hdr": st_quantile_hdr,
    "st_event_pagerank": st_event_pagerank,
    "st_funnel_cohort": st_funnel_cohort,
    "st_zorder_stats": st_zorder_stats,
    "st_render_deriv": st_render_deriv,
    "st_render_tags": st_render_tags,
    "st_render_tagwin": st_render_tagwin,
    "st_lsh_prefilter": st_lsh_prefilter,
    "st_pq_score": st_pq_score,
    "st_lakehouse_ingest": st_lakehouse_ingest,
    "st_lakehouse_merge": st_lakehouse_merge,
    "st_lakehouse_mor": st_lakehouse_mor,
    "st_lakehouse_cdf": st_lakehouse_cdf,
    "st_lakehouse_cdf_pos": st_lakehouse_cdf_pos,
    "st_topk_mg": st_topk_mg,
    "st_distinct_hll": st_distinct_hll,
    "st_heavy_hitters_cms": st_heavy_hitters_cms,
    "st_late_ledger": st_late_ledger,
    "st_triangles": st_triangles,
    "st_triangles_ledger": st_triangles_ledger,
    "st_kmv_jaccard": st_kmv_jaccard,
    "st_labelprop": st_labelprop,
    "st_kcore": st_kcore,
    "st_truss": st_truss,
    "st_lakehouse_mv": st_lakehouse_mv,
    "st_mv_minmax": st_mv_minmax,
    "st_shot_bounds": st_shot_bounds,
}

def _labelprop_oracle_sql():
    from go_whisper_spark.operators.llm_ops import _s_labelprop_sql
    return _s_labelprop_sql(with_iters=False)


def _kcore_oracle_sql():
    from go_whisper_spark.operators.whisper_queries import (
        _w_kcore_decomp_sql,
    )
    return _w_kcore_decomp_sql(node_level=True)


def _truss_oracle_sql():
    # the support-seeded peel makes the SAME schedule decisions as
    # the cold peel, so the oracle is the batch SQL verbatim —
    # iteration count included (the strongest shape)
    from go_whisper_spark.operators.whisper_queries import (
        _w_truss_decomp_sql,
    )
    return _w_truss_decomp_sql()


ORACLES = {
    "st_rollup_lww_1h": ST_ROLLUP_LWW_1H_SQL,
    "st_sessions_30m": ST_SESSIONS_30M_SQL,
    "st_cascade_6h": ST_CASCADE_6H_SQL,
    "st_derivative": ST_DERIVATIVE_SQL,
    "st_dedup_1h": ST_DEDUP_1H_SQL,
    "st_enrich": ST_ENRICH_SQL,
    "st_join_1h": ST_JOIN_1H_SQL,
    "st_join_1h_outer": ST_JOIN_1H_OUTER_SQL,
    "st_cascade_chained": ST_CASCADE_CHAINED_SQL,
    "st_render_6h": ST_RENDER_6H_SQL,
    "st_render_scaled": ST_RENDER_SCALED_SQL,
    "st_render_nodes": ST_RENDER_NODES_SQL,
    "st_render_hitcount": ST_RENDER_HITCOUNT_SQL,
    "st_render_mwin": ST_RENDER_MWIN_SQL,
    "st_funnel_4step": ST_FUNNEL_4STEP_SQL,
    "st_bloom_words": _st_bloom_words_sql(),
    "st_kmv_bottomk": _st_kmv_bottomk_sql(),
    "st_quantile_hdr": _W_QUANTILE_HDR_ORACLE,
    "st_event_pagerank": _W_EVENT_PAGERANK_ORACLE,
    "st_funnel_cohort": ST_FUNNEL_COHORT_SQL,
    # merge-law associativity makes the streamed stats equal the
    # one-shot stats — oracle is the batch ledger SQL verbatim
    "st_zorder_stats": _W_ZORDER_SKIPPING_ORACLE,
    "st_render_deriv": ST_RENDER_DERIV_SQL,
    "st_render_tags": ST_RENDER_TAGS_SQL,
    "st_render_tagwin": ST_RENDER_TAGWIN_SQL,
    "st_lsh_prefilter": _st_lsh_prefilter_sql(),
    "st_pq_score": _st_pq_score_sql(),
    "st_lakehouse_ingest": ST_LAKEHOUSE_INGEST_SQL,
    "st_lakehouse_merge": ST_LAKEHOUSE_MERGE_SQL,
    "st_lakehouse_mor": ST_LAKEHOUSE_MOR_SQL,
    "st_lakehouse_cdf": ST_LAKEHOUSE_CDF_SQL,
    "st_lakehouse_cdf_pos": ST_LAKEHOUSE_CDF_SQL,
    # the batch MG SQL with shards := micro-batches, verbatim — the
    # merge law is the same relation either way (see st_topk_mg's
    # slicing-honesty note)
    "st_topk_mg": _topk_mg_sql(shards=N_PASSES),
    "st_distinct_hll": _W_DISTINCT_HLL_ORACLE,
    "st_heavy_hitters_cms": _W_CMS_ORACLE,
    "st_late_ledger": ST_LATE_LEDGER_SQL,
    # set-union idempotency makes the streamed edge store equal the
    # batch edge set — oracle is the batch triangle ledger verbatim
    "st_triangles": _W_TRIANGLES_ORACLE,
    "st_triangles_ledger": _W_TRIANGLES_ORACLE,
    "st_kmv_jaccard": _kmv_sql(_ST_KMV_MEMBER_CTES),
    "st_labelprop": _labelprop_oracle_sql(),
    "st_mv_minmax": _mv_minmax_oracle_sql(),
    "st_shot_bounds": _shot_bounds_oracle_sql(),
    "st_kcore": _kcore_oracle_sql(),
    "st_truss": _truss_oracle_sql(),
    "st_lakehouse_mv": _W_LAKEHOUSE_MV_ORACLE,
}
