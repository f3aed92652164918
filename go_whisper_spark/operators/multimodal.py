"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched Pandas UDFs over ``mapInPandas``.

The mandate (BASELINE.json north_star): treat image/audio/video as
``binary`` columns; make the Spark-side plumbing — schema, partitioning,
UDF signature, batch shape — real and tested, while the actual codec
calls are STUBBED (image/audio libraries are not in this container).

Design: one ``media`` DataFrame

    media_id BIGINT, kind STRING ('image'|'audio'|'video'),
    payload BINARY, meta STRUCT<width INT, height INT,
    sample_rate INT, duration_ms INT>

and four operators, each a ``mapInPandas`` stage (Arrow batches, never
per-row Python):

- ``decode_media``     — payload → decoded dims + byte stats.  Real
  decode is behind ``USE_REAL_CODECS`` (raises NotImplementedError);
  the default deterministic fake derives stats from the bytes so tests
  pin the full pipeline shape.
- ``extract_features`` — payload → fixed-dim float vector (deterministic
  byte-histogram features; swap point for a real encoder).
- ``sample_frames``    — video payload → frame-offset rows (1:N
  explode-shaped output), the frame-sampling stage.
- ``resize_media``     — payload → downsampled payload (binary in,
  smaller binary out, composable with the other stages).

Scale notes: ``mapInPandas`` preserves partitioning — partition by
``media_id`` bucket upstream and no shuffle is introduced; batch size
rides ``spark.sql.execution.arrow.maxRecordsPerBatch``.  Feature
vectors come back as ``array<float>`` ready for the §2C similarity ops.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

USE_REAL_CODECS = False  # flip when PIL/ffmpeg-style libs exist
FEATURE_DIM = 16

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int>"
)

DECODED_SCHEMA = (
    "media_id bigint, kind string, n_bytes bigint, "
    "width int, height int, checksum bigint"
)

FEATURES_SCHEMA = f"media_id bigint, kind string, features array<float>"

FRAMES_SCHEMA = "media_id bigint, frame_idx int, byte_offset bigint"


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for an image/audio decoder: stats derived
    purely from the payload bytes (stable across engines/runs)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    n = int(arr.size)
    return {
        "n_bytes": n,
        "width": int(arr[:16].sum()) % 1024 if n else 0,
        "height": int(arr[-16:].sum()) % 1024 if n else 0,
        "checksum": int(arr.astype(np.uint64).sum()),
    }


def decode_media(df: DataFrame) -> DataFrame:
    """payload → decoded stats. [stubbed codec; real plumbing]"""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if USE_REAL_CODECS:
            raise NotImplementedError(
                "real image/audio decode requires codec libraries not "
                "present in this environment"
            )
        for pdf in batches:
            stats = pdf["payload"].map(lambda p: _fake_decode(bytes(p)))
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": stats.map(lambda s: s["n_bytes"]),
                    "width": stats.map(lambda s: s["width"]),
                    "height": stats.map(lambda s: s["height"]),
                    "checksum": stats.map(lambda s: s["checksum"]),
                }
            )
            yield out

    return df.mapInPandas(fn, schema=DECODED_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """payload → FEATURE_DIM float vector (byte histogram, L1-normalized).

    Deterministic fake encoder; the output column is a regular
    ``array<float>`` embedding compatible with the similarity ops.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                arr = np.frombuffer(bytes(p), dtype=np.uint8)
                hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
                total = max(hist.sum(), 1)
                feats.append((hist / total).astype(np.float32).tolist())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "features": feats}
            )

    return df.mapInPandas(fn, schema=FEATURES_SCHEMA)


def sample_frames(df: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """video payload → one row per sampled frame offset (1:N output).

    Real frame extraction would seek keyframes; the deterministic fake
    emits offsets every ``every_n_bytes`` so the explode-shaped batch
    contract (input row → many output rows) is exercised for real.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                n = len(bytes(p))
                for i, off in enumerate(range(0, n, every_n_bytes)):
                    ids.append(mid)
                    idxs.append(i)
                    offs.append(off)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "byte_offset": offs}
            )

    return df.where(F.col("kind") == "video").mapInPandas(fn, schema=FRAMES_SCHEMA)


RESIZED_SCHEMA = "media_id bigint, kind string, payload binary"


def resize_media(df: DataFrame, stride: int = 4) -> DataFrame:
    """payload → downsampled payload (every ``stride``-th byte) — the
    resize/thumbnail stage of the mandate's decode / feature-extract /
    resize / frame-sample verb set.

    A real implementation would decode, interpolate, and re-encode;
    the deterministic fake is nearest-neighbor in byte space
    (``bytes[::stride]``), which keeps the contract that matters for
    the Spark plumbing: binary in → SMALLER binary out, same row
    count, composable with ``decode_media``/``extract_features``
    downstream (m_resize_stats pipes resize → decode — two chained
    Arrow stages with a binary column crossing the boundary).

    Scale: narrow map like the other codec stages — no shuffle, and
    the output batch is ~1/stride the input bytes, so chaining resize
    FIRST shrinks every downstream Arrow transfer."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if USE_REAL_CODECS:
            raise NotImplementedError(
                "real image resize requires codec libraries not present "
                "in this environment"
            )
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": pdf["payload"].map(
                        lambda p: bytes(p)[::stride]
                    ),
                }
            )

    return df.mapInPandas(fn, schema=RESIZED_SCHEMA)


def documents_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize a media table from ``documents`` (text bytes as payload)
    so the multimodal pipeline has a runnable, deterministic input in
    this container."""
    from go_whisper_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


# Driver-contract entries (rows-only: mapInPandas is not SQL-expressible).
def m_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(spark, sf_dir)
    return (
        decode_media(media)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("checksum").alias("checksum_sum"),
        )
    )


def m_feature_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind feature-vector statistics over the REAL extract_features
    Arrow pipeline, stated so the result is bit-deterministic and hence
    oracle-checkable (the round-7 blocker was a float avg whose value
    rode shuffle order):

    - per-row L1 and mean-bin (Σ b·f_b) are explicit LEFT-FOLD chains
      of double adds over the 16 float32 elements — a fixed sequence of
      IEEE ops both engines execute identically, so each row's value is
      bit-exact cross-engine;
    - each per-row double is floor-scaled to an integer micro value
      (floor(x·1e6)); integer sums are commutative, so the per-kind
      aggregate no longer depends on accumulation order.
    """
    media = documents_as_media(spark, sf_dir)
    feats = extract_features(media)
    elems = [
        F.element_at("features", i + 1).cast("double") for i in range(FEATURE_DIM)
    ]
    l1 = F.lit(0.0)
    mbin = F.lit(0.0)
    for b, x in enumerate(elems):
        l1 = l1 + x
        mbin = mbin + F.lit(float(b)) * x
    per_row = feats.select(
        "kind",
        F.floor(l1 * F.lit(1_000_000.0)).cast("long").alias("l1_u6"),
        F.floor(mbin * F.lit(1_000_000.0)).cast("long").alias("mb_u6"),
    )
    return per_row.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("l1_u6").alias("sum_l1_u6"),
        F.sum("mb_u6").alias("sum_mb_u6"),
        F.lit(FEATURE_DIM).alias("dim"),
    )


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = documents_as_media(spark, sf_dir)
    return sample_frames(media).groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("byte_offset").alias("last_offset"),
    )


def m_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resize → decode, chained: image payloads stride-4 downsampled by
    ``resize_media``, then the REAL ``decode_media`` pass over the new
    binary column — two Arrow stages back to back, which is the
    contract this query pins (a resized payload is a first-class
    binary column any downstream codec stage can consume)."""
    media = documents_as_media(spark, sf_dir).where(F.col("kind") == "image")
    return decode_media(resize_media(media, stride=4)).select(
        "media_id", "n_bytes", "checksum"
    )


PCM_SCHEMA = "media_id bigint, window_idx int, energy bigint"


def pcm_energy(df: DataFrame, window_bytes: int = 256) -> DataFrame:
    """audio payload → per-window signal energy (1:N windowed output).

    The deterministic fake treats each payload byte as an unsigned
    8-bit PCM sample centered at 128: window energy =
    Σ (b − 128)² over the window's bytes — ALL-INTEGER, so the value
    is exact regardless of engine or accumulation order (a real
    implementation would decode int16 PCM and compute RMS; the
    windowing/batch contract is identical).  The trailing partial
    window is kept — silence-trimming is a policy decision downstream.

    Scale: narrow ``mapInPandas`` like every codec stage — vectorized
    numpy per batch, no shuffle; output rows = bytes/window_bytes.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies = [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
                d = arr - 128
                for i in range(0, len(d), window_bytes):
                    ids.append(mid)
                    idxs.append(i // window_bytes)
                    energies.append(int((d[i : i + window_bytes] ** 2).sum()))
            yield pd.DataFrame(
                {"media_id": ids, "window_idx": idxs, "energy": energies}
            )

    return df.where(F.col("kind") == "audio").mapInPandas(fn, schema=PCM_SCHEMA)


def resample_pcm(df: DataFrame, factor: int = 4) -> DataFrame:
    """audio payload → decimated PCM payload (binary out, 1:1).

    Each block of ``factor`` consecutive samples collapses to its
    floor-integer mean (tail block kept, averaged over its actual
    length) — ALL-INTEGER, so the resampled byte stream is exact in
    any engine.  A real implementation would low-pass + decimate
    int16 PCM; the column contract — binary in, binary out, consumable
    by any downstream audio stage — is identical and is what this
    stage pins.

    Scale: narrow vectorized ``mapInPandas`` (``np.add.reduceat``
    block sums), no shuffle; output bytes = n/factor.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, payloads = [], [], []
            for mid, k, p in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                arr = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.int64)
                n = len(arr)
                if n:
                    idx = np.arange(0, n, factor)
                    sums = np.add.reduceat(arr, idx)
                    lens = np.diff(np.append(idx, n))
                    res = (sums // lens).astype(np.uint8).tobytes()
                else:
                    res = b""
                ids.append(mid)
                kinds.append(k)
                payloads.append(res)
            yield pd.DataFrame(
                {"media_id": ids, "kind": kinds, "payload": payloads}
            )

    return df.where(F.col("kind") == "audio").mapInPandas(
        fn, schema="media_id bigint, kind string, payload binary"
    )


def m_pcm_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resample → energy, chained: audio payloads decimated 4× by the
    REAL ``resample_pcm`` Arrow stage, then the REAL ``pcm_energy``
    windowing over the NEW binary column — the audio twin of
    ``m_resize_stats``' two-stage contract (a resampled payload is a
    first-class binary column any downstream audio stage consumes).
    Output shape matches ``m_pcm_energy`` so the 4× sample-rate drop
    is directly visible in the window counts."""
    media = documents_as_media(spark, sf_dir)
    return pcm_energy(resample_pcm(media)).groupBy("media_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("energy").alias("total_energy"),
        F.max("energy").alias("peak_energy"),
    )


def m_pcm_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio-energy ledger over the REAL pcm_energy Arrow
    stage: per audio media, window count, total and peak energy —
    the framing contract (1:N windows, partial tail kept) pinned by
    integer byte arithmetic the oracle restates from the text."""
    media = documents_as_media(spark, sf_dir)
    return pcm_energy(media).groupBy("media_id").agg(
        F.count("*").alias("n_windows"),
        F.sum("energy").alias("total_energy"),
        F.max("energy").alias("peak_energy"),
    )


def m_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-style SEGMENTATION over the windowed-energy
    stage — the silence-trim pass an audio pipeline runs between
    decode and transcription: a window is ACTIVE when its energy
    exceeds the corpus threshold (the floored global mean — one
    exact integer division of exact longs, the one knob a real VAD
    would expose), and consecutive active windows fold into
    SEGMENTS via the gaps-and-islands difference (window_idx −
    row_number is constant within a run).  Per audio media:
    n_segments, the longest segment in windows, and the active
    fraction in floored ppm.

    The decode stays the deterministic byte-stat fake
    (USE_REAL_CODECS) — what this pins is the Spark-side plumbing a
    real VAD needs verbatim: the 1:N windowed Arrow stage, the 1-row
    threshold broadcast, the per-media run-detection window, and the
    three-way ledger join.

    Scale shape: the energy stage is the narrow mapInPandas (no
    shuffle); the run detection is ONE per-media window over the
    O(windows) relation; threshold and ledger are map-combined
    aggregates; ppm is floor(1e6·active/total) on exact longs."""
    media = documents_as_media(spark, sf_dir)
    # three consumers (threshold, run detection, totals) — checkpoint
    # so the Arrow energy stage runs once (the _tri_edges discipline)
    wins = pcm_energy(media).localCheckpoint()
    thr = wins.agg(
        F.expr("sum(energy) div count(*)").alias("t")
    )
    w = Window.partitionBy("media_id").orderBy("window_idx")
    seg = (
        wins.crossJoin(F.broadcast(thr))
        .where(F.col("energy") > F.col("t"))
        .withColumn("grp",
                    F.col("window_idx") - F.row_number().over(w))
        .groupBy("media_id", "grp")
        .agg(F.count("*").alias("seg_len"))
    )
    per_media = seg.groupBy("media_id").agg(
        F.count("*").alias("n_segments"),
        F.max("seg_len").alias("max_seg_len"),
        F.sum("seg_len").alias("active_n"),
    )
    totals = wins.groupBy("media_id").agg(F.count("*").alias("total_n"))
    return (
        totals.join(per_media, "media_id", "left")
        .select(
            "media_id",
            F.coalesce("n_segments", F.lit(0).cast("long"))
            .alias("n_segments"),
            F.coalesce("max_seg_len", F.lit(0).cast("long"))
            .alias("max_seg_len"),
            F.floor(F.lit(1000000)
                    * F.coalesce("active_n", F.lit(0).cast("long"))
                    / F.col("total_n")).cast("long").alias("active_ppm"),
        )
    )


M_VAD_SEGMENTS_SQL = """
WITH pos AS (
  SELECT doc_id,
         unnest(generate_series(1, strlen(text))) AS i,
         text
  FROM documents
  WHERE doc_id % 3 = 1 AND strlen(text) > 0
),
win AS (
  SELECT doc_id,
         (i - 1) // 256 AS window_idx,
         CAST(sum((unicode(text[i]) - 128) * (unicode(text[i]) - 128))
              AS BIGINT) AS energy
  FROM pos
  GROUP BY 1, 2
),
thr AS (
  SELECT CAST(sum(energy) // count(*) AS BIGINT) AS t
  FROM win
),
act AS (
  SELECT doc_id, window_idx,
         window_idx - row_number() OVER (
           PARTITION BY doc_id ORDER BY window_idx) AS grp
  FROM win, thr
  WHERE energy > t
),
seg AS (
  SELECT doc_id, grp, count(*) AS seg_len FROM act GROUP BY 1, 2
),
pm AS (
  SELECT doc_id, count(*) AS n_segments, max(seg_len) AS max_seg_len,
         sum(seg_len) AS active_n
  FROM seg GROUP BY 1
),
tot AS (
  SELECT doc_id, count(*) AS total_n FROM win GROUP BY 1
)
SELECT t.doc_id AS media_id,
       CAST(COALESCE(p.n_segments, 0) AS BIGINT) AS n_segments,
       CAST(COALESCE(p.max_seg_len, 0) AS BIGINT) AS max_seg_len,
       CAST(floor(1000000 * CAST(COALESCE(p.active_n, 0) AS DOUBLE)
                  / t.total_n) AS BIGINT) AS active_ppm
FROM tot t LEFT JOIN pm p ON t.doc_id = p.doc_id
"""


def m_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable chunk-dedup ledger over the binary
    payloads — the dedup primitive a blob store runs on image/video
    bytes (split payloads into fixed 64-byte chunks, hash each, count
    how many chunk occurrences are redundant corpus-wide).  Per kind:
    total chunk occurrences, distinct chunk hashes, duplicated
    occurrences, and the dup ratio in ppm (floored exact double of
    exact longs, the ``_avg6`` discipline).

    Scale shape: unlike the codec stages this needs NO Python at all —
    chunking is ``substr`` on BINARY inside a higher-order transform
    and hashing is codegen ``md5``, so the whole explode is one
    narrow JVM stage; the only shuffles are the distinct-hash and
    per-kind aggregates (map-side combined).  Fixed-size chunking is
    the deterministic baseline; content-defined (rolling-hash cut)
    chunking drops into the same plan by swapping the offset
    expression."""
    media = documents_as_media(spark, sf_dir).select("kind", "payload")
    C = 64
    chunks = media.where(F.length("payload") > 0).select(
        "kind",
        F.explode(
            F.expr(
                f"transform(sequence(1, CAST(ceil(length(payload) / {C}.0) AS INT)),"
                f" i -> md5(substr(payload, (i - 1) * {C} + 1, {C})))"
            )
        ).alias("h"),
    )
    per = chunks.groupBy("kind").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("h").alias("n_distinct"),
    )
    n_dup = F.col("n_chunks") - F.col("n_distinct")
    return per.select(
        "kind",
        "n_chunks",
        "n_distinct",
        n_dup.alias("n_dup"),
        F.floor((n_dup * 1000000).cast("double") / F.col("n_chunks"))
        .cast("long")
        .alias("dup_ppm"),
    )


# Content-defined chunk boundaries: cut AFTER byte i when the md5 of
# the 8-byte window ending at i starts with a hex pair <= '03' — a
# 4/256 = 1/64 acceptance, so chunks average ~64 bytes like the fixed
# grid above but the cut positions move WITH the content (an insertion
# re-chunks only the neighborhood it touches, which is the whole point
# of CDC dedup — fixed grids lose every chunk after the edit).  The
# boundary test is a lexicographic compare on the md5 hex prefix: no
# hex→int conversion exists identically in both engines, but lowercase
# hex strings compare identically everywhere.  The greatest() guard
# keeps Spark's sequence() ascending on length-1 payloads (sequence(1,
# 0) DESCENDS; DuckDB's generate_series is empty — the i < length
# predicate makes both a no-op).
_CDC_ENDS = (
    "array_append(filter(sequence(1, greatest(length(payload) - 1, 1)), "
    "i -> i < length(payload) AND i >= 8 AND "
    "substring(md5(substr(payload, i - 7, 8)), 1, 2) <= '03'), "
    "length(payload))"
)
# NOTE: references an `ends` COLUMN — the boundary list must be
# materialized once per row (withColumn) before this runs.  Inlining
# _CDC_ENDS here instead re-evaluates the whole O(L)-md5 boundary scan
# per OUTPUT CHUNK (Catalyst does not CSE the subexpression across
# element_at sites) — measured 17.8 s → 0.6 s at sf0.1 for the ledger.
_CDC_HASHES = (
    "transform(sequence(1, size(ends)), j -> md5(substr(payload, "
    "CASE WHEN j = 1 THEN 1 ELSE element_at(ends, j - 1) + 1 END, "
    "element_at(ends, j) - "
    "CASE WHEN j = 1 THEN 0 ELSE element_at(ends, j - 1) END)))"
)


def m_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-DEFINED chunk-dedup ledger over the binary payloads —
    the production form of ``m_chunk_dedup``'s fixed grid (Muthitacharoen
    et al.'s LBFS scheme: a rolling window hash picks the cut points,
    so a byte insertion shifts only its local chunk instead of every
    chunk downstream; dedup across near-identical blobs survives
    edits).  Boundary = md5 of the trailing 8-byte window with hex
    prefix <= '03' (1/64 acceptance → ~64-byte average chunks, same
    budget as the fixed grid); final cut forced at payload end.  Per
    kind: chunk occurrences, distinct hashes, duplicated occurrences,
    dup ratio in ppm, and the mean chunk length in centi-bytes — all
    exact-long arithmetic.

    Scale shape: like the fixed-grid ledger this is pure codegen — the
    boundary scan and chunk rebuild are higher-order array expressions
    over BINARY, one narrow JVM stage per payload, no Python; shuffles
    are the distinct-hash + per-kind aggregates (map-side combined)
    plus one 3-row kind-stats broadcast join."""
    from go_whisper_spark.sources.tables import spread_scan

    media = documents_as_media(spark, sf_dir).select("kind", "payload")
    # Repartition before the O(L)-md5 boundary scan (r19 optimization,
    # guide §2.5 "unsplittable input — repartition after the read"):
    # the single-row-group corpus scan otherwise runs the whole
    # rolling-hash expression in ONE task.  r20: layout-gated — the
    # Exchange is absent when the scan arrives in >= cores splits.
    live = spread_scan(
        media.where(F.length("payload") > 0), spark, sf_dir, "documents"
    )
    chunks = (
        live.withColumn("ends", F.expr(_CDC_ENDS))
        .select("kind", F.explode(F.expr(_CDC_HASHES)).alias("h"))
    )
    per = chunks.groupBy("kind").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("h").alias("n_distinct"),
    )
    by = live.groupBy("kind").agg(
        F.sum(F.length("payload")).alias("total_bytes")
    )
    n_dup = F.col("n_chunks") - F.col("n_distinct")
    return per.join(by, "kind").select(
        "kind",
        "n_chunks",
        "n_distinct",
        n_dup.alias("n_dup"),
        F.floor((n_dup * 1000000).cast("double") / F.col("n_chunks"))
        .cast("long")
        .alias("dup_ppm"),
        F.floor((F.col("total_bytes") * 100).cast("double") / F.col("n_chunks"))
        .cast("long")
        .alias("mean_chunk_cb"),
    )


# ------------------------------------------------------- m_ahash_neardup
_AHASH_PX = 64        # fake-thumbnail pixel count (8x8)
_AHASH_BANDS = 8      # LSH bands over the 64-bit hash.  Round 16
#                       shipped 4 x 16-bit bands; the round-17 knob
#                       sweep (m_ahash_tuning) measured that default
#                       at 0/5 true pairs (sf0.01) and 17.3% recall
#                       (sf0.1) vs 8 x 8's 80%/95.6% at the hamming
#                       <= 10 verify threshold — so the default now
#                       ships the measured choice and pays the
#                       candidate volume.
_AHASH_BAND_BITS = _AHASH_PX // _AHASH_BANDS
_AHASH_MAX_HAM = 10   # verification threshold (bits)


def _ahash_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b) — the 64-bit average-hash bit array per image,
    shared by `m_ahash_neardup` and the banding sweep
    (`m_ahash_tuning`) so both price the SAME hash.  The mean is
    hoisted into its own column: codegen does not CSE an aggregate
    referenced inside a transform lambda, so the inline form
    recomputes the 64-element sum per bit — 64x the work (the
    m_shot_bounds lesson, round 17)."""
    from go_whisper_spark.sources.tables import load_table

    img = (
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 3 == 0) & (F.length("text") > 0))
        .select("doc_id", "text", F.length("text").alias("n"))
    )
    px = img.select(
        "doc_id",
        F.array(*[
            F.expr(f"ascii(substr(text, CAST(({i} * n) DIV {_AHASH_PX} "
                   f"AS INT) + 1, 1))")
            for i in range(_AHASH_PX)
        ]).alias("p"),
    )
    return px.select(
        "doc_id", "p",
        F.expr(f"aggregate(p, 0, (acc, y) -> acc + y) div {_AHASH_PX}")
        .alias("mean"),
    ).select(
        "doc_id",
        F.expr("transform(p, x -> CASE WHEN x > mean "
               "THEN 1 ELSE 0 END)").alias("b"),
    )


def m_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AVERAGE-HASH near-duplicate detection for the image
    modality — the multimodal twin of `d_simhash_banded`: decode each
    image to an 8×8 grayscale thumbnail, hash = 64 bits of
    pixel > mean, then LSH-band the hash (8 × 8-bit chunks — the
    MEASURED choice: `m_ahash_tuning` priced the round-16 4×16
    default at 0/5 true pairs (sf0.01) and 17.3% recall (sf0.1) vs
    8×8's 80%/95.6%, so the default now ships what the sweep
    justifies; banding remains a recall/cost TRADE, not the
    pigeonhole guarantee — lossless only below hamming < bands)
    WITH radius-1 multi-probing (each band also probes its 8 one-bit
    neighbor chunks — ROUND 19, VERDICT r18 item 5: the
    `m_ahash_multiprobe` sweep measured 8×8 radius-1 at 100% recall
    at BOTH SFs vs radius-0's 80%/95.6%, for ~3.2× the candidates;
    a dedup pipeline's misses are silent training-data pollution, so
    the default ships the measured full-recall point and the sweep
    rung remains the artifact pricing the choice), and verify
    candidates by exact hamming distance ≤ 10.

    The "decode" is the module's deterministic fake (real aHash
    would decode + bilinear-resize; gated behind USE_REAL_CODECS
    like every codec stage): pixel_i = byte at position
    (i·n) div 64 — nearest-neighbor downsampling in byte space, the
    same reduction `resize_media` ships — so DuckDB restates the
    identical hash from the text bytes and the WHOLE pipeline
    (thumbnail → threshold → bands → bucket join → hamming verify)
    is cross-engine-exact.  Unlike the pair queries, the output is
    the per-image LEDGER (media_id, ones, n_cand, min_ham): corpora
    without image near-dups (sf0.01 has none under this hash) still
    produce full-rank output, and min_ham stays NULL for isolated
    images rather than dropping them.

    Scale shape: hashing is a narrow codegen map (64 unrolled
    byte-probe expressions — no Python, no shuffle); the candidate
    join shuffles on the (band, chunk) key so work scales with
    Σ bucket², not |images|²; verification joins the O(candidates)
    pair set back to the O(images) hash ledger (broadcast).  [pins
    the banded-LSH discipline on a second modality]"""
    from go_whisper_spark.sources.tables import load_table

    led = _ahash_bits(spark, sf_dir).select(
        "doc_id",
        "b",
        F.expr("aggregate(b, 0, (acc, x) -> acc + x)")
        .cast("long").alias("ones"),
        *[
            F.expr(
                f"aggregate(transform(sequence(1, {_AHASH_BAND_BITS}), "
                f"k -> element_at(b, k + {_AHASH_BAND_BITS * j}) * "
                f"shiftleft(1, k - 1)), "
                f"0, (acc, x) -> acc + x)"
            ).alias(f"h{j}")
            for j in range(_AHASH_BANDS)
        ],
    ).localCheckpoint()
    banded = led.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band"), F.col(f"h{j}").alias("chunk"))
            for j in range(_AHASH_BANDS)
        ])).alias("bc"),
    ).select("doc_id", "bc.band", "bc.chunk")
    # radius-1 probe set: the native chunk + its 8 one-bit neighbors
    # (a codegen explode into the SAME equi-join — pairs differing by
    # <= 1 bit in SOME band become candidates; one probe direction
    # suffices because bucket hamming is symmetric)
    neigh = ", ".join(f"chunk ^ {1 << k}" for k in range(_AHASH_BAND_BITS))
    probes = banded.select(
        "doc_id", "band",
        F.explode(F.expr(f"array(chunk, {neigh})")).alias("chunk"),
    )
    cand = (
        probes.alias("a")
        .join(banded.alias("b"), ["band", "chunk"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("ida"),
                F.col("b.doc_id").alias("idb"))
        .distinct()
    )
    ham = (
        cand
        .join(F.broadcast(led.select(F.col("doc_id").alias("ida"),
                                     F.col("b").alias("ba"))), "ida")
        .join(F.broadcast(led.select(F.col("doc_id").alias("idb"),
                                     F.col("b").alias("bb"))), "idb")
        .select(
            "ida", "idb",
            F.expr("aggregate(zip_with(ba, bb, (x, y) -> abs(x - y)), "
                   "0, (acc, x) -> acc + x)").alias("hamming"),
        )
        .where(F.col("hamming") <= _AHASH_MAX_HAM)
    )
    perdoc = (
        ham.select(F.col("ida").alias("doc_id"), "hamming")
        .unionByName(ham.select(F.col("idb").alias("doc_id"), "hamming"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_cand"),
             F.min("hamming").alias("min_ham"))
    )
    return (
        led.join(F.broadcast(perdoc), "doc_id", "left")
        .select(
            F.col("doc_id").alias("media_id"),
            "ones",
            F.coalesce("n_cand", F.lit(0).cast("long")).alias("n_cand"),
            # -1 sentinel, not NULL: a nullable BIGINT oracle column
            # round-trips as float64 through pandas and hash-fails on
            # 10 vs 10.0 (exact-typed gate, this round)
            F.coalesce(F.col("min_ham").cast("long"), F.lit(-1).cast("long"))
            .alias("min_ham"),
        )
    )


_AHASH_HCOLS_SQL = ",\n".join(
    f"         list_sum(list_transform(generate_series(1, "
    f"{_AHASH_BAND_BITS}), k -> b[k + {_AHASH_BAND_BITS * j}] "
    f"* (1 << (k - 1)))) AS h{j}"
    for j in range(_AHASH_BANDS)
)
# radius-1 band match (round 19): buckets within one flipped bit —
# exactly what the Spark side's neighbor-probe explode admits
_AHASH_ORS_SQL = " OR ".join(
    f"bit_count(xor(a.h{j}, c.h{j})) <= 1" for j in range(_AHASH_BANDS)
)

M_AHASH_NEARDUP_SQL = f"""
WITH img AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents
  WHERE doc_id % 3 = 0 AND strlen(text) > 0
),
px AS (
  SELECT doc_id,
         list_transform(generate_series(0, {_AHASH_PX - 1}),
           i -> unicode(substring(text,
                CAST((i * n) // {_AHASH_PX} + 1 AS INT), 1))) AS p
  FROM img
),
bits AS (
  SELECT doc_id,
         list_transform(p, x -> CASE WHEN x > list_sum(p) // {_AHASH_PX}
                                THEN 1 ELSE 0 END) AS b
  FROM px
),
led AS MATERIALIZED (
  SELECT doc_id, b, CAST(list_sum(b) AS BIGINT) AS ones,
{_AHASH_HCOLS_SQL}
  FROM bits
),
cand AS (
  SELECT DISTINCT a.doc_id AS ida, c.doc_id AS idb
  FROM led a JOIN led c ON a.doc_id < c.doc_id
   AND ({_AHASH_ORS_SQL})
),
ham AS (
  SELECT ida, idb,
         list_sum(list_transform(generate_series(1, {_AHASH_PX}),
                  i -> abs(a.b[i] - c.b[i]))) AS hamming
  FROM cand JOIN led a ON cand.ida = a.doc_id
            JOIN led c ON cand.idb = c.doc_id
),
hits AS (SELECT * FROM ham WHERE hamming <= {_AHASH_MAX_HAM}),
perdoc AS (
  SELECT doc_id, count(*) AS n_cand, min(hamming) AS min_ham FROM (
    SELECT ida AS doc_id, hamming FROM hits
    UNION ALL SELECT idb, hamming FROM hits
  ) GROUP BY 1
)
SELECT led.doc_id AS media_id, ones,
       CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
       CAST(COALESCE(min_ham, -1) AS BIGINT) AS min_ham
FROM led LEFT JOIN perdoc ON led.doc_id = perdoc.doc_id
"""


# ------------------------------------------------------- m_ahash_tuning
_AHASH_SWEEP = ((8, 8), (4, 16), (2, 32))   # (bands, bits per band)


def _ahash_sweep(spark: SparkSession, sf_dir: str, configs) -> DataFrame:
    """One ledger row per (bands, width, radius) config: the candidate
    pairs of that banding, probing band neighbours within ``radius``
    bits (0 or 1), priced against the exact hamming <= 10 truth."""
    led = _ahash_bits(spark, sf_dir).localCheckpoint()
    a = led.select(F.col("doc_id").alias("ida"), F.col("b").alias("ba"))
    bb = led.select(F.col("doc_id").alias("idb"), F.col("b").alias("bb"))
    truth = (
        a.join(bb, F.col("ida") < F.col("idb"))
        .select(
            "ida", "idb",
            F.expr("aggregate(zip_with(ba, bb, (x, y) -> abs(x - y)), "
                   "0, (acc, x) -> acc + x)").alias("h"))
        .where(F.col("h") <= _AHASH_MAX_HAM)
        .select("ida", "idb")
        .localCheckpoint()
    )
    n_true = truth.count()
    rows = []
    for bands, width, radius in configs:
        chunks = led.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.expr(
                        f"aggregate(transform(sequence(1, {width}), "
                        f"k -> element_at(b, k + {width * j}) * "
                        f"shiftleft(CAST(1 AS BIGINT), k - 1)), "
                        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                    ).alias("chunk"))
                for j in range(bands)
            ])).alias("bc"),
        ).select("doc_id", "bc.band", "bc.chunk").localCheckpoint()
        if radius == 0:
            probes = chunks
        else:
            neigh = ", ".join(
                f"chunk ^ shiftleft(CAST(1 AS BIGINT), {k})"
                for k in range(width))
            probes = chunks.select(
                "doc_id", "band",
                F.explode(F.expr(f"array(chunk, {neigh})")).alias("chunk"),
            )
        cand = (
            probes.alias("x").join(chunks.alias("y"), ["band", "chunk"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("ida"),
                    F.col("y.doc_id").alias("idb"))
            .distinct()
            .localCheckpoint()
        )
        n_cand = cand.count()
        n_hit = cand.join(truth, ["ida", "idb"], "left_semi").count()
        rows.append((bands, width, radius, n_cand, n_true,
                     (n_hit * 1_000_000 // n_true) if n_true else 1_000_000))
    return spark.createDataFrame(
        rows, "bands long, width long, radius long, n_cand long, "
              "n_true long, recall_ppm long")


def m_ahash_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aHash BANDING KNOB SWEEP — `d_lsh_tuning`'s measured-trade
    discipline on the image modality: `m_ahash_neardup`'s docstring
    concedes its 4×16 banding is "the standard recall/cost trade,
    not the pigeonhole guarantee"; this rung MEASURES that trade.
    Three bandings of the SAME 64-bit hash (`_ahash_bits`, shared
    verbatim) — (8×8) [the default since this sweep ran], (4×16)
    [the round-16 default], (2×32) — each priced by its candidate
    count against the exact hamming ≤ 10 ground truth (the fenced
    all-pairs baseline, enumerated once).  More/narrower bands admit
    more candidates and miss fewer true pairs: the collision curve a
    production image-dedup pass tunes from, as a 3-row
    oracle-checked ledger instead of a docstring caveat.

    THE MEASURED VERDICT retired the round-16 default: at sf0.01
    five true pairs exist and 4×16 finds NONE (8×8 finds 4 of 5); at
    sf0.1, 8×8 = 358k candidates @ 95.6% recall, 4×16 = 7.2k @
    17.3%, 2×32 = 5 @ 0.5%.  Pigeonhole guarantees a shared band
    only for hamming < bands (≤ 7 diffs over 8 bands; ≤ 3 over 4) —
    at the ≤ 10 verify threshold NO banding here is lossless, and
    4×16 sat far down the recall cliff.  `m_ahash_neardup` now ships
    8×8 and pays the candidate volume — the sweep is the artifact
    that forced (and keeps justifying) that call.

    Scale shape: hashing is the shared codegen map; each config is
    one (band, chunk)-keyed equi-join (work ∝ Σ bucket²); the truth
    pass is the quadratic baseline this sweep exists to justify
    avoiding; counts are control-plane scalars (the d_lsh_tuning
    reporting shape)."""
    configs = [(bands, width, 0) for bands, width in _AHASH_SWEEP]
    return _ahash_sweep(spark, sf_dir, configs).drop("radius")


# (bands, bits per band, probe radius): radius-0 rows replicate the
# m_ahash_tuning sweep (a cross-rung consistency check the oracle
# re-derives); radius-1 probes every 1-bit band neighbor.
_AHASH_MP_SWEEP = ((8, 8, 0), (8, 8, 1), (4, 16, 0), (4, 16, 1))


def m_ahash_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE banding for the image aHash — the OTHER recall
    knob `m_ahash_tuning` left unmeasured (VERDICT r17 item 4's
    'same for multi-probe aHash if cheap' — it is): instead of more
    tables or narrower bands, probe each band's 1-BIT NEIGHBOR
    buckets too (chunk XOR 2^k for every bit k), so a pair is a
    candidate when some band's chunks differ by <= radius bits.
    Radius 1 admits pairs the pigeonhole misses at the cost of
    (width+1)x probe rows into the SAME equi-join — the classic
    multi-probe LSH trade (Lv et al.), priced here on both shipped
    bandings against the exact hamming <= 10 truth.

    MEASURED (sf0.01 / sf0.1): 4x16 radius-1 lifts recall 0% -> 40%
    / 17.3% -> 76.8% at (width+1)x probe rows (n_cand 63 -> 575 /
    7.2k -> 67.4k) — a genuinely competitive frontier point at
    sf0.1: three quarters of the truth at a FIFTH of 8x8-exact's
    358k candidates; 8x8 radius-1 reaches 100% recall at BOTH SFs
    (n_cand 11.2k / 1.15M, ~3.2x the exact-probe volume) — the
    measured route to full recall at the <= 10 gate without going
    quadratic.  Radius-0 rows replicate `m_ahash_tuning`'s — the
    cross-rung consistency pin.

    Scale shape: probe expansion is a codegen explode of width+1
    rows per (doc, band) — work stays ∝ Σ bucket² on the probed
    relation; the truth pass is the fenced quadratic baseline this
    family always prices against; counts are control-plane scalars.
    """
    return _ahash_sweep(spark, sf_dir, _AHASH_MP_SWEEP)


def _m_ahash_multiprobe_sql() -> str:
    # Chunk CTEs are keyed by BANDS only (ADVICE r18): the chunk
    # relation depends on (bands, width) alone, so the radius-0 and
    # radius-1 variants of a banding share ONE materialization
    # instead of DuckDB computing byte-identical copies twice.
    cfgs = []
    for bands, width in dict.fromkeys(
            (b, w) for b, w, _ in _AHASH_MP_SWEEP):
        cfgs.append(f"""ch_c{bands} AS MATERIALIZED (
  SELECT doc_id, j AS band,
         list_sum(list_transform(generate_series(1, {width}),
           k -> b[k + {width} * j] * (1::BIGINT << (k - 1)))) AS chunk
  FROM led, generate_series(0, {bands - 1}) AS g(j)
)""")
    for bands, width, radius in _AHASH_MP_SWEEP:
        tag = f"c{bands}r{radius}"
        probe = f"""pr{tag} AS MATERIALIZED (
  SELECT doc_id, band, chunk FROM ch_c{bands}
)""" if radius == 0 else f"""pr{tag} AS MATERIALIZED (
  SELECT doc_id, band, chunk FROM ch_c{bands}
  UNION ALL
  SELECT doc_id, band, xor(chunk, 1::BIGINT << (k - 1)) AS chunk
  FROM ch_c{bands}, generate_series(1, {width}) AS gk(k)
)"""
        cfgs.append(f"""{probe},
cand{tag} AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
  FROM pr{tag} x JOIN ch_c{bands} y
    ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
)""")
    selects = []
    for bands, width, radius in _AHASH_MP_SWEEP:
        tag = f"c{bands}r{radius}"
        selects.append(f"""SELECT {bands} AS bands, {width} AS width,
       {radius} AS radius,
       (SELECT count(*) FROM cand{tag}) AS n_cand,
       (SELECT count(*) FROM truth) AS n_true,
       CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
            ELSE (SELECT count(*) FROM cand{tag} c
                  JOIN truth t ON c.ida = t.ida AND c.idb = t.idb)
                 * 1000000 // (SELECT count(*) FROM truth)
            END AS BIGINT) AS recall_ppm""")
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH img AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents
  WHERE doc_id % 3 = 0 AND strlen(text) > 0
),
px AS (
  SELECT doc_id,
         list_transform(generate_series(0, {_AHASH_PX - 1}),
           i -> unicode(substring(text,
                CAST((i * n) // {_AHASH_PX} + 1 AS INT), 1))) AS p
  FROM img
),
led AS MATERIALIZED (
  SELECT doc_id,
         list_transform(p, x -> CASE WHEN x > list_sum(p) // {_AHASH_PX}
                                THEN 1 ELSE 0 END) AS b
  FROM px
),
truth AS MATERIALIZED (
  SELECT a.doc_id AS ida, c.doc_id AS idb
  FROM led a JOIN led c ON a.doc_id < c.doc_id
  WHERE list_sum(list_transform(generate_series(1, {_AHASH_PX}),
          k -> abs(a.b[k] - c.b[k]))) <= {_AHASH_MAX_HAM}
),
{",".join(cfgs)}
{union}
"""


def _m_ahash_tuning_sql() -> str:
    cfgs = []
    for bands, width in _AHASH_SWEEP:
        tag = f"c{bands}"
        cfgs.append(f"""ch{tag} AS MATERIALIZED (
  SELECT doc_id, j AS band,
         list_sum(list_transform(generate_series(1, {width}),
           k -> b[k + {width} * j] * (1::BIGINT << (k - 1)))) AS chunk
  FROM led, generate_series(0, {bands - 1}) AS g(j)
),
cand{tag} AS MATERIALIZED (
  SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
  FROM ch{tag} x JOIN ch{tag} y
    ON x.band = y.band AND x.chunk = y.chunk AND x.doc_id < y.doc_id
)""")
        # one row per config, assembled below
    selects = []
    for bands, width in _AHASH_SWEEP:
        tag = f"c{bands}"
        selects.append(f"""SELECT {bands} AS bands, {width} AS width,
       (SELECT count(*) FROM cand{tag}) AS n_cand,
       (SELECT count(*) FROM truth) AS n_true,
       CAST(CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 1000000
            ELSE (SELECT count(*) FROM cand{tag} c
                  JOIN truth t ON c.ida = t.ida AND c.idb = t.idb)
                 * 1000000 // (SELECT count(*) FROM truth)
            END AS BIGINT) AS recall_ppm""")
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH img AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents
  WHERE doc_id % 3 = 0 AND strlen(text) > 0
),
px AS (
  SELECT doc_id,
         list_transform(generate_series(0, {_AHASH_PX - 1}),
           i -> unicode(substring(text,
                CAST((i * n) // {_AHASH_PX} + 1 AS INT), 1))) AS p
  FROM img
),
led AS MATERIALIZED (
  SELECT doc_id,
         list_transform(p, x -> CASE WHEN x > list_sum(p) // {_AHASH_PX}
                                THEN 1 ELSE 0 END) AS b
  FROM px
),
truth AS MATERIALIZED (
  SELECT a.doc_id AS ida, c.doc_id AS idb
  FROM led a JOIN led c ON a.doc_id < c.doc_id
  WHERE list_sum(list_transform(generate_series(1, {_AHASH_PX}),
          k -> abs(a.b[k] - c.b[k]))) <= {_AHASH_MAX_HAM}
),
{",".join(cfgs)}
{union}
"""


# ------------------------------------------------------- m_shot_bounds
_SHOT_FRAME = 64   # fake-frame width in payload bytes
_SHOT_THRESH = 22  # boundary when the inter-frame hash jump exceeds
#                    the corpus's ~p75 jitter (measured 9..26, median
#                    19 at sf0.01) — on real video a cut is an outlier
#                    jump; the synthetic corpus has no cuts, so the
#                    threshold is set INSIDE the jitter range to keep
#                    every ledger column full-rank while pinning the
#                    machinery (hash, lag, threshold, shot count)


def m_shot_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOT-BOUNDARY detection for the video modality — the classic
    first pass of any video curation pipeline (keyframe selection,
    scene dedup, clip segmentation all start from it): decode each
    frame, perceptual-hash it (the `m_ahash_neardup` 64-bit
    pixel > mean hash, on 64-byte fake frames — the module's
    deterministic decode, gated behind USE_REAL_CODECS like every
    codec stage), and declare a boundary wherever the hamming
    distance to the PREVIOUS frame jumps past the threshold.  The
    per-video ledger (n_frames, n_shots = 1 + boundaries, max_ham)
    is what a segmentation stage publishes.

    Scale shape: frame explode + hashing are one narrow codegen map
    (substr/ascii probes — no Python); the ONLY shuffle is the
    per-video window for `lag` (partitioned by media_id — state is
    one frame hash per video, never global), then a map-combined
    per-video aggregate.  The trailing partial frame is dropped
    (hash width must be constant); videos shorter than 2 full frames
    are excluded (no inter-frame distance exists).  DuckDB restates
    the identical frames/hashes/lag, so thresholding and shot counts
    are cross-engine-exact."""
    bits = _shot_bit_frames(_shot_videos(spark, sf_dir))
    w = Window.partitionBy("media_id").orderBy("f")
    ham = bits.select(
        "media_id", "f",
        F.zip_with(
            "b", F.lag("b").over(w),
            lambda x, y: F.abs(x - y),
        ).alias("d"),
    ).select(
        "media_id", "f",
        F.expr("aggregate(d, 0, (acc, x) -> acc + x)").alias("h"),
    )
    return _shot_ledger(ham)


def _shot_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video corpus both shot-bounds rungs stage: (media_id,
    text, n) for every doc holding >= 2 full fake frames."""
    from go_whisper_spark.sources.tables import load_table, spread_scan

    return spread_scan(
        load_table(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 3 == 2)
               & (F.length("text") >= 2 * _SHOT_FRAME))
        .select(F.col("doc_id").alias("media_id"), "text",
                F.length("text").alias("n")),
        # spread the frame explode + 64-probe aHash map off the
        # single-row-group scan task (r19 optimization, guide §2.5;
        # r20: layout-gated — absent when the scan is already wide)
        spark, sf_dir, "documents",
    )


def _shot_frames(vid: DataFrame) -> DataFrame:
    """(media_id, f, frame, nf) — the frame explode.  `nf` (total
    full frames in the video) rides along so the streaming twin can
    derive an f-monotone arrival marking."""
    return vid.select(
        "media_id",
        F.expr(f"CAST(n div {_SHOT_FRAME} AS INT)").alias("nf"),
        F.explode(F.expr(f"sequence(0, CAST(n div {_SHOT_FRAME} AS INT) - 1)"))
        .alias("f"),
        "text",
    ).select(
        "media_id", "f", "nf",
        F.expr(f"substr(text, f * {_SHOT_FRAME} + 1, {_SHOT_FRAME})")
        .alias("frame"),
    )


def _shot_hash(fr: DataFrame) -> DataFrame:
    """(media_id, f, b: array<int>) — the 64-bit aHash as ONE narrow
    codegen map over frame rows; streaming-legal, so it is shared
    VERBATIM by `m_shot_bounds` (batch) and `st_shot_bounds` (on the
    micro-batch): tested math IS shipped math."""
    # hoist the byte array and its mean into their own columns: an
    # aggregate referenced inside the per-bit lambda is NOT
    # common-subexpression-eliminated by codegen, so the inline form
    # recomputes the 64-probe sum per bit — 64x the work (measured
    # 10.1 s -> 2.4 s at sf0.1 for the hoisted form)
    return fr.select(
        "media_id", "f",
        F.expr(
            f"transform(sequence(1, {_SHOT_FRAME}), "
            f"k -> ascii(substr(frame, k, 1)))"
        ).alias("p"),
    ).select(
        "media_id", "f", "p",
        F.expr(f"aggregate(p, 0, (acc, x) -> acc + x) div {_SHOT_FRAME}")
        .alias("mean"),
    ).select(
        "media_id", "f",
        F.expr("transform(p, x -> CASE WHEN x > mean "
               "THEN 1 ELSE 0 END)").alias("b"),
    )


def _shot_bit_frames(vid: DataFrame) -> DataFrame:
    """Explode + hash composed — the batch rung's one narrow map."""
    return _shot_hash(_shot_frames(vid))


def _shot_ledger(ham: DataFrame) -> DataFrame:
    """Fold per-frame hamming rows (media_id, f, h — h NULL on each
    video's first frame) to the per-video segmentation ledger."""
    return ham.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        (1 + F.sum((F.col("h") > _SHOT_THRESH).cast("long")))
        .cast("long").alias("n_shots"),
        F.max("h").cast("long").alias("max_ham"),
    )


_SCENE_DF_CAP = 64  # (band, chunk) document-frequency fence for the
#                     scene-dedup candidate join — the
#                     capped_posting_pairs discipline on the shot
#                     modality.  MEASURED: a no-op at sf0.01 (max
#                     bucket 40) and the boilerplate filter at sf0.1
#                     (948,237 -> 61,152 candidates, 15.5x — the cut
#                     pairs live in near-saturated chunks like
#                     0b11101111 with df up to 481: low-information
#                     shots whose hashes all look alike, the video
#                     twin of stop-shingles)


def m_scene_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOT-LEVEL scene deduplication — the consumer `m_shot_bounds`'
    segmentation exists for (VERDICT r18 item 3; docs/SCALE.md names
    keyframe selection / scene dedup / clip segmentation as the
    downstream): per shot take the FIRST frame as the representative
    keyframe (a boundary frame by construction — no second window
    shuffle; the rep relation is the `h IS NULL OR h > thresh` filter
    of the per-frame hamming the segmentation already computed), then
    find cross-video near-duplicate shots with the SHIPPED 8x8 aHash
    banding (`m_ahash_tuning`'s measured choice, chunks spelled
    identically) + exact hamming <= 10 verification,
    and fold to the per-video-PAIR ledger a curation stage consumes —
    the way `d_dedup_keepers` turned pair evidence into a decision
    for text.

    The candidate join carries the `capped_posting_pairs` skew fence
    on (band, chunk) postings (df <= 64): shot hashes are heavily
    skewed toward near-saturated chunks (synthetic byte-text frames
    are bright, so whole bands read 0b11101111 — hottest bucket df
    481 of 2,006 reps at sf0.1), and MEASURED at sf0.1 the fence
    cuts 948,237 candidates to 61,152 (15.5x) — what it drops are
    boilerplate-shot matches (12,615 -> 2,338 verified shot pairs;
    the cut pairs pass the hamming gate but pair low-information
    keyframes every video contains), the exact video analogue of
    stop-shingle removal in `d_jaccard_pairs`.  At sf0.01 the cap
    does not bind (max bucket 40; 8,061 candidates, 131 verified
    shot pairs -> 129 video pairs either way).

    Ledger per video pair (ida < idb): verified shot-pair count, how
    many DISTINCT shots of each side matched, each side's shot
    count, the min hamming, and the curation flag `scene_dup` = a
    majority of either video's shots have a near-dup in the other
    (integer arithmetic, no float threshold — the `d_cdc_neardup`
    gate discipline).

    Scale shape: segmentation + hashing reuse the one-shuffle window
    plan; banding is a codegen explode; the df fence bounds the
    equi-join at cap-1 partners per posting row (work ∝ sum of df²
    over df<=cap buckets, never |shots|²); verification broadcasts
    the O(reps) bit
    ledger; the pair fold is one aggregate over O(verified) rows.
    [pins _shot_bit_frames/_shot_hash shared verbatim;
    capped_posting_pairs: llm_ops.py]"""
    return _scene_dedup_parts(spark, sf_dir)[0]


def _scene_dedup_parts(spark: SparkSession,
                       sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(pair ledger, per-video shot counts) — the scene-dedup body,
    shared by `m_scene_dedup` (returns the ledger) and
    `m_scene_keepers` (clusters the scene_dup pairs and needs
    `nshots` for the pairless videos too)."""
    bits = _shot_bit_frames(_shot_videos(spark, sf_dir))
    w = Window.partitionBy("media_id").orderBy("f")
    ham = bits.select(
        "media_id", "f", "b",
        F.zip_with("b", F.lag("b").over(w),
                   lambda x, y: F.abs(x - y)).alias("d"),
    ).select(
        "media_id", "f", "b",
        F.expr("aggregate(d, 0, (acc, x) -> acc + x)").alias("h"),
    )
    # first frame of each shot: f=0 (h NULL) or a boundary jump —
    # same partitioning/order as the lag window, so no extra shuffle
    rep = (
        ham.where(F.col("h").isNull() | (F.col("h") > _SHOT_THRESH))
        .select("media_id", (F.row_number().over(w) - 1).alias("shot"),
                "b")
        .localCheckpoint()
    )
    nshots = rep.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_shots"))
    banded = rep.select(
        "media_id", "shot",
        F.explode(F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.expr(
                    f"aggregate(transform(sequence(1, {_AHASH_BAND_BITS}), "
                    f"k -> element_at(b, k + {_AHASH_BAND_BITS * j}) * "
                    f"shiftleft(1, k - 1)), 0, (acc, x) -> acc + x)"
                ).alias("chunk"))
            for j in range(_AHASH_BANDS)
        ])).alias("bc"),
    ).select("media_id", "shot", "bc.band", "bc.chunk")
    freq = banded.groupBy("band", "chunk").agg(F.count("*").alias("df"))
    live = banded.join(freq.where(F.col("df") <= _SCENE_DF_CAP),
                       ["band", "chunk"])
    cand = (
        live.alias("a").join(live.alias("b"), ["band", "chunk"])
        .where(F.col("a.media_id") < F.col("b.media_id"))
        .select(F.col("a.media_id").alias("ida"),
                F.col("a.shot").alias("sa"),
                F.col("b.media_id").alias("idb"),
                F.col("b.shot").alias("sb"))
        .distinct()
    )
    ver = (
        cand
        .join(F.broadcast(rep.select(F.col("media_id").alias("ida"),
                                     F.col("shot").alias("sa"),
                                     F.col("b").alias("ba"))),
              ["ida", "sa"])
        .join(F.broadcast(rep.select(F.col("media_id").alias("idb"),
                                     F.col("shot").alias("sb"),
                                     F.col("b").alias("bb"))),
              ["idb", "sb"])
        .select(
            "ida", "sa", "idb", "sb",
            F.expr("aggregate(zip_with(ba, bb, (x, y) -> abs(x - y)), "
                   "0, (acc, x) -> acc + x)").alias("hm"),
        )
        .where(F.col("hm") <= _AHASH_MAX_HAM)
    )
    pairs = ver.groupBy("ida", "idb").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("sa").cast("long").alias("n_dup_a"),
        F.countDistinct("sb").cast("long").alias("n_dup_b"),
        F.min("hm").cast("long").alias("min_ham"),
    )
    ledger = (
        pairs
        .join(F.broadcast(nshots.select(F.col("media_id").alias("ida"),
                                        F.col("n_shots")
                                        .alias("shots_a"))), "ida")
        .join(F.broadcast(nshots.select(F.col("media_id").alias("idb"),
                                        F.col("n_shots")
                                        .alias("shots_b"))), "idb")
        .select(
            "ida", "idb", "shots_a", "shots_b",
            "n_pairs", "n_dup_a", "n_dup_b", "min_ham",
            ((2 * F.col("n_dup_a") >= F.col("shots_a"))
             | (2 * F.col("n_dup_b") >= F.col("shots_b")))
            .cast("long").alias("scene_dup"),
        )
    )
    return ledger, nshots


def m_scene_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video curation DECISION — scene-dup clusters and one
    keeper per cluster, completing for video what `d_dedup_keepers`
    + `d_neardup_clusters` are for text: connected components over
    the `scene_dup` pair graph (large-star/small-star contraction,
    `_star_contract` shared verbatim with `d_cc_stars` — O(log² n)
    rounds on any graph shape), each video labeled with its
    component minimum, keeper = the label holder.  Pairless videos
    are their own singleton clusters, so the output is the FULL
    per-video ledger (media_id, n_shots, cluster_id, cluster_size,
    keep) — a release pipeline drops every keep = 0 row.

    Scale shape: the pair build is `_scene_dedup_parts` (the
    df-fenced banded join); the contraction is one small-edge-set
    loop with O(1) driver scalars per round (count + xxhash64
    fingerprint); the singleton fill is a left join of the O(videos)
    shot ledger against the O(clustered) labels.  Oracle: the
    recursive-CTE transitive closure (the D_CLUSTERS_SQL spelling)
    over the shared scene CTE chain.  [pins _star_contract:
    llm_ops.py; Kiveris et al. SoCC'14]"""
    from go_whisper_spark.operators.llm_ops import _star_contract

    ledger, nshots = _scene_dedup_parts(spark, sf_dir)
    dup = (ledger.where(F.col("scene_dup") == 1)
           .select(F.col("ida").alias("u"), F.col("idb").alias("v"))
           .localCheckpoint())
    labels, _ = _star_contract(dup)
    out = (
        nshots.join(labels.withColumnRenamed("doc_id", "media_id"),
                    "media_id", "left")
        .select(
            "media_id", "n_shots",
            F.coalesce("label", "media_id").alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return (
        out.withColumn("cluster_size", F.count("*").over(w))
        .withColumn(
            "keep",
            (F.col("media_id") == F.col("cluster_id")).cast("long"))
    )


# The vid -> frames -> bits -> per-frame-hamming CTE prefix, shared
# by M_SHOT_BOUNDS_SQL (and via it st_shot_bounds' oracle) and the
# scene-dedup oracle — one spelling of the frame hash/lag math, the
# ADVICE-r18 shared-fragment discipline.  `ham` carries `b` so
# downstream consumers can reach the rep frame's bits.
_SHOT_HAM_CTES_SQL = f"""vid AS (
  SELECT doc_id AS media_id, text, strlen(text) AS n
  FROM documents
  WHERE doc_id % 3 = 2 AND strlen(text) >= {2 * _SHOT_FRAME}
),
fr AS (
  SELECT media_id, f,
         list_transform(generate_series(1, {_SHOT_FRAME}),
           k -> unicode(substring(text,
                CAST(f * {_SHOT_FRAME} + k AS INT), 1))) AS p
  FROM vid, LATERAL (
    SELECT unnest(generate_series(0,
           CAST(n // {_SHOT_FRAME} - 1 AS INT))) AS f)
),
bits AS (
  SELECT media_id, f,
         list_transform(p, x -> CASE WHEN x > list_sum(p) // {_SHOT_FRAME}
                                THEN 1 ELSE 0 END) AS b
  FROM fr
),
ham AS (
  SELECT media_id, f, b,
         list_sum(list_transform(generate_series(1, {_SHOT_FRAME}),
           k -> abs(b[k] - (lag(b) OVER
                (PARTITION BY media_id ORDER BY f))[k]))) AS h
  FROM bits
)"""


# Scene-dedup oracle: the shared shot CTE prefix, rep = boundary
# frames numbered per video, the 8x8 banding with the df<=cap fence,
# exact hamming verify, per-video-pair fold — each stage the SQL
# restatement of the Spark stage above it.
# The scene chain rep -> nshots -> banded/live -> cand -> ver ->
# pairs, shared by the dedup-ledger oracle and the keepers oracle
# (one spelling of the keyframe/banding/fence/verify math).
_SCENE_CTES_SQL = f"""rep AS MATERIALIZED (
  SELECT media_id,
         row_number() OVER (PARTITION BY media_id ORDER BY f) - 1 AS shot,
         b
  FROM ham
  WHERE h IS NULL OR h > {_SHOT_THRESH}
),
nshots AS (
  SELECT media_id, count(*) AS n_shots FROM rep GROUP BY media_id
),
banded AS MATERIALIZED (
  SELECT media_id, shot, j AS band,
         list_sum(list_transform(generate_series(1, {_AHASH_BAND_BITS}),
           k -> b[k + {_AHASH_BAND_BITS} * j]
                * (1::BIGINT << (k - 1)))) AS chunk
  FROM rep, generate_series(0, {_AHASH_BANDS - 1}) AS g(j)
),
live AS (
  SELECT banded.* FROM banded
  JOIN (SELECT band, chunk FROM banded GROUP BY band, chunk
        HAVING count(*) <= {_SCENE_DF_CAP}) ok
  USING (band, chunk)
),
cand AS (
  SELECT DISTINCT a.media_id AS ida, a.shot AS sa,
                  b.media_id AS idb, b.shot AS sb
  FROM live a JOIN live b
    ON a.band = b.band AND a.chunk = b.chunk
   AND a.media_id < b.media_id
),
ver AS (
  SELECT c.ida, c.sa, c.idb, c.sb,
         list_sum(list_transform(generate_series(1, {_SHOT_FRAME}),
           k -> abs(ra.b[k] - rb.b[k]))) AS hm
  FROM cand c
  JOIN rep ra ON ra.media_id = c.ida AND ra.shot = c.sa
  JOIN rep rb ON rb.media_id = c.idb AND rb.shot = c.sb
  WHERE hm <= {_AHASH_MAX_HAM}
),
pairs AS (
  SELECT ida, idb,
         count(*) AS n_pairs,
         count(DISTINCT sa) AS n_dup_a,
         count(DISTINCT sb) AS n_dup_b,
         min(hm) AS min_ham
  FROM ver GROUP BY ida, idb
)"""


M_SCENE_DEDUP_SQL = f"""
WITH {_SHOT_HAM_CTES_SQL},
{_SCENE_CTES_SQL}
SELECT p.ida, p.idb,
       na.n_shots AS shots_a, nb.n_shots AS shots_b,
       CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(p.n_dup_a AS BIGINT) AS n_dup_a,
       CAST(p.n_dup_b AS BIGINT) AS n_dup_b,
       CAST(p.min_ham AS BIGINT) AS min_ham,
       CAST(CASE WHEN 2 * p.n_dup_a >= na.n_shots
                   OR 2 * p.n_dup_b >= nb.n_shots
            THEN 1 ELSE 0 END AS BIGINT) AS scene_dup
FROM pairs p
JOIN nshots na ON na.media_id = p.ida
JOIN nshots nb ON nb.media_id = p.idb
"""


# Keepers oracle: the shared scene chain, the scene_dup edge set,
# the recursive-CTE transitive closure (the D_CLUSTERS_SQL spelling),
# component-min labels, and the singleton fill from nshots.
M_SCENE_KEEPERS_SQL = f"""
WITH RECURSIVE {_SHOT_HAM_CTES_SQL},
{_SCENE_CTES_SQL},
sdp AS (
  SELECT p.ida, p.idb
  FROM pairs p
  JOIN nshots na ON na.media_id = p.ida
  JOIN nshots nb ON nb.media_id = p.idb
  WHERE 2 * p.n_dup_a >= na.n_shots OR 2 * p.n_dup_b >= nb.n_shots
),
cedges AS (
  SELECT ida AS src, idb AS dst FROM sdp
  UNION
  SELECT idb, ida FROM sdp
  UNION
  SELECT ida, ida FROM sdp
  UNION
  SELECT idb, idb FROM sdp
),
reach(src, dst) AS (
  SELECT src, dst FROM cedges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN cedges e ON r.dst = e.src
),
lab AS (
  SELECT src AS media_id, min(dst) AS label FROM reach GROUP BY src
)
SELECT n.media_id, n.n_shots,
       COALESCE(l.label, n.media_id) AS cluster_id,
       count(*) OVER (PARTITION BY COALESCE(l.label, n.media_id))
         AS cluster_size,
       CAST(CASE WHEN n.media_id = COALESCE(l.label, n.media_id)
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM nshots n
LEFT JOIN lab l ON l.media_id = n.media_id
"""


M_SHOT_BOUNDS_SQL = f"""
WITH {_SHOT_HAM_CTES_SQL}
SELECT media_id,
       count(*) AS n_frames,
       CAST(1 + sum(CASE WHEN h > {_SHOT_THRESH} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_shots,
       CAST(max(h) AS BIGINT) AS max_ham
FROM ham
GROUP BY media_id
"""


QUERIES = {
    "m_decode_stats": m_decode_stats,
    "m_ahash_neardup": m_ahash_neardup,
    "m_shot_bounds": m_shot_bounds,
    "m_scene_dedup": m_scene_dedup,
    "m_scene_keepers": m_scene_keepers,
    "m_ahash_tuning": m_ahash_tuning,
    "m_ahash_multiprobe": m_ahash_multiprobe,
    "m_feature_norms": m_feature_norms,
    "m_frame_sample": m_frame_sample,
    "m_resize_stats": m_resize_stats,
    "m_pcm_energy": m_pcm_energy,
    "m_vad_segments": m_vad_segments,
    "m_pcm_resample": m_pcm_resample,
    "m_chunk_dedup": m_chunk_dedup,
    "m_cdc_dedup": m_cdc_dedup,
}

# All THREE pipelines are oracle-checkable: the deterministic fake
# codecs reduce to byte arithmetic (documents.text is ASCII here, so
# DuckDB can restate payload bytes from the string), which lets plain
# SQL pin the real mapInPandas plumbing — the Arrow batch path, the
# 1:N frame explode contract, the per-kind routing — from first
# principles.  ``m_feature_norms`` joined in round 8 by restating its
# statistic in fixed-order arithmetic (see its docstring): the oracle
# rebuilds each 16-bin float32 histogram feature vector from the text
# bytes, replays the identical double left-fold, and sums the same
# micro-floored integers.

_KIND_SQL = """CASE doc_id % 3 WHEN 0 THEN 'image'
                               WHEN 1 THEN 'audio'
                               ELSE 'video' END"""

# checksum == sum of payload byte values; ASCII ⇒ byte value ==
# unicode code point per char (verified: zero non-ASCII docs at every
# scale factor, so strlen == length).  Empty payloads are guarded
# explicitly rather than assumed away: DuckDB's unicode('') is -1
# while _fake_decode's checksum over b'' is 0, so the CASE pins the
# Python semantics even if a generator ever emits an empty document.
M_DECODE_STATS_SQL = f"""
SELECT {_KIND_SQL} AS kind,
       count(*) AS n_media,
       CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(sum(CASE WHEN strlen(text) = 0 THEN 0
                ELSE list_sum(list_transform(string_split(text, ''),
                                             c -> unicode(c))) END)
            AS BIGINT) AS checksum_sum
FROM documents
GROUP BY 1
"""

# frames = offsets 0, 64, 128, … < n_bytes ⇒ ceil(n/64) rows, last
# offset 64·(n_frames − 1); only 'video' docs flow through.  An empty
# payload yields ZERO offset rows in sample_frames, so its media_id is
# absent from the grouped output entirely — the strlen(text) > 0
# predicate makes the oracle agree instead of emitting a phantom
# (n_frames=0, last_offset=-64) row.
M_FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       CAST((strlen(text) + 63) // 64 AS BIGINT) AS n_frames,
       CAST(((strlen(text) + 63) // 64 - 1) * 64 AS BIGINT) AS last_offset
FROM documents
WHERE doc_id % 3 = 2 AND strlen(text) > 0
"""

# Feature vector restated from text bytes: bin(c) = unicode(c)//16
# (== np.histogram over range (0,256) with 16 uniform bins for byte
# inputs; empty string splits to [''] whose unicode is -1 → bin -1,
# matching "no bytes counted"), f_b = float32(count_b / max(n,1))
# exactly as the encoder computes it (int/int → double division, then
# REAL cast).  The fold chains below are generated in the SAME bin
# order as the Spark expressions, so every add/multiply is the same
# IEEE double op on the same operands.
_FEAT_COLS = ",\n         ".join(
    f"CAST(CAST(len(list_filter(bins, b -> b = {i})) AS DOUBLE)"
    f" / greatest(n, 1) AS REAL) AS f{i}"
    for i in range(FEATURE_DIM)
)

_L1_CHAIN = "CAST(0.0 AS DOUBLE)"
_MB_CHAIN = "CAST(0.0 AS DOUBLE)"
for _b in range(FEATURE_DIM):
    _L1_CHAIN = f"({_L1_CHAIN} + f{_b})"
    _MB_CHAIN = f"({_MB_CHAIN} + CAST({_b} AS DOUBLE) * f{_b})"

M_FEATURE_NORMS_SQL = f"""
WITH chars AS (
  SELECT doc_id, strlen(text) AS n,
         list_transform(string_split(text, ''), c -> unicode(c) // 16) AS bins
  FROM documents
),
feat AS (
  SELECT doc_id, n,
         {_FEAT_COLS}
  FROM chars
),
per_row AS (
  SELECT {_KIND_SQL} AS kind,
         CAST(floor({_L1_CHAIN} * 1000000.0) AS BIGINT) AS l1_u6,
         CAST(floor({_MB_CHAIN} * 1000000.0) AS BIGINT) AS mb_u6
  FROM feat
)
SELECT kind,
       count(*) AS n_media,
       CAST(sum(l1_u6) AS BIGINT) AS sum_l1_u6,
       CAST(sum(mb_u6) AS BIGINT) AS sum_mb_u6,
       {FEATURE_DIM} AS dim
FROM per_row
GROUP BY kind
"""

# Strided bytes restated from the text: positions 1, 1+4, 1+8, … of
# the ASCII payload (generate_series has an explicit step, and DuckDB
# string indexing is 1-based).  An empty payload yields an empty list
# → len 0, list_sum NULL → COALESCE 0, matching _fake_decode over b''.
M_RESIZE_STATS_SQL = """
WITH strided AS (
  SELECT doc_id,
         list_transform(generate_series(1, strlen(text), 4),
                        i -> unicode(text[i])) AS bytes
  FROM documents
  WHERE doc_id % 3 = 0
)
SELECT doc_id AS media_id,
       CAST(len(bytes) AS BIGINT) AS n_bytes,
       CAST(COALESCE(list_sum(bytes), 0) AS BIGINT) AS checksum
FROM strided
"""

# Window energy restated from the text: byte b at 1-based position i
# belongs to window (i-1)//256; energy = Σ (unicode(c)-128)² — pure
# integer arithmetic on both sides.  Empty audio payloads produce zero
# windows in pcm_energy (media_id absent), matched by strlen > 0.
M_PCM_ENERGY_SQL = """
WITH pos AS (
  SELECT doc_id,
         unnest(generate_series(1, strlen(text))) AS i,
         text
  FROM documents
  WHERE doc_id % 3 = 1 AND strlen(text) > 0
),
win AS (
  SELECT doc_id,
         (i - 1) // 256 AS window_idx,
         CAST(sum((unicode(text[i]) - 128) * (unicode(text[i]) - 128))
              AS BIGINT) AS energy
  FROM pos
  GROUP BY 1, 2
)
SELECT doc_id AS media_id,
       count(*) AS n_windows,
       CAST(sum(energy) AS BIGINT) AS total_energy,
       CAST(max(energy) AS BIGINT) AS peak_energy
FROM win
GROUP BY 1
"""

# Resample (floor-mean of 4-sample blocks, tail averaged over its
# real length) then the SAME 256-byte windowing — both stages pure
# integer arithmetic, restated from the text bytes.
M_PCM_RESAMPLE_SQL = """
WITH pos AS (
  SELECT doc_id,
         unnest(generate_series(1, strlen(text))) AS i,
         text
  FROM documents
  WHERE doc_id % 3 = 1 AND strlen(text) > 0
),
blk AS (
  SELECT doc_id,
         (i - 1) // 4 AS b,
         CAST(sum(unicode(text[i])) // count(*) AS BIGINT) AS s
  FROM pos
  GROUP BY 1, 2
),
win AS (
  SELECT doc_id,
         b // 256 AS window_idx,
         CAST(sum((s - 128) * (s - 128)) AS BIGINT) AS energy
  FROM blk
  GROUP BY 1, 2
)
SELECT doc_id AS media_id,
       count(*) AS n_windows,
       CAST(sum(energy) AS BIGINT) AS total_energy,
       CAST(max(energy) AS BIGINT) AS peak_energy
FROM win
GROUP BY 1
"""

# Chunk hashes: payload bytes == text chars (ASCII corpus, verified
# strlen == length at every SF), so DuckDB md5's the same byte slices
# and the hex digests match Spark's codegen md5 exactly.
M_CHUNK_DEDUP_SQL = f"""
WITH media AS (
  SELECT {_KIND_SQL} AS kind, text FROM documents WHERE length(text) > 0
),
chunks AS (
  SELECT kind,
         unnest(list_transform(
           generate_series(1, CAST(ceil(length(text) / 64.0) AS INT)),
           i -> md5(substr(text, (i - 1) * 64 + 1, 64)))) AS h
  FROM media
),
per AS (
  SELECT kind, count(*) AS n_chunks, count(DISTINCT h) AS n_distinct
  FROM chunks GROUP BY kind
)
SELECT kind, n_chunks, n_distinct,
       n_chunks - n_distinct AS n_dup,
       CAST(floor(CAST((n_chunks - n_distinct) * 1000000 AS DOUBLE)
                  / n_chunks) AS BIGINT) AS dup_ppm
FROM per
"""

# DuckDB restatement of the CDC scheme over the SAME bytes (ASCII text
# == payload bytes, the m_chunk_dedup argument): list_filter /
# list_append / 1-based [] indexing mirror the Spark higher-order
# expressions operand for operand.
_CDC_ENDS_SQL = (
    "list_append(list_filter(generate_series(1, greatest(length(text) - 1, 1)), "
    "i -> i < length(text) AND i >= 8 AND "
    "substring(md5(substr(text, i - 7, 8)), 1, 2) <= '03'), "
    "length(text))"
)
# mirrors the Spark two-step: `ends` computed once per row in its own
# subquery, the chunk rebuild referencing the column.
_CDC_HASHES_SQL = (
    "list_transform(generate_series(1, len(ends)), "
    "j -> md5(substr(text, "
    "CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END, "
    "ends[j] - "
    "CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END)))"
)

M_CDC_DEDUP_SQL = f"""
WITH media AS (
  SELECT {_KIND_SQL} AS kind, text FROM documents WHERE length(text) > 0
),
bounded AS (
  SELECT kind, text, {_CDC_ENDS_SQL} AS ends FROM media
),
chunks AS (
  SELECT kind, unnest({_CDC_HASHES_SQL}) AS h FROM bounded
),
per AS (
  SELECT kind, count(*) AS n_chunks, count(DISTINCT h) AS n_distinct
  FROM chunks GROUP BY kind
),
by_kind AS (
  SELECT kind, CAST(sum(length(text)) AS BIGINT) AS total_bytes
  FROM media GROUP BY kind
)
SELECT per.kind, n_chunks, n_distinct,
       n_chunks - n_distinct AS n_dup,
       CAST(floor(CAST((n_chunks - n_distinct) * 1000000 AS DOUBLE)
                  / n_chunks) AS BIGINT) AS dup_ppm,
       CAST(floor(CAST(total_bytes * 100 AS DOUBLE) / n_chunks)
            AS BIGINT) AS mean_chunk_cb
FROM per JOIN by_kind ON per.kind = by_kind.kind
"""

ORACLES: dict = {
    "m_ahash_neardup": M_AHASH_NEARDUP_SQL,
    "m_shot_bounds": M_SHOT_BOUNDS_SQL,
    "m_scene_dedup": M_SCENE_DEDUP_SQL,
    "m_scene_keepers": M_SCENE_KEEPERS_SQL,
    "m_ahash_tuning": _m_ahash_tuning_sql(),
    "m_ahash_multiprobe": _m_ahash_multiprobe_sql(),
    "m_decode_stats": M_DECODE_STATS_SQL,
    "m_feature_norms": M_FEATURE_NORMS_SQL,
    "m_frame_sample": M_FRAME_SAMPLE_SQL,
    "m_resize_stats": M_RESIZE_STATS_SQL,
    "m_pcm_energy": M_PCM_ENERGY_SQL,
    "m_vad_segments": M_VAD_SEGMENTS_SQL,
    "m_pcm_resample": M_PCM_RESAMPLE_SQL,
    "m_chunk_dedup": M_CHUNK_DEDUP_SQL,
    "m_cdc_dedup": M_CDC_DEDUP_SQL,
}
