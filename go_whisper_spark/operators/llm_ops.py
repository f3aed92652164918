"""LLM-training-data pipeline operators (SURVEY.md §2C — mandated scope).

Deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine), similarity search (brute-force cosine top-k), and
text analysis (token stats, stopword language-ID, quality scoring,
rolling-hash fingerprints, corpus word frequencies) over the
``documents`` and ``embeddings`` tables — each as a declarative Spark
plan paired with a DuckDB oracle.

Cross-engine determinism: every hash is derived from ``md5`` hex
(identical in both engines) parsed to integers — Spark
``conv(substr(md5(x),1,k),16,10)`` ≡ DuckDB
``CAST('0x' || substring(md5(x),1,k) AS BIGINT)`` (verified
bit-for-bit).  MinHash permutations are fixed affine maps
``(a·x + b) mod p`` with seeded constants inlined into both sides.
Cosine similarities are ranked by ``(round(sim,6), vec_id)`` in both
engines so top-k membership can't flip on last-ulp differences.

Scale notes (100 TB): all dedup ops key their shuffles by
content-derived columns (shingle, band signature, simhash), never by
doc_id alone — LSH banding turns the quadratic all-pairs problem into
per-bucket joins; the brute-force cosine top-k is the *correctness
baseline* whose scale path is the LSH/banded variant; token pipelines
are pure narrow maps until the final aggregate.  Two execution tiers:
relational shapes (joins, aggregates, windows) are Catalyst
expressions inside whole-stage codegen; per-row signature/vector
kernels (shingle→minhash, simhash bit-folds, cosine dot products) are
Arrow-batched pandas passes — narrow maps with numpy math, never
row-at-a-time Python UDFs — because a 64-dim dot or 60-bit fold is
matrix-shaped work that vectorizes better than a scalar Add-chain.
Exactness invariants for oracle parity are pinned at each kernel
(sequential accumulation order, integer-exact hashing).
"""

from __future__ import annotations

import operator
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_whisper_spark.session import materialize, session_memo
from go_whisper_spark.sources.tables import load_table, spread_scan

# ---------------------------------------------------------------- hashing
MERSENNE61 = (1 << 61) - 1
N_MINHASH = 16
N_BANDS = 4  # 4 bands x 4 rows
_rng = random.Random(0x5EED)
MINHASH_COEFFS = [
    (_rng.randrange(1, 1 << 31), _rng.randrange(0, 1 << 31)) for _ in range(N_MINHASH)
]

SIMHASH_BITS = 60  # 15 md5 hex chars — stays positive in signed int64

TOKEN_RE = "[a-z0-9]+"

# Stopword lexicon for language ID: (token, language).
LANG_LEXICON = [
    ("the", "en"), ("and", "en"), ("of", "en"), ("to", "en"), ("a", "en"),
    ("la", "es"), ("el", "es"), ("de", "es"), ("que", "es"), ("los", "es"),
    ("der", "de"), ("die", "de"), ("und", "de"), ("das", "de"), ("ist", "de"),
    ("le", "fr"), ("les", "fr"), ("est", "fr"), ("une", "fr"), ("dans", "fr"),
]


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _tokens_col():
    """lower → extract [a-z0-9]+ runs (identical RE semantics both engines)."""
    return F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_RE), F.lit(0))


_TOKENS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# 3-gram word shingles (oracle-side; Spark computes them in the narrow
# pandas features pass, see ``_doc_features``).
_SHINGLES_SQL = """
list_transform(generate_series(1, len(tokens) - 2),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])
"""

# doc_id → distinct shingles, as a reusable CTE (DuckDB) / DataFrame
# (Spark).  The explicit DISTINCT looks like a removable shuffle
# (array_distinct before the explode is semantically equal and narrow),
# but measured slower: the distinct's exchange is REUSED by every
# branch of the self-join/sizes/signature consumers, while the narrow
# form recomputes the tokenize+shingle+md5 pipeline per branch.
_SHINGLE_CTE = f"""tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
shingle AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL.strip()}) AS sh
  FROM tok
)"""


_X32_SQL = "CAST('0x' || substring(md5(sh), 1, 8) AS BIGINT)"


# -- Arrow-vectorized text kernels -------------------------------------------
# Per-document signature computation (tokenize → hash → fold) has no
# cross-row dependency: it is a NARROW map, and the honest 100 TB shape
# is zero shuffles until the candidate join.  The pandas pass below
# replaces an explode + groupBy(doc_id) (a |tokens|-row shuffle) with
# in-worker numpy; every hash is hashlib md5 == JVM md5 == DuckDB md5,
# and all arithmetic is exact integer (uint64 wide enough for
# (a*x + b) with a,b < 2^31, x < 2^32), so parity is bit-level.

import hashlib
import re as _re

_TOKEN_PAT = _re.compile(TOKEN_RE)


def _py_tokens(text: str) -> list:
    return _TOKEN_PAT.findall(text.lower())


def _md5_prefix_int(s: str, nhex: int) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:nhex], 16)


def doc_features_frame(d: DataFrame) -> DataFrame:
    """The per-doc dedup-features Arrow kernel applied to ANY
    (doc_id, text) frame — batch or STREAMING: ``mapInPandas`` is
    unbounded-safe and the kernel is stateless per batch, which is
    what lets the ingest-time LSH prefilter (``streaming/prefilter``)
    run the identical signature math inside a Structured Streaming
    query."""
    coeffs = np.array(MINHASH_COEFFS, dtype=np.uint64)  # (16, 2)
    m61 = np.uint64(MERSENNE61)
    rows_per_band = N_MINHASH // N_BANDS
    jbits = np.arange(SIMHASH_BITS, dtype=np.int64)

    def feats(batches):
        # Per-task md5 memo (r20 optimization, guide §4.2/§4.5 — the
        # hash is the kernel's dominant CPU and token occurrences
        # repeat heavily: a ~10k-word vocabulary covers ~500k token
        # occurrences at sf0.1, and boilerplate shingles repeat
        # across documents).  hashlib.md5 of the same string is the
        # same value, so the memo is bit-transparent; both caches
        # are size-bounded so a worker at 100 TB can't grow one
        # unboundedly (a reset just re-pays the hash).
        tok_h: dict = {}
        sh_h: dict = {}
        _CAP = 1 << 20

        def h_tok(t):
            v = tok_h.get(t)
            if v is None:
                if len(tok_h) >= _CAP:
                    tok_h.clear()
                v = tok_h[t] = _md5_prefix_int(t, 15)
            return v

        def h_sh(t):
            v = sh_h.get(t)
            if v is None:
                if len(sh_h) >= _CAP:
                    sh_h.clear()
                v = sh_h[t] = _md5_prefix_int(t, 8)
            return v

        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = _py_tokens(text)
                # SimHash over token occurrences (with multiplicity)
                if toks:
                    xs = np.array(
                        [h_tok(t) for t in toks], dtype=np.int64
                    )
                    bits = (xs[:, None] >> jbits) & 1
                    s = (bits * 2 - 1).sum(axis=0)
                    simhash = int(((s > 0).astype(np.int64) << jbits).sum())
                else:
                    simhash = None  # no tokens → no signature row (matches explode)
                # distinct shingles + minhash signature + band sigs
                sh = sorted(
                    {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
                ) if len(toks) >= 3 else []
                if sh:
                    x32 = np.array(
                        [h_sh(t) for t in sh], dtype=np.uint64
                    )
                    hs = (coeffs[:, 0:1] * x32[None, :] + coeffs[:, 1:2]) % m61
                    sig = hs.min(axis=1).astype(np.int64)
                    bands = [
                        "-".join(
                            str(int(sig[b * rows_per_band + r]))
                            for r in range(rows_per_band)
                        )
                        for b in range(N_BANDS)
                    ]
                else:
                    sig, bands = np.array([], dtype=np.int64), []
                out.append((doc_id, sh, len(sh), [int(h) for h in sig], bands, simhash))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "shingles", "n_sh", "minhash", "bands", "simhash"],
            )

    schema = (
        "doc_id long, shingles array<string>, n_sh long, "
        "minhash array<long>, bands array<string>, simhash long"
    )
    return d.mapInPandas(feats, schema)


def _doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow pass over documents → per-doc dedup features:
    distinct 3-gram shingles, shingle-set size, MinHash signature
    (k=16), LSH band signatures, and the 60-bit SimHash.  No shuffle.
    """
    return doc_features_frame(_docs(spark, sf_dir).select("doc_id", "text"))


def _doc_features_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_doc_features`` computed once, lineage truncated: queries that
    consume the features in several subtrees (banding + verification +
    sizes) would otherwise re-run the Python pass per subtree.  This
    is the signature-index table a production pipeline persists; the
    layout-gated spread widens the few-split local scan and is ABSENT
    from the plan when the source already arrives in >= cores splits
    (a bare repartition kept its Exchange at any scale).
    """
    d = spread_scan(_docs(spark, sf_dir).select("doc_id", "text"),
                    spark, sf_dir, "documents")
    return materialize(doc_features_frame(d), "doc_features:index")


# ---------------------------------------------------------- d_exact_dedup
def d_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting: docs vs distinct text-hashes per source.

    The canonical-keeper rule (min doc_id per identical text) is the
    ``dropDuplicates`` semantics expressed deterministically.
    """
    d = _docs(spark, sf_dir)
    per_text = d.groupBy("source", F.md5("text").alias("h")).agg(
        F.count("*").alias("copies"), F.min("doc_id").alias("keeper")
    )
    return per_text.groupBy("source").agg(
        F.sum("copies").alias("n_docs"),
        F.count("*").alias("n_unique"),
        (F.sum("copies") - F.count("*")).alias("n_dropped"),
        F.sum(F.col("keeper")).alias("keeper_idsum"),
    )


D_EXACT_SQL = """
WITH per_text AS (
  SELECT source, md5(text) AS h, count(*) AS copies, min(doc_id) AS keeper
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(copies) AS BIGINT) AS n_docs,
       count(*) AS n_unique,
       CAST(sum(copies) - count(*) AS BIGINT) AS n_dropped,
       CAST(sum(keeper) AS BIGINT) AS keeper_idsum
FROM per_text GROUP BY source
"""


# ------------------------------------------------------ d_jaccard_pairs
def d_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs via shingle-inverted-index join.

    Candidate generation = equi-join on shingle (the scale path: work
    is proportional to shared shingles, never |docs|²); pairs kept at
    jaccard >= 0.2.
    """
    # Narrow features pass: shingle sets + sizes computed without any
    # shuffle (vs the prior DISTINCT + groupBy-sizes shape — two
    # exchanges removed); n_sh rides the exploded rows, so the
    # per-pair sizes come out of the same groupBy that counts overlap.
    feats = _doc_features_index(spark, sf_dir).where(F.col("n_sh") > 0)
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.min("a.n_sh").alias("na"),
            F.min("b.n_sh").alias("nb"),
        )
    )
    return (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


D_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) >= 0.2
"""



# ------------------------------------------------------- d_prefix_join
def d_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-0.5 near-dup pairs via PREFIX FILTERING — the
    set-similarity join that keeps exactness while pruning the
    candidate space (the SSJoin/ppjoin principle [Chaudhuri et al.
    ICDE'06; Xiao et al. WWW'08 — public]): order every shingle by
    (df ASC, sh) — rarest first, one global total order — and join
    docs only on their PREFIX tokens (per doc: the first
    n − ⌈τ·n⌉ + 1 tokens in that order).  Soundness: J(A,B) ≥ τ ⟹
    |A∩B| ≥ τ·|A∪B| ≥ τ·max(|A|,|B|), and two sets sharing ≥ α
    elements must collide inside their (len − α + 1)-prefixes under
    any common total order — so no qualifying pair is lost, while a
    pair of docs sharing only COMMON shingles (high df → suffix)
    never becomes a candidate.  The size filter (τ·na ≤ nb ≤ na/τ)
    prunes further, still exact.  Candidates verify against the full
    shingle sets (array intersection — sets, so both engines count
    identically) and survive at round(J, 6) ≥ 0.5.

    This is the EXACTNESS-preserving complement to the df-capped CDC
    fence: there the hot-key fix drops boilerplate keys (approximate
    by design); here the rare-first ordering pushes hot shingles into
    suffixes that never reach the join — skew dies by construction,
    not by a cap.

    Scale shape: df = one shingle-keyed map-combined count; the
    per-doc prefix rank is a doc-keyed window (the sessionization
    shuffle class); the candidate join is an equi-join on LOW-df
    tokens whose posting lists are short by construction; the
    verification joins are doc-keyed and AQE-sized.  Candidate-count
    reduction vs the full posting join is pytest-pinned.

    Oracle: the independent FULL posting-join formulation (the
    ``d_jaccard_pairs`` SQL at τ = 0.5) — the two formulations must
    agree pair-for-pair, which is the prefix-filter theorem stated as
    a test.

    Perf note (measured, bench r13): at sf0.1 this runs ~2.4× the
    plain posting join (4.1 s vs 1.7 s) — the df count + per-doc rank
    window are a FIXED overhead, while the pruning saves on the
    candidate join, which is tiny at this corpus size.  The crossover
    is where posting lists grow (boilerplate-heavy web corpora): the
    full join's candidate volume is Σ df², the prefix join's is
    Σ_prefix df² over LOW-df tokens only — the overhead is O(n·log)
    per doc, the saving is quadratic in the hot keys."""
    tau_num, tau_den = 1, 2  # τ = 0.5 as an exact rational
    feats = _doc_features_index(spark, sf_dir).where(
        F.col("n_sh") > 0
    )
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    ranked = sh.join(df, "sh").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "sh")
        ),
    )
    # prefix length n − ⌈τ·n⌉ + 1 with ⌈n/2⌉ = (n+1) div 2 exact
    pref = ranked.where(
        F.col("r") <= F.col("n_sh") - F.expr("(n_sh + 1) div 2") + 1
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: τ·na ≤ nb ≤ na/τ (exact cross-mult)
            & (F.col("b.n_sh") * tau_den >= F.col("a.n_sh") * tau_num)
            & (F.col("a.n_sh") * tau_den >= F.col("b.n_sh") * tau_num),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    fa = feats.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sha"),
        F.col("n_sh").alias("na"),
    )
    fb = feats.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("shb"),
        F.col("n_sh").alias("nb"),
    )
    v = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn(
            "shared", F.size(F.array_intersect("sha", "shb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ),
        )
    )
    return v.where(F.col("jaccard") >= 0.5).select(
        "doc_a", "doc_b", "shared", "jaccard"
    )


D_PREFIX_JOIN_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
"""


# ---------------------------------------------------------- d_dedup_keepers
def d_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup itself (not just the accounting): keep the minimum
    doc_id per identical text hash — ``dropDuplicates(["text"])`` with a
    pinned deterministic keeper."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .join(d.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
    )


D_KEEPERS_SQL = """
WITH keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM keep JOIN documents d USING (doc_id)
"""


# ---------------------------------------------------------- d_minhash_sigs
def _minhash_sql_terms():
    return ",\n       ".join(
        f"min(({a} * x32 + {b}) % {MERSENNE61}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )


def d_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=16 affine permutations over 32-bit shingle
    hashes, mod 2^61-1) — the shingle→minhash step of MinHash+LSH dedup.
    Computed in the narrow per-doc features pass (zero shuffles).
    """
    feats = _doc_features(spark, sf_dir).where(F.col("n_sh") > 0)
    return feats.select(
        "doc_id",
        *[F.element_at("minhash", i + 1).alias(f"h{i}") for i in range(N_MINHASH)],
    )


D_MINHASH_SQL = f"""
WITH {_SHINGLE_CTE},
hashed AS (SELECT doc_id, {_X32_SQL} AS x32 FROM shingle)
SELECT doc_id,
       {_minhash_sql_terms()}
FROM hashed GROUP BY doc_id
"""


# ------------------------------------------------------------ d_lsh_pairs
def d_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the k=16 signature into 4 bands
    of 4 rows, bucket-join on (band, band-signature), verify with true
    Jaccard.  This is the 100 TB dedup path: the only join key is the
    band signature, so work scales with bucket sizes, not |docs|².
    """
    # All per-doc signature work (shingles, minhash, bands, sizes) comes
    # from the narrow features pass — zero shuffles before the candidate
    # join.  The prior expression form paid a DISTINCT exchange plus a
    # groupBy(doc_id) signature aggregate before banding.
    feats = _doc_features_index(spark, sf_dir).where(F.col("n_sh") > 0)
    # n_sh rides the banded rows (one extra int through the band
    # shuffle), so candidate pairs come out of the bucket join already
    # carrying both set sizes — no sizes joins afterwards.  distinct
    # over (pair, na, nb) has the same cardinality as over the pair:
    # the sizes are functionally dependent on the doc ids.
    banded = feats.select(
        "doc_id", "n_sh", F.posexplode("bands").alias("band", "sig")
    )
    a, bb = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .distinct()
    )
    # Verify candidates with exact Jaccard over shingle sets; n_sh rides
    # the exploded shingle rows so pair sizes come from the same
    # aggregate as the overlap count (no separate sizes joins).
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    a2, b2 = sh.alias("sa"), sh.alias("sb")
    shared = (
        a2.join(b2, (F.col("sa.sh") == F.col("sb.sh")) & (F.col("sa.doc_id") < F.col("sb.doc_id")))
        .groupBy(F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    # LEFT join: an LSH candidate with zero shared shingles (a banding
    # false positive) is still reported, with its true jaccard of 0 —
    # its sizes came through the bucket join like everyone else's.
    return (
        cand.join(shared, ["doc_a", "doc_b"], "left")
        .withColumn(
            "jaccard",
            F.round(
                F.coalesce(F.col("shared"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("shared"), F.lit(0))),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


D_LSH_SQL = f"""
WITH {_SHINGLE_CTE},
hashed AS (SELECT doc_id, {_X32_SQL} AS x32 FROM shingle),
sigs AS (
  SELECT doc_id,
         {_minhash_sql_terms()}
  FROM hashed GROUP BY doc_id
),
banded AS (
  SELECT doc_id, 0 AS band, h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR || '-' || h3::VARCHAR AS sig FROM sigs
  UNION ALL
  SELECT doc_id, 1, h4::VARCHAR || '-' || h5::VARCHAR || '-' || h6::VARCHAR || '-' || h7::VARCHAR FROM sigs
  UNION ALL
  SELECT doc_id, 2, h8::VARCHAR || '-' || h9::VARCHAR || '-' || h10::VARCHAR || '-' || h11::VARCHAR FROM sigs
  UNION ALL
  SELECT doc_id, 3, h12::VARCHAR || '-' || h13::VARCHAR || '-' || h14::VARCHAR || '-' || h15::VARCHAR FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY 1),
shared AS (
  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS shared
  FROM shingle sa JOIN shingle sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT cand.doc_a, cand.doc_b,
       round(CAST(coalesce(shared.shared, 0) AS DOUBLE)
             / (sa.n_sh + sb.n_sh - coalesce(shared.shared, 0)), 6) AS jaccard
FROM cand
LEFT JOIN shared ON shared.doc_a = cand.doc_a AND shared.doc_b = cand.doc_b
JOIN sizes sa ON sa.doc_id = cand.doc_a
JOIN sizes sb ON sb.doc_id = cand.doc_b
"""


# ------------------------------------------------------------ d_lsh_tuning
_LSH_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
_LSH_TUNE_THRESH = 0.5


def d_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH (bands × rows) KNOB SWEEP — the tuning ledger a
    pipeline owner actually reviews before fixing b and r (the
    `s_ann_recall` pricing discipline applied to the text tier): for
    each banding of the SAME k=16 signature — (16,1), (8,2), (4,4)
    the shipped default, (2,8) — the candidate-set size (the COST:
    work scales with Σ bucket²) and the recall against the exact
    jaccard ≥ 0.5 ground truth (the QUALITY: candidates found / true
    pairs).  More rows per band sharpens the collision curve
    (P[cand] = 1-(1-j^r)^b): (16,1) approaches all-pairs cost at
    ~full recall, (2,8) prunes hardest and pays in recall — the sweep
    makes the trade MEASURED, not asserted.

    Ground truth is exact and complete: any pair at jaccard ≥ 0.5
    shares at least one shingle, so the shingle inverted-index join
    enumerates every true pair (no banding in the truth path).

    Scale shape: the signature pass is the narrow Arrow kernel once
    (localCheckpoint — 4 configs re-band the SAME signatures);
    per config one (band, sig)-keyed bucket join + two control-plane
    counts; the truth join is the d_lsh_pairs verification relation.
    Counts land in a driver-built 4-row ledger (the
    w_lakehouse_partevolve shape).  [Leskovec/Rajaraman/Ullman MMDS
    ch.3 banding theory — public]"""
    feats = _doc_features_index(spark, sf_dir).where(
        F.col("n_sh") > 0)
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    truth = materialize(
        sa.join(sb, (F.col("sa.sh") == F.col("sb.sh"))
                & (F.col("sa.doc_id") < F.col("sb.doc_id")))
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
            F.col("sa.n_sh").alias("na"),
            F.col("sb.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("shared"))
        .where(
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")), 6)
            >= _LSH_TUNE_THRESH)
        .select("doc_a", "doc_b"),
        "d_lsh_tuning:truth pairs",
    )
    n_true = truth.count()
    sig = materialize(feats.select("doc_id", "minhash"), "d_lsh_tuning:signatures")
    rows = []
    for b, r in _LSH_TUNE_CONFIGS:
        bands = F.array(*[
            F.struct(
                F.lit(j).alias("band"),
                F.concat_ws("-", *[
                    F.element_at("minhash", j * r + i + 1).cast("string")
                    for i in range(r)
                ]).alias("sig"),
            )
            for j in range(b)
        ])
        banded = sig.select(
            "doc_id", F.explode(bands).alias("bc")
        ).select("doc_id", "bc.band", "bc.sig")
        aa, bb2 = banded.alias("a"), banded.alias("b")
        cand = materialize(
            aa.join(
                bb2,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct(),
            f"d_lsh_tuning:{b}x{r} candidates",
        )
        n_cand = cand.count()
        n_found = truth.join(cand, ["doc_a", "doc_b"], "left_semi").count()
        recall = (n_found * 1_000_000) // n_true if n_true else 1_000_000
        rows.append((b, r, n_cand, n_true, n_found, recall))
    return spark.createDataFrame(
        rows,
        "bands long, rows_per_band long, n_cand long, n_true long, "
        "n_found long, recall_ppm long",
    )


def _d_lsh_tuning_sql() -> str:
    cfg_ctes, cfg_rows = [], []
    for b, r in _LSH_TUNE_CONFIGS:
        ors = " OR ".join(
            "(" + " AND ".join(
                f"a.h{j * r + i} = b.h{j * r + i}" for i in range(r)
            ) + ")"
            for j in range(b)
        )
        cfg_ctes.append(
            f"cand_{b}_{r} AS MATERIALIZED (\n"
            f"  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
            f"  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id\n"
            f"   AND ({ors})\n"
            f")"
        )
        cfg_rows.append(
            f"SELECT {b} AS bands, {r} AS rows_per_band,\n"
            f"  (SELECT count(*) FROM cand_{b}_{r}) AS n_cand,\n"
            f"  (SELECT count(*) FROM truth) AS n_true,\n"
            f"  (SELECT count(*) FROM truth t JOIN cand_{b}_{r} c\n"
            f"     ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_found"
        )
    union = "\n  UNION ALL ".join(cfg_rows)
    return f"""
WITH {_SHINGLE_CTE},
hashed AS (SELECT doc_id, {_X32_SQL} AS x32 FROM shingle),
sigs AS MATERIALIZED (
  SELECT doc_id,
         {_minhash_sql_terms()}
  FROM hashed GROUP BY doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY 1),
truth AS MATERIALIZED (
  SELECT sh2.doc_a, sh2.doc_b FROM (
    SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS shared
    FROM shingle sa JOIN shingle sb
      ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
    GROUP BY 1, 2
  ) sh2
  JOIN sizes za ON za.doc_id = sh2.doc_a
  JOIN sizes zb ON zb.doc_id = sh2.doc_b
  WHERE round(CAST(sh2.shared AS DOUBLE)
              / (za.n_sh + zb.n_sh - sh2.shared), 6)
        >= {_LSH_TUNE_THRESH}
),
{",".join(cfg_ctes)},
ledger AS (
  {union}
)
SELECT bands, rows_per_band,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_found AS BIGINT) AS n_found,
       CAST(CASE WHEN n_true = 0 THEN 1000000
                 ELSE n_found * 1000000 // n_true END AS BIGINT)
         AS recall_ppm
FROM ledger
"""


# -------------------------------------------------------------- d_simhash
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (60-bit) per document over token hashes: per bit j, sum
    ±1 across tokens (weighted by occurrence), bit set iff sum > 0.

    Computed in the narrow per-doc features pass (``_doc_features``):
    signature construction has no cross-row dependency, so the honest
    shape is a zero-shuffle Arrow map with exact integer bit math.
    (Two earlier expression shapes are retired: a 60-column
    ``sum(case)`` aggregate — correct but pays an |tokens|-row shuffle
    plus a 60-agg codegen compile — and explode-per-bit / array-fold
    variants, which measured slower still.)

    Consumers that reference the signatures in MORE THAN ONE subtree
    (the pair self-joins) read them from ``_doc_features_index``
    instead: the single-file scan spread across workers and lineage
    truncated, so the Python pass runs once instead of once per
    subtree — measured 2x on ``d_simhash_banded`` at sf0.1.
    """
    return _simhash_sig(_doc_features(spark, sf_dir))


def _simhash_sig(feats: DataFrame) -> DataFrame:
    """(doc_id, simhash) of the documents that have a signature."""
    return feats.where(F.col("simhash").isNotNull()).select("doc_id", "simhash")


D_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
),
hashed AS (
  SELECT doc_id, CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) AS x FROM tok
),
per_bit AS (
  SELECT doc_id, j,
         sum(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit GROUP BY doc_id
"""


# -------------------------------------------------------- d_simhash_pairs
def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance (popcount of XOR) <= 8.

    At scale the all-pairs comparison is replaced by bucketing on
    simhash chunks (same banding idea as LSH); the threshold query
    pins the hamming semantics.
    """
    sig = _simhash_sig(_doc_features_index(spark, sf_dir))
    # The `<` pair join is a broadcast nested-loop: parallelism comes
    # from the streamed side's partitioning, so spread it when the
    # source scan is few-split (a single-file parquet scan otherwise
    # streams in ~1 task; at scale the layout gate drops the Exchange).
    a = spread_scan(sig, spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha")
    )
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .where(F.col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------- d_simhash_banded
def d_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, banded — the 100 TB form of
    ``d_simhash_pairs`` with ZERO recall loss: the 60-bit signature is
    split into 9 disjoint chunks (8×7 + 1×4 bits); two signatures
    within hamming distance 8 differ in at most 8 chunks, so by
    pigeonhole they agree on at least one chunk — every true pair is a
    bucket-join candidate.  Work scales with chunk-bucket sizes, not
    |docs|²; the signatures ride the banded rows so verification needs
    no lookup joins.  Oracle: the all-pairs SQL — the result sets are
    provably identical, and the oracle check confirms it (83,686 pairs
    at sf0.1 on both paths).

    Each pair is emitted exactly once WITHOUT a distinct: a joined row
    survives only if its band is the pair's FIRST agreeing chunk
    (computable from ``xor = ha ^ hb`` alone — chunk i agrees iff its
    bits of the xor are zero), so the candidate dedup that used to be
    a full exchange + HashAggregate is now a narrow filter on the join
    output.  The only shuffles left are the two band-key exchanges
    feeding the equi-join — exactly the work that scales with
    Σ bucket², not |docs|².

    Measured at sf0.1 (the two fixes compound): 4.5s with the
    join+distinct form and a per-subtree single-task signature pass →
    ~1.1s with first-agreeing-chunk dedup + a materialized 32-way
    signature pass (``_doc_features_index``) — now
    FASTER than the all-pairs nested loop (~1.5s) even on this
    duplicate-dense corpus (~0.7% of ALL pairs within hamming 8),
    while keeping the O(Σ bucket²) scale shape.
    """
    sig = _simhash_sig(_doc_features_index(spark, sf_dir))
    chunk_specs = [(i, 7 * i, 127) for i in range(8)] + [(8, 56, 15)]
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(simhash >> {sh}) & {mask}").alias("chunk"),
            )
            for i, sh, mask in chunk_specs
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.explode(bands).alias("bc")
    ).select("doc_id", "simhash", "bc.band", "bc.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    first_agree = F.coalesce(
        *[
            F.when(xor.bitwiseAND(F.lit(mask << sh)) == 0, F.lit(i))
            for i, sh, mask in chunk_specs
        ]
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
            F.col("a.band").alias("band"),
        )
        .withColumn("hamming", F.bit_count(xor))
        .where((F.col("hamming") <= 8) & (F.col("band") == first_agree))
        .select("doc_a", "doc_b", "hamming")
    )


D_SIMHASH_PAIRS_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
),
hashed AS (
  SELECT doc_id, CAST('0x' || substring(md5(token), 1, 15) AS BIGINT) AS x FROM tok
),
per_bit AS (
  SELECT doc_id, j,
         sum(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS j)
  GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS simhash
  FROM per_bit GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


# ---------------------------------------------------------- s_cosine_topk
DIM = 64


_UNROLLED_CACHE: dict = {}


def _unrolled_sum(term, n: int, a: str, b: str):
    """``term(a[1], b[1]) + … + term(a[n], b[n])`` over two array
    columns as ONE flat Add chain: it stays inside whole-stage codegen
    (higher-order folds are interpreted and were the bottleneck on the
    all-pairs join), and it adds in the fold's order (``0.0 + x`` is
    exact), so it is FP-identical to the fold.

    Memoized per (term, n, a, b): Column objects are immutable
    unresolved expressions, so the hundreds of py4j round-trips an
    unrolled chain costs are paid once per process, not once per plan
    build (measured: the composed PQ-IVF query spent seconds
    re-building these trees on every invocation)."""
    key = (term, n, a, b)
    if key not in _UNROLLED_CACHE:
        out = term(F.element_at(a, 1), F.element_at(b, 1))
        for i in range(2, n + 1):
            out = out + term(F.element_at(a, i), F.element_at(b, i))
        _UNROLLED_CACHE[key] = out
    return _UNROLLED_CACHE[key]


def _dot_expr(a: str, b: str):
    """Unrolled 64-term dot product (``_unrolled_sum``)."""
    return _unrolled_sum(operator.mul, DIM, a, b)


def _cos_frames(spark, sf_dir):
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
    )
    return e.withColumn("norm", F.sqrt(_dot_expr("v", "v")))


# -- Arrow-vectorized embedding kernels --------------------------------------
# The embedding similarity ops are matrix-shaped: per candidate set, the
# work is |Q| x |C| 64-term dot products.  Codegen'd scalar Add-chains
# are the right call inside row pipelines, but for these kernels an
# Arrow-batched numpy path is both faster locally (one vectorized op
# per dimension instead of 64 scalar exprs per row) and the honest
# 100 TB design: the shuffle key is still the bucket / group, and the
# per-group kernel runs at C speed inside the Python worker.
#
# Exactness invariant (pinned by the DuckDB oracles): every dot/norm
# accumulates SEQUENTIALLY over dimension index j — ``acc += a[:,j] *
# b[:,j]`` — which is bit-identical to DuckDB's ``list_sum`` fold and
# to the unrolled Add chain in ``_dot_expr``.  ``np.round`` half-even
# vs java/DuckDB half-up differs only at exact .5e-6 boundaries, which
# cosine ratios of random floats never hit (verified row-for-row
# against the expression path at sf0.01 and sf0.1).


def _seq_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Row-wise dot with sequential (list_sum-order) accumulation."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def _np_norm_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
    V = np.stack(pdf["v"].values).astype(np.float64)
    norm = np.sqrt(_seq_dot(V, V))
    bucket = np.zeros(len(pdf), dtype=np.int64)
    for i, plane in enumerate(HYPERPLANES):
        P = np.broadcast_to(np.asarray(plane, dtype=np.float64), V.shape)
        bucket += (_seq_dot(V, P) > 0).astype(np.int64) << i
    out = pdf[["vec_id", "v"]].copy()
    out["norm"] = norm
    out["bucket"] = bucket
    return out


def _bucketed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, norm, bucket) in ONE Arrow pass (no 256-term codegen)."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf):
                yield _np_norm_bucket(pdf)

    return e.mapInPandas(assign, "vec_id long, v array<double>, norm double, bucket long")


_EMPTY_PAIRS = pd.DataFrame(
    {"ida": pd.Series(dtype="int64"), "idb": pd.Series(dtype="int64"),
     "sim": pd.Series(dtype="float64")}
)


# The brute-force ranker family's query cutoffs are all <= 50
# (s_cosine_topk 10, s_mrl_eval 10, s_hybrid_rrf 20, s_ann_recall 50).
_QVEC_MAX = 50

# Per-process memo (session_memo) of the collected query-vector
# matrix, keyed by (session, corpus) — the tri-substrate / pq-index
# discipline (VERDICT r19 item 2: the per-invocation control-plane
# collect job + its planning gap cost s_cosine_topk 0.31 s on a
# 0.84 s query; the matrix is <= 50 x 64 doubles and every timed rep
# still streams the FULL corpus through the sims kernel); never
# persisted across processes/runs.
_QVEC_CACHE: dict = {}


def _query_vectors(spark: SparkSession, sf_dir: str):
    """(qids, Q) for ``vec_id < _QVEC_MAX``, sorted by vec_id —
    collected at most once per (session, corpus) and sliced by each
    family member's own qmax.  Values are the same
    ``cast("double")`` vectors the JVM frame carries."""

    def build():
        rows = sorted(
            _emb(spark, sf_dir)
            .where(F.col("vec_id") < _QVEC_MAX)
            .select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            )
            .collect(),
            key=lambda r: r["vec_id"],
        )
        qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        Q = (
            np.array([list(r["v"]) for r in rows], dtype=np.float64)
            if rows
            else np.zeros((0, DIM), dtype=np.float64)
        )
        return (qids, Q)

    return session_memo(_QVEC_CACHE, spark, sf_dir, build)


def _brute_topk(spark: SparkSession, sf_dir: str, qmax: int, k: int) -> DataFrame:
    """Exact cosine top-k for query vectors ``vec_id < qmax`` —
    the parameterized core of ``s_cosine_topk`` (and the ground truth
    side of ``s_ann_recall``).

    r19 optimization (guide §4.1 "control how many columns cross the
    boundary" / §8 "decide with small rows"): the former shape
    crossJoined the broadcast query frame against the corpus JVM-side
    and shipped |Q|·|C| PAIRED rows — BOTH 64-double arrays per row —
    through Arrow (~2 GB at sf0.1; event-log: a 21.7 s-CPU kernel
    stage under s_hybrid_rrf).  The query side is control-plane
    (≤ qmax rows), so it is collected and the Q matrix folded into
    the kernel closure: the corpus crosses the boundary ONCE, and
    each batch computes sims against all queries.

    r20 (VERDICT r19 item 2): the collect is SHARED across the whole
    brute-force family via ``_query_vectors`` (one session-scoped
    job instead of one per invocation), and BOTH norms now come from
    ``np.sqrt(_seq_dot(·,·))`` inside the kernel — bit-identical to
    the JVM ``sqrt(_dot_expr(v, v))`` chain (sequential add order,
    see the kernel exactness note above) — so the corpus side no
    longer carries the 64-term norm expression tree through Catalyst
    analysis on every rep."""
    assert qmax <= _QVEC_MAX
    qids_all, Q_all = _query_vectors(spark, sf_dir)
    sel = qids_all < qmax
    qids, Q = qids_all[sel], Q_all[sel]
    if not len(qids):
        return spark.createDataFrame(
            [], "qid long, neighbor long, sim double, rank int"
        )
    qn = np.sqrt(_seq_dot(Q, Q))
    # The streamed corpus side carries the |Q|x|C| Arrow sims pass —
    # spread the few-split local scan so it isn't one task
    # (layout-gated: no Exchange when the scan is already wide).
    cand = spread_scan(
        _emb(spark, sf_dir).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ),
        spark, sf_dir, "embeddings",
    )

    def sims(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].values).astype(np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            norm = np.sqrt(_seq_dot(V, V))
            for i in range(len(qids)):
                Qi = np.broadcast_to(Q[i], V.shape)
                sim = np.round(_seq_dot(V, Qi) / (norm * qn[i]), 6)
                m = ids != qids[i]
                yield pd.DataFrame(
                    {"qid": qids[i], "neighbor": ids[m], "sim": sim[m]}
                )

    simdf = cand.mapInPandas(sims, "qid long, neighbor long, sim double")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        simdf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "neighbor", "sim", "rank")
    )


def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 10).

    Ranking key is (round(sim,6) DESC, vec_id ASC) in BOTH engines so
    set membership is ulp-stable.  This is the exact baseline; the
    banded/LSH variant is the scale path.

    Plan: the tiny query side is broadcast and cross-joined JVM-side;
    one ``mapInPandas`` computes all sims vectorized (sequential-order
    accumulation, see kernel note above); the top-k window runs on the
    small (|Q| x |C|) sim relation.  At scale the candidate side
    streams through executors; only the |Q| x 64 matrix is broadcast.
    """
    return _brute_topk(spark, sf_dir, 10, 5)


S_COSINE_TOPK_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e
),
sims AS (
  SELECT q.vec_id AS qid, c.vec_id AS neighbor,
         round(list_sum(list_transform(generate_series(1, 64),
                                       i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) AS sim
  FROM n q JOIN n c ON c.vec_id != q.vec_id
  WHERE q.vec_id < 10
)
SELECT qid, neighbor, sim, rank FROM (
  SELECT qid, neighbor, sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor ASC) AS INTEGER) AS rank
  FROM sims
)
WHERE rank <= 5
"""


# ---------------------------------------------------------- s_hybrid_rrf
HYBRID_QMAX = 20  # query docs/vectors (shared id space: vec_id == doc_id)
HYBRID_K = 10     # per-ranker candidate depth
RRF_K = 60        # the standard reciprocal-rank-fusion constant


def s_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: lexical + vector rankers fused by Reciprocal
    Rank Fusion (Cormack et al., SIGIR'09 — public) — the two-tower
    retrieval shape an LLM data/RAG pipeline serves, as one composed
    query over the synthetic corpus (``embeddings.vec_id`` is
    ``documents.doc_id``'s vector).

    - **Lexical ranker**: 3-gram shingle overlap via the inverted
      - index equi-join (work ∝ shared shingles, the ``d_jaccard``
      shape), ranked by rounded Jaccard, top-``HYBRID_K`` per query.
    - **Vector ranker**: exact cosine top-``HYBRID_K`` (the
      ``s_cosine_topk`` broadcast-query Arrow kernel; swap in the
      signature/IVF/PQ rung at scale — same (qid, cand, rank)
      contract).
    - **Fusion**: score = Σ_rankers floor(10^12 / (RRF_K + rank)) —
      the RRF formula held INTEGER-EXACT (``div``/``//``), so fused
      ordering is bit-stable cross-engine; top-3 by (rrf DESC, cand
      ASC).

    Scale shape: both rankers are already 100 TB layouts (postings
    join; broadcast-query scan with an index rung swap); the fusion
    adds one (qid, cand)-keyed partial aggregate over ≤ 2·|Q|·K rows
    and a |Q|-partitioned top-3 window — negligible at any corpus
    size.
    """
    feats = _doc_features_index(spark, sf_dir).where(
        F.col("n_sh") > 0
    )
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    q = sh.where(F.col("doc_id") < HYBRID_QMAX).select(
        F.col("doc_id").alias("qid"), F.col("n_sh").alias("qn"), "sh"
    )
    shared = (
        q.join(sh, "sh")
        .where(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(
            F.count("*").alias("shared"),
            F.min("qn").alias("na"),
            F.min("n_sh").alias("nb"),
        )
    )
    wl = Window.partitionBy("qid").orderBy(
        F.desc("jaccard"), F.asc("doc_id")
    )
    lex = (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(wl))
        .where(F.col("rank") <= HYBRID_K)
        .select("qid", F.col("doc_id").alias("cand"), "rank")
    )
    vec = _brute_topk(spark, sf_dir, HYBRID_QMAX, HYBRID_K).select(
        "qid", F.col("neighbor").alias("cand"), "rank"
    )
    contrib = lex.unionByName(vec).select(
        "qid",
        "cand",
        F.expr(f"1000000000000 div ({RRF_K} + rank)").alias("c"),
    )
    fused = contrib.groupBy("qid", "cand").agg(F.sum("c").alias("rrf"))
    wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.asc("cand"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= 3)
        .select("qid", "cand", "rrf", "rank")
    )


S_HYBRID_RRF_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY 1),
lexshared AS (
  SELECT q.doc_id AS qid, c.doc_id AS cand, count(*) AS shared
  FROM shingle q JOIN shingle c ON q.sh = c.sh AND c.doc_id != q.doc_id
  WHERE q.doc_id < {HYBRID_QMAX}
  GROUP BY 1, 2
),
lex AS (
  SELECT qid, cand, rank FROM (
    SELECT ls.qid, ls.cand,
           row_number() OVER (
             PARTITION BY ls.qid
             ORDER BY round(CAST(ls.shared AS DOUBLE)
                            / (sq.n_sh + sc.n_sh - ls.shared), 6) DESC,
                      ls.cand ASC) AS rank
    FROM lexshared ls
    JOIN sizes sq ON sq.doc_id = ls.qid
    JOIN sizes sc ON sc.doc_id = ls.cand
  ) WHERE rank <= {HYBRID_K}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e
),
vec AS (
  SELECT qid, cand, rank FROM (
    SELECT q.vec_id AS qid, c.vec_id AS cand,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                              i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6)
                        DESC,
                      c.vec_id ASC) AS rank
    FROM n q JOIN n c ON c.vec_id != q.vec_id
    WHERE q.vec_id < {HYBRID_QMAX}
  ) WHERE rank <= {HYBRID_K}
),
contrib AS (
  SELECT qid, cand, 1000000000000 // ({RRF_K} + rank) AS c FROM lex
  UNION ALL
  SELECT qid, cand, 1000000000000 // ({RRF_K} + rank) AS c FROM vec
),
fused AS (
  SELECT qid, cand, CAST(sum(c) AS BIGINT) AS rrf FROM contrib GROUP BY 1, 2
)
SELECT qid, cand, rrf, CAST(rank AS INTEGER) AS rank FROM (
  SELECT qid, cand, rrf,
         row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, cand ASC)
           AS rank
  FROM fused
) WHERE rank <= 3
"""


# ------------------------------------------------------ s_cosine_nearpairs
def s_cosine_nearpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= 0.35 (all-pairs exact)."""
    e = _cos_frames(spark, sf_dir)
    # All-pairs layouts measured at sf0.1 (2000 vecs, 2M pairs):
    # interpreted fold 42s → unrolled element_at chain 15s; widening to
    # 64 scalar columns per side blew past the codegen method limit and
    # regressed 10x — arrays + flat Add chain is the sweet spot.  This
    # exact quadratic op is the correctness baseline; s_cosine_ann is
    # the scale path.  Non-equi pair join = nested loop; the
    # layout-gated spread gives the streamed side its parallelism on
    # few-split local scans only.
    a = spread_scan(e, spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("ida"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = e.select(F.col("vec_id").alias("idb"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = _dot_expr("va", "vb")
    return (
        a.join(b, F.col("ida") < F.col("idb"))
        .withColumn("sim", F.round(dot / (F.col("na") * F.col("nb")), 6))
        .where(F.col("sim") >= 0.35)
        .select("ida", "idb", "sim")
    )


S_COSINE_PAIRS_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e
)
SELECT a.vec_id AS ida, b.vec_id AS idb,
       round(list_sum(list_transform(generate_series(1, 64),
                                     i -> a.v[i] * b.v[i])) / (a.norm * b.norm), 6) AS sim
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(generate_series(1, 64),
                                    i -> a.v[i] * b.v[i])) / (a.norm * b.norm), 6) >= 0.35
"""


# ------------------------------------------------------------ s_cosine_ann
# Random-hyperplane LSH: 4 seeded hyperplanes → 16 buckets; queries only
# scan their own bucket.  This is the IVF/LSH scale path of the
# brute-force s_cosine_topk baseline: at 100 TB the bucket id is the
# shuffle key and each query touches ~1/16 of the corpus.
N_PLANES = 4
_prng = random.Random(0xA11CE)
HYPERPLANES = [
    [round(_prng.gauss(0.0, 1.0), 8) for _ in range(64)] for _ in range(N_PLANES)
]


def _bucket_expr_spark():
    total = F.lit(0)
    for i, plane in enumerate(HYPERPLANES):
        terms = [F.element_at("v", j + 1) * F.lit(float(c)) for j, c in enumerate(plane)]
        dot = terms[0]
        for t in terms[1:]:
            dot = dot + t
        total = total + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return total


def _bucket_expr_sql():
    terms = []
    for i, plane in enumerate(HYPERPLANES):
        lit = "[" + ", ".join(repr(float(c)) for c in plane) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, 64), "
            f"i -> v[i] * ({lit}::DOUBLE[])[i])) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def s_cosine_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-3 neighbors for queries (vec_id < 50):
    candidates restricted to the query's hyperplane-sign bucket.

    Plan: one Arrow pass assigns (norm, bucket); ``applyInPandas`` per
    bucket computes the in-bucket query x candidate sim matrix
    vectorized; the top-3 window runs on the small sim relation.  The
    only shuffle key is the bucket id — work scales with bucket sizes,
    not |vectors|² (same asymptotics as the expression form this
    replaces, ~2x faster measured at sf0.1).
    """
    e = _bucketed_vectors(spark, sf_dir)

    def bucket_sims(pdf: "pd.DataFrame") -> "pd.DataFrame":
        qm = (pdf["vec_id"] < 50).to_numpy()
        if not len(pdf) or not qm.any():
            return _EMPTY_PAIRS.rename(columns={"ida": "qid", "idb": "neighbor"})
        V = np.stack(pdf["v"].values).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = pdf["norm"].to_numpy()
        qi, ci = np.nonzero(qm)[0], np.arange(len(pdf))
        qq, cc = np.repeat(qi, len(ci)), np.tile(ci, len(qi))
        keep = ids[qq] != ids[cc]
        qq, cc = qq[keep], cc[keep]
        sim = np.round(_seq_dot(V[qq], V[cc]) / (norms[qq] * norms[cc]), 6)
        return pd.DataFrame({"qid": ids[qq], "neighbor": ids[cc], "sim": sim})

    simdf = e.groupBy("bucket").applyInPandas(
        bucket_sims, "qid long, neighbor long, sim double"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        simdf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", "neighbor", "sim", "rank")
    )


def _s_cosine_ann_sql():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
         {_bucket_expr_sql()} AS bucket
  FROM e
),
sims AS (
  SELECT q.vec_id AS qid, c.vec_id AS neighbor,
         round(list_sum(list_transform(generate_series(1, 64),
                                       i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) AS sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
  WHERE q.vec_id < 50
)
SELECT qid, neighbor, sim, rank FROM (
  SELECT qid, neighbor, sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor ASC) AS INTEGER) AS rank
  FROM sims
)
WHERE rank <= 3
"""


# --------------------------------------------------- s_cosine_ann_mp
def s_cosine_ann_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: each query searches its own hyperplane-sign
    bucket plus every bucket at Hamming distance 1 (one flipped sign
    bit) — 5 probes over 16 buckets.  Near neighbors that straddle a
    single hyperplane (the dominant recall failure of
    ``s_cosine_ann``, measured recall@3 0.18) are recovered; work is
    bounded at ~5/16 of the corpus per query instead of all of it.

    Plan: the 50-query probe list (250 rows) broadcasts; candidates
    hash-join on bucket (buckets are disjoint, so (query, candidate)
    pairs are already unique — no dedup shuffle); one ``mapInPandas``
    computes sims vectorized; top-3 window on the small sim relation.
    """
    e = _bucketed_vectors(spark, sf_dir)
    q = e.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "qid",
        "qv",
        "qn",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(N_PLANES)],
            )
        ).alias("bucket"),
    )
    pairs = F.broadcast(probes).join(e, "bucket").where(
        F.col("vec_id") != F.col("qid")
    )

    def sims(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["qv"].values).astype(np.float64)
            B = np.stack(pdf["v"].values).astype(np.float64)
            sim = np.round(
                _seq_dot(A, B) / (pdf["qn"].to_numpy() * pdf["norm"].to_numpy()), 6
            )
            yield pd.DataFrame(
                {"qid": pdf["qid"], "neighbor": pdf["vec_id"], "sim": sim}
            )

    simdf = pairs.mapInPandas(sims, "qid long, neighbor long, sim double")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        simdf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", "neighbor", "sim", "rank")
    )


def _s_cosine_ann_mp_sql():
    probe_list = ", ".join(
        ["q.bucket"] + [f"xor(q.bucket, {1 << i})" for i in range(N_PLANES)]
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
         {_bucket_expr_sql()} AS bucket
  FROM e
),
probes AS (
  SELECT q.vec_id AS qid, q.v AS qv, q.norm AS qn,
         unnest([{probe_list}]) AS bucket
  FROM b q WHERE q.vec_id < 50
),
sims AS (
  SELECT p.qid, c.vec_id AS neighbor,
         round(list_sum(list_transform(generate_series(1, 64),
                                       i -> p.qv[i] * c.v[i])) / (p.qn * c.norm), 6) AS sim
  FROM probes p JOIN b c ON c.bucket = p.bucket AND c.vec_id != p.qid
)
SELECT qid, neighbor, sim, rank FROM (
  SELECT qid, neighbor, sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor ASC) AS INTEGER) AS rank
  FROM sims
)
WHERE rank <= 3
"""


# ----------------------------------------------------------- s_ann_recall
def _recall_vs_exact(spark: SparkSession, sf_dir: str, ann: DataFrame) -> DataFrame:
    """recall@3 of an ANN result against the exact brute-force top-3
    for the same 50 queries.  Both sides use the identical
    (round(sim,6) DESC, vec_id ASC) ranking key, so set membership is
    ulp-stable and the hit counts are exact integers; per-query recall
    is floor-truncated at 6 dp.
    """
    # The ground-truth and hit relations are <= |Q|·k rows — broadcast
    # them so no recall query ever sort-merges a 150-row side.
    exact = _brute_topk(spark, sf_dir, 50, 3).select("qid", "neighbor")
    hits = (
        ann.select("qid", "neighbor")
        .join(F.broadcast(exact), ["qid", "neighbor"])
        .groupBy("qid")
        .agg(F.count("*").alias("hits"))
    )
    qids = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") < 50)
        .select(F.col("vec_id").alias("qid"))
        .distinct()
    )
    h = F.coalesce(F.col("hits"), F.lit(0))
    return qids.join(F.broadcast(hits), "qid", "left").select(
        "qid",
        h.cast("long").alias("hits"),
        (F.floor(h * 1_000_000 / 3) / F.lit(1_000_000.0)).alias("recall3"),
    )


def s_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the single-probe ANN (``s_cosine_ann``) — the
    measurement that quantifies the approximate path's quality/cost
    trade (see ``_recall_vs_exact``)."""
    return _recall_vs_exact(spark, sf_dir, s_cosine_ann(spark, sf_dir))


def s_ann_mp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the multi-probe ANN (``s_cosine_ann_mp``) — the
    same measurement over the 5-probe candidate generator."""
    return _recall_vs_exact(spark, sf_dir, s_cosine_ann_mp(spark, sf_dir))


def _s_ann_recall_sql():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
         {_bucket_expr_sql()} AS bucket
  FROM e
),
exact AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                                                    i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM b q JOIN b c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
ann AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                                                    i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
hits AS (
  SELECT a.qid, count(*) AS hits
  FROM ann a JOIN exact e ON a.qid = e.qid AND a.neighbor = e.neighbor
  GROUP BY a.qid
)
SELECT q.qid,
       coalesce(h.hits, 0) AS hits,
       floor(coalesce(h.hits, 0) * 1000000 / 3.0) / 1000000.0 AS recall3
FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 50) q
LEFT JOIN hits h ON h.qid = q.qid
"""


def _s_ann_mp_recall_sql():
    probe_list = ", ".join(
        ["q.bucket"] + [f"xor(q.bucket, {1 << i})" for i in range(N_PLANES)]
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
         {_bucket_expr_sql()} AS bucket
  FROM e
),
exact AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                                                    i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM b q JOIN b c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
probes AS (
  SELECT q.vec_id AS qid, q.v AS qv, q.norm AS qn,
         unnest([{probe_list}]) AS bucket
  FROM b q WHERE q.vec_id < 50
),
ann AS (
  SELECT qid, neighbor FROM (
    SELECT p.qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY p.qid
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                                                    i -> p.qv[i] * c.v[i])) / (p.qn * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM probes p JOIN b c ON c.bucket = p.bucket AND c.vec_id != p.qid
  ) WHERE rank <= 3
),
hits AS (
  SELECT a.qid, count(*) AS hits
  FROM ann a JOIN exact e ON a.qid = e.qid AND a.neighbor = e.neighbor
  GROUP BY a.qid
)
SELECT q.qid,
       coalesce(h.hits, 0) AS hits,
       floor(coalesce(h.hits, 0) * 1000000 / 3.0) / 1000000.0 AS recall3
FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 50) q
LEFT JOIN hits h ON h.qid = q.qid
"""


# ------------------------------------------------------------ s_cosine_sig
# Two-stage wide-signature ANN — the production-recall scale path.
#
# Measured negative result that motivates this design (sf0.1, 2000
# vectors, 10 labeled "clusters"): the embeddings are ~uniform random
# on S^63 — top-3 neighbors share the query's label at chance (8.7%),
# neighbor cosines are only ~0.39 (angle ≈ 67°).  For such data every
# bucket-partition scheme is information-free: seeded spherical
# k-means IVF measures recall ≈ candidate-fraction (K=16: nprobe=4 →
# 0.58 recall at 25% of corpus; 0.9 recall needs ~75%), and
# hyperplane LSH is the same trade (4 planes: 0.18@1/16, Hamming-1
# multi-probe 0.49@5/16).  No coarse quantizer beats a linear ramp on
# isotropic data — that's the curse of dimensionality, not a tuning
# miss.
#
# What DOES separate neighbors from bulk is a *wide* signature:
# 240 sign-bits give E[hamming]/240 = θ/π ≈ 0.373 for neighbors vs
# 0.50 for the bulk, ~4σ apart at 240 bits.  So: stage 1 scans ONLY
# the 4×long signature index (32 B/vec vs 512 B/vec for the raw
# vectors — a 16× column-pruned scan, the FAISS/ScaNN "flat code
# scan" pattern) and keeps candidates with hamming <= SIG_HAM_MAX; stage 2
# fetches raw vectors for the ~14% survivors and reranks exactly.
# Measured recall@3: 0.933 @ sf0.01 (~14% candidates), 0.980 @ sf0.1
# (10.6%) — vs the 0.9 gate.  At 100 TB the signature table is a
# precomputed ~2 TB index; queries broadcast and the scan
# parallelizes with zero shuffle (the only shuffle is the final
# per-query top-k, keyed by qid).
N_SIG_PLANES = 240
SIG_WORD_BITS = 60  # like SIMHASH_BITS: words stay positive in int64
SIG_WORDS = 4
# 106 keeps a ~5-hit margin over the 0.9 recall@3 gate (measured:
# 0.933 @ sf0.001 and sf0.01, was 0.907 one hit over at 104) at ~14%
# candidate fraction — still ~30% headroom under the 0.2 fraction cap.
SIG_HAM_MAX = 106
_sig_rng = random.Random(0x51677)
SIG_PLANES = [
    [round(_sig_rng.gauss(0.0, 1.0), 8) for _ in range(DIM)]
    for _ in range(N_SIG_PLANES)
]


def _sig_words_frame(spark: SparkSession, sf_dir: str, qmax: int = 0) -> DataFrame:
    """(vec_id, w0..w3) — the 240-bit signature packed into 4 longs of
    60 bits each, computed in one Arrow pass with sequential
    (list_sum-order) dot accumulation so every sign bit is
    bit-identical to the DuckDB oracle's ``list_sum > 0``.

    ``qmax`` > 0 restricts to query vectors BEFORE the pandas stage
    (Catalyst can't push a filter through mapInPandas).

    The corpus side spreads the single-file scan across workers before
    the 240-plane Arrow pass — it is the dominant cost of the
    signature build and otherwise runs in ONE task locally (measured
    ~2x on ``s_cosine_sig`` end-to-end).  The spread is layout-gated
    (r20): when the source already arrives in >= cores splits the
    Exchange is absent from the plan (the production pipeline
    persists this signature index anyway).
    """
    e = _emb(spark, sf_dir)
    if qmax:
        e = e.where(F.col("vec_id") < qmax)
    else:
        e = spread_scan(e, spark, sf_dir, "embeddings")
    e = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    # (DIM, N_SIG_PLANES): all 240 plane dots accumulate together —
    # one numpy op per DIMENSION instead of one per (plane, dimension),
    # ~240x fewer interpreter round-trips.  The per-(row, plane)
    # accumulation order over j is unchanged, so every sign bit stays
    # bit-identical to the oracle's ``list_sum > 0``.
    PT = np.asarray(SIG_PLANES, dtype=np.float64).T
    shifts = np.arange(N_SIG_PLANES, dtype=np.int64) % SIG_WORD_BITS

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].values).astype(np.float64)
            acc = np.zeros((len(pdf), N_SIG_PLANES), dtype=np.float64)
            for j in range(V.shape[1]):
                acc += V[:, j : j + 1] * PT[j][None, :]
            bits = (acc > 0).astype(np.int64) << shifts[None, :]
            out = pdf[["vec_id"]].copy()
            for w in range(SIG_WORDS):
                out[f"w{w}"] = np.bitwise_or.reduce(
                    bits[:, w * SIG_WORD_BITS : (w + 1) * SIG_WORD_BITS], axis=1
                )
            yield out

    return e.mapInPandas(
        assign, "vec_id long, " + ", ".join(f"w{w} long" for w in range(SIG_WORDS))
    )


def sig_candidates(spark: SparkSession, sf_dir: str, qmax: int = 50) -> DataFrame:
    """Stage-1 candidate generation for the signature ANN: (qid,
    vec_id) pairs whose 240-bit signatures differ in <= SIG_HAM_MAX
    positions.  The ``qmax`` query signatures broadcast onto the
    skinny corpus signature scan; the hamming gate is pure JVM
    codegen (``bit_count(xor)`` over 4 word pairs).

    Shared by ``s_cosine_sig`` and the candidate-fraction test so the
    test always measures the production pipeline.
    """
    sig = _sig_words_frame(spark, sf_dir)
    qsig = _sig_words_frame(spark, sf_dir, qmax=qmax).select(
        F.col("vec_id").alias("qid"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(SIG_WORDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"qw{w}").bitwiseXOR(F.col(f"w{w}")))
        for w in range(SIG_WORDS)
    )
    return (
        F.broadcast(qsig)
        .crossJoin(sig)
        .where((ham <= SIG_HAM_MAX) & (F.col("vec_id") != F.col("qid")))
        .select("qid", "vec_id")
    )


def s_cosine_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-prefiltered exact top-3 (see design block above):
    hamming(sig_q, sig_c) <= SIG_HAM_MAX over 240 bits gates the
    candidate set; survivors are reranked with the exact rounded
    cosine.

    Plan: stage 1 is ``sig_candidates`` (broadcast queries over the
    signature scan, zero shuffle).  Stage 2 joins the surviving
    (qid, vec_id) pairs back to the raw vectors.  At test scale the
    vector table fits ``autoBroadcastJoinThreshold`` so Catalyst
    picks BroadcastHashJoin; at 100 TB it will not, and the same
    plan resolves to a hash join shuffling only the ~14% surviving
    pairs and the raw vectors on vec_id — that shuffle is expected
    and sized by the candidate fraction, not the corpus.  The final
    per-query top-k shuffles on qid (50 rows out).
    """
    cand = sig_candidates(spark, sf_dir)
    vecs = _cos_frames(spark, sf_dir).select("vec_id", "v", "norm")
    qvecs = _cos_frames(spark, sf_dir).where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    pairs = cand.join(vecs, "vec_id").join(F.broadcast(qvecs), "qid")
    sims = pairs.withColumn(
        "sim", F.round(_dot_expr("qv", "v") / (F.col("qn") * F.col("norm")), 6)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor"), "sim", "rank")
    )


def _sig_planes_values_sql() -> str:
    rows = []
    for p, plane in enumerate(SIG_PLANES):
        lit = "[" + ", ".join(repr(float(c)) for c in plane) + "]"
        rows.append(f"({p}, {lit}::DOUBLE[])")
    return ",\n  ".join(rows)


def _sig_cand_ctes() -> str:
    """Shared CTE block: planes → sign bits → hamming → candidates."""
    return f"""planes AS (
  SELECT * FROM (VALUES
  {_sig_planes_values_sql()}
  ) AS t(pi, pv)
),
bits AS (
  SELECT vec_id, pi,
         (list_sum(list_transform(generate_series(1, 64), i -> v[i] * pv[i])) > 0) AS bit
  FROM n CROSS JOIN planes
),
ham AS (
  SELECT q.vec_id AS qid, c.vec_id AS neighbor,
         sum(CASE WHEN q.bit != c.bit THEN 1 ELSE 0 END) AS ham
  FROM (SELECT * FROM bits WHERE vec_id < 50) q
  JOIN bits c ON c.pi = q.pi AND c.vec_id != q.vec_id
  GROUP BY 1, 2
),
cand AS (SELECT qid, neighbor FROM ham WHERE ham <= {SIG_HAM_MAX})"""


def _s_cosine_sig_sql():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e
),
{_sig_cand_ctes()},
sims AS (
  SELECT cand.qid, cand.neighbor,
         round(list_sum(list_transform(generate_series(1, 64),
                                       i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) AS sim
  FROM cand
  JOIN n q ON q.vec_id = cand.qid
  JOIN n c ON c.vec_id = cand.neighbor
)
SELECT qid, neighbor, sim, rank FROM (
  SELECT qid, neighbor, sim,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, neighbor ASC) AS INTEGER) AS rank
  FROM sims
)
WHERE rank <= 3
"""


def s_sig_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the signature-prefiltered ANN (``s_cosine_sig``)
    against the exact top-3 — the gate measurement for the scale
    path.  Measured: 0.933 mean @ sf0.01 (SIG_HAM_MAX=106), 0.980 @ sf0.1."""
    return _recall_vs_exact(spark, sf_dir, s_cosine_sig(spark, sf_dir))


def _s_sig_recall_sql():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e
),
{_sig_cand_ctes()},
exact AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                                                    i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM n q JOIN n c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
ann AS (
  SELECT qid, neighbor FROM (
    SELECT cand.qid, cand.neighbor,
           row_number() OVER (
             PARTITION BY cand.qid
             ORDER BY round(list_sum(list_transform(generate_series(1, 64),
                                                    i -> q.v[i] * c.v[i])) / (q.norm * c.norm), 6) DESC,
                      cand.neighbor ASC
           ) AS rank
    FROM cand
    JOIN n q ON q.vec_id = cand.qid
    JOIN n c ON c.vec_id = cand.neighbor
  ) WHERE rank <= 3
),
hits AS (
  SELECT a.qid, count(*) AS hits
  FROM ann a JOIN exact e ON a.qid = e.qid AND a.neighbor = e.neighbor
  GROUP BY a.qid
)
SELECT q.qid,
       coalesce(h.hits, 0) AS hits,
       floor(coalesce(h.hits, 0) * 1000000 / 3.0) / 1000000.0 AS recall3
FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 50) q
LEFT JOIN hits h ON h.qid = q.qid
"""


# --------------------------------------------------------- s_vector_stats
def s_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics via higher-order array functions —
    ``filter`` (positive-component count), ``transform`` + left-fold
    ``aggregate`` (L1/L2 norms), ``array_max``/``array_position``
    (dominant component).  Pure narrow map, zero shuffles.

    Parity: the L1/L2 folds are seeded with element 1 and fold left —
    textually the same op sequence as DuckDB's ``list_reduce`` — so
    the doubles are bit-equal unrounded; counts and positions are
    exact integers.
    """
    e = _emb(spark, sf_dir).where(F.col("vec_id") < 100).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    absv = F.transform("v", lambda x: F.abs(x))
    sqv = F.transform("v", lambda x: x * x)

    def fold(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, x: a + x,
        )

    return e.select(
        "vec_id",
        "label",
        F.size(F.filter("v", lambda x: x > 0)).alias("n_pos"),
        fold(absv).alias("l1"),
        F.sqrt(fold(sqv)).alias("l2"),
        F.array_position(absv, F.array_max(absv)).alias("max_idx"),
    )


S_VECTOR_STATS_SQL = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 100
)
SELECT vec_id, label,
       CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
       list_reduce(list_transform(v, x -> abs(x)), (a, x) -> a + x) AS l1,
       sqrt(list_reduce(list_transform(v, x -> x * x), (a, x) -> a + x)) AS l2,
       CAST(list_position(list_transform(v, x -> abs(x)),
                          list_max(list_transform(v, x -> abs(x)))) AS BIGINT) AS max_idx
FROM e
"""


# ------------------------------------------------------ d_embed_neardup_lsh
def d_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-bucketed (the scale form of
    ``s_cosine_nearpairs``): only pairs sharing a hyperplane-sign bucket
    are compared, so the join key is the bucket and work scales with
    bucket sizes, not |vectors|².  Recall note: cos >= 0.35 pairs can
    straddle a hyperplane — this is the documented approximation
    trade-off of the banded path (the exact op remains the baseline).
    """
    e = _bucketed_vectors(spark, sf_dir)

    def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return _EMPTY_PAIRS
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.stack(pdf["v"].values).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = pdf["norm"].to_numpy()
        iu, ju = np.triu_indices(n, k=1)
        sim = np.round(_seq_dot(V[iu], V[ju]) / (norms[iu] * norms[ju]), 6)
        m = sim >= 0.35
        return pd.DataFrame({"ida": ids[iu][m], "idb": ids[ju][m], "sim": sim[m]})

    return e.groupBy("bucket").applyInPandas(bucket_pairs, "ida long, idb long, sim double")


def _d_embed_neardup_lsh_sql():
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
b AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
         {_bucket_expr_sql()} AS bucket
  FROM e
)
SELECT a.vec_id AS ida, c.vec_id AS idb,
       round(list_sum(list_transform(generate_series(1, 64),
                                     i -> a.v[i] * c.v[i])) / (a.norm * c.norm), 6) AS sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_sum(list_transform(generate_series(1, 64),
                                    i -> a.v[i] * c.v[i])) / (a.norm * c.norm), 6) >= 0.35
"""


# ------------------------------------------------------------ s_cosine_ivf
IVF_K = 8  # coarse cells
IVF_Q = 1_000_000  # centroid quantization scale (see determinism note)


def _ivf_assign(vectors: DataFrame, cent_rows,
                out=("vec_id", "v", "norm")) -> DataFrame:
    """Nearest-centroid (max rounded cosine, ties → lowest cell id)
    assignment as ONE narrow Arrow kernel.  ``cent_rows``: the
    COLLECTED centroid table (control-plane by construction of the
    coarse quantizer — K=8 rows, the same pattern ``pq_route_frame``
    uses), folded into the kernel closure.

    Exactness: per centroid the dot accumulates SEQUENTIALLY over the
    dimension index (``_seq_dot`` — bit-identical to the unrolled
    ``_dot_expr`` Add chain and DuckDB's list_sum fold); division and
    6-decimal round as everywhere else (np.round half-even vs HALF_UP
    is the module's verified non-event, see the invariant above
    ``_seq_dot``); ``np.argmax`` returns the FIRST max, which over
    cid-ascending columns reproduces ``max_by`` over (sim, -cid).

    Shape history (r19 optimization round): the original form
    (explode ×K through a broadcast join + a ``max_by`` groupBy)
    re-shuffled every vector's 64-double array K times; the first
    rewrite unrolled the collected centroids into 8×64-term literal
    codegen projections — zero Exchange, but Catalyst spent ~1.5 s
    PER INVOCATION analyzing the 512-term trees (event-log: 62% of
    s_semantic_dedup's wall was between jobs).  The kernel keeps the
    zero-Exchange narrow-map shape with an O(1)-size plan; the Python
    boundary ships only (out ∪ {v, norm}) columns (guide §4.1)."""
    rows = sorted(cent_rows, key=lambda r: r["cid"])
    if not rows:
        # an empty centroid table (e.g. a train_where that filters out
        # every row) would otherwise give sims zero width and
        # np.argmax a ValueError in the executor (ADVICE r19) — the
        # assignment of anything to zero cells is the empty frame,
        # mirroring _ivf_cells' seed_rows guard
        return vectors.select(*out).where(F.lit(False)).withColumn(
            "cell", F.lit(None).cast("long")
        )
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    cn = np.array([r["cnorm"] for r in rows], dtype=np.float64)
    need = list(out) + [c for c in ("v", "norm") if c not in out]
    types = {f.name: f.dataType.simpleString() for f in vectors.schema.fields}
    schema = ", ".join(f"{c} {types[c]}" for c in out) + ", cell long"
    out_cols = list(out)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].values).astype(np.float64)
            norm = pdf["norm"].to_numpy(dtype=np.float64)
            sims = np.empty((len(pdf), len(cids)), dtype=np.float64)
            for k in range(len(cids)):
                Ck = np.broadcast_to(C[k], V.shape)
                sims[:, k] = np.round(_seq_dot(V, Ck) / (norm * cn[k]), 6)
            res = pdf[out_cols].copy()
            res["cell"] = cids[np.argmax(sims, axis=1)]
            yield res

    return vectors.select(*need).mapInPandas(assign, schema)


_CENTS_SCHEMA = "cid long, cv array<double>, cnorm double"


def _ivf_cells(spark: SparkSession, sf_dir: str, train_where=None):
    """Shared IVF coarse-quantizer pipeline: seeded centroids (the 8
    lowest vec_ids), ONE exact quantized-integer Lloyd step, final
    assignment.  Returns ``(cells, cents)`` where ``cells`` =
    (vec_id, v, norm, cell) and ``cents`` = (cid, cv, cnorm).
    Determinism contract documented on ``s_cosine_ivf``.

    Both assignment passes run as narrow Arrow kernels (see
    ``_ivf_assign``): the K-row seed/centroid tables are collected
    (two control-plane jobs) and folded into the kernel, which removes
    the two vec_id re-aggregation Exchanges that previously carried
    every vector's array ×K through the shuffle.  ``cents`` is
    returned as a LOCAL relation, so consumers that reuse it
    (routing, the PQ index build) never re-derive the Lloyd lineage.

    ``train_where``: optional Column predicate restricting the Lloyd
    TRAINING pass (seeds stay the 8 lowest vec_ids, which any base
    split must contain); the final assignment always covers the whole
    corpus — the frozen-quantizer shape ``s_pq_search_upserted``
    serves from."""
    # (r19 optimization, tried and REJECTED: a cores-derived
    # repartition here — to spread the norm chain + kernels off the
    # single-row-group scan task — measured s_semantic_dedup
    # 2.6 → 3.4 s and s_cosine_ivf 1.8 → 2.5 s median: the full-corpus
    # round-robin exchange of the 64-double arrays, plus its
    # sort-before-repartition, costs more than the 0.2-0.9 s of
    # single-task stages it parallelizes.  At real scale the scan
    # arrives in many splits and no spread is needed anyway.)
    e = _cos_frames(spark, sf_dir).select("vec_id", "v", "norm")
    seed_rows = (
        e.where(F.col("vec_id") < IVF_K)
        .select(
            F.col("vec_id").cast("long").alias("cid"),
            F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"),
        )
        .collect()
    )
    if not seed_rows:
        return (
            e.where(F.lit(False)).withColumn("cell", F.lit(None).cast("long")),
            spark.createDataFrame([], _CENTS_SCHEMA),
        )
    train = e.where(train_where) if train_where is not None else e
    assign0 = _ivf_assign(train, seed_rows)

    # One Lloyd step in exact quantized-integer arithmetic.
    comp = (
        assign0.select(
            "cell", F.posexplode(F.transform("v", lambda x: F.floor(x * IVF_Q)))
        )
        .groupBy("cell", "pos")
        .agg(
            F.floor(F.sum("col").cast("double") / F.count("col")).alias("c")
        )
    )
    cent_rows = (
        comp.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.c / F.lit(float(IVF_Q)),
            ).alias("cv")
        )
        .select(
            F.col("cell").alias("cid"),
            "cv",
            F.sqrt(_dot_expr("cv", "cv")).alias("cnorm"),
        )
        .collect()
    )
    cents = spark.createDataFrame(cent_rows, _CENTS_SCHEMA)
    return _ivf_assign(e, cent_rows), cents


def s_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-3 neighbors: coarse quantization via k-means centroids,
    search restricted to the query's cell — the learned-centroid
    counterpart of the random-hyperplane ``s_cosine_ann``.

    The k-means is deterministically seeded and exactly reproducible
    cross-engine, which is what makes a DuckDB oracle possible (this
    was the registry's last oracle-expressible rows-only entry through
    round 4): initial centroids = the vectors of the 8 lowest vec_ids;
    ONE Lloyd step whose means are computed in quantized-integer
    arithmetic — components are floored to 1e-6 units (exact BIGINT
    sums, order-independent in both engines), the per-cell mean is
    ``floor(sum/count)`` back in 1e-6 units, and the resulting
    centroid doubles are therefore bit-identical in Spark and DuckDB.
    Assignment uses the same unrolled/fold dot product as every other
    embedding op (see the exactness invariant above ``_seq_dot``),
    rounded to 6 dp with ties broken by cell id.

    Scale: the Lloyd step is a posexplode → (cell, dim) partial-agg
    (map-side combine, 64·K result rows); centroids broadcast; the
    search joins on the cell id — work ∝ cell sizes, not |vectors|²,
    same asymptotics as the LSH path with better balance on clustered
    data.
    """
    # cells feeds BOTH join sides (queries and corpus); materialize the
    # assignment once so the Arrow assignment kernel (see _ivf_assign)
    # runs a single pass instead of once per join side.
    cells = materialize(_ivf_cells(spark, sf_dir)[0], "s_cosine_ivf:cells")

    q = cells.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"), F.col("cell").alias("qcell"),
    )
    dot = _dot_expr("qv", "v")
    # Broadcast the query side: the cell id has only K=8 distinct
    # values, so shuffling the corpus on it would funnel everything
    # through 8 reducers.  With |Q| broadcast, the corpus never moves.
    sims = F.broadcast(q).join(
        cells, (F.col("qcell") == F.col("cell")) & (F.col("vec_id") != F.col("qid"))
    ).withColumn("sim", F.round(dot / (F.col("qn") * F.col("norm")), 6))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor"), "sim", "rank")
    )


def _s_cosine_ivf_sql():
    dot = (
        "list_sum(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]))"
    )
    va = dot.format(a="n.v", b="s.cv")
    vb = dot.format(a="n.v", b="s2.cv")
    qc = dot.format(a="q.qv", b="c.v")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt({dot.format(a="v", b="v")}) AS norm
  FROM e
),
seeds AS (
  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM n WHERE vec_id < {IVF_K}
),
a0 AS (
  SELECT n.vec_id, n.v, n.norm, s.cid,
         round({va} / (n.norm * s.cnorm), 6) AS sim
  FROM n, seeds s
),
cell0 AS (
  SELECT vec_id, v, norm, cid AS cell FROM a0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) = 1
),
comp AS (
  SELECT cell, g.i,
         CAST(floor(CAST(sum(CAST(floor(v[g.i] * {IVF_Q}) AS BIGINT)) AS DOUBLE)
                    / count(*)) AS BIGINT) AS c
  FROM cell0, generate_series(1, 64) AS g(i)
  GROUP BY cell, g.i
),
cents AS (
  SELECT cell AS cid,
         list_transform(array_agg(c ORDER BY i), x -> CAST(x AS DOUBLE) / {IVF_Q}.0) AS cv
  FROM comp GROUP BY cell
),
cents2 AS (
  SELECT cid, cv, sqrt({dot.format(a="cv", b="cv")}) AS cnorm FROM cents
),
a1 AS (
  SELECT n.vec_id, n.v, n.norm, s2.cid,
         round({vb} / (n.norm * s2.cnorm), 6) AS sim
  FROM n, cents2 s2
),
cells AS (
  SELECT vec_id, v, norm, cid AS cell FROM a1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) = 1
),
q AS (
  SELECT vec_id AS qid, v AS qv, norm AS qn, cell AS qcell
  FROM cells WHERE vec_id < 20
)
SELECT qid, c.vec_id AS neighbor,
       round({qc} / (q.qn * c.norm), 6) AS sim,
       CAST(row_number() OVER (
         PARTITION BY qid
         ORDER BY round({qc} / (q.qn * c.norm), 6) DESC, c.vec_id ASC
       ) AS INTEGER) AS rank
FROM q JOIN cells c ON q.qcell = c.cell AND c.vec_id != q.qid
QUALIFY rank <= 3
"""


# ---------------------------------------------------------- t_token_stats
def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document, aggregated per (lang, source)."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    per_doc = d.select(
        "lang",
        "source",
        F.size("tokens").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
    )
    agged = per_doc.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars_m").alias("total_chars"),
        F.max("n_tokens").alias("max_tokens"),
    )
    n = F.col("n_docs")
    # integer-exact averages (see whisper_queries._avg6 rationale)
    return agged.select(
        "lang", "source", "n_docs", "total_tokens",
        (F.floor(F.col("total_tokens").cast("double") * 1_000_000 / n) / 1_000_000.0).alias("avg_tokens"),
        (F.floor(F.col("total_chars").cast("double") * 1_000_000 / n) / 1_000_000.0).alias("avg_chars"),
        "max_tokens",
    )


T_TOKEN_STATS_SQL = f"""
WITH per_doc AS (
  SELECT lang, source,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_m
  FROM documents
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       floor(CAST(sum(n_tokens) AS DOUBLE) * 1000000 / count(*)) / 1000000.0 AS avg_tokens,
       floor(CAST(sum(n_chars_m) AS DOUBLE) * 1000000 / count(*)) / 1000000.0 AS avg_chars,
       max(n_tokens) AS max_tokens
FROM per_doc GROUP BY lang, source
"""


# ------------------------------------------------------------ t_lang_id
def _langs_sorted():
    return sorted({lang for _, lang in LANG_LEXICON})


def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language ID: per doc, count lexicon hits per
    language; prediction = max hits, ties broken alphabetically, zero
    hits → 'unknown'.

    Implemented as a narrow per-row map — ``size(filter(tokens, ...))``
    per language — with NO explode/join/shuffle: at 100 TB this runs
    entirely inside whole-stage codegen over the scan.  (The first cut
    exploded 60 tokens/doc and broadcast-joined a lexicon: correct, but
    a shuffle of |tokens| rows for what a narrow map can do.)
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    langs = _langs_sorted()
    hit_cols = []
    for lang in langs:
        words = [w for w, l in LANG_LEXICON if l == lang]
        hit_cols.append(
            F.size(F.filter("tokens", lambda t: t.isin(words))).cast("long").alias(f"hits_{lang}")
        )
    d = d.select("doc_id", "lang", *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    predicted = F.lit("unknown")
    # alphabetically-first max: build the CASE from last lang to first
    for lang in reversed(langs):
        predicted = F.when(F.col(f"hits_{lang}") == best, F.lit(lang)).otherwise(predicted)
    predicted = F.when(best > 0, predicted).otherwise(F.lit("unknown"))
    return d.select(
        "doc_id", "lang", predicted.alias("predicted"), best.alias("hits")
    )


def _t_lang_id_sql():
    langs = _langs_sorted()
    hit_defs = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w, l in LANG_LEXICON if l == lang)
        hit_defs.append(
            f"CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({words}))) AS BIGINT) AS hits_{lang}"
        )
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    cases = "\n         ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH h AS (
  SELECT doc_id, lang, {", ".join(hit_defs)}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN {best} = 0 THEN 'unknown'
         {cases}
         ELSE 'unknown' END AS predicted,
       {best} AS hits
FROM h
"""


T_LANG_ID_SQL = _t_lang_id_sql()


# ------------------------------------------------------ t_lang_confusion
def t_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval confusion matrix for the language-ID model —
    the standard artifact a pipeline publishes next to any heuristic
    classifier: per (true lang, predicted lang) cell, the document
    count and the row share in exact permille (floored integer over
    the true-lang total).  Diagonal cells are the per-language
    recall; the 'unknown' column is the abstention rate.

    Scale shape: ``t_lang_id``'s narrow codegen scorer feeds one
    partial-combining aggregate on the tiny (true, predicted) key,
    plus an un-hinted per-true-lang totals join-back (AQE-sized, the
    selector policy)."""
    pred = t_lang_id(spark, sf_dir).select("lang", "predicted")
    cells = pred.groupBy("lang", "predicted").agg(F.count("*").alias("n"))
    totals = pred.groupBy("lang").agg(F.count("*").alias("tot"))
    return cells.join(totals, "lang").select(
        F.col("lang").alias("true_lang"),
        "predicted",
        "n",
        F.floor((F.col("n") * 1000).cast("double") / F.col("tot"))
        .cast("long")
        .alias("share_permille"),
    )


T_LANG_CONFUSION_SQL = f"""
WITH scored AS ({T_LANG_ID_SQL}),
cells AS (
  SELECT lang, predicted, count(*) AS n FROM scored GROUP BY lang, predicted
),
totals AS (SELECT lang, count(*) AS tot FROM scored GROUP BY lang)
SELECT cells.lang AS true_lang, predicted, n,
       CAST(floor(CAST(n * 1000 AS DOUBLE) / tot) AS BIGINT)
         AS share_permille
FROM cells JOIN totals ON cells.lang = totals.lang
"""


# ------------------------------------------------------------ t_quality
def t_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword ratios + a combined
    score — the heuristic-filter stage of a training-data pipeline.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    n_char = F.length("text").cast("double")
    n_punct = (F.length("text") - F.length(F.regexp_replace("text", r"[.!?,;:]", ""))).cast(
        "double"
    )
    n_tok = F.size("tokens").cast("double")
    stop = F.size(
        F.filter("tokens", lambda t: t.isin([w for w, _ in LANG_LEXICON]))
    ).cast("double")
    return d.select(
        "doc_id",
        "lang",
        F.round(n_punct / n_char, 6).alias("punct_ratio"),
        F.round(stop / F.greatest(n_tok, F.lit(1.0)), 6).alias("stopword_ratio"),
        F.round(n_char / F.greatest(n_tok, F.lit(1.0)), 6).alias("chars_per_token"),
        F.round(
            F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5
            + (stop / F.greatest(n_tok, F.lit(1.0))) * 0.5,
            6,
        ).alias("quality_score"),
    )


_STOPLIST_SQL = ", ".join(f"'{t}'" for t, _ in LANG_LEXICON)

T_QUALITY_SQL = f"""
SELECT doc_id, lang,
       round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
             / length(text), 6) AS punct_ratio,
       round(CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOPLIST_SQL}))) AS DOUBLE)
             / greatest(CAST(len({_TOKENS_SQL}) AS DOUBLE), 1.0), 6) AS stopword_ratio,
       round(CAST(length(text) AS DOUBLE)
             / greatest(CAST(len({_TOKENS_SQL}) AS DOUBLE), 1.0), 6) AS chars_per_token,
       round(least(CAST(len({_TOKENS_SQL}) AS DOUBLE) / 100.0, 1.0) * 0.5
             + CAST(len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOPLIST_SQL}))) AS DOUBLE)
               / greatest(CAST(len({_TOKENS_SQL}) AS DOUBLE), 1.0) * 0.5, 6) AS quality_score
FROM documents
"""


# ---------------------------------------------------------- t_fingerprint
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint over token hashes:
    ``h = fold(tokens, (acc*31 + x32(token)) mod 1e9+7)`` — an
    order-sensitive document fingerprint (vs order-free minhash).
    """
    P = 1_000_000_007
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    hashed = F.transform(
        "tokens", lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    fp = F.aggregate(
        hashed, F.lit(0).cast("long"), lambda acc, x: (acc * 31 + x) % F.lit(P)
    )
    return d.select("doc_id", fp.alias("fingerprint"))


T_FINGERPRINT_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform({_TOKENS_SQL},
                          t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 1000000007
       ) AS fingerprint
FROM documents
"""


# ------------------------------------------------------------ t_tfidf
def t_tfidf_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, token); top-3 terms per doc ranked by
    (round(tfidf,6) DESC, token ASC).  idf = ln(N / df) with exact
    integer N/df — the HashingTF+IDF pipeline expressed relationally
    (shuffle keys: token for df, doc_id for the final rank).
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    tok = d.select("doc_id", F.explode("tokens").alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # df derives from tf (one row per (doc, token) already): the
    # distinct-over-exploded-rows form paid a second full-width
    # exchange; deriving from tf lets Spark reuse tf's exchange and
    # shuffles only the already-collapsed relation on token.
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "rank")
    )


T_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (
  SELECT token, count(*) AS df
  FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token
),
n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (token), n
)
SELECT doc_id, token, tf, df, tfidf, rank FROM (
  SELECT doc_id, token, tf, df, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS INTEGER) AS rank
  FROM scored
)
WHERE rank <= 3
"""


# ---------------------------------------------------------- t_word_freq
def t_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word frequencies: top 20 tokens (count desc, token asc)."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    return (
        d.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


T_WORD_FREQ_SQL = f"""
SELECT token, count(*) AS n
FROM (SELECT unnest({_TOKENS_SQL}) AS token FROM documents)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


# ------------------------------------------------- d_neardup_clusters
def d_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the LSH
    candidate graph (edges = verified jaccard ≥ 0.5), labeling each
    doc with the minimum doc_id in its component — the structure dedup
    keeper-selection needs (pairs alone can't pick one survivor per
    group of 3+ mutual near-dups).

    Iterative min-label propagation: each round, every node takes the
    min of its own and its neighbors' labels; converged when no label
    drops.  Each round is one distributed join + partial-aggregated
    min (shuffle key = doc_id); ``localCheckpoint`` materializes every
    round to cut lineage growth — the standard Pregel-style loop shape
    Spark needs for iterative graph algorithms.  Rounds = graph
    diameter (near-dup components are tiny and dense, so 2-3).  The
    driver-side scalar per round is the convergence count, not data.
    Oracle: DuckDB recursive-CTE transitive closure.
    """
    pairs = (
        d_lsh_pairs(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    rev = pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    edges = materialize(fwd.union(rev).distinct(), "d_neardup_clusters:edges")
    labels = materialize(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "d_neardup_clusters:labels",
    )
    rounds = 0
    while True:
        rounds += 1
        nbr = edges.join(
            labels, edges["src"] == labels["doc_id"]
        ).select(F.col("dst").alias("doc_id"), "label")
        new_labels = materialize(
            labels.select("doc_id", "label")
            .union(nbr)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label")),
            f"d_neardup_clusters:round {rounds}",
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("label").alias("cluster_id"), "doc_id"
    ).withColumn("cluster_size", F.count("*").over(w))


D_CLUSTERS_SQL = f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({D_LSH_SQL}) WHERE jaccard >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
  UNION
  SELECT doc_a, doc_a FROM pairs
  UNION
  SELECT doc_b, doc_b FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT min(dst) AS cluster_id,
       src AS doc_id,
       count(*) OVER (PARTITION BY min(dst)) AS cluster_size
FROM reach
GROUP BY src
"""


# --------------------------------------------------------- d_cc_stars
def _star_contract(edges: DataFrame) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., *Connected Components in MapReduce
    and Beyond*, SoCC'14 — public algorithm, re-expressed on
    DataFrames).  Converges in O(log² n) rounds on ANY graph — unlike
    min-label propagation (``d_neardup_clusters``), whose round count
    equals the component diameter and degrades to O(n) on a chain.

    ``edges`` is an undirected edge list (u, v), u != v, each pair in
    either orientation.  Returns (labels, rounds): labels maps every
    endpoint to its component minimum.

    Each half-step is one shuffle keyed by the star center:

    - **large-star**: around each center u, every neighbor v > u is
      re-pointed at m = min(Γ(u) ∪ {u}).  Strictly-greater neighbors
      only, so the step can never create a cycle.
    - **small-star**: edges oriented larger→smaller; around each
      center u, all smaller neighbors (and u itself) re-point at
      m = min(Γ⁻(u) ∪ {u}).

    The edge set is distinct-ed and materialized per round
    (the Pregel-loop lineage discipline); convergence is detected by
    an order-insensitive (count, xxhash-sum) fingerprint — one driver
    scalar per round, never edge data.  At the fixed point the edge
    set is a union of stars centered at component minima.
    """
    sym = lambda e: e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = sym(e)
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("m", F.least("mn", "u")).select("u", "m")
        return (
            nbrs.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            directed.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        center = mins.select(F.col("u"), F.col("m").alias("v"))
        return moved.union(center).distinct()

    def fingerprint(e: DataFrame):
        # bit_xor is order-insensitive and can't overflow (ANSI-safe,
        # unlike sum); sound because the edge set is distinct-ed.
        # Residual risk, stated honestly: two DIFFERENT equal-size edge
        # sets colliding on the 64-bit xor would stop the loop one
        # round early (~2^-64 per round); the exact alternative is a
        # full-outer subtract-count per round, a shuffle this
        # convergence check deliberately avoids.
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    cur = materialize(edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct(), "star_contract:edges")
    prev_fp, rounds = None, 0
    while True:
        rounds += 1
        cur = materialize(small_star(large_star(cur)),
                          f"star_contract:round {rounds}")
        fp = fingerprint(cur)
        if fp == prev_fp:
            break
        prev_fp = fp
    # Fixed point: stars (u → root).  Roots label themselves.
    roots = cur.select(F.col("v").alias("u"), F.col("v")).distinct()
    labels = cur.union(roots).distinct().select(
        F.col("u").alias("doc_id"), F.col("v").alias("label")
    )
    return labels, rounds


def d_cc_stars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters via large-star/small-star contraction —
    result-identical to ``d_neardup_clusters`` (same LSH-verified
    edge set, same component-min labeling, same oracle) but with
    O(log² n) round complexity on any graph shape, closing the
    chain-graph known-limit in docs/SCALE.md.  The pathological-chain
    round-count gate is pinned in tests/test_operators.py.
    """
    pairs = (
        d_lsh_pairs(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    labels, _ = _star_contract(pairs)
    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("label").alias("cluster_id"), "doc_id"
    ).withColumn("cluster_size", F.count("*").over(w))


# ----------------------------------------------------- t_bigram_freq
def t_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies: top 20 token bigrams (count desc,
    bigram asc — a total order, so the limit is deterministic).  The
    bigram build is a narrow array transform (0-based in Spark,
    1-based in DuckDB — same pairs); the only shuffle is the count.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    bigrams = F.expr(
        "transform(sequence(0, size(tokens) - 2), i -> tokens[i] || ' ' || tokens[i+1])"
    )
    return (
        d.where(F.size("tokens") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


T_BIGRAM_SQL = f"""
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest(list_transform(generate_series(1, len(tokens) - 1),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS bigram
  FROM (SELECT {_TOKENS_SQL} AS tokens FROM documents)
  WHERE len(tokens) >= 2
)
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
"""


# --------------------------------------------------------- d_norm_dedup
def d_norm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-exact-dedup: the pipeline stage between exact
    and near dedup — lowercase, collapse every non-alphanumeric run to
    one space, trim, then hash-group.  Catches whitespace/punctuation/
    case variants that raw-text md5 misses but shingle similarity
    wastes a join on.  Emitted per doc: the normalized digest, its
    dedup group size (this corpus has no such variants, so sizes are
    honestly 1 — the grouping mechanism is still fully hash-pinned),
    whether normalization changed the text, and the normalized length.
    Scale shape = ``d_exact_dedup``: hash groupBy on the digest.
    """
    d = _docs(spark, sf_dir).select("doc_id", "text")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    per_doc = d.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        (norm != F.col("text")).cast("long").alias("changed"),
        F.length(norm).alias("norm_len"),
    )
    grp = per_doc.groupBy("norm_hash").agg(
        F.count("*").alias("group_size"), F.min("doc_id").alias("keeper")
    )
    return per_doc.join(grp, "norm_hash").select(
        "doc_id", "norm_hash", "group_size", "keeper", "changed", "norm_len"
    )


D_NORM_DEDUP_SQL = """
WITH per_doc AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
         CAST(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> text AS BIGINT) AS changed,
         length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_len
  FROM documents
),
grp AS (
  SELECT norm_hash, count(*) AS group_size, min(doc_id) AS keeper
  FROM per_doc GROUP BY 1
)
SELECT doc_id, p.norm_hash, group_size, keeper, changed, norm_len
FROM per_doc p JOIN grp USING (norm_hash)
"""


# -------------------------------------------------------- d_containment
def d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| — the
    near-dup measure for SUBSET relationships (a quote inside a longer
    document has low Jaccard but high containment).  Same inverted-
    index candidate join as ``d_jaccard_pairs`` (work ∝ shared
    shingles, never |docs|²); pairs kept where either direction ≥ 0.8.
    Ratios are round(6) of an exact-integer quotient, like Jaccard.
    """
    feats = _doc_features_index(spark, sf_dir).where(F.col("n_sh") > 0)
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.min("a.n_sh").alias("na"),
            F.min("b.n_sh").alias("nb"),
        )
    )
    return (
        shared.select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(F.col("shared").cast("double") / F.col("na"), 6).alias("cont_ab"),
            F.round(F.col("shared").cast("double") / F.col("nb"), 6).alias("cont_ba"),
        )
        .where((F.col("cont_ab") >= 0.8) | (F.col("cont_ba") >= 0.8))
    )


D_CONTAINMENT_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared,
       round(CAST(shared AS DOUBLE) / sa.n_sh, 6) AS cont_ab,
       round(CAST(shared AS DOUBLE) / sb.n_sh, 6) AS cont_ba
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / sa.n_sh, 6) >= 0.8
   OR round(CAST(shared AS DOUBLE) / sb.n_sh, 6) >= 0.8
"""


# ------------------------------------------------------ t_sentence_stats
def t_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level quality stats per document: sentence count
    (split on [.!?]+ runs, whitespace-only fragments dropped), total
    words across sentences, floor-truncated mean words-per-sentence,
    and the longest sentence in characters (trimmed).  All counts are
    exact integers from built-in higher-order functions — the
    sentence-length signal LLM data filters use alongside ``t_quality``
    (too-long / single-sentence documents are low-quality markers).
    """
    d = _docs(spark, sf_dir).select("doc_id", "text")
    sents = F.filter(
        F.transform(
            F.split(F.lower("text"), r"[.!?]+"), lambda s: F.trim(s)
        ),
        lambda s: F.length(s) > 0,
    )
    words_per = F.transform(
        sents, lambda s: F.size(F.regexp_extract_all(s, F.lit("[a-z0-9]+"), 0))
    )
    total_words = F.aggregate(
        words_per, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    out = d.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        total_words.alias("total_words"),
        F.array_max(F.transform(sents, F.length)).cast("long").alias("max_sent_chars"),
    )
    return out.select(
        "doc_id",
        "n_sentences",
        "total_words",
        F.when(
            F.col("n_sentences") > 0,
            F.floor(
                F.col("total_words").cast("double") * 1_000_000 / F.col("n_sentences")
            )
            / F.lit(1_000_000.0),
        ).alias("mean_words_per_sent"),
        "max_sent_chars",
    )


T_SENTENCE_STATS_SQL = """
WITH per AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(lower(text), '[.!?]+'),
                                    s -> trim(s)),
                     s -> length(s) > 0) AS sents
  FROM documents
),
stats AS (
  SELECT doc_id,
         CAST(len(sents) AS BIGINT) AS n_sentences,
         CAST(coalesce(list_sum(list_transform(sents,
                s -> len(regexp_extract_all(s, '[a-z0-9]+')))), 0) AS BIGINT) AS total_words,
         CAST(list_max(list_transform(sents, s -> length(s))) AS BIGINT) AS max_sent_chars
  FROM per
)
SELECT doc_id, n_sentences, total_words,
       CASE WHEN n_sentences > 0
            THEN floor(CAST(total_words AS DOUBLE) * 1000000 / n_sentences) / 1000000.0
       END AS mean_words_per_sent,
       max_sent_chars
FROM stats
"""


# ------------------------------------------------------- s_quantize_int8
def s_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage-compression step a training pipeline runs before shipping
    vectors to an ANN index (4× smaller, bounded error).  Per vector:
    scale = max|v| / 127, q_i = round(v_i / scale) ∈ [-127, 127], plus
    the exact integer ||q||² and the reconstruction squared error
    Σ(v_i − q_i·scale)².

    Determinism: float→double widening is exact; each elementwise op
    (/, round, *, −, ×) is a single correctly-rounded IEEE op on
    identical inputs in both engines; both folds accumulate
    left-to-right in index order (Spark ``F.aggregate`` ≡ DuckDB
    ``list_sum`` — the same sequential invariant the cosine oracles
    pin, see ``_seq_dot`` above).  round() ties need x/scale exactly
    on .5 in binary — and Spark HALF_UP ≡ DuckDB round-away-from-zero
    there anyway.

    Scale: a pure narrow map (no shuffle at all) — at 100 TB this is
    the textbook mapInPandas/codegen pipeline stage; expressed with
    built-in higher-order functions so it stays JVM-side.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    sc = F.col("scale")
    q = lambda x: F.round(x / sc)  # double-valued quantized level
    with_scale = e.withColumn(
        "scale", F.array_max(F.transform("v", F.abs)) / F.lit(127.0)
    )
    qnorm2 = F.aggregate(
        F.transform("v", lambda x: (q(x) * q(x)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    err = F.aggregate(
        F.transform("v", lambda x: (x - q(x) * sc) * (x - q(x) * sc)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return with_scale.select(
        "vec_id", "scale", qnorm2.alias("qnorm2"), err.alias("sq_err")
    )


S_QUANTIZE_INT8_SQL = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM v
)
SELECT vec_id, scale,
       CAST(list_sum(list_transform(v,
         x -> CAST(round(x / scale) * round(x / scale) AS BIGINT))) AS BIGINT) AS qnorm2,
       list_sum(list_transform(v,
         x -> (x - round(x / scale) * scale) * (x - round(x / scale) * scale))) AS sq_err
FROM s
"""


# -------------------------------------------------------- d_cdc_neardup
def capped_posting_pairs(postings: DataFrame, key: str, doc: str,
                         cap: int) -> DataFrame:
    """(doc, key) posting relation → (doc_a, doc_b, shared) candidate
    pairs with the DOCUMENT-FREQUENCY CAP applied BEFORE the
    self-join: keys held by more than ``cap`` documents are dropped,
    so the join's output is bounded by Σ_{df<=cap} df·(df−1)/2 —
    each surviving posting row can pair with at most (cap−1) others,
    giving ≤ (cap−1)/2 output rows per posting row regardless of how
    hot any key is.  This is THE skew fence for inverted-index pair
    generation (boilerplate chunks / stop shingles at 100 TB): the
    bound is pinned by tests/test_skew_fence.py (a deliberately hot
    key contributes zero pairs) and the below-the-join placement by
    the d_cdc_neardup plan spec + the structural plan test."""
    freq = postings.groupBy(key).agg(F.count("*").alias("df"))
    live = postings.join(freq.where(F.col("df") <= cap), key)
    a, b = live.alias("a"), live.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{doc}") < F.col(f"b.{doc}")),
        )
        .groupBy(
            F.col(f"a.{doc}").alias("doc_a"),
            F.col(f"b.{doc}").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared"))
    )


def d_cdc_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by CONTENT-DEFINED-CHUNK overlap — the
    blob/file-store dedup signal at document granularity: two docs
    sharing >= half their CDC chunks (Jaccard >= 0.5 over chunk-hash
    sets) are near-dups.  Complements the 3-gram ``d_jaccard_pairs``
    view: CDC chunks are ~64-byte content-anchored spans, so the
    signal survives insertions (the ``m_cdc_dedup`` stability
    property) and works on bytes, not tokens.

    The keep gate is the integer cross-multiplication ``2·shared >=
    |A| + |B| − shared`` (no float threshold); the reported jaccard
    is exact micro-units (floor(shared·1e6 / union) — one double
    division of small exact longs).

    Scale shape: candidate generation is the chunk-inverted-index
    equi-join (work ∝ shared chunks, never |docs|²), with
    document-frequency capping (df <= 50) dropping boilerplate chunks
    the way stopword shingles are dropped — the posting-length bound
    that keeps Σ|posting|² finite at 100 TB.  The boundary scan is
    the materialized-``ends`` plan from ``m_cdc_dedup``."""
    from go_whisper_spark.operators.multimodal import (
        _CDC_ENDS,
        _CDC_HASHES,
        documents_as_media,
    )

    media = spread_scan(
        documents_as_media(spark, sf_dir)
        .select(F.col("media_id").alias("doc_id"), "payload")
        .where(F.length("payload") > 0),
        # spread the O(L)-md5 boundary scan off the single-row-group
        # scan task (r19 optimization, guide §2.5; r20: layout-gated —
        # absent from the plan when the scan arrives in >= cores splits)
        spark, sf_dir, "documents",
    )
    # materialize the distinct chunk postings ONCE (r19 optimization):
    # they feed FOUR separately-planned consumers (the df fence's freq
    # count, both sides of the capped self-join, and the sizes
    # aggregate), and the before-plan shows the whole O(L)-md5
    # boundary scan + distinct re-executed for each — the
    # t_curation_e2e drop-set lesson one level down.
    chunks = materialize(
        media.withColumn("ends", F.expr(_CDC_ENDS))
        .select("doc_id", F.explode(F.expr(_CDC_HASHES)).alias("h"))
        .distinct(),
        "d_cdc_neardup:chunk postings",
    )
    sizes = chunks.groupBy("doc_id").agg(F.count("*").alias("n_ch"))
    shared = capped_posting_pairs(chunks, "h", "doc_id", 50)
    j = (
        shared.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                 F.col("n_ch").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_ch").alias("nb")), "doc_b")
    )
    union = F.col("na") + F.col("nb") - F.col("shared")
    return (
        j.where(2 * F.col("shared") >= union)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "na",
            "nb",
            F.floor((F.col("shared") * 1000000).cast("double") / union)
            .cast("long")
            .alias("j_ppm"),
        )
    )


D_CDC_NEARDUP_SQL = """
WITH media AS (
  SELECT doc_id, text FROM documents WHERE length(text) > 0
),
bounded AS (
  SELECT doc_id, text,
         list_append(list_filter(generate_series(1, greatest(length(text) - 1, 1)),
           i -> i < length(text) AND i >= 8 AND
           substring(md5(substr(text, i - 7, 8)), 1, 2) <= '03'),
           length(text)) AS ends
  FROM media
),
chunks AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(ends)),
           j -> md5(substr(text,
             CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END,
             ends[j] - CASE WHEN j = 1 THEN 0 ELSE ends[j - 1] END)))) AS h
  FROM bounded
),
freq AS (SELECT h, count(*) AS df FROM chunks GROUP BY h),
live AS (SELECT c.doc_id, c.h FROM chunks c JOIN freq f ON f.h = c.h
         WHERE f.df <= 50),
sizes AS (SELECT doc_id, count(*) AS n_ch FROM chunks GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM live a JOIN live b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared, sa.n_ch AS na, sb.n_ch AS nb,
       CAST(floor(CAST(shared * 1000000 AS DOUBLE)
                  / (sa.n_ch + sb.n_ch - shared)) AS BIGINT) AS j_ppm
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 2 * shared >= (sa.n_ch + sb.n_ch - shared)
"""


# ------------------------------------------------------- t_curation_e2e
def t_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-11 families composed into ONE curation ledger — the
    pipeline a training-data curator actually runs, in policy order:

    1. **CDC dedup first**: drop every near-dup loser
       (``d_cdc_neardup``'s greedy lowest-id-wins drop set) from the
       WHOLE corpus — model training must not see duplicates either;
    2. **perplexity gate second**: train the stupid-backoff bigram LM
       on the 90% split of the SURVIVORS, score the survivor held-out
       docs, rank per-lang terciles, and drop the TAIL tercile
       (CCNet's worst bucket); unscored docs (train split, or < 2
       tokens) pass through ungated.

    Ledger per lang: corpus docs, after-dedup docs, scored docs, tail
    drops, final kept docs and exact kept bytes.  Policy order is
    pinned by construction (the LM never sees a dropped duplicate —
    re-ordering the stages changes the model counts and the hash).

    Scale shape: strictly the union of its parts' plans — the CDC
    postings join, the LM model partial aggregates + broadcast
    probes, the per-doc integer-div mean, ONE per-lang ntile over the
    per-doc ledger, and a 5-key final aggregate; nothing new
    shuffles."""
    # project early: the gate + ledger read only
    # (doc_id, lang, tokens, nb) — `text` was the bulk of the old
    # checkpoint's cached bytes and nothing downstream reads it
    d = _curation_per_doc(spark, sf_dir, "t_curation_e2e", lambda docs: docs.select(
        "doc_id", "lang", _tokens_col().alias("tokens"),
        F.length("text").alias("nb")))
    return _curation_ledger(_curation_gate(d))


def _curation_per_doc(spark: SparkSession, sf_dir: str, query: str,
                      project) -> DataFrame:
    """The dedup-flagged per-doc frame of `t_curation_e2e` and
    `t_curation_pii`: ``project`` (the per-doc pass over the spread
    documents scan, carrying at least doc_id, lang, tokens, nb) left
    joined with `d_cdc_neardup`'s drop set as ``dup``, materialized.

    The chain is job-count-bound and its first two heavy
    materializations are INDEPENDENT — the CDC chunk substrate (inside
    d_cdc_neardup) reads payload bytes, the per-doc pass reads text —
    so they run from two driver threads and back-fill each other's
    stragglers.  Each thread target is its own
    ``inheritable_thread_target`` (one copy of the caller's local
    properties per thread, so one thread's label never leaks into the
    other's jobs): under pinned-thread mode both threads' jobs keep the
    caller's job group.

    The drop set has no checkpoint of its own: its one consumer is the
    join below, so its lineage runs once inside that materialization
    (one sequential job fewer).  The joined frame IS materialized: the
    gate spine consumes it from FOUR separately-planned
    branches (train bigrams, train unigrams, held bigrams, the final
    flag join); without it each branch re-runs the drop-set join (the
    capped posting join is in its lineage)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def per_doc_pass():
        docs = spread_scan(_docs(spark, sf_dir), spark, sf_dir, "documents")
        return materialize(project(docs), f"{query}:tokenize")

    with ThreadPoolExecutor(max_workers=2) as pool:
        def overlap(fn):
            return pool.submit(inheritable_thread_target(spark)(fn))

        fut_pairs = overlap(lambda: d_cdc_neardup(spark, sf_dir))
        per_doc = overlap(per_doc_pass).result()
        pairs = fut_pairs.result()
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return materialize(
        per_doc.join(dropped.withColumn("dup", F.lit(1)), "doc_id", "left"),
        f"{query}:dedup flags",
    )


def _curation_ledger(flagged: DataFrame, *extra) -> DataFrame:
    """The per-lang curation ledger of a `_curation_gate` output: docs,
    after-dedup docs, scored docs, tail drops, kept docs and kept
    bytes, then the ``extra`` aggregate columns."""
    kept = (F.col("dup").isNull() & F.col("tail").isNull()).cast("long")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("dup").isNull().cast("long")).alias("n_after_dedup"),
            F.sum(F.coalesce(F.col("scored"), F.lit(0))).alias("n_scored"),
            F.sum(F.coalesce(F.col("tail"), F.lit(0))).alias("n_tail_dropped"),
            F.sum(kept).alias("n_kept"),
            F.sum(F.when(kept == 1, F.col("nb")).otherwise(0)).alias(
                "bytes_kept"
            ),
            *extra,
        )
    )


def _bigram_scored(d: DataFrame) -> DataFrame:
    """The stupid-backoff bigram LM every perplexity query scores with:
    from a per-doc frame (doc_id, lang, tokens), train bigram/unigram
    counts on the 90% md5 split (``d_split_hash``'s buckets) and score
    each held-out bigram

        P(w2|w1) = C2(w1,w2)/C1(w1)          if the bigram was seen
                 = 0.4 · C1(w2)/N            else if w2 was seen
                 = 0.4 / N                   else (OOV)

    as its micro-nat surprisal, floored ONCE per probability.  Returns
    (doc_id, lang, is_seen, is_backoff, s_u6) per held-out bigram;
    held-out docs with fewer than 2 tokens have no bigrams.

    Model tables are partial aggregates over the train stream,
    broadcast-probed by the score side (a shuffled equi-join keyed by
    the bigram once a real model outgrows broadcast)."""
    bucket = _split_bucket_col()
    train = d.where(bucket < _SPLIT_TRAIN)
    held = d.where(bucket >= _SPLIT_TRAIN)

    bigrams = F.expr(
        "transform(sequence(0, size(tokens) - 2), "
        "i -> struct(tokens[i] AS w1, tokens[i + 1] AS w2))"
    )
    t_bi = (
        train.where(F.size("tokens") >= 2)
        .select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
    )
    # c2 has ONE consumer (its broadcast below), so the broadcast
    # build runs its lineage exactly once either way — a checkpoint
    # here would be one more sequential job (guide §1.2: delete whole
    # jobs).  c1 keeps its checkpoint: THREE consumers (two
    # broadcasts + totals) would each re-run the train tokenize pass.
    c2 = t_bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = materialize(
        train.select(F.explode("tokens").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1")),
        "bigram_scored:unigram counts",
    )
    totals = c1.agg(F.sum("c1").alias("N"))
    sb = (
        held.where(F.size("tokens") >= 2)
        .select("doc_id", "lang", F.explode(bigrams).alias("b"))
        .select("doc_id", "lang", "b.w1", "b.w2")
    )
    j = (
        sb.join(F.broadcast(c2), ["w1", "w2"], "left")
        .join(
            F.broadcast(c1.select(F.col("w").alias("w1"), F.col("c1").alias("c1w1"))),
            "w1",
            "left",
        )
        .join(
            F.broadcast(c1.select(F.col("w").alias("w2"), F.col("c1").alias("c1w2"))),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(totals))
    )
    u6 = lambda p: F.floor(-F.log(p) * F.lit(1_000_000.0)).cast("long")
    seen = F.col("c2").isNotNull()
    backoff = F.col("c2").isNull() & F.col("c1w2").isNotNull()
    surprisal = (
        F.when(seen, u6(F.col("c2").cast("double") / F.col("c1w1")))
        .when(backoff, u6(F.lit(0.4) * F.col("c1w2") / F.col("N")))
        .otherwise(u6(F.lit(0.4) / F.col("N")))
    )
    return j.select(
        "doc_id",
        "lang",
        seen.cast("long").alias("is_seen"),
        backoff.cast("long").alias("is_backoff"),
        surprisal.alias("s_u6"),
    )


def _ppl_per_doc(scored: DataFrame) -> DataFrame:
    """Per held-out doc: bigram count and the perplexity proxy
    ``ppl_u6`` — an exact integer ``div`` of the summed micro-nats, so
    no float quotient near a floor boundary can diverge between
    engines."""
    return (
        scored.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_bigrams"), F.sum("s_u6").alias("sum_u6"))
        .withColumn("ppl_u6", F.expr("sum_u6 div n_bigrams"))
    )


def _curation_gate(d: DataFrame) -> DataFrame:
    """The dedup-then-LM-gate spine of `t_curation_e2e` (raw text) and
    `t_curation_pii` (scrubbed text): from a per-doc frame (doc_id,
    lang, tokens, nb, dup, ...) score the survivors with the
    `_bigram_scored` LM, ntile the per-doc perplexities per lang, and
    return the input frame with `scored`/`tail` flag columns appended
    — the callers differ only in what `tokens` tokenizes and which
    extra ledger columns they fold.  The caller's checkpointed `d` is
    what keeps the model's lineage from re-running the dedup join."""
    per_doc = _ppl_per_doc(_bigram_scored(d.where(F.col("dup").isNull())))
    w = Window.partitionBy("lang").orderBy("ppl_u6", "doc_id")
    tail = per_doc.select(
        "doc_id", F.ntile(3).over(w).alias("tercile")
    ).where(F.col("tercile") == 3).select("doc_id")

    return (
        d.join(tail.withColumn("tail", F.lit(1)), "doc_id", "left")
        .join(
            per_doc.select("doc_id").withColumn("scored", F.lit(1)),
            "doc_id",
            "left",
        )
    )


def t_curation_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation capstone with the PII stage IN POLICY ORDER —
    dedup → SCRUB → train (VERDICT r17 item 6): the perplexity
    gate's LM must train on the text a release actually ships, i.e.
    AFTER redaction, the way `t_curation_e2e` pinned that it trains
    after dedup.  The chain:

    1. **CDC dedup** on the raw corpus (`d_cdc_neardup`'s drop set,
       unchanged — duplicates are dropped before anything is spent
       on them);
    2. **PII scrub** on the survivors: the `t_pii_scrub` injection +
       chained redaction VERBATIM (`_pii_aug_col`/`_pii_red_col`),
       so `[EMAIL]`/`[IP]`/`[PHONE]` become corpus tokens and the
       injected addresses never reach the model;
    3. **perplexity gate** on the SCRUBBED text: the shared
       `_curation_gate` spine — the LM's vocabulary contains the
       placeholders, its counts differ from the raw-text model, and
       the tail MEMBERSHIP shifts (measured at sf0.01: 8 of the 19
       tail docs differ between the scrubbed-LM and raw-LM gates —
       pytest-pinned), so `bytes_kept` and the hash pin the stage
       ORDER; the per-lang COUNTS alone cannot (ntile(3) sizes are
       score-invariant — an honest limit of count ledgers).

    Ledger per lang: the e2e's six columns (bytes now SCRUBBED
    bytes — what ships) + the scrub audit over survivors
    (pii_emails / pii_ipv4s / pii_phones / pii_chars_removed).

    Scale shape: the e2e plan + one narrow regex map before
    tokenize; nothing new shuffles."""
    # the regex scrub + audit counts make the per-doc pass here even
    # heavier than t_curation_e2e's, so the overlap pays more
    d = _curation_per_doc(spark, sf_dir, "t_curation_pii", lambda docs: (
        docs.select("doc_id", "lang", _pii_aug_col().alias("aug"))
        .withColumn("scr", _pii_red_col(F.col("aug")))
        .select(
            "doc_id", "lang",
            F.regexp_extract_all(F.lower("scr"), F.lit(TOKEN_RE), F.lit(0))
            .alias("tokens"),
            F.length("scr").alias("nb"),
            F.regexp_count("aug", F.lit(_PII_EMAIL)).alias("em"),
            F.regexp_count("aug", F.lit(_PII_IPV4)).alias("ip"),
            F.regexp_count("aug", F.lit(_PII_PHONE)).alias("ph"),
            (F.length("aug") - F.length("scr")).alias("delta"),
        )))
    live = F.col("dup").isNull()
    return _curation_ledger(
        _curation_gate(d),
        *[F.sum(F.when(live, F.col(c)).otherwise(0)).cast("long").alias(name)
          for c, name in (("em", "pii_emails"), ("ip", "pii_ipv4s"),
                          ("ph", "pii_phones"), ("delta", "pii_chars_removed"))],
    )


# -------------------------------------------------------- d_cdc_keepers
def d_cdc_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable half of ``d_cdc_neardup``: the per-language
    drop ledger under the greedy lowest-id-wins policy — a document
    is dropped iff some LOWER-id document shares >= half its CDC
    chunks with it (pairs are emitted doc_a < doc_b, so the dropped
    set is exactly the distinct doc_b side; the chain a~b, b~c
    without a~c keeps a, drops b AND c — the same one-hop greedy
    ``d_dedup_keepers`` applies to MinHash clusters, documented
    there).  Ledger per lang: docs, dropped, kept, and the exact
    byte volumes — the numbers a dedup pass publishes.

    Scale shape: the pair relation is ``d_cdc_neardup``'s bounded
    postings join; the drop set is one DISTINCT over its doc_b
    column; the ledger joins it back onto documents by doc_id
    (AQE-sized) and partial-combines on the 5-key lang."""
    pairs = d_cdc_neardup(spark, sf_dir)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    d = _docs(spark, sf_dir).select("doc_id", "lang", F.length("text").alias("nb"))
    flagged = d.join(
        dropped.withColumn("is_dropped", F.lit(1)), "doc_id", "left"
    ).withColumn("dr", F.coalesce(F.col("is_dropped"), F.lit(0)))
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dr").alias("n_dropped"),
            (F.count("*") - F.sum("dr")).alias("n_kept"),
            F.sum("nb").alias("bytes_total"),
            F.sum(F.when(F.col("dr") == 0, F.col("nb")).otherwise(0)).alias(
                "bytes_kept"
            ),
        )
    )


D_CDC_KEEPERS_SQL = f"""
WITH pairs AS ({D_CDC_NEARDUP_SQL}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(count(*) - sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(length(text)) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN dr.doc_id IS NULL THEN length(text) ELSE 0 END)
            AS BIGINT) AS bytes_kept
FROM documents d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
GROUP BY lang
"""


# -------------------------------------------------------- s_kmeans_step
def _km_quant(spark, sf_dir):
    """Fixed-point-quantized vectors (vec_id, qv: array<long>)."""
    return _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ).alias("qv"),
    )


def _km_assign(q, cents):
    """Assignment step: per vector, the lexicographic min (distance,
    cid) over the broadcast centroid frame (cid, cv) — one aggregate,
    no join-back (qv rides the aggregate).  Returns
    (vec_id, cid, d, qv)."""
    dist = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    a = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", "qv", "cid", dist.alias("d")
    )
    return (
        a.groupBy("vec_id")
        .agg(
            F.min(F.struct("d", "cid")).alias("m"),
            F.first("qv").alias("qv"),
        )
        .select(
            "vec_id", F.col("m.cid").alias("cid"), F.col("m.d").alias("d"),
            "qv",
        )
    )


def _km_update(assign):
    """Update step: floored per-(cluster, dim) mean, rebuilt into the
    centroid array — returns (cid, cv)."""
    ex = assign.select("cid", F.posexplode("qv").alias("dim", "v"))
    return (
        ex.groupBy("cid", "dim")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*"))
            .cast("long")
            .alias("c")
        )
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "c"))),
                lambda s: s.c,
            ).alias("cv")
        )
    )


def s_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT Lloyd iteration over the embedding corpus — the
    codebook-training primitive under the IVF/PQ family (their
    centroid tables are trained by exactly this step; here it is a
    driver-contract query so the training loop's distributed shape is
    oracle-pinned, not just its frozen output).

    Exactness: embeddings quantize to a fixed-point integer grid
    (round(v·1e4) — one correctly-rounded IEEE op per element), so
    assignment distances are exact longs, argmin is the lexicographic
    min of (distance, centroid_id) structs (total order, no float
    ties — computed as ONE aggregate per vector, no join-back: the
    vector rides the aggregate since it is identical across its k
    candidate rows), and the centroid update floors the per-dimension mean via
    ONE double division of exact longs (identical in both engines).
    Seeds: the 8 lowest vec_ids — deterministic, no RNG.

    Scale shape: the assignment is the textbook broadcast cross join
    (n_vectors × k rows, k = 8 — the k-means fan-out every
    distributed implementation pays), reduced by a per-vector
    min-struct aggregate; the update is posexplode → per-(cluster,
    dim) partial sums (map-side combined).  Iterating = re-running
    with the emitted centroids (array-rebuilt via ``_km_update``, as
    ``s_kmeans_2step`` does) as the next seed table; one step is
    where all the plan shape lives.

    Output shape: one row per (cluster, dimension) — the centroid is
    emitted as scalar ``(dim, c)`` rows, NOT an array column (the
    driver contract canonicalizes via pandas sort, which cannot order
    list cells; r12's sole red row was this query's array output).
    """
    q = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ).alias("qv"),
    )
    seeds = (
        q.orderBy("vec_id")
        .limit(8)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
            F.col("qv").alias("cv"),
        )
    )
    assign = _km_assign(q, seeds)
    centdim = (
        assign.select("cid", F.posexplode("qv").alias("dim", "v"))
        .groupBy("cid", "dim")
        .agg(
            F.floor(F.sum("v").cast("double") / F.count("*"))
            .cast("long")
            .alias("c")
        )
        .select("cid", F.col("dim").cast("long").alias("dim"), "c")
    )
    stats = assign.groupBy("cid").agg(
        F.count("*").alias("n_members"), F.sum("d").alias("inertia")
    )
    # stats is k = 8 rows, centdim k·64 = 512 — both provably
    # bounded, hinted broadcast (the fixed-k winner-set policy)
    return F.broadcast(stats).join(centdim, "cid").select(
        "cid", "n_members", "inertia", "dim", "c"
    )


def s_kmeans_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained Lloyd iterations — the convergence ledger for the
    training loop ``s_kmeans_step`` takes one step of: round 2
    re-assigns every vector against round 1's emitted centroids (an
    8-row frame flowing straight back into the broadcast fan-in — no
    collect, the loop is plan-to-plan) and the output is one row per
    round: total inertia and how many vectors changed cluster.
    Inertia is monotonically non-increasing under Lloyd (asserted in
    pytest); n_moved -> 0 is the stopping signal a production trainer
    watches.

    Scale shape: each round is the ``s_kmeans_step`` plan; the moved
    count is one vec_id equi-join between the two assignment ledgers
    (n-row both sides — the one honest O(n) shuffle join here, keyed
    by vec_id).  N rounds = N scans; centroids stay 8 rows forever."""
    q = _km_quant(spark, sf_dir)
    seeds = (
        q.orderBy("vec_id")
        .limit(8)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cid"),
            F.col("qv").alias("cv"),
        )
    )
    a1 = _km_assign(q, seeds)
    c1 = _km_update(a1)
    a2 = _km_assign(q, c1)
    r1 = a1.agg(F.sum("d").alias("inertia")).select(
        F.lit(1).alias("round"),
        "inertia",
        F.lit(0).cast("long").alias("n_moved"),
    )
    moved = (
        a1.select("vec_id", F.col("cid").alias("cid1"))
        .join(a2.select("vec_id", F.col("cid").alias("cid2")), "vec_id")
        .agg(
            F.sum((F.col("cid1") != F.col("cid2")).cast("long")).alias(
                "n_moved"
            )
        )
    )
    r2 = (
        a2.agg(F.sum("d").alias("inertia"))
        .crossJoin(F.broadcast(moved))
        .select(F.lit(2).alias("round"), "inertia", "n_moved")
    )
    return r1.unionByName(r2).select("round", "inertia", "n_moved")


S_KMEANS_STEP_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
  FROM q ORDER BY vec_id LIMIT 8
),
a AS (
  SELECT vec_id, qv, cid,
         CAST(list_sum(list_transform(generate_series(1, len(qv)),
           i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS BIGINT) AS d
  FROM q, seeds
),
assign AS (
  SELECT m.cid AS cid, m.d AS d, qv FROM (
    SELECT vec_id, min(struct_pack(d := d, cid := cid)) AS m,
           any_value(qv) AS qv
    FROM a GROUP BY vec_id
  )
),
ex AS (
  SELECT cid, generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS v
  FROM assign
),
cent AS (
  SELECT cid, CAST(dim AS BIGINT) AS dim,
         CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM ex GROUP BY cid, dim
),
stats AS (
  SELECT cid, count(*) AS n_members, CAST(sum(d) AS BIGINT) AS inertia
  FROM assign GROUP BY cid
)
SELECT s.cid, n_members, inertia, dim, c
FROM stats s JOIN cent USING (cid)
"""

def s_kmeans_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic maximin (farthest-point / Gonzalez) seeding for
    the Lloyd loop — the k-means++ analog that needs no RNG: pick the
    lowest vec_id, then 3× pick the vector FARTHEST from its nearest
    already-picked seed (ties by lowest vec_id).  Ledger: one row per
    pick with the coverage radius at selection time (the max-min
    distance — monotonically non-increasing, the 2-approximation
    bound of the k-center objective; pytest-pinned).

    Exactness: distances are the same exact fixed-point longs as the
    Lloyd step; the argmax is ONE struct max per round
    (max((d, −vec_id, vec_id, qv)) — the winner's vector rides the
    aggregate, the `s_kmeans_step` no-join-back trick at the other
    extreme).

    Scale shape: k−1 rounds, each = one map-combined struct-max
    aggregate over the corpus + a 1-row winner broadcast folded into
    the running min-distance column — the same per-round shape as the
    BPE trainer's best-pair broadcast.  k rounds = k scans; nothing
    driver-side but the plan chain."""
    q = _km_quant(spark, sf_dir)

    def dist(cv_col):
        return F.aggregate(
            F.zip_with("qv", cv_col, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    c0 = q.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("w_vid"), F.col("qv").alias("w_qv")
    )
    cur = q.crossJoin(F.broadcast(c0)).select(
        "vec_id", "qv", dist(F.col("w_qv")).alias("md")
    )
    out = c0.select(
        F.lit(0).alias("pick"),
        F.col("w_vid").alias("vec_id"),
        F.lit(0).cast("long").alias("radius"),
    )
    for k in range(1, 4):
        w = cur.agg(
            F.max(
                F.struct(
                    F.col("md").alias("d"),
                    (-F.col("vec_id")).alias("nv"),
                    F.col("vec_id").alias("vid"),
                    F.col("qv").alias("wqv"),
                )
            ).alias("w")
        )
        out = out.unionByName(
            w.select(
                F.lit(k).alias("pick"),
                F.col("w.vid").alias("vec_id"),
                F.col("w.d").alias("radius"),
            )
        )
        if k < 3:
            wf = w.select(F.col("w.wqv").alias("w_qv"))
            cur = cur.crossJoin(F.broadcast(wf)).select(
                "vec_id",
                "qv",
                F.least(F.col("md"), dist(F.col("w_qv"))).alias("md"),
            )
    return out


_MM_DIST = (
    "CAST(list_sum(list_transform(generate_series(1, len({a}.qv)), "
    "i -> ({a}.qv[i] - {b}[i]) * ({a}.qv[i] - {b}[i]))) AS BIGINT)"
)

S_KMEANS_SEED_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
s0 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
m0 AS (
  SELECT q.vec_id, q.qv, {_MM_DIST.format(a='q', b='s0.qv')} AS md
  FROM q, s0
),
w1 AS (SELECT max(struct_pack(d := md, nv := -vec_id, vid := vec_id,
                              wqv := qv)) AS w FROM m0),
m1 AS (
  SELECT m0.vec_id, m0.qv,
         least(m0.md, {_MM_DIST.format(a='m0', b='(w1.w).wqv')}) AS md
  FROM m0, w1
),
w2 AS (SELECT max(struct_pack(d := md, nv := -vec_id, vid := vec_id,
                              wqv := qv)) AS w FROM m1),
m2 AS (
  SELECT m1.vec_id, m1.qv,
         least(m1.md, {_MM_DIST.format(a='m1', b='(w2.w).wqv')}) AS md
  FROM m1, w2
),
w3 AS (SELECT max(struct_pack(d := md, nv := -vec_id, vid := vec_id,
                              wqv := qv)) AS w FROM m2)
SELECT 0 AS pick, (SELECT vec_id FROM s0) AS vec_id,
       CAST(0 AS BIGINT) AS radius
UNION ALL SELECT 1, (w).vid, (w).d FROM w1
UNION ALL SELECT 2, (w).vid, (w).d FROM w2
UNION ALL SELECT 3, (w).vid, (w).d FROM w3
"""


# -------------------------------------------------------- s_mmr_rerank
_MMR_Q = 4        # query vectors (lowest vec_ids)
_MMR_POOL = 12    # exact-top candidate pool per query
_MMR_K = 4        # diversified picks per query
_MMR_LN, _MMR_LD = 7, 3   # λ = 0.7 as integer weights (7·rel − 3·sim)

_MMR_DOT_SQL = ("CAST(list_sum(list_transform(generate_series(1, "
                "len({a})), i -> {a}[i] * {b}[i])) AS BIGINT)")


def s_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking — retrieval
    DIVERSIFICATION as the missing read-side rung after the recall
    ladder (sig → int8 → PQ → multi-probe → hybrid RRF): from each
    query's exact top-12 pool, iteratively pick the candidate
    maximizing 7·rel − 3·max-sim-to-picked (λ = 0.7 as exact integer
    weights — the Carbonell-Goldstein MMR objective [SIGIR'98,
    public] on the fixed-point grid), so near-duplicate hits crowd
    each other out of the final 4.  Emits (qid, pick, vec_id, rel,
    maxsim) — maxsim at selection time is the redundancy the pick
    paid.

    Exactness: rel and sim are dot products of the 1e4-quantized
    integer vectors (exact longs, ≤ 64·1e8 ≪ 2⁶³); the per-round
    argmax is a lexicographic (score, −vec_id) struct max (total
    order, ties to the lowest id); λ never divides — both weights
    multiply.  The running max-sim folds through ``greatest`` from an
    initial 0, so a NEGATIVE similarity to every picked item clamps
    to 0 (no redundancy bonus for anti-correlated hits — a
    deliberate, engine-identical strengthening of the plain MMR
    penalty).

    Scale shape: the pool build is the broadcast query fan-out + one
    per-qid rank window (top-12); each MMR round is ONE map-combined
    struct-max per qid with the winner (vector riding the struct — no
    join-back) broadcast into the running max-sim fold — the
    ``s_kmeans_seed`` Gonzalez shape pointed at retrieval.  k rounds
    = k sketch-sized joins; nothing driver-side."""
    q = _km_quant(spark, sf_dir)
    qs = (
        q.orderBy("vec_id")
        .limit(_MMR_Q)
        .select(F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"))
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = (
        q.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "qv",
            dot(F.col("qv"), F.col("qqv")).alias("rel"),
        )
    )
    wrk = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("vec_id"))
    pool = (
        scored.withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") <= _MMR_POOL)
        .select(
            "qid", "vec_id", "qv", "rel",
            F.lit(0).cast("long").alias("ms"),
        )
    )
    out = None
    for k in range(_MMR_K):
        score = F.col("rel") * _MMR_LN - F.col("ms") * _MMR_LD
        w = pool.groupBy("qid").agg(
            F.max(
                F.struct(
                    score.alias("s"),
                    (-F.col("vec_id")).alias("nv"),
                    F.col("vec_id").alias("vid"),
                    F.col("qv").alias("wqv"),
                    F.col("rel").alias("wrel"),
                    F.col("ms").alias("wms"),
                )
            ).alias("w")
        )
        picked = w.select(
            "qid",
            F.lit(k).cast("long").alias("pick"),
            F.col("w.vid").alias("vec_id"),
            F.col("w.wrel").alias("rel"),
            F.col("w.wms").alias("maxsim"),
        )
        out = picked if out is None else out.unionByName(picked)
        if k < _MMR_K - 1:
            pool = (
                pool.join(F.broadcast(w), "qid")
                .where(F.col("vec_id") != F.col("w.vid"))
                .select(
                    "qid", "vec_id", "qv", "rel",
                    F.greatest(
                        "ms", dot(F.col("qv"), F.col("w.wqv"))
                    ).alias("ms"),
                )
            )
    return out


def _s_mmr_rerank_sql() -> str:
    dot_pq = _MMR_DOT_SQL.format(a="p.qv", b="(w.w).wqv")
    parts = []
    for k in range(_MMR_K):
        parts.append(f"""w{k} AS (
  SELECT qid, max(struct_pack(s := rel * {_MMR_LN} - ms * {_MMR_LD},
                              nv := -vec_id, vid := vec_id, wqv := qv,
                              wrel := rel, wms := ms)) AS w
  FROM pool{k} GROUP BY qid
)""")
        if k < _MMR_K - 1:
            parts.append(f"""pool{k + 1} AS (
  SELECT p.qid AS qid, vec_id, p.qv AS qv, rel,
         greatest(ms, {dot_pq}) AS ms
  FROM pool{k} p JOIN w{k} w ON p.qid = w.qid
  WHERE vec_id != (w.w).vid
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT qid, CAST({k} AS BIGINT) AS pick, (w).vid AS vec_id, "
        f"(w).wrel AS rel, (w).wms AS maxsim FROM w{k}"
        for k in range(_MMR_K)
    )
    body = ",\n".join(parts)
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
qs AS (SELECT vec_id AS qid, qv AS qqv FROM q ORDER BY vec_id LIMIT {_MMR_Q}),
scored AS (
  SELECT qid, vec_id, qv,
         {_MMR_DOT_SQL.format(a="qv", b="qqv")} AS rel
  FROM q, qs WHERE vec_id != qid
),
pool0 AS (
  SELECT qid, vec_id, qv, rel, CAST(0 AS BIGINT) AS ms FROM (
    SELECT qid, vec_id, qv, rel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY rel DESC, vec_id) AS rk
    FROM scored
  ) WHERE rk <= {_MMR_POOL}
),
{body}
{unions}
"""


S_KMEANS_2STEP_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
  FROM q ORDER BY vec_id LIMIT 8
),
a1 AS (
  SELECT vec_id, qv, cid,
         CAST(list_sum(list_transform(generate_series(1, len(qv)),
           i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS BIGINT) AS d
  FROM q, seeds
),
as1 AS (
  SELECT vec_id, m.cid AS cid, m.d AS d, qv FROM (
    SELECT vec_id, min(struct_pack(d := d, cid := cid)) AS m,
           any_value(qv) AS qv
    FROM a1 GROUP BY vec_id
  )
),
ex1 AS (
  SELECT cid, generate_subscripts(qv, 1) - 1 AS dim, unnest(qv) AS v
  FROM as1
),
c1 AS (
  SELECT cid, list(c ORDER BY dim) AS cv FROM (
    SELECT cid, dim,
           CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)) AS BIGINT) AS c
    FROM ex1 GROUP BY cid, dim
  ) GROUP BY cid
),
a2 AS (
  SELECT vec_id, qv, cid,
         CAST(list_sum(list_transform(generate_series(1, len(qv)),
           i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS BIGINT) AS d
  FROM q, c1
),
as2 AS (
  SELECT vec_id, m.cid AS cid, m.d AS d FROM (
    SELECT vec_id, min(struct_pack(d := d, cid := cid)) AS m
    FROM a2 GROUP BY vec_id
  )
),
moved AS (
  SELECT CAST(sum(CASE WHEN x.cid != y.cid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_moved
  FROM as1 x JOIN as2 y ON x.vec_id = y.vec_id
)
SELECT 1 AS round, CAST(sum(d) AS BIGINT) AS inertia,
       CAST(0 AS BIGINT) AS n_moved
FROM as1
UNION ALL
SELECT 2, CAST(sum(d) AS BIGINT), (SELECT n_moved FROM moved)
FROM as2
"""


# ------------------------------------------------------- s_kmeans_train
_KMT_K = 8            # clusters (matches the step/2step queries)
_KMT_MAX_ITERS = 64   # driver-loop safety cap
_KMT_ORACLE_R = 48    # oracle unroll depth — strictly past the
#                       measured fixpoints (10/11/40 at
#                       sf0.001/0.01/0.1); Lloyd rounds past the
#                       fixpoint re-derive identical assignments,
#                       provably no-ops


def _kmt_hash(r: int) -> int:
    """Deterministic 32-bit draw for seeding round r — a PYTHON-side
    md5 constant, so both engines inline the SAME literal (no
    cross-engine hash spelling to keep aligned)."""
    import hashlib as _hl

    return int(_hl.md5(str(r).encode()).hexdigest()[:8], 16)


def s_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means run TO CONVERGENCE at the family default k=8 — see
    `_kmeans_train` (the k-parametric trainer; `s_kmeans_train_k12`
    is the k=12 registration closing ROADMAP's "k > 8 left undone")."""
    return _kmeans_train(spark, sf_dir, _KMT_K)


def s_kmeans_train_k12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=12 trainer — same loop, same oracle generator with k
    threaded through (seed draws r=1..11 reuse the md5(r) literals;
    measured fixpoints 7/17/26 at sf0.001/0.01/0.1 — more clusters,
    shorter rounds-to-stability on this corpus, well inside the
    48-round unroll)."""
    return _kmeans_train(spark, sf_dir, 12)


def _kmeans_train(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """k-means run TO CONVERGENCE — the ROADMAP's to-convergence
    trainer over the pinned Lloyd primitives, completing the
    convergence-loop family (PageRank fixpoint, truss peel): km++
    style seeding, then ``_km_assign``/``_km_update`` rounds until
    n_moved = 0 — a DECIDABLE stop (assignments are exact integer
    argmins; once no vector moves, centroids and every later round
    are provably identical).  Output is the full convergence ledger
    (round, inertia, n_moved) — the oracle re-derives the SAME
    stopping round from an unrolled schedule, so the loop's length is
    cross-engine-checked, not just its final state.

    Seeding (the ROADMAP's md5-threshold weighted draw): seed 1 is
    the lowest vec_id; each next seed is a D²-WEIGHTED draw made
    exact — r-th round draws threshold t = md5(r) mod ΣD² (the md5 a
    Python-side literal, identical in both engines) and picks the
    first vector in vec_id order whose prefix-summed D² exceeds t
    (the inverse-CDF draw on the exact integer grid; k-means++
    [Arthur & Vassilvitskii, SODA'07 — public] with the RNG replaced
    by a hash so the oracle can replay it).  Each pick is one
    map-combined ΣD² + one prefix-sum window + a 1-row broadcast
    fold into the running min-distance column.

    Measured fixpoints (n_moved = 0): round 10/11/40 at
    sf0.001/0.01/0.1 — the oracle unrolls 48 rounds, strictly past
    every one, and keeps rows up to the first stable round (rounds
    past it re-derive identical assignments — no-ops both engines
    pay symmetrically).

    Scale shape: per Lloyd round, the audited ``s_kmeans_step`` plan
    (broadcast k-row centroid fan-out, per-vector struct-min, map-
    combined update) plus the ONE honest O(n) vec_id equi-join that
    prices n_moved; ONE control-plane scalar per round; per-round
    localCheckpoint of the O(n) assignment keeps lineage flat (the
    centroid recursion enters each round linearly, so stats grow
    arithmetically — no ``reset_stats`` needed, unlike the
    truss peel's multiplicative recursion).  The seeding window is a
    global prefix sum — k−1 sorted passes, the exact-draw cost; at
    production scale the draw is replaced per-partition (sample,
    then draw among partials), the documented km++ scale-out."""
    q = materialize(_km_quant(spark, sf_dir), "kmeans_train:quantized vectors")

    def dist_to(cv_col):
        return F.aggregate(
            F.zip_with("qv", cv_col, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # ---- km++-style seeding (deterministic inverse-CDF draws)
    c0 = q.orderBy("vec_id").limit(1).select(
        F.lit(0).alias("cid"), F.col("qv").alias("cv")
    )
    cur = q.crossJoin(F.broadcast(c0.select("cv"))).select(
        "vec_id", "qv", dist_to(F.col("cv")).alias("md")
    )
    seeds = c0
    w_cum = (
        Window.orderBy("vec_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for r in range(1, k):
        tot = cur.agg(F.sum("md").alias("tot"))
        thr = tot.select((F.lit(_kmt_hash(r)) % F.col("tot")).alias("thr"))
        pick = materialize(
            cur.withColumn("cum", F.sum("md").over(w_cum))
            .crossJoin(F.broadcast(thr))
            .where(F.col("cum") > F.col("thr"))
            .agg(F.min(F.struct("vec_id", "qv")).alias("w"))
            .select(F.lit(r).alias("cid"), F.col("w.qv").alias("cv")),
            f"kmeans_train:seed {r}")
        seeds = seeds.unionByName(pick)
        if r < k - 1:
            cur = materialize(cur.crossJoin(F.broadcast(pick.select("cv"))).select(
                "vec_id", "qv",
                F.least(F.col("md"), dist_to(F.col("cv"))).alias("md"),
            ), f"kmeans_train:seed distances {r}")

    # ---- Lloyd to the n_moved = 0 fixpoint
    cents = seeds
    prev = None
    ledger = []
    iters = 0
    while True:
        iters += 1
        if iters > _KMT_MAX_ITERS:
            raise RuntimeError("Lloyd did not reach a fixpoint")
        a = materialize(_km_assign(q, cents), f"kmeans_train:assignment {iters}")
        inertia = a.agg(F.sum("d").alias("i"))
        if prev is None:
            moved = inertia.select(F.lit(0).cast("long").alias("n_moved"))
        else:
            moved = (
                prev.select("vec_id", F.col("cid").alias("pc"))
                .join(a.select("vec_id", "cid"), "vec_id")
                .agg(F.sum((F.col("pc") != F.col("cid")).cast("long"))
                     .alias("n_moved"))
            )
        row = materialize(
            inertia.crossJoin(F.broadcast(moved))
            .select(
                F.lit(iters).cast("long").alias("round"),
                F.col("i").cast("long").alias("inertia"),
                "n_moved",
            ),
            f"kmeans_train:ledger row {iters}",
        )
        ledger.append(row)
        # ONE control-plane scalar per round — the stop test
        n_moved = row.first()["n_moved"]
        if prev is not None and n_moved == 0:
            break
        prev = a
        cents = materialize(_km_update(a), f"kmeans_train:centroids {iters}")
    if iters > _KMT_ORACLE_R:
        raise RuntimeError(
            f"Lloyd fixpoint at round {iters} > the oracle unroll "
            f"depth _KMT_ORACLE_R={_KMT_ORACLE_R}; raise the unroll "
            "depth so rounds past the fixpoint stay no-ops"
        )
    out = ledger[0]
    for r_ in ledger[1:]:
        out = out.unionByName(r_)
    return out


def _s_kmeans_train_sql(r_max: int = _KMT_ORACLE_R,
                        k: int = _KMT_K) -> str:
    """Generated oracle: the km++-style seed draws (same Python-side
    md5 literals) + r_max unrolled Lloyd rounds, keeping ledger rows
    up to the first stable round (min round >= 2 with n_moved = 0 —
    identical semantics to the driver loop's stop test).  Every
    iteration CTE is MATERIALIZED (the PageRank-oracle lesson: plain
    CTEs re-evaluate each chain per reference, O(k²) blowup).  The
    prefix-sum window CASTs AS BIGINT (DuckDB windowed sum(BIGINT)
    returns HUGEINT → pandas float)."""
    def d2(a: str, b: str) -> str:
        return ("CAST(list_sum(list_transform(generate_series(1, "
                f"len({a}.qv)), i -> ({a}.qv[i] - {b}[i]) * "
                f"({a}.qv[i] - {b}[i]))) AS BIGINT)")

    parts = []
    parts.append(
        "m0 AS MATERIALIZED (\n"
        f"  SELECT q.vec_id, q.qv, {d2('q', 's0.cv')} AS md\n"
        "  FROM q, s0\n)"
    )
    for r in range(1, k):
        p = r - 1
        parts.append(
            f"t{r} AS MATERIALIZED (\n"
            f"  SELECT CAST({_kmt_hash(r)} % sum(md) AS BIGINT) AS thr"
            f" FROM m{p}\n)"
        )
        parts.append(
            f"p{r} AS MATERIALIZED (\n"
            f"  SELECT {r} AS cid,"
            " min(struct_pack(vid := vec_id, qv := qv)) AS w\n"
            "  FROM (\n"
            "    SELECT vec_id, qv,\n"
            "           CAST(sum(md) OVER (ORDER BY vec_id\n"
            "             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT"
            " ROW) AS BIGINT) AS cum\n"
            f"    FROM m{p}\n"
            f"  ), t{r}\n"
            "  WHERE cum > thr\n)"
        )
        if r < k - 1:
            parts.append(
                f"m{r} AS MATERIALIZED (\n"
                f"  SELECT m{p}.vec_id, m{p}.qv,\n"
                f"         least(m{p}.md, {d2(f'm{p}', f'(p{r}.w).qv')})"
                " AS md\n"
                f"  FROM m{p}, p{r}\n)"
            )
    seed_union = "\n  UNION ALL ".join(
        ["SELECT 0 AS cid, cv FROM s0"]
        + [f"SELECT {r}, (w).qv FROM p{r}" for r in range(1, k)]
    )
    parts.append(f"c0 AS MATERIALIZED (\n  {seed_union}\n)")
    leds = []
    for r in range(1, r_max + 1):
        p = r - 1
        parts.append(
            f"a{r} AS MATERIALIZED (\n"
            "  SELECT vec_id, m.cid AS cid, m.d AS d, qv FROM (\n"
            "    SELECT vec_id, min(struct_pack(d := d, cid := cid))"
            " AS m,\n"
            "           any_value(qv) AS qv\n"
            "    FROM (\n"
            f"      SELECT q.vec_id, q.qv, c.cid, {d2('q', 'c.cv')} AS d\n"
            f"      FROM q, c{p} c\n"
            "    ) GROUP BY vec_id\n"
            "  )\n)"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (\n"
            "  SELECT cid, list(c ORDER BY dim) AS cv FROM (\n"
            "    SELECT cid, dim,\n"
            "           CAST(floor(CAST(sum(v) AS DOUBLE) / count(*))"
            " AS BIGINT) AS c\n"
            "    FROM (SELECT cid, generate_subscripts(qv, 1) - 1 AS"
            " dim, unnest(qv) AS v\n"
            f"          FROM a{r})\n"
            "    GROUP BY cid, dim\n"
            "  ) GROUP BY cid\n)"
        )
        if r == 1:
            moved = "CAST(0 AS BIGINT)"
        else:
            moved = (
                "(SELECT CAST(sum(CASE WHEN x.cid != y.cid THEN 1"
                " ELSE 0 END) AS BIGINT)\n"
                f"     FROM a{p} x JOIN a{r} y ON x.vec_id = y.vec_id)"
            )
        leds.append(
            f"SELECT CAST({r} AS BIGINT) AS round,"
            f" CAST(sum(d) AS BIGINT) AS inertia,\n"
            f"    {moved} AS n_moved\n  FROM a{r}"
        )
    ledger = "\n  UNION ALL ".join(leds)
    parts.append(f"ledger AS MATERIALIZED (\n  {ledger}\n)")
    parts.append(
        "fix AS (SELECT min(round) AS f FROM ledger"
        " WHERE round >= 2 AND n_moved = 0)"
    )
    body = ",\n".join(parts)
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
s0 AS MATERIALIZED (
  SELECT 0 AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT 1
),
{body}
SELECT round, inertia, n_moved FROM ledger
WHERE round <= (SELECT f FROM fix)
"""


_CORESET_K = 8   # selected centers


def s_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CENTER CORESET selection — Gonzalez 1985's farthest-point
    greedy (public; the 2-approximation for the k-center objective),
    pointed at training-data curation: pick the k most MUTUALLY
    DISTANT exemplars of the corpus, the diversity-selection pass a
    pipeline runs before expensive per-exemplar work (contrast
    `s_mmr_rerank`, which diversifies a QUERY's candidate pool, and
    km++ seeding, which randomizes — this is the deterministic
    worst-case-coverage pick).

    Loop: seed with the lowest vec_id; each of the k−1 rounds picks
    the vector FARTHEST from the selected set (exact integer squared
    distance on the fixed-point grid; ties by lowest vec_id via the
    struct ordering) and folds it into the running min-distance
    column.  Output ledger: (k_idx, vec_id, r2 = the pick's distance
    to the set at selection — nonincreasing for k_idx ≥ 1, the
    Gonzalez law the pytest pins) plus final_r2 = max md after all k
    picks, the 2-approximate k-center covering radius every row
    carries.

    Scale shape: per round ONE map-combined struct-max over the
    O(n) distance column + a 1-row broadcast fold — the exact
    `s_kmeans_train` seeding plan with argmax in place of the
    inverse-CDF draw; k rounds total, no window, no join wider than
    a 1-row broadcast."""
    q = materialize(_km_quant(spark, sf_dir), "s_coreset:quantized vectors")

    def dist_to(cv_col):
        return F.aggregate(
            F.zip_with("qv", cv_col, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    s0 = materialize(q.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("vid"), F.col("qv").alias("cv")
    ), "s_coreset:first center")
    cur = materialize(q.crossJoin(F.broadcast(s0.select("cv"))).select(
        "vec_id", "qv", dist_to(F.col("cv")).alias("md")
    ), "s_coreset:distances 0")
    ledger = [s0.select(
        F.lit(0).cast("long").alias("k_idx"),
        F.col("vid").alias("vec_id"),
        F.lit(0).cast("long").alias("r2"),
    )]
    for r in range(1, _CORESET_K):
        pick = materialize(cur.agg(
            F.max(F.struct(
                F.col("md"),
                (-F.col("vec_id")).alias("nid"),
                F.col("vec_id").alias("vid"),
                F.col("qv").alias("cv"),
            )).alias("w")
        ).select(
            F.col("w.vid").alias("vid"),
            F.col("w.cv").alias("cv"),
            F.col("w.md").alias("r2"),
        ), f"s_coreset:center {r}")
        ledger.append(pick.select(
            F.lit(r).cast("long").alias("k_idx"),
            F.col("vid").alias("vec_id"),
            "r2",
        ))
        cur = materialize(cur.crossJoin(F.broadcast(pick.select("cv"))).select(
            "vec_id", "qv",
            F.least(F.col("md"), dist_to(F.col("cv"))).alias("md"),
        ), f"s_coreset:distances {r}")
    cover = cur.agg(F.max("md").alias("final_r2"))
    out = ledger[0]
    for l_ in ledger[1:]:
        out = out.unionByName(l_)
    return out.crossJoin(F.broadcast(cover)).select(
        "k_idx", "vec_id", "r2", "final_r2"
    )


def _s_coreset_sql(k: int = _CORESET_K) -> str:
    """Generated oracle: the k−1 farthest-point rounds unrolled, the
    same struct ordering (md DESC, vec_id ASC via the negated id),
    every round MATERIALIZED."""
    def d2(a: str, b: str) -> str:
        return ("CAST(list_sum(list_transform(generate_series(1, "
                f"len({a}.qv)), i -> ({a}.qv[i] - {b}[i]) * "
                f"({a}.qv[i] - {b}[i]))) AS BIGINT)")

    parts = [
        "m0 AS MATERIALIZED (\n"
        f"  SELECT q.vec_id, q.qv, {d2('q', 's0.cv')} AS md\n"
        "  FROM q, s0\n)"
    ]
    for r in range(1, k):
        p = r - 1
        parts.append(
            f"p{r} AS MATERIALIZED (\n"
            "  SELECT max(struct_pack(md := md, nid := -vec_id,"
            " vid := vec_id, qv := qv)) AS w\n"
            f"  FROM m{p}\n)"
        )
        parts.append(
            f"m{r} AS MATERIALIZED (\n"
            f"  SELECT m{p}.vec_id, m{p}.qv,\n"
            f"         least(m{p}.md, {d2(f'm{p}', f'(p{r}.w).qv')})"
            " AS md\n"
            f"  FROM m{p}, p{r}\n)"
        )
    led = "\n  UNION ALL ".join(
        ["SELECT CAST(0 AS BIGINT) AS k_idx, vid AS vec_id,"
         " CAST(0 AS BIGINT) AS r2 FROM s0"]
        + [f"SELECT {r}, (w).vid, (w).md FROM p{r}"
           for r in range(1, k)]
    )
    body = ",\n".join(parts)
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
s0 AS MATERIALIZED (
  SELECT vec_id AS vid, qv AS cv FROM q ORDER BY vec_id LIMIT 1
),
{body},
cover AS (SELECT CAST(max(md) AS BIGINT) AS final_r2 FROM m{k - 1}),
ledger AS (
  {led}
)
SELECT l.k_idx, l.vec_id, CAST(l.r2 AS BIGINT) AS r2, c.final_r2
FROM ledger l CROSS JOIN cover c
"""


# ------------------------------------------------------ t_quality_filter
_BHDR_SBITS = 4                    # same budget as w_quantile_hdr
_BHDR_QBP = (5000, 9000, 9900)     # quantiles as exact basis points


def t_bytes_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED HDR quantiles — the ROADMAP extension of the rank
    sketch (bucket increments > 1), pointed at the number a
    training-data pipeline actually plans with: the BYTE-weighted
    document-length distribution per language ("half this language's
    corpus bytes sit in documents shorter than X chars" — the
    truncation/packing budget), not the document-count quantile.

    Sketch: each doc adds its n_chars as WEIGHT to its top-5
    significant-bits bucket (the ``_hdr_rep`` quantization —
    non-negative domain, monotone); the build is ONE map-combined
    SUM into ≤16·octaves cells per lang.  Read side: the weighted
    rank rnk = ⌈q·W/10⁴⌉ (exact integer cross-multiplication over
    the total byte mass W), CDF walk over the sketch rows, and the
    exact audit = the smallest length whose CUMULATIVE byte mass
    reaches rnk (a per-lang cumulative-sum window over the sorted
    lengths — the O(n log n) sort the sketch replaces).  est ≤ exact
    < est·(1+2⁻ˢ) holds unchanged: quantization is monotone and
    weights are non-negative, so the weighted CDF argument is the
    same as the unit-weight one; err_bp < 625 pinned in pytest.

    Scale shape: the sketch relation is ≤ 16·octaves rows per lang at
    ANY corpus size and merges by keyed counter sum exactly like the
    unit-weight law (``st_quantile_hdr``) — weights change nothing
    about associativity."""
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("v")
    )
    sh = f"CAST(greatest(length(bin(v)) - 1 - {_BHDR_SBITS}, 0) AS INT)"
    rep = F.expr(f"shiftleft(shiftright(v, {sh}), {sh})")
    sketch = (
        docs.select("lang", rep.alias("rep"), "v")
        .groupBy("lang", "rep")
        .agg(F.sum("v").alias("wcnt"))
    )
    wcum = Window.partitionBy("lang").orderBy("rep")
    cdf = sketch.select(
        "lang", "rep",
        F.sum("wcnt").over(
            wcum.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
    )
    tgt = (
        sketch.groupBy("lang")
        .agg(F.sum("wcnt").alias("w_total"), F.count("*").alias("n_buckets"))
        .select(
            "lang", "w_total", "n_buckets",
            F.explode(
                F.array(*[F.lit(q).cast("long") for q in _BHDR_QBP])
            ).alias("q_bp"),
        )
        .withColumn("rnk", F.expr("(w_total * q_bp + 9999) div 10000"))
    )
    est = (
        tgt.join(F.broadcast(cdf), "lang")
        .where(F.col("cum") >= F.col("rnk"))
        .groupBy("lang", "q_bp", "rnk", "w_total", "n_buckets")
        .agg(F.min("rep").alias("est"))
    )
    # exact weighted rank: cumulative byte mass over lengths sorted
    # ascending.  No tiebreaker on purpose (ADVICE r14 — the earlier
    # duplicated ("v", "v") key read as one that was never added):
    # ties in v cross rnk inside the tie group, where min(v) is the
    # same value regardless of intra-tie row order, so tie order
    # cannot affect the answer.
    ranked = docs.select(
        "lang", "v",
        F.sum("v").over(
            Window.partitionBy("lang").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cw"),
    )
    exact = (
        est.join(ranked, "lang")
        .where(F.col("cw") >= F.col("rnk"))
        .groupBy("lang", "q_bp", "rnk", "w_total", "n_buckets", "est")
        .agg(F.min("v").alias("exact"))
    )
    return exact.select(
        "lang", "q_bp", "w_total", "n_buckets", "rnk", "est", "exact",
        F.when(F.col("exact") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                ((F.col("exact") - F.col("est")) * 10000).cast("double")
                / F.col("exact")
            ).cast("long")
        ).alias("err_bp"),
    )


T_BYTES_HDR_SQL = f"""
WITH docs AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents
),
sk AS (
  SELECT lang,
         (v >> greatest(length(bin(v)) - 1 - {_BHDR_SBITS}, 0))
           << greatest(length(bin(v)) - 1 - {_BHDR_SBITS}, 0) AS rep,
         CAST(sum(v) AS BIGINT) AS wcnt
  FROM docs GROUP BY 1, 2
),
cdf AS (
  SELECT lang, rep,
         CAST(sum(wcnt) OVER (PARTITION BY lang ORDER BY rep)
              AS BIGINT) AS cum
  FROM sk
),
tgt AS (
  SELECT lang, w_total, n_buckets, q_bp,
         (w_total * q_bp + 9999) // 10000 AS rnk
  FROM (SELECT lang, CAST(sum(wcnt) AS BIGINT) AS w_total,
               count(*) AS n_buckets
        FROM sk GROUP BY 1) t,
       (SELECT unnest([{", ".join(str(q) for q in _BHDR_QBP)}]) AS q_bp)
),
est AS (
  SELECT t.lang, t.q_bp, t.rnk, t.w_total, t.n_buckets,
         min(c.rep) AS est
  FROM tgt t JOIN cdf c ON c.lang = t.lang AND c.cum >= t.rnk
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT lang, v,
         CAST(sum(v) OVER (PARTITION BY lang ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cw
  FROM docs
),
ex AS (
  SELECT e.lang, e.q_bp, e.rnk, e.w_total, e.n_buckets, e.est,
         min(r.v) AS exact
  FROM est e JOIN ranked r ON r.lang = e.lang AND r.cw >= e.rnk
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT lang, q_bp, w_total, n_buckets, rnk, est, exact,
       CASE WHEN exact = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(CAST((exact - est) * 10000 AS DOUBLE)
                 / exact) AS BIGINT) END AS err_bp
FROM ex
"""


def t_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-filter ACCOUNTING stage: apply heuristic quality
    gates and report kept/dropped document counts and surviving token
    volume per (lang, source) — the numbers a training-data pipeline
    publishes after every filter pass.

    Gates are INTEGER cross-multiplications (token count ≥ 20,
    stopword ratio ≥ 0.2 as ``5·stop ≥ n_tok``, punctuation ratio
    ≤ 5% as ``20·punct ≤ n_chars``), so the keep decision is exact in
    both engines — no float thresholds anywhere.  Scale: narrow
    per-row predicate in codegen, then one partial-combining aggregate
    on the tiny (lang, source) key."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    n_tok = F.size("tokens")
    stop = F.size(F.filter("tokens", lambda t: t.isin([w for w, _ in LANG_LEXICON])))
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.!?,;:]", ""))
    keep = (
        (n_tok >= 20)
        & (stop * 5 >= n_tok)
        & (n_punct * 20 <= F.length("text"))
    ).cast("long")
    return (
        d.select("lang", "source", keep.alias("keep"), n_tok.alias("n_tok"))
        .groupBy("lang", "source")
        .agg(
            F.sum("keep").alias("n_kept"),
            (F.count("*") - F.sum("keep")).alias("n_dropped"),
            F.sum(F.col("keep") * F.col("n_tok")).cast("long").alias("kept_tokens"),
        )
    )


T_QUALITY_FILTER_SQL = f"""
WITH flags AS (
  SELECT lang, source,
         CAST(len({_TOKENS_SQL}) >= 20
              AND 5 * len(list_filter({_TOKENS_SQL}, t -> t IN ({_STOPLIST_SQL})))
                    >= len({_TOKENS_SQL})
              AND 20 * (length(text)
                        - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
                    <= length(text) AS BIGINT) AS keep,
         len({_TOKENS_SQL}) AS n_tok
  FROM documents
)
SELECT lang, source,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(keep) AS BIGINT) AS n_dropped,
       CAST(sum(keep * n_tok) AS BIGINT) AS kept_tokens
FROM flags
GROUP BY 1, 2
"""


# ------------------------------------------------------- t_seq_packing
def t_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training (concat-and-chunk): documents
    concatenate per source shard in doc_id order and split at a fixed
    512-token context budget — ``pack_id = tokens-before DIV 512`` —
    so a document straddling a boundary runs into the next pack (the
    "document concatenation" packing strategy training pipelines use;
    best-fit bin packing needs sequential remainder state and buys
    little once documents ≪ budget).  All integer arithmetic: one
    per-source window cumsum, then a partial-combining per-pack
    aggregate.  Shuffle keys at 100 TB: ``source`` (the shard), then
    ``(source, pack_id)`` — both partitionable."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    per = d.select(
        "source", "doc_id", F.size("tokens").cast("long").alias("n_tok")
    )
    wb = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per.withColumn(
        "tok_before", F.coalesce(F.sum("n_tok").over(wb), F.lit(0).cast("long"))
    ).withColumn("pack_id", F.expr("tok_before div 512"))
    return cum.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


T_SEQ_PACKING_SQL = f"""
WITH per AS (
  SELECT source, doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  -- CAST: DuckDB window sum(BIGINT) is HUGEINT, which pandas would
  -- surface as float64 (the check_contract.py HUGEINT trap).
  SELECT source, doc_id, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_before
  FROM per
)
SELECT source, tok_before // 512 AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM cum
GROUP BY 1, 2
"""


# ----------------------------------------------------- t_pipeline_e2e
def t_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-prep pipeline in ONE query — the end-to-end
    ledger a training-data run publishes: normalize → exact-dedup
    (keeper = min doc_id per normalized digest, ``d_norm_dedup``'s
    rule) → integer quality gates on the keepers
    (``t_quality_filter``'s gates) → per-(lang, source) accounting
    with surviving token volume and the packed-sequence count at a
    512-token budget (integer ceil).  Composing the registered
    operators pins stage ORDER: a duplicate of a low-quality document
    counts as a dedup drop, never a quality drop.  Scale shape: one
    narrow per-doc pass, a window over the digest (same key as the
    dedup hash-group), one tiny-key aggregate."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    n_tok = F.size("tokens").cast("long")
    stop = F.size(
        F.filter("tokens", lambda t: t.isin([w for w, _ in LANG_LEXICON]))
    ).cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", r"[.!?,;:]", ""))
    ).cast("long")
    quality = (
        (n_tok >= 20)
        & (stop * 5 >= n_tok)
        & (n_punct * 20 <= F.length("text"))
    ).cast("long")
    per_doc = d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(norm).alias("norm_hash"),
        n_tok.alias("n_tok"),
        quality.alias("quality"),
    )
    is_keeper = (
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("norm_hash"))
    ).cast("long")
    flagged = per_doc.withColumn("keeper", is_keeper)
    agged = flagged.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs_in"),
        (F.count("*") - F.sum("keeper")).alias("n_dupes_removed"),
        F.sum(F.col("keeper") * (1 - F.col("quality"))).alias("n_quality_dropped"),
        F.sum(F.col("keeper") * F.col("quality")).alias("n_kept"),
        F.sum(F.col("keeper") * F.col("quality") * F.col("n_tok")).alias(
            "kept_tokens"
        ),
    )
    return agged.withColumn(
        "n_sequences", F.expr("(kept_tokens + 511) div 512")
    )


T_PIPELINE_E2E_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, lang, source,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           AS norm_hash,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tok,
         CAST(len({_TOKENS_SQL}) >= 20
              AND 5 * len(list_filter({_TOKENS_SQL},
                                      t -> t IN ({_STOPLIST_SQL})))
                    >= len({_TOKENS_SQL})
              AND 20 * (length(text)
                        - length(regexp_replace(text, '[.!?,;:]', '', 'g')))
                    <= length(text) AS BIGINT) AS quality
  FROM documents
),
flagged AS (
  SELECT p.*,
         CAST(doc_id = min(doc_id) OVER (PARTITION BY norm_hash) AS BIGINT)
           AS keeper
  FROM per_doc p
)
SELECT lang, source,
       count(*) AS n_docs_in,
       CAST(count(*) - sum(keeper) AS BIGINT) AS n_dupes_removed,
       CAST(sum(keeper * (1 - quality)) AS BIGINT) AS n_quality_dropped,
       CAST(sum(keeper * quality) AS BIGINT) AS n_kept,
       CAST(sum(keeper * quality * n_tok) AS BIGINT) AS kept_tokens,
       (CAST(sum(keeper * quality * n_tok) AS BIGINT) + 511) // 512
         AS n_sequences
FROM flagged
GROUP BY 1, 2
"""


# ------------------------------------------------------- corpus splits
# Deterministic hash-based split: bucket = first-32-bits-of-md5(doc_id)
# mod 100, train < 90 <= val < 95 <= test.  The md5-derived bucket is
# the standard content-stable split discipline for training corpora —
# resharding, re-partitioning, or appending new documents never moves
# an existing document across splits (a random() split would).  The
# expression is identical in both engines (module docstring contract).
_SPLIT_TRAIN, _SPLIT_VAL = 90, 95


def _split_bucket_col():
    return (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )


_SPLIT_BUCKET_SQL = (
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100"
)

# 3-gram shingles as a pure Catalyst expression (vs the Arrow pass the
# minhash family uses — here there is no numpy-shaped kernel, so the
# higher-order-function form keeps the whole pipeline in codegen).
# sequence(0, n) REVERSES when n < 0 (Spark emits a descending range),
# so short documents must be fenced to an empty array explicitly.
_SHINGLES_EXPR = """
CASE WHEN size(tokens) >= 3 THEN
  transform(sequence(0, size(tokens) - 3),
            i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2]))
ELSE array() END
"""

_BIGRAMS_EXPR = """
CASE WHEN size(tokens) >= 2 THEN
  transform(sequence(0, size(tokens) - 2),
            i -> concat_ws(' ', tokens[i], tokens[i+1]))
ELSE array() END
"""

_BIGRAMS_SQL = (
    "list_transform(generate_series(1, len(tokens) - 1),"
    " i -> tokens[i] || ' ' || tokens[i+1])"
)


# -------------------------------------------------------- d_split_hash
def d_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split ledger: per (split, lang) document and
    token counts under the deterministic 90/5/5 md5-bucket split.
    Scale shape: one narrow per-doc projection (hash + token count in
    codegen), then a 15-key hash aggregate with map-side combine —
    the cheapest possible full-corpus pass at 100 TB."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    bucket = _split_bucket_col()
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            "lang",
            F.size("tokens").cast("long").alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


D_SPLIT_HASH_SQL = f"""
SELECT CASE WHEN {_SPLIT_BUCKET_SQL} < {_SPLIT_TRAIN} THEN 'train'
            WHEN {_SPLIT_BUCKET_SQL} < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split,
       lang,
       count(*) AS n_docs,
       CAST(sum(CAST(len({_TOKENS_SQL}) AS BIGINT)) AS BIGINT) AS n_tokens
FROM documents
GROUP BY 1, 2
"""


# ----------------------------------------------------- t_contamination
def t_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination check: for every test-split document
    (md5-bucket split, ``d_split_hash``'s rule), count the train
    documents sharing at least one 3-gram shingle and the distinct
    shingles shared — the n-gram-overlap decontamination pass run
    before any evaluation on held-out data.  Only contaminated test
    docs appear (inner join); ``n_shingles`` sizes the denominator
    for an overlap ratio downstream.

    Scale shape: the join is an INVERTED INDEX keyed by shingle —
    work is proportional to shared postings, never |train| × |test|.
    At 100 TB the two refinements are a document-frequency cutoff on
    stop-shingles (drop postings longer than k — skew fence) and
    hashing shingles to int64 before the shuffle (8-byte keys); both
    are orthogonal to the semantics pinned here."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_SHINGLES_EXPR))).alias("sh"),
    ).withColumn("bucket", _split_bucket_col())
    train = sh.filter(F.col("bucket") < _SPLIT_TRAIN).select(
        F.col("doc_id").alias("train_doc"), "sh"
    )
    test = sh.filter(F.col("bucket") >= _SPLIT_VAL).select("doc_id", "sh")
    n_sh = test.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        test.join(train, "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("train_doc").alias("n_train_docs"),
            F.countDistinct("sh").alias("n_shared"),
        )
    )
    return hits.join(n_sh, "doc_id")


T_CONTAMINATION_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL.strip()}) AS sh,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM tok
),
train AS (SELECT doc_id AS train_doc, sh FROM sh WHERE bucket < {_SPLIT_TRAIN}),
test AS (SELECT doc_id, sh FROM sh WHERE bucket >= {_SPLIT_VAL}),
n_sh AS (SELECT doc_id, count(*) AS n_shingles FROM test GROUP BY 1),
hits AS (
  SELECT t.doc_id,
         count(DISTINCT tr.train_doc) AS n_train_docs,
         count(DISTINCT t.sh) AS n_shared
  FROM test t JOIN train tr ON t.sh = tr.sh
  GROUP BY 1
)
SELECT h.doc_id, h.n_train_docs, h.n_shared, n.n_shingles
FROM hits h JOIN n_sh n ON h.doc_id = n.doc_id
"""


# ---------------------------------------------------- t_bloom_decontam
# Bloom membership sketch — the third cross-engine-exact sketch next
# to HLL (cardinality) and Count-Min (frequency): M = 2^14 bits as
# 512 exact 32-bit words, K = 3 salted md5-derived positions (the
# d_split_hash hex→int pairing), words merged by bit_or — the
# OR-mergeable law that makes the build one map-combined aggregate at
# any corpus size.
_BLOOM_M = 16384
_BLOOM_K = 3


def t_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-filter, audited against the
    exact join: the TEST split's shingle set builds a 2-KiB Bloom
    bitmap (512 words × 32 bits, 3 hashes, bit_or merge); every TRAIN
    document probes its shingles against the broadcast bitmap and the
    audit classifies docs by (bloom-flagged, exactly-contaminated),
    with shingle-level hit sums — the false-positive cost of routing
    clean docs to the exact check, and the structural no-false-
    negative guarantee (the flagged=0 ∧ contaminated=1 cell CANNOT
    appear; pinned in tests/test_operators.py).

    Scale shape — why a 100 TB decontamination pass wants this: the
    exact check is a shingle-keyed join against the full test
    postings (t_contamination); the Bloom probe replaces that shuffle
    with a ≤512-row BROADCAST join (or a literal bitmap in the
    production form), so only bloom-positive docs — contaminated +
    the measured FP share — ever reach the exact join.  Bits are
    integer-exact in both engines (hex-slice mod M, 1<<(p%32),
    bit_or), so the sketch itself is oracle-checkable, not just its
    accuracy."""
    # repartition-before-tokenize (guide §2.5, the t_bpe_train2
    # lesson): BOTH consumers of ``sh`` (test bitmap build, train
    # probe) re-ran tokenize + shingle explode + 3×md5 in the
    # single-row-group scan task (r20: layout-gated — no Exchange
    # when the scan already arrives in >= cores splits)
    d = spread_scan(
        _docs(spark, sf_dir).select("doc_id", "text"),
        spark, sf_dir, "documents",
    ).withColumn("tokens", _tokens_col())
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_SHINGLES_EXPR))).alias("sh"),
    ).withColumn("bucket", _split_bucket_col())
    js = spark.range(1, _BLOOM_K + 1).select(F.col("id").alias("j"))

    def positions(frame):
        return frame.join(F.broadcast(js)).withColumn(
            "p",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("sh"), F.lit("#"),
                                   F.col("j").cast("string"))), 1, 8
                ), 16, 10,
            ).cast("long") % _BLOOM_M,
        )

    test_sh = sh.filter(F.col("bucket") >= _SPLIT_VAL).select("sh").distinct()
    words = (
        positions(test_sh)
        .groupBy((F.col("p") / 32).cast("long").alias("word"))
        .agg(F.bit_or(F.expr("shiftleft(1L, int(p % 32))")).alias("bits"))
    )

    train = sh.filter(F.col("bucket") < _SPLIT_TRAIN).select(
        "doc_id", "sh"
    ).distinct()
    probe = (
        positions(train)
        .withColumn("word", (F.col("p") / 32).cast("long"))
        .join(F.broadcast(words), "word", "left")
        .withColumn(
            "hit",
            F.expr("coalesce(bits, 0L) & shiftleft(1L, int(p % 32))") != 0,
        )
        .groupBy("doc_id", "sh")
        .agg((F.sum(F.col("hit").cast("long")) == _BLOOM_K).alias("pos"))
    )
    exact = test_sh.withColumn("ex", F.lit(True))
    per_doc = (
        probe.join(F.broadcast(exact), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("pos").cast("long")).alias("bloom_hits"),
            F.sum(F.coalesce(F.col("ex"), F.lit(False)).cast("long"))
            .alias("exact_hits"),
        )
    )
    return per_doc.groupBy(
        (F.col("bloom_hits") > 0).cast("int").alias("flagged_bloom"),
        (F.col("exact_hits") > 0).cast("int").alias("contaminated"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("bloom_hits").alias("sum_bloom_hits"),
        F.sum("exact_hits").alias("sum_exact_hits"),
    )


_BLOOM_POS_SQL = (
    "CAST('0x' || substring(md5(sh || '#' || CAST(j AS VARCHAR)), 1, 8) "
    f"AS BIGINT) % {_BLOOM_M}"
)

T_BLOOM_DECONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL.strip()}) AS sh,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM tok
),
js AS (SELECT unnest(generate_series(1, {_BLOOM_K})) AS j),
test_sh AS (SELECT DISTINCT sh FROM sh WHERE bucket >= {_SPLIT_VAL}),
words AS (
  SELECT p // 32 AS word, bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS bits
  FROM (SELECT {_BLOOM_POS_SQL} AS p FROM test_sh, js) t
  GROUP BY 1
),
train AS (
  SELECT DISTINCT doc_id, sh FROM sh WHERE bucket < {_SPLIT_TRAIN}
),
probe AS (
  SELECT doc_id, sh,
         sum(CASE WHEN (coalesce(w.bits, 0)
                        & (CAST(1 AS BIGINT) << CAST(t.p % 32 AS INTEGER))) != 0
                  THEN 1 ELSE 0 END) = {_BLOOM_K} AS pos
  FROM (SELECT doc_id, sh, {_BLOOM_POS_SQL} AS p FROM train, js) t
  LEFT JOIN words w ON w.word = t.p // 32
  GROUP BY doc_id, sh
),
per_doc AS (
  SELECT p.doc_id,
         CAST(sum(CASE WHEN p.pos THEN 1 ELSE 0 END) AS BIGINT)
           AS bloom_hits,
         CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS exact_hits
  FROM probe p LEFT JOIN test_sh e ON p.sh = e.sh
  GROUP BY p.doc_id
)
SELECT CAST(bloom_hits > 0 AS INTEGER) AS flagged_bloom,
       CAST(exact_hits > 0 AS INTEGER) AS contaminated,
       count(*) AS n_docs,
       CAST(sum(bloom_hits) AS BIGINT) AS sum_bloom_hits,
       CAST(sum(exact_hits) AS BIGINT) AS sum_exact_hits
FROM per_doc
GROUP BY 1, 2
"""


# -------------------------------------------------------- t_decontam
DECON_MIN_SHARED = 5  # distinct shingles shared with the test split


def t_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination REMOVAL ledger — the other direction from
    ``t_contamination``: drop TRAIN documents that overlap the held-out
    test split (so evaluation data never leaks into training), per the
    integer rule ``n_shared >= DECON_MIN_SHARED`` distinct 3-gram
    shingles shared with ANY test document.  Per language: train-doc
    count, dropped, kept, and total shared-shingle mass — the report a
    pipeline emits alongside the cleaned train split.

    Scale shape: the test split's distinct shingle set is the small
    side by construction (5% of the corpus) — the train→test probe is
    the same inverted-index equi-join as ``t_contamination`` with the
    probe side prunable to a bloom/broadcast structure at scale; the
    verdict join back to train docs is keyed by doc_id; the ledger is
    a 5-key aggregate.  Same stop-shingle df-cutoff fence applies.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col()).withColumn(
        "bucket", _split_bucket_col()
    )
    sh = d.select(
        "doc_id", "bucket",
        F.explode(F.array_distinct(F.expr(_SHINGLES_EXPR))).alias("sh"),
    )
    train_sh = sh.filter(F.col("bucket") < _SPLIT_TRAIN).select("doc_id", "sh")
    test_sh = (
        sh.filter(F.col("bucket") >= _SPLIT_VAL).select("sh").distinct()
    )
    shared = (
        train_sh.join(test_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    train_docs = d.filter(F.col("bucket") < _SPLIT_TRAIN).select("doc_id", "lang")
    verdict = train_docs.join(shared, "doc_id", "left").select(
        "lang",
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
    )
    dropped = (F.col("n_shared") >= DECON_MIN_SHARED).cast("long")
    return (
        verdict.groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(dropped).alias("n_dropped"),
            F.sum(F.lit(1) - dropped).alias("n_kept"),
            F.sum("n_shared").alias("total_shared"),
        )
        .orderBy("lang")
    )


T_DECONTAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, {_TOKENS_SQL} AS tokens,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, bucket, unnest({_SHINGLES_SQL.strip()}) AS sh
  FROM tok
),
train_sh AS (SELECT doc_id, sh FROM sh WHERE bucket < {_SPLIT_TRAIN}),
test_sh AS (SELECT DISTINCT sh FROM sh WHERE bucket >= {_SPLIT_VAL}),
shared AS (
  SELECT t.doc_id, count(*) AS n_shared
  FROM train_sh t JOIN test_sh USING (sh) GROUP BY 1
),
verdict AS (
  SELECT d.lang, coalesce(s.n_shared, 0) AS n_shared
  FROM tok d LEFT JOIN shared s ON d.doc_id = s.doc_id
  WHERE d.bucket < {_SPLIT_TRAIN}
)
SELECT lang,
       count(*) AS n_train,
       CAST(sum(CASE WHEN n_shared >= {DECON_MIN_SHARED} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN n_shared >= {DECON_MIN_SHARED} THEN 0 ELSE 1 END)
            AS BIGINT) AS n_kept,
       CAST(sum(n_shared) AS BIGINT) AS total_shared
FROM verdict
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------------------- t_repetition
def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (the Gopher-rules family):
    token/type counts and duplicate-bigram counts, plus an integer
    flag marking documents where more than half the bigrams are
    repeats.  All-integer so the oracle comparison is exact; a pure
    narrow projection — zero shuffles, the whole document scan stays
    in one codegen stage at any scale."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    d = d.withColumn("bigrams", F.expr(_BIGRAMS_EXPR))
    n_bi = F.size("bigrams").cast("long")
    n_bi_dist = F.size(F.array_distinct("bigrams")).cast("long")
    return d.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tok"),
        F.size(F.array_distinct("tokens")).cast("long").alias("n_types"),
        n_bi.alias("n_bigrams"),
        n_bi_dist.alias("n_bigrams_distinct"),
        ((n_bi - n_bi_dist) * 2 > n_bi).cast("long").alias("repetitive"),
    )


T_REPETITION_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
bi AS (
  SELECT doc_id, tokens, {_BIGRAMS_SQL} AS bigrams FROM tok
)
SELECT doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tok,
       CAST(len(list_distinct(tokens)) AS BIGINT) AS n_types,
       CAST(len(bigrams) AS BIGINT) AS n_bigrams,
       CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_bigrams_distinct,
       CAST((len(bigrams) - len(list_distinct(bigrams))) * 2 > len(bigrams)
            AS BIGINT) AS repetitive
FROM bi
"""


# -------------------------------------------------------- t_dup_spans
def t_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span accounting — the span-granularity
    statistic behind exact-substring dedup (how much of each document
    is text that also appears verbatim elsewhere): per document, the
    number of 3-gram positions whose shingle occurs in at least one
    OTHER document, over the total positions.  Docs whose duplicated
    fraction exceeds a cut would be candidates for substring removal.

    Scale shape: shingle document frequencies are one hash aggregate
    keyed by the shingle (map-side combined); the join back to
    positions is the same inverted-index equi-join as contamination —
    work ∝ postings, never all-pairs.  Positions (not distinct
    shingles) are counted, so a doc repeating a corpus-common phrase
    five times reports five duplicated positions — the fraction a
    substring-remover would actually excise."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    pos = d.select(
        "doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("sh")
    )
    # Per-(doc, shingle) position counts first: collapses repeats
    # before the df-join, and n_docs per shingle falls out of the same
    # relation without a second scan.
    per_doc_sh = pos.groupBy("doc_id", "sh").agg(F.count("*").alias("n_pos"))
    df_sh = per_doc_sh.groupBy("sh").agg(
        F.count("*").alias("n_docs_with"),
        F.sum("n_pos").alias("total_pos"),
    )
    joined = per_doc_sh.join(df_sh, "sh").select(
        "doc_id",
        "n_pos",
        # duplicated elsewhere = some other doc has it, or this doc
        # repeats it (total positions exceed this doc's own).
        (
            (F.col("n_docs_with") > 1) | (F.col("total_pos") > F.col("n_pos"))
        ).cast("long").alias("dup"),
    )
    return joined.groupBy("doc_id").agg(
        F.sum("n_pos").alias("n_spans"),
        F.sum(F.col("dup") * F.col("n_pos")).alias("n_dup_spans"),
    )


T_DUP_SPANS_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
pos AS (
  SELECT doc_id, unnest({_SHINGLES_SQL.strip()}) AS sh FROM tok
),
per_doc_sh AS (
  SELECT doc_id, sh, count(*) AS n_pos FROM pos GROUP BY 1, 2
),
df_sh AS (
  SELECT sh, count(*) AS n_docs_with,
         CAST(sum(n_pos) AS BIGINT) AS total_pos
  FROM per_doc_sh GROUP BY 1
)
SELECT p.doc_id,
       CAST(sum(p.n_pos) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN d.n_docs_with > 1 OR d.total_pos > p.n_pos
                     THEN p.n_pos ELSE 0 END) AS BIGINT) AS n_dup_spans
FROM per_doc_sh p JOIN df_sh d ON p.sh = d.sh
GROUP BY 1
"""


# -------------------------------------------------------- t_span_dedup
def t_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL — the transform a training pipeline
    runs after ``t_dup_spans``' accounting: emit each document's
    cleaned text with repeated spans (>= 3 tokens) excised, keeping
    the globally FIRST occurrence by (doc_id, position) order.

    Semantics: a 3-gram occurrence is a *duplicate* unless it is the
    lexicographically-first (doc_id, start) occurrence of that shingle
    in the corpus; every token position covered by a duplicate 3-gram
    is removed; the cleaned text is the surviving tokens re-joined in
    order (first occurrences — and anything never repeated — survive
    verbatim).  Output per document: total tokens, removed tokens, and
    the cleaned text itself.

    Scale shape: first-occurrence selection is a shingle-keyed
    ``min(struct)`` aggregate (map-side combined — a hot shingle
    collapses to one row per map task); duplicate spans come from the
    same postings equi-join as ``t_dup_spans``/``t_contamination``
    (work ∝ postings, with the same documented df-cutoff fence for
    stop-shingle skew); span→position coverage is a narrow ×3 explode;
    the keep-side anti-join and the final rebuild are keyed by
    (doc_id, tpos) / doc_id — co-partitioned, no all-pairs anywhere.
    A suffix-array dedup (Lee et al., "Deduplicating Training Data",
    2022) removes ≥50-token spans; this positional-shingle form is the
    same transform at k=3 granularity, which is what the synthetic
    corpus' span lengths exercise.
    """
    def shingle_tokens(dup: DataFrame) -> DataFrame:
        return dup.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 2)).alias("tpos"),
        ).distinct()

    return _span_dedup(spark, sf_dir, shingle_tokens)


def _span_dedup(spark: SparkSession, sf_dir: str, coverage) -> DataFrame:
    """The span-removal pipeline of ``t_span_dedup`` and
    ``_t_span_dedup_min_len``, which differ only in ``coverage``: a
    function from the duplicate 3-gram occurrences (doc_id, pos, ...)
    to the distinct (doc_id, tpos) token positions to excise.  Output
    per document: total tokens, removed tokens, and the cleaned text
    (surviving tokens re-joined in order)."""
    # Repartition the RAW text rows, tokenize AFTER the exchange (r19
    # optimization, guide §2.5 — the t_bpe_train2 lesson): with the
    # repartition placed after ``withColumn(tokens)``, each of the
    # THREE consumer branches re-ran the regex tokenize in the
    # single-row-group scan task before its exchange (event-log:
    # 3 × ~300 ms single-task stages).  ``base`` reads the same
    # spread frame so its size() pass parallelizes too.  r20:
    # layout-gated — no Exchange when the scan is already wide.
    d = spread_scan(
        _docs(spark, sf_dir).select("doc_id", "text"),
        spark, sf_dir, "documents",
    ).withColumn("tokens", _tokens_col())
    toks = d.select(
        "doc_id", F.posexplode("tokens").alias("tpos0", "tok")
    ).select("doc_id", (F.col("tpos0") + 1).alias("tpos"), "tok")
    pos = d.select(
        "doc_id", F.posexplode(F.expr(_SHINGLES_EXPR)).alias("p0", "sh")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "sh")
    first = pos.groupBy("sh").agg(F.min(F.struct("doc_id", "pos")).alias("f"))
    dup = pos.join(first, "sh").where(
        (F.col("doc_id") != F.col("f.doc_id")) | (F.col("pos") != F.col("f.pos"))
    )
    kept = toks.join(coverage(dup), ["doc_id", "tpos"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s.tok,
            ),
        ).alias("clean_text"),
    )
    base = d.select("doc_id", F.size("tokens").cast("long").alias("n_tok"))
    return base.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        (F.col("n_tok") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )

T_SPAN_DEDUP_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
toks AS (
  SELECT doc_id, u.tpos AS tpos, u.tok AS tok FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tokens)),
                                 i -> {{'tpos': i, 'tok': tokens[i]}})) AS u
    FROM tok)
),
pos AS (
  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tokens) - 2),
             i -> {{'pos': i,
                    'sh': tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]}})) AS u
    FROM tok)
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
  FROM pos
),
covered AS (
  SELECT DISTINCT doc_id, pos + o.o AS tpos
  FROM ranked, generate_series(0, 2) AS o(o)
  WHERE rn > 1
),
kept AS (
  SELECT t.doc_id, t.tpos, t.tok
  FROM toks t ANTI JOIN covered c
    ON t.doc_id = c.doc_id AND t.tpos = c.tpos
),
ka AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(array_agg(tok ORDER BY tpos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.tokens) AS BIGINT) AS n_tok,
       CAST(len(d.tokens) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(k.clean_text, '') AS clean_text
FROM tok d LEFT JOIN ka k ON d.doc_id = k.doc_id
"""


def _t_span_dedup_min_len(
    spark: SparkSession, sf_dir: str, min_len: int
) -> DataFrame:
    """Length-parameterized MAXIMAL-span removal — the Lee et al. 2022
    form ``t_span_dedup`` approximates at fixed k=3: duplicate 3-gram
    positions are merged into maximal duplicated runs per document
    (two dup positions chain when they are ≤ k apart, i.e. their
    token coverage overlaps or abuts), and only runs whose total
    covered length is ≥ ``min_len`` tokens are excised.  At
    ``min_len=3`` (every run qualifies) this is exactly
    ``t_span_dedup``'s coverage (pinned in tests); at ≥50 it is the
    published suffix-array policy at shingle granularity.

    Scale shape: identical postings plan (shingle-keyed min(struct)
    first occurrence + postings equi-join, work ∝ postings, df-cutoff
    fence) plus ONE extra doc-keyed pass: the gaps-and-islands window
    (lag + running sum, partitioned by doc_id — never global) that
    merges positions into runs.  Runs are disjoint by construction,
    so the coverage explode needs no de-dup, one shuffle fewer than
    the fixed-k form."""
    def maximal_runs(dup: DataFrame) -> DataFrame:
        w = Window.partitionBy("doc_id").orderBy("pos")
        runs = (
            dup.select("doc_id", "pos")
            .withColumn(
                "new_run",
                F.when(F.col("pos") - F.lag("pos").over(w) <= 3, F.lit(0))
                .otherwise(F.lit(1)),
            )
            .withColumn("run_id", F.sum("new_run").over(w))
        )
        spans = (
            runs.groupBy("doc_id", "run_id")
            .agg(F.min("pos").alias("s"), (F.max("pos") + 2).alias("e"))
            .where(F.col("e") - F.col("s") + 1 >= min_len)
        )
        return spans.select(
            "doc_id", F.explode(F.sequence("s", "e")).alias("tpos")
        )

    return _span_dedup(spark, sf_dir, maximal_runs)

def t_span_dedup_l5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-span removal at min_len=5 — see _t_span_dedup_min_len."""
    return _t_span_dedup_min_len(spark, sf_dir, 5)


def t_span_dedup_l9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-span removal at min_len=9 — only long duplicated runs
    are excised; short incidental 3-gram repeats survive."""
    return _t_span_dedup_min_len(spark, sf_dir, 9)


def _t_span_dedup_min_len_sql(min_len: int) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
toks AS (
  SELECT doc_id, u.tpos AS tpos, u.tok AS tok FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tokens)),
                                 i -> {{'tpos': i, 'tok': tokens[i]}})) AS u
    FROM tok)
),
pos AS (
  SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(tokens) - 2),
             i -> {{'pos': i,
                    'sh': tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]}})) AS u
    FROM tok)
),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
  FROM pos
),
dup AS (
  SELECT doc_id, pos FROM ranked WHERE rn > 1
),
runs AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 3
              THEN 0 ELSE 1 END AS new_run
  FROM dup
),
runids AS (
  SELECT doc_id, pos,
         sum(new_run) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS run_id
  FROM runs
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 2 AS e
  FROM runids GROUP BY doc_id, run_id
  HAVING max(pos) + 2 - min(pos) + 1 >= {min_len}
),
covered AS (
  SELECT doc_id, unnest(generate_series(s, e)) AS tpos FROM spans
),
kept AS (
  SELECT t.doc_id, t.tpos, t.tok
  FROM toks t ANTI JOIN covered c
    ON t.doc_id = c.doc_id AND t.tpos = c.tpos
),
ka AS (
  SELECT doc_id, count(*) AS n_kept,
         array_to_string(array_agg(tok ORDER BY tpos), ' ') AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.tokens) AS BIGINT) AS n_tok,
       CAST(len(d.tokens) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(k.clean_text, '') AS clean_text
FROM tok d LEFT JOIN ka k ON d.doc_id = k.doc_id
"""


# ---------------------------------------------------- t_length_buckets
def t_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching ledger: documents grouped into
    power-of-two token-length buckets (the length-grouped batching
    strategy that bounds padding waste when sequences are NOT packed),
    with per-bucket padding accounting — the number a pipeline
    compares against ``t_seq_packing``'s zero-padding alternative.
    ``bucket = 2^bit_length(n_tok - 1)`` — ALL-INTEGER (a float
    ``ceil(log2(x))`` can sit one ulp above an exact integer at a
    power of two in one engine and not the other, flipping a doc into
    the next bucket; ``length(bin(n-1))`` cannot);
    ``padding = bucket - n_tok`` per doc.  One narrow projection, one
    small-key aggregate — same scan cost as every per-doc signal."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    n_tok = F.size("tokens").cast("long")
    per = d.select(n_tok.alias("n_tok")).withColumn(
        "bucket",
        F.expr(
            "CASE WHEN n_tok <= 1 THEN CAST(1 AS BIGINT) "
            "ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n_tok - 1))) END"
        ),
    )
    return per.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.sum(F.col("bucket") - F.col("n_tok"))).alias("total_padding"),
    )


T_LENGTH_BUCKETS_SQL = f"""
WITH per AS (
  SELECT CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tok FROM documents
),
bucketed AS (
  SELECT n_tok,
         CASE WHEN n_tok <= 1 THEN 1::BIGINT
              ELSE 1::BIGINT << length(bin(n_tok - 1)) END AS bucket
  FROM per
)
SELECT bucket,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(bucket - n_tok) AS BIGINT) AS total_padding
FROM bucketed
GROUP BY 1
"""


# --------------------------------------------------------- s_pq_encode
PQ_M, PQ_D, PQ_K = 4, 16, 8  # sub-blocks × dims/block × codes/block


def _squared_diff(x, y):
    return (x - y) * (x - y)


def _l2_16(a: str, b: str):
    """Unrolled 16-term squared-L2 (``_unrolled_sum``) — pure +,-,× on
    doubles (NO libm), so the value is bit-identical across engines; no
    rounding needed anywhere in the PQ pipeline."""
    return _unrolled_sum(_squared_diff, PQ_D, a, b)


def _pq_frames(spark: SparkSession, sf_dir: str, train_where=None):
    """Shared PQ pipeline: (blocks, books, enc) — sub-block explode,
    seeded 1-Lloyd-step codebooks (integer-quantized means), and the
    per-(vector, block) code assignment with its squared-L2 distance.

    ``train_where``: optional Column predicate restricting codebook
    TRAINING to a base split; the encode pass always covers every
    vector against the (frozen) books — ``s_pq_upsert``'s contract."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    subs = F.array(*[F.slice("v", b * PQ_D + 1, PQ_D) for b in range(PQ_M)])
    blocks = e.select("vec_id", F.posexplode(subs).alias("block", "sv"))
    seeds = blocks.where(F.col("vec_id") < PQ_K).select(
        "block", F.col("vec_id").cast("long").alias("cid"), F.col("sv").alias("cv")
    )
    train_blocks = (
        blocks.where(train_where) if train_where is not None else blocks
    )

    def assign(frame, book):
        d = _l2_16("sv", "cv").alias("dist")
        return (
            frame.join(F.broadcast(book), "block")
            .select("vec_id", "block", "sv", "cid", d)
            .groupBy("vec_id", "block")
            .agg(
                F.first("sv").alias("sv"),
                F.min(F.struct(F.col("dist"), F.col("cid"))).alias("best"),
            )
            .select(
                "vec_id", "block", "sv",
                F.col("best.cid").alias("cell"),
                F.col("best.dist").alias("dist"),
            )
        )

    a0 = assign(train_blocks, seeds)
    comp = (
        a0.select(
            "block", "cell",
            F.posexplode(F.transform("sv", lambda x: F.floor(x * IVF_Q))),
        )
        .groupBy("block", "cell", "pos")
        .agg(F.floor(F.sum("col").cast("double") / F.count("col")).alias("c"))
    )
    books = (
        comp.groupBy("block", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.c.cast("double") / F.lit(float(IVF_Q)),
            ).alias("cv")
        )
        .select("block", F.col("cell").cast("long").alias("cid"), "cv")
    )
    enc = assign(blocks, books)
    return blocks, books, enc


def s_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the compression rung between int8
    (``s_quantize_int8``, 4×) and raw vectors: split each 64-dim
    embedding into 4×16-dim sub-blocks, learn an 8-code codebook per
    block (seeded init = the sub-vectors of vec_id 0..7, one Lloyd
    step in the same quantized-integer arithmetic as ``s_cosine_ivf``
    — exact BIGINT sums, floor-mean, so the codebooks are
    bit-identical cross-engine), encode every vector to 4 code ids
    (64 codes × 4 blocks = 12 bits/vector vs 2048 raw — a ~170×
    index), and ledger per (block, code): assignment count and summed
    micro-distortion.

    All distances are pure-arithmetic doubles (``_l2_16`` — no libm),
    so argmin ordering AND the floored distortion stat are exact with
    NO rounding and no boundary-clearance argument needed.

    Scale shape: sub-block explode is a narrow map; the Lloyd step is
    a (block, cell, dim) partial aggregate yielding 4·8·16 rows; the
    codebooks broadcast for both assignment passes; the ledger is a
    32-key map-side-combining aggregate.  Exactly the layout a PQ-IVF
    index build runs over 100 TB of vectors.
    """
    _, _, enc = _pq_frames(spark, sf_dir)
    return (
        enc.groupBy("block", F.col("cell").alias("code"))
        .agg(
            F.count("*").alias("n_assigned"),
            F.sum(F.floor(F.col("dist") * F.lit(1_000_000.0)).cast("long")).alias(
                "distortion_u6"
            ),
        )
        .orderBy("block", "code")
    )


def s_pq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PQ index MAINTENANCE: encode a delta batch with
    FROZEN codebooks — the operation that lets a 100 TB vector index
    absorb daily arrivals without retraining or re-encoding the base.

    Deterministic split: base = ``vec_id % 10 <= 7`` (80%), delta =
    the rest (the Lloyd seeds 0..7 are base by construction).
    Codebooks are trained — same seeded init + one integer-quantized
    Lloyd step as ``s_pq_encode`` — on the BASE blocks only; the
    whole corpus (base + delta) is then encoded against the frozen
    books.  Output ledger per (block, code): base/delta assignment
    counts and the delta batch's summed micro-distortion — exactly
    what an index-maintenance job monitors for codebook drift (rising
    delta distortion ⇒ schedule a retrain + base re-encode).

    Scale shape: identical to the build (narrow sub-block explode,
    (block, cell, dim) partial-aggregate Lloyd step, broadcast
    codebooks for both assignment passes, 32-key ledger) — the delta
    encode touches ONLY delta bytes plus the 32-row broadcast books.
    """
    # the Lloyd seeds 0..7 are base rows, so training on the base
    # split is _pq_frames with this predicate
    _, _, enc = _pq_frames(spark, sf_dir, train_where=F.col("vec_id") % 10 <= 7)
    is_delta = F.col("vec_id") % 10 > 7
    return (
        enc.groupBy("block", F.col("cell").alias("code"))
        .agg(
            F.count(F.when(~is_delta, 1)).alias("n_base"),
            F.count(F.when(is_delta, 1)).alias("n_delta"),
            F.coalesce(
                F.sum(
                    F.when(
                        is_delta,
                        F.floor(F.col("dist") * F.lit(1_000_000.0)).cast("long"),
                    )
                ),
                F.lit(0),
            ).cast("long").alias("delta_distortion_u6"),
        )
        .orderBy("block", "code")
    )


_PQ_L2_SQL = (
    "list_sum(list_transform(generate_series(1, {d}),"
    " i -> ({{a}}[i] - {{b}}[i]) * ({{a}}[i] - {{b}}[i])))"
).format(d=PQ_D)

_PQ_CTES = f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
blocks AS (
  SELECT vec_id, g.b AS block,
         list_transform(generate_series(1, {PQ_D}), i -> v[g.b * {PQ_D} + i]) AS sv
  FROM e, generate_series(0, {PQ_M - 1}) AS g(b)
),
seeds AS (
  SELECT block, CAST(vec_id AS BIGINT) AS cid, sv AS cv
  FROM blocks WHERE vec_id < {PQ_K}
),
a0 AS (
  SELECT n.vec_id, n.block, n.sv, s.cid AS cell,
         {_PQ_L2_SQL.format(a="n.sv", b="s.cv")} AS dist
  FROM blocks n JOIN seeds s ON s.block = n.block
  QUALIFY row_number() OVER (
    PARTITION BY n.vec_id, n.block ORDER BY dist ASC, s.cid ASC) = 1
),
comp AS (
  SELECT block, cell, g.i,
         CAST(floor(CAST(sum(CAST(floor(sv[g.i] * {IVF_Q}) AS BIGINT)) AS DOUBLE)
                    / count(*)) AS BIGINT) AS c
  FROM a0, generate_series(1, {PQ_D}) AS g(i)
  GROUP BY block, cell, g.i
),
books AS (
  SELECT block, cell AS cid,
         list_transform(array_agg(c ORDER BY i), x -> CAST(x AS DOUBLE) / {IVF_Q}.0)
           AS cv
  FROM comp GROUP BY block, cell
),
enc AS (
  SELECT n.vec_id, n.block, s.cid AS code,
         {_PQ_L2_SQL.format(a="n.sv", b="s.cv")} AS dist
  FROM blocks n JOIN books s ON s.block = n.block
  QUALIFY row_number() OVER (
    PARTITION BY n.vec_id, n.block ORDER BY dist ASC, s.cid ASC) = 1
)"""


# _PQ_CTES with the Lloyd training restricted to the base split
# (vec_id % 10 <= 7); the encode pass covers the whole corpus against
# the frozen base-trained books — the s_pq_upsert contract.
_PQ_UPSERT_CTES = f"""e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
blocks AS (
  SELECT vec_id, g.b AS block,
         list_transform(generate_series(1, {PQ_D}), i -> v[g.b * {PQ_D} + i]) AS sv
  FROM e, generate_series(0, {PQ_M - 1}) AS g(b)
),
seeds AS (
  SELECT block, CAST(vec_id AS BIGINT) AS cid, sv AS cv
  FROM blocks WHERE vec_id < {PQ_K}
),
a0 AS (
  SELECT n.vec_id, n.block, n.sv, s.cid AS cell,
         {_PQ_L2_SQL.format(a="n.sv", b="s.cv")} AS dist
  FROM blocks n JOIN seeds s ON s.block = n.block
  WHERE n.vec_id % 10 <= 7
  QUALIFY row_number() OVER (
    PARTITION BY n.vec_id, n.block ORDER BY dist ASC, s.cid ASC) = 1
),
comp AS (
  SELECT block, cell, g.i,
         CAST(floor(CAST(sum(CAST(floor(sv[g.i] * {IVF_Q}) AS BIGINT)) AS DOUBLE)
                    / count(*)) AS BIGINT) AS c
  FROM a0, generate_series(1, {PQ_D}) AS g(i)
  GROUP BY block, cell, g.i
),
books AS (
  SELECT block, cell AS cid,
         list_transform(array_agg(c ORDER BY i), x -> CAST(x AS DOUBLE) / {IVF_Q}.0)
           AS cv
  FROM comp GROUP BY block, cell
),
enc AS (
  SELECT n.vec_id, n.block, s.cid AS code,
         {_PQ_L2_SQL.format(a="n.sv", b="s.cv")} AS dist
  FROM blocks n JOIN books s ON s.block = n.block
  QUALIFY row_number() OVER (
    PARTITION BY n.vec_id, n.block ORDER BY dist ASC, s.cid ASC) = 1
)"""


def _s_pq_upsert_sql() -> str:
    return f"""
WITH {_PQ_UPSERT_CTES}
SELECT block, code,
       count(CASE WHEN vec_id % 10 <= 7 THEN 1 END) AS n_base,
       count(CASE WHEN vec_id % 10 > 7 THEN 1 END) AS n_delta,
       CAST(coalesce(sum(CASE WHEN vec_id % 10 > 7
                              THEN CAST(floor(dist * 1000000.0) AS BIGINT)
                         END), 0) AS BIGINT) AS delta_distortion_u6
FROM enc
GROUP BY block, code
ORDER BY block, code
"""


def _s_pq_encode_sql() -> str:
    return f"""
WITH {_PQ_CTES}
SELECT block, code,
       count(*) AS n_assigned,
       CAST(sum(CAST(floor(dist * 1000000.0) AS BIGINT)) AS BIGINT)
         AS distortion_u6
FROM enc
GROUP BY block, code
ORDER BY block, code
"""


def _pq_recon(books: DataFrame, enc: DataFrame) -> DataFrame:
    """ADC-side codeword reconstruction: per vector, concatenate its
    4 assigned sub-block codewords back into a 64-dim ``rv`` plus its
    norm.  The codebook side is 32 rows — broadcast, so this is a
    narrow map over the 12-bit codes at any corpus size."""
    bb = books.select(
        F.col("block").alias("b2"), F.col("cid").alias("cid2"), "cv"
    )
    return (
        enc.join(
            F.broadcast(bb),
            (F.col("block") == F.col("b2")) & (F.col("cell") == F.col("cid2")),
        )
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block", "cv"))),
                    lambda s: s.cv,
                )
            ).alias("rv")
        )
        .withColumn("rnorm", F.sqrt(_dot_expr("rv", "rv")))
    )


# --------------------------------------------------------- s_pq_recall
def s_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of PQ-reconstructed search (asymmetric distance:
    exact query vector vs each candidate's codeword reconstruction)
    against the exact top-3 — the honest quality measurement for the
    12-bit codes, same 50-query protocol and output shape as
    ``s_ann_recall``/``s_sig_recall``.

    Scale shape: the reconstruction is a 32-row broadcast join +
    per-vector flatten; the scoring pass is the same broadcast-query
    scan as the exact baseline — at 100 TB the point of ADC is that
    the scan reads 12-bit codes + a 32-row codebook instead of 512 B
    vectors, with this recall number deciding whether the rerank tier
    above it can be thinner.
    """
    _, books, enc = _pq_frames(spark, sf_dir)
    recon = _pq_recon(books, enc)
    q = (
        _cos_frames(spark, sf_dir)
        .where(F.col("vec_id") < 50)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                F.col("norm").alias("qn"))
    )
    sims = (
        F.broadcast(q)
        .crossJoin(recon)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("neighbor"),
            F.round(
                _dot_expr("qv", "rv") / (F.col("qn") * F.col("rnorm")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    ann = sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 3)
    return _recall_vs_exact(spark, sf_dir, ann)


def _s_pq_recall_sql() -> str:
    dot64 = (
        "list_sum(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]))"
    )
    return f"""
WITH {_PQ_CTES},
recon AS (
  SELECT n.vec_id, flatten(array_agg(s.cv ORDER BY n.block)) AS rv
  FROM enc n JOIN books s ON s.block = n.block AND s.cid = n.code
  GROUP BY n.vec_id
),
rn AS (
  SELECT vec_id, rv, sqrt({dot64.format(a="rv", b="rv")}) AS rnorm FROM recon
),
nq AS (
  SELECT vec_id, v, sqrt({dot64.format(a="v", b="v")}) AS norm FROM e
),
ann AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({dot64.format(a="q.v", b="c.rv")}
                            / (q.norm * c.rnorm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM nq q JOIN rn c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
exact AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({dot64.format(a="q.v", b="c.v")}
                            / (q.norm * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM nq q JOIN nq c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
hits AS (
  SELECT a.qid, count(*) AS hits
  FROM ann a JOIN exact e2 ON a.qid = e2.qid AND a.neighbor = e2.neighbor
  GROUP BY a.qid
)
SELECT q.qid,
       coalesce(h.hits, 0) AS hits,
       floor(coalesce(h.hits, 0) * 1000000 / 3.0) / 1000000.0 AS recall3
FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 50) q
LEFT JOIN hits h ON h.qid = q.qid
"""


# --------------------------------------------------------- s_pq_search
def pq_ivf_index(spark: SparkSession, sf_dir: str, train_where=None):
    """The persisted artifacts of a PQ-IVF index build:
    ``(index, cents)`` where ``index`` = (vec_id, cell, rv, rnorm)
    and ``cents`` = the 8-row Lloyd-stepped centroid frame (a LOCAL
    relation out of ``_ivf_cells`` — it feeds both the corpus
    assignment and every reader's routing without re-deriving the
    Lloyd lineage; that re-derivation measured 22 s → 12 s at sf0.1
    when it was first cut).

    The single-relation index is built with ONE vec_id groupBy (the
    sub-block reassembly) followed by a narrow Arrow-kernel cell
    assignment (``_ivf_assign`` — no vector-vs-vector shuffle join,
    no ×K explode).  The original vector is
    reassembled EXACTLY from the sub-block slices carried through the
    code assignment (flatten of sv by block == v bit-for-bit), so the
    cell assignment is identical to s_cosine_ivf's without joining
    back to the base table.

    ``train_where`` restricts BOTH quantizers' training (coarse IVF
    Lloyd step and PQ codebooks) to a base split while the index
    still covers every vector — the post-upsert index shape."""
    _, cents = _ivf_cells(spark, sf_dir, train_where=train_where)
    cent_rows = cents.collect()  # local relation — no recompute
    _, books, enc = _pq_frames(spark, sf_dir, train_where=train_where)
    bb = books.select(
        F.col("block").alias("b2"), F.col("cid").alias("cid2"), "cv"
    )
    per_vec = (
        enc.join(
            F.broadcast(bb),
            (F.col("block") == F.col("b2")) & (F.col("cell") == F.col("cid2")),
        )
        .groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block", "cv"))),
                    lambda s: s.cv,
                )
            ).alias("rv"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("block", "sv"))),
                    lambda s: s.sv,
                )
            ).alias("v"),
        )
        .withColumn("rnorm", F.sqrt(_dot_expr("rv", "rv")))
        .withColumn("norm", F.sqrt(_dot_expr("v", "v")))
    )
    index = _ivf_assign(per_vec, cent_rows, out=("vec_id", "rv", "rnorm"))
    return index, cents


PQ_ROUTED_SCHEMA = "qid long, qn double, qv array<double>, pcell long"
PQ_ADC_SCHEMA = "qid long, vec_id long, adc_sim double"


def pq_route_frame(vecs: DataFrame, cent_rows, n_probe: int) -> DataFrame:
    """(vec_id, embedding) → ``n_probe`` routed rows per vector, via
    ONE Arrow kernel against the closure-captured centroid table
    (``cent_rows``: the collected 8-row frame — control-plane, tiny by
    construction of the coarse quantizer).  Works identically on a
    batch frame and on a stream (st_pq_score), which is the point:
    routing has no per-key window, so the same kernel serves both.

    Exactness: sequential per-dimension accumulation (``_seq_dot``
    order — bit-identical to the oracle's list_sum fold and the
    expression chain); rounded cosine DESC, cid ASC, exactly
    ``_ivf_assign``'s key."""
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int64)
    C = np.stack([np.asarray(r["cv"], dtype=np.float64) for r in cent_rows])
    cn = np.array([r["cnorm"] for r in cent_rows], dtype=np.float64)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].values).astype(np.float64)
            n = V.shape[0]
            qn = np.sqrt(_seq_dot(V, V))
            sims = np.zeros((n, len(cids)))
            for k in range(len(cids)):
                acc = np.zeros(n)
                for j in range(V.shape[1]):
                    acc += V[:, j] * C[k, j]
                sims[:, k] = np.round(acc / (qn * cn[k]), 6)
            qids, qns, qvs, cells = [], [], [], []
            for r in range(n):
                order = np.lexsort((cids, -sims[r]))
                for k in order[:n_probe]:
                    qids.append(int(pdf["vec_id"].iloc[r]))
                    qns.append(float(qn[r]))
                    qvs.append(V[r])
                    cells.append(int(cids[k]))
            yield pd.DataFrame(
                {"qid": qids, "qn": qns, "qv": qvs, "pcell": cells}
            )

    return vecs.mapInPandas(fn, schema=PQ_ROUTED_SCHEMA)


def pq_adc_score(routed: DataFrame, index: DataFrame) -> DataFrame:
    """Routed queries × probed cells → (qid, vec_id, adc_sim).

    The routed-query side broadcasts onto the cell-assigned index (the
    cell id has K distinct values — see the s_cosine_ivf skew note);
    the asymmetric scoring runs in one Arrow kernel over the joined
    candidates (the unrolled expression chain falls out of codegen at
    |candidates| fan-out and evaluates interpreted — the same
    measured anti-pattern the SemDeDup kernel replaced).  Self-matches
    excluded."""
    cand = (
        F.broadcast(routed)
        .join(
            index,
            (F.col("pcell") == F.col("cell")) & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "qn", "qv", "vec_id", "rv", "rnorm")
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack(pdf["qv"].values).astype(np.float64)
            R = np.stack(pdf["rv"].values).astype(np.float64)
            sim = np.round(
                _seq_dot(Q, R) / (pdf["qn"].to_numpy() * pdf["rnorm"].to_numpy()),
                6,
            )
            yield pd.DataFrame(
                {
                    "qid": pdf["qid"].values,
                    "vec_id": pdf["vec_id"].values,
                    "adc_sim": sim,
                }
            )

    return cand.mapInPandas(fn, schema=PQ_ADC_SCHEMA)


PQS_NPROBE = 2  # coarse cells probed per query
PQS_RERANK = 20  # ADC candidates kept for exact rerank
# The multi-probe serve rung (s_pq_search_mp): widening the route
# WITHOUT widening the rerank pool measurably LOWERED recall at
# sf0.01 (0.327 -> 0.320) — the extra cells' ADC noise displaced true
# neighbors from the fixed top-20 pool — so the rung scales both
# knobs together (pool ∝ probes), which is how production stores
# expose it (efSearch-style paired widening).
PQS_NPROBE_MP = 4
PQS_RERANK_MP = 40
# The PQ read path's query cutoff — the route-side frame and the
# rerank-side qvecs must use the SAME literal (ADVICE r19: two
# hardcoded `vec_id < 50`s joined on qid would silently drop or
# mis-rank queries if one drifted).
PQ_QMAX = 50
# Tuning (sf0.01, vs exact top-3): C=10→0.24, C=20→0.33, C=40→0.41
# mean recall@3; NPROBE=3/4 at C=20 → 0.333/0.320 — on this corpus the
# loss is ADC *ordering* inside the probed cells, not cell-miss, so
# the rerank budget is the knob and extra probes only dilute the ADC
# top-C.  The ADC-only floor (s_pq_recall) is 0.093; the composed
# path must stay ≥ it (pinned in tests/test_pq_search.py).


def s_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN read path the PQ rung exists for:
    IVF-route → ADC-scan → exact-rerank, end to end.

    1. **Route**: each of the 50 queries scores the 8 Lloyd-stepped
       IVF centroids (``_ivf_cells`` — same deterministic coarse
       quantizer as ``s_cosine_ivf``) and probes its top-``PQS_NPROBE``
       cells (rounded cosine DESC, cell id ASC).
    2. **ADC scan**: candidates = corpus vectors assigned to a probed
       cell; each is scored asymmetrically — exact query vector vs the
       candidate's 12-bit PQ codeword reconstruction (``_pq_recon``,
       same codes as ``s_pq_encode``); top-``PQS_RERANK`` kept per
       query.
    3. **Exact rerank**: the survivors are re-scored against their
       true vectors; top-3 emitted with exact sims.

    Scale shape: routing is a 50×8 broadcast probe; the ADC scan joins
    the (broadcast) routed queries against cells — work ∝ probed cell
    sizes and the scan reads 12-bit codes + a 32-row broadcast
    codebook instead of 512 B raw vectors; the rerank touches only
    |Q|·PQS_RERANK true vectors.  Exactly the IVF-ADC-rerank layout a
    100 TB vector store serves reads with; ``s_pq_search_recall``
    prices its quality against the exact scan.
    """
    index, cents = pq_ivf_index(spark, sf_dir)
    return _pq_read_path(spark, sf_dir, index, cents.collect())


def _pq_read_path(
    spark: SparkSession, sf_dir: str, index: DataFrame, cent_rows,
    n_probe: int = PQS_NPROBE, rerank: int = PQS_RERANK,
) -> DataFrame:
    """Route → ADC-scan → exact-rerank against an already-built PQ-IVF
    index — the serving half of ``s_pq_search`` (shared verbatim by
    ``s_pq_search_serve``, which prices it without the build).
    ``n_probe`` widens the IVF route (the recall/latency knob the
    multi-probe rung ``s_pq_search_mp`` turns)."""
    # Route + ADC-score through the SAME Arrow kernels the streaming
    # scorer (st_pq_score) runs — one code path, batch and online.
    # Cells are disjoint per vector, so multi-probe produces no
    # duplicate candidates; only (qid, vec_id, adc_sim) ride the top-C
    # window (dragging the 64-double query vectors through the rank
    # shuffle measurably dominated the stage).
    q = _emb(spark, sf_dir).where(F.col("vec_id") < PQ_QMAX).select(
        "vec_id", "embedding"
    )
    routes = pq_route_frame(q, cent_rows, n_probe)
    adc = pq_adc_score(routes, index)
    cw = Window.partitionBy("qid").orderBy(F.desc("adc_sim"), F.asc("vec_id"))
    topc = (
        adc.withColumn("cr", F.row_number().over(cw))
        .where(F.col("cr") <= rerank)
        .select("qid", "vec_id")
    )

    # Exact rerank: the survivor list is |Q|·PQS_RERANK rows at ANY
    # corpus size, so it broadcasts into the narrow base-vector scan
    # (the keyed point-fetch a production store does here); the query
    # vectors rejoin from the |Q|-row frame, also broadcast.
    #
    # r19 optimization (guide §4 — don't run a Python kernel twice):
    # qvecs was `routes.select("qid", "qv", "qn").dropDuplicates()`,
    # which re-executed the ROUTE KernEL a second time per query (the
    # before-plan shows two MapInPandas route nodes) just to recover
    # (qid, qv, qn) — values the JVM-side `_cos_frames` already
    # carries bit-identically (the _seq_dot ≡ expression-fold
    # exactness invariant).  Derive them from the base frame instead:
    # one route-kernel execution and one dedup aggregate removed.
    base = _cos_frames(spark, sf_dir).select("vec_id", "v", "norm")
    qvecs = base.where(F.col("vec_id") < PQ_QMAX).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
        F.col("norm").alias("qn"))
    rr = (
        base.join(F.broadcast(topc), "vec_id")
        .join(F.broadcast(qvecs), "qid")
        .select(
            "qid",
            F.col("vec_id").alias("neighbor"),
            F.round(
                _dot_expr("qv", "v") / (F.col("qn") * F.col("norm")), 6
            ).alias("sim"),
        )
    )
    rw = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        rr.withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= 3)
        .select("qid", "neighbor", "sim", "rank")
    )


# Per-process memo of built PQ-IVF indexes, keyed by (session, corpus).
# The index is the PERSISTED artifact of a one-time build in any real
# deployment; memoizing it is what lets s_pq_search_serve price the
# route→ADC→rerank serving path alone (VERDICT r9 item 3: the 7.2 s
# bench number for s_pq_search was dominated by rebuilding the index
# every rep).  localCheckpoint pins the materialized frame to the
# session, so the memo is a session_memo.
_PQ_INDEX_CACHE: dict = {}


def pq_ivf_index_cached(spark: SparkSession, sf_dir: str):
    """``pq_ivf_index`` built at most once per (session, corpus):
    returns ``(index, cent_rows)`` with the single-relation index
    materialized (truncated lineage — readers pay a columnar
    scan of (vec_id, cell, rv, rnorm), never the build DAG) and the
    8-row centroid table collected to driver rows for closure-shipping
    into the routing kernel."""

    def build():
        index, cents = pq_ivf_index(spark, sf_dir)
        return (materialize(index, "pq_ivf_index:index"), cents.collect())

    return session_memo(_PQ_INDEX_CACHE, spark, sf_dir, build)


def s_pq_search_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``s_pq_search``'s serving path against a pre-built index: the
    route → ADC-scan → exact-rerank cost alone, which is the number
    that matters at 100 TB (a production vector store builds the
    PQ-IVF index once and serves reads from it; the in-query rebuild
    that dominates ``s_pq_search``'s bench entry is a one-time cost).
    First call per (session, corpus) builds and checkpoints the index;
    every subsequent call — and every bench rep after the warm-up —
    reuses it.  Results are identical to ``s_pq_search`` (same
    kernels, same index contents), so it shares the oracle."""
    index, cent_rows = pq_ivf_index_cached(spark, sf_dir)
    return _pq_read_path(spark, sf_dir, index, cent_rows)


def s_pq_search_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The upsert → serve loop closed end-to-end (VERDICT r10 item 6):
    serve the route → ADC-scan → exact-rerank read path against the
    POST-UPSERT index — coarse IVF centroids and PQ codebooks trained
    on the base split only (``vec_id % 10 <= 7``, exactly
    ``s_pq_upsert``'s frozen-codebook contract), with the whole
    base+delta corpus assigned and encoded against those frozen
    quantizers.  This is the state a production vector store is in
    between retrains: every delta batch absorbed by encode-only
    writes, reads served from the same index relation.

    Scale shape identical to ``s_pq_search`` (the training filter is
    a narrow predicate on the Lloyd passes); the serving cost is
    unchanged because the index relation has the same size and
    layout.  ``s_pq_upserted_recall`` prices the frozen-codebook
    drift this loop accepts."""
    index, cents = pq_ivf_index(
        spark, sf_dir, train_where=F.col("vec_id") % 10 <= 7
    )
    return _pq_read_path(spark, sf_dir, index, cents.collect())


def s_pq_upserted_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the post-upsert read path against the exact top-3
    over the union corpus — the drift-ledger number made concrete:
    how much quality the frozen-codebook upsert lifecycle gives up
    versus a fresh full retrain (``s_pq_search_recall``).  The floor
    is pinned in tests/test_pq_search.py."""
    return _recall_vs_exact(spark, sf_dir, s_pq_search_upserted(spark, sf_dir))


def s_pq_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the metadata-predicate ANN read a
    production store actually serves ("top-3 nearest WHERE label is
    even"): the same route → ADC-scan → exact-rerank path with the
    predicate applied to the index relation BETWEEN routing and the
    ADC scan (pre-filtering).

    Strategy note (the 100 TB decision this op pins): with a
    pre-filter, ADC work shrinks to the predicate's share of each
    probed cell and recall against the *filtered* ground truth does
    not degrade (the top-C rerank pool is all-eligible); post-
    filtering keeps ADC cost but starves the rerank pool on selective
    predicates.  At very high selectivity the right plan flips to
    brute-force over the filtered subset — the knob is the filtered
    candidate count, observable from the same index statistics.  Here
    the label column joins back by vec_id (a narrow attribute fetch);
    a production index stores it inline as an index column.
    """
    index, cent_rows = pq_ivf_index_cached(spark, sf_dir)
    labels = _emb(spark, sf_dir).select("vec_id", "label")
    fidx = index.join(labels.where(F.col("label") % 2 == 0), "vec_id").drop(
        "label"
    )
    return _pq_read_path(spark, sf_dir, fidx, cent_rows)


def s_pq_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the composed IVF→ADC→rerank path
    (``s_pq_search``) against the exact top-3 — prices the full read
    path, not just the codes: cell-miss loss from NPROBE-of-8 routing
    plus any ADC-ordering loss the ``PQS_RERANK``-candidate (20)
    exact rerank fails to recover."""
    return _recall_vs_exact(spark, sf_dir, s_pq_search(spark, sf_dir))


def s_pq_search_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-probe serve rung (VERDICT r11 item 5): the identical
    route → ADC-scan → exact-rerank read path against the cached
    pre-built index, probing the top-``PQS_NPROBE_MP`` (4) coarse
    cells instead of 2 WITH the rerank pool scaled to match
    (``PQS_RERANK_MP`` = 40 — see the constants' comment: widening
    the route alone measurably LOWERED recall, the extra cells' ADC
    noise displacing true neighbors from the fixed pool).  This is
    the standard recall/latency knob a vector store exposes per query
    class.  Cost scales linearly in the probed cells' candidate mass
    (the ADC join's only fan-in) plus the doubled |Q|·rerank exact
    re-score, so the serve latency bound is ~2× ``s_pq_search_serve``
    by construction; cells are disjoint per vector so multi-probe
    never duplicates a candidate.  ``s_pq_mp_recall`` measures the
    recall lift this buys (floor pinned strictly above the 2-probe
    rung in tests/test_pq_search.py)."""
    index, cent_rows = pq_ivf_index_cached(spark, sf_dir)
    return _pq_read_path(spark, sf_dir, index, cent_rows,
                         n_probe=PQS_NPROBE_MP, rerank=PQS_RERANK_MP)


def s_pq_mp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the 4-probe serve path against the exact top-3 —
    the other half of the multi-probe rung's price tag."""
    return _recall_vs_exact(spark, sf_dir, s_pq_search_mp(spark, sf_dir))


_DOT64_SQL = (
    "list_sum(list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i]))"
)

# IVF coarse-quantizer CTEs over the shared `e` base (renamed from
# _s_cosine_ivf_sql's to avoid colliding with _PQ_CTES' seeds/a0/comp).
# ``train_pred`` restricts the Lloyd TRAINING pass (ia0/icell0/icomp);
# the final ia1/icells assignment always covers the whole corpus —
# mirrors _ivf_cells(train_where=...).
def _ivf_ctes(train_pred: str = "TRUE") -> str:
    return f"""nv AS (
  SELECT vec_id, v, sqrt({_DOT64_SQL.format(a="v", b="v")}) AS norm FROM e
),
iseeds AS (
  SELECT vec_id AS cid, v AS cv, norm AS cnorm FROM nv WHERE vec_id < {IVF_K}
),
ia0 AS (
  SELECT n.vec_id, n.v, n.norm, s.cid,
         round({_DOT64_SQL.format(a="n.v", b="s.cv")} / (n.norm * s.cnorm), 6) AS sim
  FROM nv n, iseeds s
  WHERE {train_pred}
),
icell0 AS (
  SELECT vec_id, v, norm, cid AS cell FROM ia0
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) = 1
),
icomp AS (
  SELECT cell, g.i,
         CAST(floor(CAST(sum(CAST(floor(v[g.i] * {IVF_Q}) AS BIGINT)) AS DOUBLE)
                    / count(*)) AS BIGINT) AS c
  FROM icell0, generate_series(1, 64) AS g(i)
  GROUP BY cell, g.i
),
icents AS (
  SELECT cell AS cid,
         list_transform(array_agg(c ORDER BY i), x -> CAST(x AS DOUBLE) / {IVF_Q}.0) AS cv
  FROM icomp GROUP BY cell
),
icents2 AS (
  SELECT cid, cv, sqrt({_DOT64_SQL.format(a="cv", b="cv")}) AS cnorm FROM icents
),
ia1 AS (
  SELECT n.vec_id, n.v, n.norm, s2.cid,
         round({_DOT64_SQL.format(a="n.v", b="s2.cv")} / (n.norm * s2.cnorm), 6) AS sim
  FROM nv n, icents2 s2
),
icells AS (
  SELECT vec_id, v, norm, cid AS cell FROM ia1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) = 1
)"""


_IVF_CTES = _ivf_ctes()


# The composed read path down to the ADC candidate relation
# (qid, vec_id, adc_sim) — shared by the search oracle, its recall
# gate, and the streaming ADC scorer (st_pq_score).  Parameterized on
# the PQ + IVF base blocks so the post-upsert variant (frozen
# base-trained quantizers, union-encoded corpus) shares every
# downstream CTE verbatim.
def _pq_adc_ctes(pq_ctes: str, ivf_ctes: str, cand_pred: str = "TRUE",
                 n_probe: int = PQS_NPROBE) -> str:
    return f"""{pq_ctes},
{ivf_ctes},
recon AS (
  SELECT n.vec_id, flatten(array_agg(s.cv ORDER BY n.block)) AS rv
  FROM enc n JOIN books s ON s.block = n.block AND s.cid = n.code
  GROUP BY n.vec_id
),
rn AS (
  SELECT vec_id, rv, sqrt({_DOT64_SQL.format(a="rv", b="rv")}) AS rnorm FROM recon
),
routes AS (
  SELECT qid, qv, qn, cid AS pcell FROM (
    SELECT c.vec_id AS qid, c.v AS qv, c.norm AS qn, s2.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round({_DOT64_SQL.format(a="c.v", b="s2.cv")}
                            / (c.norm * s2.cnorm), 6) DESC,
                      s2.cid ASC
           ) AS pr
    FROM icells c, icents2 s2
    WHERE c.vec_id < 50
  ) WHERE pr <= {n_probe}
),
adc AS (
  SELECT q.qid, q.qv, q.qn, c.vec_id,
         round({_DOT64_SQL.format(a="q.qv", b="r.rv")} / (q.qn * r.rnorm), 6)
           AS adc_sim
  FROM routes q
  JOIN icells c ON c.cell = q.pcell AND c.vec_id != q.qid
  JOIN rn r ON r.vec_id = c.vec_id
  WHERE {cand_pred}
)"""


_PQ_ADC_CTES = _pq_adc_ctes(_PQ_CTES, _IVF_CTES)


# …continued down to the reranked top-3 relation (qid, neighbor, sim,
# rank) — shared by the search oracle and its recall gate.
def _pq_search_ctes(adc_ctes: str, rerank: int = PQS_RERANK) -> str:
    return f"""{adc_ctes},
topc AS (
  SELECT qid, qv, qn, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY adc_sim DESC, vec_id ASC) AS cr
    FROM adc
  ) WHERE cr <= {rerank}
),
pq_ann AS (
  SELECT qid, neighbor, sim, CAST(rank AS INTEGER) AS rank FROM (
    SELECT t.qid, c.vec_id AS neighbor,
           round({_DOT64_SQL.format(a="t.qv", b="c.v")} / (t.qn * c.norm), 6)
             AS sim,
           row_number() OVER (
             PARTITION BY t.qid
             ORDER BY round({_DOT64_SQL.format(a="t.qv", b="c.v")}
                            / (t.qn * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM topc t JOIN icells c ON c.vec_id = t.vec_id
  ) WHERE rank <= 3
)"""


_PQ_SEARCH_CTES = _pq_search_ctes(_PQ_ADC_CTES)

# Multi-probe serve rung: the same CTEs with the route widened to
# PQS_NPROBE_MP cells and the rerank pool scaled with it —
# parameterization, not a new oracle shape.
_PQ_SEARCH_CTES_MP = _pq_search_ctes(
    _pq_adc_ctes(_PQ_CTES, _IVF_CTES, n_probe=PQS_NPROBE_MP),
    rerank=PQS_RERANK_MP,
)

# Post-upsert read path: coarse cells AND codebooks trained on the
# base split only (vec_id % 10 <= 7, the s_pq_upsert contract), the
# whole base+delta corpus assigned/encoded against the frozen
# quantizers, then the identical route→ADC→rerank CTEs.
_PQ_SEARCH_CTES_UPSERTED = _pq_search_ctes(
    _pq_adc_ctes(_PQ_UPSERT_CTES, _ivf_ctes("n.vec_id % 10 <= 7"))
)

# Pre-filtered read path: the metadata predicate restricts the ADC
# candidate relation between route and scan — exactly where the Spark
# plan applies it (s_pq_search_filtered).
_PQ_SEARCH_CTES_FILTERED = _pq_search_ctes(
    _pq_adc_ctes(
        _PQ_CTES,
        _IVF_CTES,
        cand_pred=(
            "c.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)"
        ),
    )
)


def _s_pq_search_sql(search_ctes: str = _PQ_SEARCH_CTES) -> str:
    """The shared read-path oracle epilogue, parameterized on the CTE
    block exactly like _s_pq_search_recall_sql (review finding r12:
    five copies of the same SELECT existed)."""
    return f"""
WITH {search_ctes}
SELECT qid, neighbor, sim, rank FROM pq_ann ORDER BY qid, rank
"""


def _s_pq_search_recall_sql(search_ctes: str = _PQ_SEARCH_CTES) -> str:
    return f"""
WITH {search_ctes},
exact AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({_DOT64_SQL.format(a="q.v", b="c.v")}
                            / (q.norm * c.norm), 6) DESC,
                      c.vec_id ASC
           ) AS rank
    FROM nv q JOIN nv c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 50
  ) WHERE rank <= 3
),
hits AS (
  SELECT a.qid, count(*) AS hits
  FROM pq_ann a JOIN exact e2 ON a.qid = e2.qid AND a.neighbor = e2.neighbor
  GROUP BY a.qid
)
SELECT q.qid,
       coalesce(h.hits, 0) AS hits,
       floor(coalesce(h.hits, 0) * 1000000 / 3.0) / 1000000.0 AS recall3
FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 50) q
LEFT JOIN hits h ON h.qid = q.qid
"""


# ----------------------------------------------------- s_semantic_dedup
SEMDEDUP_THRESHOLD = 0.35  # this corpus' near-dup knee (see s_cosine_nearpairs)


def s_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, cluster-then-dedup (the SemDeDup recipe,
    Abbas et al. 2023 — public): embeddings are first coarse-clustered
    (the deterministic IVF cells), then cosine near-duplicates are
    resolved ONLY within each cluster — a vector is dropped when a
    lower-id vector in its cell is ≥ ``SEMDEDUP_THRESHOLD`` similar
    (keep-lowest-id, same deterministic keeper rule as the text dedup
    tier).  Emits the per-vector verdict (vec_id, cell, kept).

    Scale shape: this is the third point on the dedup cost ladder —
    all-pairs O(n²) (`s_cosine_nearpairs`, the oracle baseline) →
    LSH-bucketed (`d_embed_neardup_lsh`) → cluster-bounded Σ|cell|²
    (here).  The intra-cell self-join is an equi-join on the cell id;
    at 100 TB the cluster count scales as n/target-cell-size (the
    paper runs 50k clusters over LAION) so each cell's quadratic term
    stays fixed while cells parallelize perfectly.  The K=8 cells here
    are the test-scale instantiation of that knob, and the skew story
    is the cell-size cap itself.
    """
    # cells feeds the pair kernel AND the keeper verdict join —
    # materialize the cluster assignment once (the artifact a SemDeDup
    # run persists) instead of re-deriving the Lloyd lineage twice.
    cells = materialize(_ivf_cells(spark, sf_dir)[0], "s_semantic_dedup:cells")

    # Intra-cell pair scoring runs as ONE Arrow kernel per cell (the
    # module's standard pattern for |pairs| × 64-dot workloads): the
    # expression-path self-join evaluated the unrolled dot chain
    # INTERPRETED at this fan-out (measured 9 s for 250k pairs at
    # sf0.1 vs <0.5 s in the kernel).  Sequential per-dim
    # accumulation (_seq_dot) keeps the sums bit-identical to the
    # oracle's list_sum fold; np.round's half-even delta at exact
    # .5e-6 boundaries is the same verified non-event as every other
    # embedding kernel (see the exactness invariant above _seq_dot).
    # Memory is O(|cell|²/chunk) — the cell-size cap IS SemDeDup's
    # scale knob (the paper runs 50k clusters), so a cell that
    # overflows a worker indicates K was set wrong, not a new code
    # path.
    def dedup_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        order = np.argsort(pdf["vec_id"].values)
        ids = pdf["vec_id"].values[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"vec_id": ids[:0]})
        V = np.stack(pdf["v"].values[order]).astype(np.float64)
        norm = pdf["norm"].values[order].astype(np.float64)
        i, j = np.triu_indices(n, 1)
        sims = np.round(_seq_dot(V[i], V[j]) / (norm[i] * norm[j]), 6)
        dropped = np.unique(j[sims >= SEMDEDUP_THRESHOLD])
        return pd.DataFrame({"vec_id": ids[dropped]})

    # Pin the pair-kernel stage's width with an explicit keyed
    # repartition (r19 optimization): the 8-cell shuffle is BYTE-small
    # so AQE coalesced it to ONE task and every cell's O(|cell|²)
    # kernel ran sequentially (event-log: 888 ms of the query's
    # 3.1 s in that task).  A user-specified partition count is
    # exempt from AQE coalescing, and the groupBy reuses the same
    # hash partitioning — no extra Exchange (plan-verified).
    dropped = (
        cells.select("cell", "vec_id", "v", "norm")
        .repartition(spark.sparkContext.defaultParallelism, "cell")
        .groupBy("cell")
        .applyInPandas(dedup_cell, "vec_id long")
        .withColumn("dup", F.lit(1))
    )
    return cells.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("dup").isNull(), F.lit(1)).otherwise(F.lit(0))
        .cast("int")
        .alias("kept"),
    )


def _s_semantic_dedup_sql() -> str:
    dot = _DOT64_SQL
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
{_IVF_CTES},
pairs AS (
  SELECT a.cell, a.vec_id AS ida, b.vec_id AS idb
  FROM icells a JOIN icells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round({dot.format(a="a.v", b="b.v")} / (a.norm * b.norm), 6)
        >= {SEMDEDUP_THRESHOLD}
),
dropped AS (SELECT DISTINCT idb AS vec_id FROM pairs)
SELECT c.vec_id, c.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM icells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""


# ---------------------------------------------------------- s_mrl_eval
_MRL_DIMS = (16, 32, 48, 64)


def _trunc_topk(spark: SparkSession, sf_dir: str, qmax: int, k: int, dim: int) -> DataFrame:
    """Exact cosine top-k using only the FIRST ``dim`` embedding
    dimensions (norms recomputed over the prefix — matryoshka-style
    truncation).  Same broadcast + Arrow-kernel plan as
    ``_brute_topk``; slicing happens inside the kernel so the scan
    still reads one array column."""
    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # collected-query kernel closure, as in _brute_topk (guide §4.1 —
    # the corpus crosses the Python boundary once, not ×|Q|); the
    # collect is the session-scoped family-shared one (r20, VERDICT
    # r19 item 2 — s_mrl_eval alone ran SIX separate collect jobs).
    assert qmax <= _QVEC_MAX
    qids_all, Q_all = _query_vectors(spark, sf_dir)
    sel = qids_all < qmax
    qids = qids_all[sel]
    if not len(qids):
        return spark.createDataFrame([], "qid long, neighbor long")
    Q = Q_all[sel][:, :dim]
    qn = np.sqrt(_seq_dot(Q, Q))
    cand = spread_scan(e, spark, sf_dir, "embeddings")

    def sims(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["v"].values).astype(np.float64)[:, :dim]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            nb = np.sqrt(_seq_dot(B, B))
            for i in range(len(qids)):
                Qi = np.broadcast_to(Q[i], B.shape)
                sim = np.round(_seq_dot(B, Qi) / (qn[i] * nb), 6)
                m = ids != qids[i]
                yield pd.DataFrame(
                    {"qid": qids[i], "neighbor": ids[m], "sim": sim[m]}
                )

    simdf = cand.mapInPandas(sims, "qid long, neighbor long, sim double")
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("neighbor"))
    return (
        simdf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "neighbor")
    )


def s_mrl_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: top-3 overlap between
    prefix-truncated cosine search (16/32/48/64 dims) and the full
    64-dim exact baseline — the measurement that decides how far a
    vector store can truncate its embeddings (4×/2× index shrink)
    before recall pays.  dim=64 is the built-in self-check (recall
    must be 1.0).

    All rankings use the (round(sim,6) DESC, vec_id ASC) total order,
    so the overlap count is ulp-stable cross-engine.  Scale shape:
    each rung is the broadcast-query Arrow-kernel scan (no
    all-pairs); the overlap join keys on (qid, neighbor) — |Q|·k
    rows.  Recall in integer ppm (floor) for exact comparison.
    """
    full = _brute_topk(spark, sf_dir, 10, 3).select("qid", "neighbor")
    out = None
    for d in _MRL_DIMS:
        t = _trunc_topk(spark, sf_dir, 10, 3, d)
        per = (
            t.join(full, ["qid", "neighbor"])
            .agg(F.count("*").alias("n_hits"))
            .select(
                F.lit(d).cast("long").alias("dim"),
                F.lit(10).cast("long").alias("n_queries"),
                F.col("n_hits"),
                F.expr("n_hits * 1000000 div 30").alias("recall_ppm"),
            )
        )
        out = per if out is None else out.unionByName(per)
    return out.orderBy("dim")


def _mrl_rank_cte(name: str, dim: int) -> str:
    return f"""{name} AS (
  SELECT qid, neighbor FROM (
    SELECT q.vec_id AS qid, c.vec_id AS neighbor,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum(list_transform(generate_series(1, {dim}),
                                                    i -> q.v[i] * c.v[i]))
                            / (sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                            i -> q.v[i] * q.v[i])))
                               * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                                                              i -> c.v[i] * c.v[i])))),
                            6) DESC,
                      c.vec_id ASC
           ) AS rk
    FROM e q JOIN e c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 10
  ) WHERE rk <= 3
)"""


def _s_mrl_eval_sql() -> str:
    ctes = ",\n".join(_mrl_rank_cte(f"t{d}", d) for d in _MRL_DIMS)
    arms = "\nUNION ALL\n".join(
        f"""SELECT CAST({d} AS BIGINT) AS dim, CAST(10 AS BIGINT) AS n_queries,
       count(*) AS n_hits,
       CAST(count(*) * 1000000 // 30 AS BIGINT) AS recall_ppm
FROM t{d} a JOIN t64 b ON a.qid = b.qid AND a.neighbor = b.neighbor"""
        for d in _MRL_DIMS
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
{ctes}
SELECT * FROM ({arms})
ORDER BY dim
"""


# ------------------------------------------------------- d_incremental
def d_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard-vs-corpus near-dedup ledger: the daily shape
    of a 100 TB dedup pipeline — an INCOMING shard (doc_id % 4 = 3)
    checked against the EXISTING corpus (the rest), never
    corpus-vs-corpus.

    Per language: incoming count, docs dropped as near-dups of the
    existing corpus (any LSH-verified jaccard ≥ 0.5 partner in the
    corpus), docs dropped as intra-shard near-dups (a smaller-id
    incoming partner, corpus-dup precedence), and survivors.

    Scale shape: the ONLY pairwise work is `d_lsh_pairs`' banded
    bucket join — orienting its edges old→incoming / small→large is a
    narrow filter on the pair relation, then the two flagged-dup sets
    join back to the shard.  Those joins carry NO broadcast hint on
    purpose: the flagged sets are duplicate doc_ids, whose size is a
    property of the DATA (a crawl re-ingesting yesterday dups nearly
    the whole shard), so AQE picks broadcast when the post-checkpoint
    stats are small and falls back to a shuffled equi-join on doc_id
    when they aren't — either plan is shard-bounded.  At true
    incremental scale the corpus's band signatures are precomputed
    once and only the shard's are built per run — the signature store
    IS the index.
    """
    pairs = (
        d_lsh_pairs(spark, sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    # Materialize the oriented edge relation once: `known` and `intra`
    # both consume it, and without the checkpoint each would re-run
    # the full LSH pipeline (measured ~2x the query).
    sym = materialize(pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        "d_incremental:edges")
    inc_dst = F.col("dst") % 4 == 3
    known = (
        sym.where(inc_dst & (F.col("src") % 4 != 3))
        .select(F.col("dst").alias("doc_id"))
        .distinct()
        .withColumn("is_known", F.lit(1))
    )
    intra = (
        sym.where(inc_dst & (F.col("src") % 4 == 3) & (F.col("src") < F.col("dst")))
        .select(F.col("dst").alias("doc_id"))
        .distinct()
        .withColumn("is_intra", F.lit(1))
    )
    shard = _docs(spark, sf_dir).where(F.col("doc_id") % 4 == 3).select(
        "doc_id", "lang"
    )
    flagged = (
        shard.join(known, "doc_id", "left")
        .join(intra, "doc_id", "left")
        .select(
            "lang",
            F.coalesce("is_known", F.lit(0)).alias("k"),
            F.coalesce("is_intra", F.lit(0)).alias("i"),
        )
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum("k").alias("n_corpus_dup"),
            F.sum(F.when((F.col("k") == 0) & (F.col("i") == 1), 1).otherwise(0)).alias(
                "n_intra_dup"
            ),
            F.sum(F.when((F.col("k") == 0) & (F.col("i") == 0), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
        .orderBy("lang")
    )


def _d_incremental_sql() -> str:
    return f"""
WITH lsh AS ({D_LSH_SQL}),
pairs AS (SELECT doc_a, doc_b FROM lsh WHERE jaccard >= 0.5),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
known AS (
  SELECT DISTINCT dst AS doc_id FROM sym
  WHERE dst % 4 = 3 AND src % 4 != 3
),
intra AS (
  SELECT DISTINCT dst AS doc_id FROM sym
  WHERE dst % 4 = 3 AND src % 4 = 3 AND src < dst
),
flagged AS (
  SELECT d.lang,
         CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS k,
         CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END AS i
  FROM documents d
  LEFT JOIN known k ON k.doc_id = d.doc_id
  LEFT JOIN intra i ON i.doc_id = d.doc_id
  WHERE d.doc_id % 4 = 3
)
SELECT lang,
       count(*) AS n_incoming,
       CAST(sum(k) AS BIGINT) AS n_corpus_dup,
       CAST(sum(CASE WHEN k = 0 AND i = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_intra_dup,
       CAST(sum(CASE WHEN k = 0 AND i = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM flagged
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------- t_unigram_logprob
def t_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality scoring: train a unigram model
    on the corpus itself (token → -ln(count/total)), score every doc
    by its total surprisal, and report the per-language ledger plus
    how many docs a perplexity-style gate (avg surprisal > 4 nats,
    i.e. ppl > e⁴ ≈ 55) would flag.

    Cross-engine exactness: libm ln is not correctly rounded, so the
    per-TOKEN surprisal is floored to integer micro-nats ONCE per
    distinct vocabulary entry — per-doc scores are then integer SUMS
    (order-free), and the gate is the integer cross-multiplication
    ``score_u6 > 4e6 · n_tok``.  A 1-ulp ln disagreement can only
    flip a floor if the true value sits within ~1e-8 of a micro-nat
    boundary; tests/test_float_boundaries.py verifies with 50-digit
    decimal that EVERY (count, total) pair in every fixture clears
    its boundary by orders of magnitude more.

    Scale shape: one explode pass; vocabulary counts are a partial
    aggregate; the 1-row total broadcasts back (t_mix_weights
    pattern); the token→surprisal join broadcasts while the vocab
    fits (any natural-language vocab does) — the classic stop-token
    skew otherwise takes the same salting fence as every hot-key
    join.  Everything after the join is map-side-combining integer
    aggregation.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    tokd = d.select("doc_id", "lang", F.explode("tokens").alias("token"))
    uni = tokd.groupBy("token").agg(F.count("*").alias("cnt"))
    totals = uni.agg(F.sum("cnt").alias("N"))
    mlp = uni.crossJoin(F.broadcast(totals)).select(
        "token",
        F.floor(
            -F.log(F.col("cnt").cast("double") / F.col("N")) * F.lit(1_000_000.0)
        ).cast("long").alias("mlp_u6"),
    )
    per_doc = (
        tokd.join(F.broadcast(mlp), "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum("mlp_u6").alias("score_u6"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("score_u6").alias("score_u6_sum"),
            F.sum(
                F.when(
                    F.col("score_u6") > F.lit(4_000_000) * F.col("n_tok"), 1
                ).otherwise(0)
            ).alias("n_flagged"),
        )
        .orderBy("lang")
    )


T_UNIGRAM_LOGPROB_SQL = f"""
WITH tokd AS (
  SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS token FROM documents
),
uni AS (SELECT token, count(*) AS cnt FROM tokd GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS N FROM uni),
mlp AS (
  SELECT token,
         CAST(floor(-ln(CAST(cnt AS DOUBLE) / N) * 1000000.0) AS BIGINT)
           AS mlp_u6
  FROM uni, tot
),
per_doc AS (
  SELECT t.doc_id, t.lang,
         count(*) AS n_tok,
         CAST(sum(m.mlp_u6) AS BIGINT) AS score_u6
  FROM tokd t JOIN mlp m ON m.token = t.token
  GROUP BY 1, 2
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST(sum(score_u6) AS BIGINT) AS score_u6_sum,
       CAST(sum(CASE WHEN score_u6 > 4000000 * n_tok THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


# --------------------------------------------------- t_bigram_logprob
def t_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram-LM scoring with stupid backoff — the KenLM-shaped
    step after ``t_unigram_logprob``: score the held-out 10%'s bigrams
    under the train-split ``_bigram_scored`` model and ledger per
    language: docs scored, bigram totals per backoff class (integers —
    they pin the model lookups exactly), and the summed surprisal.
    Held-out docs with fewer than 2 tokens have no bigrams and are
    absent, matching the oracle's positional join.

    Cross-engine exactness: each surprisal is floored to integer
    micro-nats ONCE per distinct probability — and every probability
    is a DOUBLE both engines compute identically (exact int/int
    division; ``0.4·C1/N`` with the same left-to-right IEEE ops), so
    only ln's last ulp differs.  tests/test_float_boundaries.py
    enumerates every distinct probability in every fixture and
    verifies 50-digit-decimal boundary clearance.

    Scale shape: the model's partial aggregates and broadcast probes
    (degrading to a shuffled equi-join keyed by the bigram once a
    pruned n-gram model outgrows broadcast — the exact shape KenLM
    sharding uses); everything downstream is map-side-combining
    integer aggregation.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    return (
        _bigram_scored(d)
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_bigrams"),
            F.sum("is_seen").alias("n_seen"),
            F.sum("is_backoff").alias("n_backoff"),
            (F.count("*") - F.sum("is_seen") - F.sum("is_backoff")).alias("n_oov"),
            F.sum("s_u6").alias("score_u6_sum"),
        )
        .orderBy("lang")
    )


def t_ppl_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's perplexity bucketing — the per-DOCUMENT form of
    ``t_bigram_logprob``: score each held-out doc under the
    train-split bigram LM (same stupid-backoff model, same
    micro-nat-floored surprisals), average to a per-token perplexity
    proxy (exact integer ``div`` of the summed micro-nats by the
    bigram count), and rank docs into head/middle/tail terciles PER
    LANGUAGE (ntile over the total order (ppl, doc_id)) — the
    head/middle/tail split CCNet uses to stratify training data by
    LM fit.  Output: one row per scorable held-out doc.

    Scale shape: model build + scoring joins are the
    ``t_bigram_logprob`` plan (broadcast while the model fits,
    sharded equi-join beyond); the tercile rank runs over the
    PER-DOC ledger — O(n_docs) rows, ~1e9 at 100 TB, partitioned by
    lang; if one language dominates, swap the ntile for the
    histogram quantile-cut in docs/SCALE.md (same fallback as
    averageOutsidePercentile).
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    per_doc = _ppl_per_doc(_bigram_scored(d))
    w = Window.partitionBy("lang").orderBy("ppl_u6", "doc_id")
    return per_doc.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "ppl_u6",
        F.ntile(3).over(w).alias("tercile"),
    )


T_BIGRAM_LOGPROB_SQL = f"""
WITH tokd AS (
  SELECT doc_id, lang, {_SPLIT_BUCKET_SQL} AS bucket,
         generate_subscripts({_TOKENS_SQL}, 1) AS pos,
         unnest({_TOKENS_SQL}) AS w
  FROM documents
),
t_bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket < {_SPLIT_TRAIN}
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM t_bi GROUP BY 1, 2),
c1 AS (SELECT w, count(*) AS c1 FROM tokd WHERE bucket < {_SPLIT_TRAIN} GROUP BY 1),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS N FROM c1),
sb AS (
  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket >= {_SPLIT_TRAIN}
),
scored AS (
  SELECT sb.doc_id, sb.lang,
         CASE WHEN c2.c2 IS NOT NULL THEN 1 ELSE 0 END AS is_seen,
         CASE WHEN c2.c2 IS NULL AND u2.c1 IS NOT NULL THEN 1 ELSE 0 END
           AS is_backoff,
         CASE
           WHEN c2.c2 IS NOT NULL THEN
             CAST(floor(-ln(CAST(c2.c2 AS DOUBLE) / u1.c1) * 1000000.0) AS BIGINT)
           WHEN u2.c1 IS NOT NULL THEN
             CAST(floor(-ln(0.4 * u2.c1 / t.N) * 1000000.0) AS BIGINT)
           ELSE
             CAST(floor(-ln(0.4 / t.N) * 1000000.0) AS BIGINT)
         END AS s_u6
  FROM sb
  LEFT JOIN c2 ON c2.w1 = sb.w1 AND c2.w2 = sb.w2
  LEFT JOIN c1 u1 ON u1.w = sb.w1
  LEFT JOIN c1 u2 ON u2.w = sb.w2
  CROSS JOIN tot t
)
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_bigrams,
       CAST(sum(is_seen) AS BIGINT) AS n_seen,
       CAST(sum(is_backoff) AS BIGINT) AS n_backoff,
       CAST(count(*) - sum(is_seen) - sum(is_backoff) AS BIGINT) AS n_oov,
       CAST(sum(s_u6) AS BIGINT) AS score_u6_sum
FROM scored
GROUP BY lang
ORDER BY lang
"""

# Per-doc restatement: the same model/scoring CTEs down to `scored`,
# then the exact integer // per-doc mean and the per-lang ntile(3)
# (deterministic — (ppl_u6, doc_id) is a total order).
T_PPL_TERCILES_SQL = f"""
WITH tokd AS (
  SELECT doc_id, lang, {_SPLIT_BUCKET_SQL} AS bucket,
         generate_subscripts({_TOKENS_SQL}, 1) AS pos,
         unnest({_TOKENS_SQL}) AS w
  FROM documents
),
t_bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket < {_SPLIT_TRAIN}
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM t_bi GROUP BY 1, 2),
c1 AS (SELECT w, count(*) AS c1 FROM tokd WHERE bucket < {_SPLIT_TRAIN} GROUP BY 1),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS N FROM c1),
sb AS (
  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket >= {_SPLIT_TRAIN}
),
scored AS (
  SELECT sb.doc_id, sb.lang,
         CASE
           WHEN c2.c2 IS NOT NULL THEN
             CAST(floor(-ln(CAST(c2.c2 AS DOUBLE) / u1.c1) * 1000000.0) AS BIGINT)
           WHEN u2.c1 IS NOT NULL THEN
             CAST(floor(-ln(0.4 * u2.c1 / t.N) * 1000000.0) AS BIGINT)
           ELSE
             CAST(floor(-ln(0.4 / t.N) * 1000000.0) AS BIGINT)
         END AS s_u6
  FROM sb
  LEFT JOIN c2 ON c2.w1 = sb.w1 AND c2.w2 = sb.w2
  LEFT JOIN c1 u1 ON u1.w = sb.w1
  LEFT JOIN c1 u2 ON u2.w = sb.w2
  CROSS JOIN tot t
),
per_doc AS (
  SELECT doc_id, lang,
         count(*) AS n_bigrams,
         CAST(sum(s_u6) AS BIGINT) // count(*) AS ppl_u6
  FROM scored GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_bigrams, ppl_u6,
       CAST(ntile(3) OVER (PARTITION BY lang ORDER BY ppl_u6, doc_id)
            AS BIGINT) AS tercile
FROM per_doc
"""


T_CURATION_E2E_SQL = f"""
WITH pairs AS ({D_CDC_NEARDUP_SQL}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
base AS (
  SELECT doc_id, lang, length(text) AS nb,
         {_SPLIT_BUCKET_SQL} AS bucket, text
  FROM documents
),
docs AS (
  SELECT b.doc_id, b.lang, b.nb, b.bucket, b.text,
         CASE WHEN dr.doc_id IS NOT NULL THEN 1 END AS dup
  FROM base b LEFT JOIN dropped dr ON b.doc_id = dr.doc_id
),
tokd AS (
  SELECT doc_id, lang, bucket,
         generate_subscripts({_TOKENS_SQL}, 1) AS pos,
         unnest({_TOKENS_SQL}) AS w
  FROM docs WHERE dup IS NULL
),
t_bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket < {_SPLIT_TRAIN}
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM t_bi GROUP BY 1, 2),
c1 AS (SELECT w, count(*) AS c1 FROM tokd WHERE bucket < {_SPLIT_TRAIN} GROUP BY 1),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS N FROM c1),
sb AS (
  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket >= {_SPLIT_TRAIN}
),
scored AS (
  SELECT sb.doc_id, sb.lang,
         CASE
           WHEN c2.c2 IS NOT NULL THEN
             CAST(floor(-ln(CAST(c2.c2 AS DOUBLE) / u1.c1) * 1000000.0) AS BIGINT)
           WHEN u2.c1 IS NOT NULL THEN
             CAST(floor(-ln(0.4 * u2.c1 / t.N) * 1000000.0) AS BIGINT)
           ELSE
             CAST(floor(-ln(0.4 / t.N) * 1000000.0) AS BIGINT)
         END AS s_u6
  FROM sb
  LEFT JOIN c2 ON c2.w1 = sb.w1 AND c2.w2 = sb.w2
  LEFT JOIN c1 u1 ON u1.w = sb.w1
  LEFT JOIN c1 u2 ON u2.w = sb.w2
  CROSS JOIN tot t
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(sum(s_u6) AS BIGINT) // count(*) AS ppl_u6
  FROM scored GROUP BY doc_id, lang
),
tail AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ntile(3) OVER (PARTITION BY lang ORDER BY ppl_u6, doc_id)
             AS tercile
    FROM per_doc
  ) WHERE tercile = 3
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN dup IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_dedup,
       CAST(sum(CASE WHEN p.p_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       CAST(sum(CASE WHEN tl.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail_dropped,
       CAST(sum(CASE WHEN dup IS NULL AND tl.t_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN dup IS NULL AND tl.t_id IS NULL THEN nb ELSE 0 END)
            AS BIGINT) AS bytes_kept
FROM docs
LEFT JOIN (SELECT DISTINCT doc_id AS p_id FROM per_doc) p
  ON docs.doc_id = p.p_id
LEFT JOIN (SELECT doc_id AS t_id FROM tail) tl
  ON docs.doc_id = tl.t_id
GROUP BY lang
"""



# --------------------------------------------------------- t_bpe_pairs
def t_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-induction pair statistics: the top 20 adjacent
    CHARACTER pairs within tokens (count desc, pair asc — a total
    order) — the first-merge frequency table a BPE trainer computes
    each round.  Complements ``t_bigram_freq`` (token-level) at the
    sub-word granularity.

    Scale shape: tokenize + pair expansion are narrow higher-order
    array expressions in codegen (no Python); the only shuffle is the
    pair count with map-side combine — at 100 TB the exchange carries
    one row per distinct pair per partition (the pair alphabet is
    tiny), which is why BPE counting distributes trivially.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    # filter length>=2 BEFORE sequence(): Spark's sequence(1, 0) is the
    # DESCENDING [1, 0] (not empty like DuckDB's generate_series), so an
    # unguarded single-char token would fabricate pairs.
    pairs = F.expr(
        "flatten(transform(filter(tokens, t -> length(t) >= 2), t -> "
        "transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))))"
    )
    return (
        d.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


T_BPE_PAIRS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS t FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, strlen(t) - 1),
                               i -> substr(t, i, 2))) AS pair
  FROM toks
  WHERE strlen(t) >= 2
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""


# --------------------------------------------------------- t_bpe_merge
def t_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full BPE merge ITERATION — the step ``t_bpe_pairs`` only
    counts for: pick the most frequent adjacent pair, apply the merge
    to every token in the corpus, and emit the NEXT round's top-20
    pair table over the merged SYMBOL sequences (symbols joined with
    '+', so post-merge pairs like ``v+er`` are visible as such).

    The best pair is restricted to DISTINCT-char pairs (``er``, not
    ``ss``): a self-pair's occurrences can overlap ("sss"), making the
    greedy left-to-right result order-sensitive; with distinct chars
    occurrences cannot overlap, so the merge is exactly a
    string-replace — a pure narrow codegen expression, bit-identical
    cross-engine.  (A production BPE trainer resolves self-pair
    overlaps greedily; the restriction is documented, not hidden.)

    Scale shape: two passes over the token stream — pair-count
    (map-side-combined, tiny pair alphabet) → 1-row best-pair
    broadcast → merge+recount, again narrow + map-side-combined.
    Exactly how one distributed BPE round runs at 100 TB; the chained
    multi-round trainer — general symbol pairs, self-pairs included —
    is ``t_bpe_train2`` / ``bpe_merge_round``.
    """
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    pairs = F.expr(
        "flatten(transform(filter(tokens, t -> length(t) >= 2), t -> "
        "transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))))"
    )
    best = (
        d.select(F.explode(pairs).alias("pair"))
        .where(F.expr("substr(pair, 1, 1) != substr(pair, 2, 1)"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("best"))
    )
    toks = d.select(F.explode("tokens").alias("t"))
    sep = "\x01"  # never occurs in [a-z0-9]+ tokens
    merged = toks.crossJoin(F.broadcast(best)).withColumn(
        "syms",
        F.expr(
            "flatten(transform("
            f"  filter(split(replace(t, best, concat('{sep}', best, '{sep}')),"
            f"               '{sep}'), p -> length(p) > 0),"
            "  p -> CASE WHEN p = best THEN array(p)"
            "       ELSE transform(sequence(1, length(p)), i -> substr(p, i, 1))"
            "       END))"
        ),
    )
    newpairs = merged.where(F.size("syms") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> concat(syms[i - 1], '+', syms[i]))"
            )
        ).alias("pair")
    )
    return (
        newpairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


T_BPE_MERGE_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS t FROM documents
),
cand AS (
  SELECT unnest(list_transform(generate_series(1, strlen(t) - 1),
                               i -> substr(t, i, 2))) AS pair
  FROM toks
  WHERE strlen(t) >= 2
),
best AS (
  SELECT pair AS best FROM cand
  WHERE substr(pair, 1, 1) != substr(pair, 2, 1)
  GROUP BY pair
  ORDER BY count(*) DESC, pair ASC
  LIMIT 1
),
merged AS (
  SELECT flatten(list_transform(
           list_filter(string_split(replace(t, best, chr(1) || best || chr(1)),
                                    chr(1)),
                       p -> strlen(p) > 0),
           p -> CASE WHEN p = best THEN [p]
                ELSE list_transform(generate_series(1, strlen(p)),
                                    i -> substr(p, i, 1))
                END)) AS syms
  FROM toks, best
),
newpairs AS (
  SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                               i -> syms[i] || '+' || syms[i + 1])) AS pair
  FROM merged
  WHERE len(syms) >= 2
)
SELECT pair, count(*) AS n
FROM newpairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""


# -------------------------------------------------------- t_bpe_train2
BPE_SEP = "\x01"  # never occurs in [a-z0-9]+ tokens


def bpe_merge_round(toks: DataFrame, with_best: bool = False):
    """One GENERAL BPE merge round over symbol sequences (column
    ``syms array<string>``) — no distinct-char restriction: self-pairs
    (``s``+``s``) merge with the exact greedy left-to-right
    non-overlap semantics of a reference BPE trainer ("ssss" merges
    twice, "sss" once).

    The greedy scan stays entirely JVM-side.  The symbol array is
    encoded as a \\x01-delimited string with every symbol wrapped
    (``␁X␁␁Y␁␁Z␁``), so the pair pattern ``␁X␁␁Y␁`` can only match at
    full-symbol boundaries — never a symbol suffix/prefix — and the
    merge is one ``replace``: SQL ``replace`` substitutes occurrences
    left-to-right and continues scanning AFTER each replacement,
    which IS the greedy non-overlap rule, with identical semantics in
    Spark (UTF8String.replace), DuckDB, and the Python golden model
    (tests/test_bpe_merge.py pins the self-pair fixture).

    Plan per round: adjacent-pair count (map-side combined — the
    exchange carries one row per distinct pair per partition, a tiny
    alphabet) → 1-row best-pair broadcast → narrow codegen merge
    expression.  A multi-round trainer is this stage chained; at
    100 TB each round is one scan + one tiny-alphabet shuffle.
    """
    s, ss = BPE_SEP, BPE_SEP * 2
    pairs = toks.where(F.size("syms") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(syms) - 1),"
                " i -> struct(syms[i - 1] AS l, syms[i] AS r))"
            )
        ).alias("p")
    )
    best = (
        pairs.groupBy("p.l", "p.r")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
        .limit(1)
    )
    merged = (
        toks.crossJoin(F.broadcast(best.select("l", "r")))
        .withColumn(
            "enc",
            F.expr(
                f"replace(concat('{s}', array_join(syms, '{ss}'), '{s}'),"
                f"        concat('{s}', l, '{ss}', r, '{s}'),"
                f"        concat('{s}', l, r, '{s}'))"
            ),
        )
        .withColumn(
            "syms",
            F.expr(
                f"filter(split(substring(enc, 2, length(enc) - 2), '{ss}'),"
                " x -> x != '')"
            ),
        )
        # Pass-through columns (e.g. doc_id in t_bpe_encode) survive
        # the round untouched.
        .drop("l", "r", "enc")
    )
    # with_best hands back the 1-row (l, r, n) winner alongside the
    # merged corpus — what t_bpe_train_vocab unions into the trainer's
    # merge-table artifact.
    return (merged, best) if with_best else merged


def t_bpe_train2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained BPE merge iterations — the multi-round trainer loop
    ``t_bpe_merge``'s docstring promises: round 1 picks and applies
    the best character pair, round 2 re-pairs the merged SYMBOL
    sequences and applies the next best pair (which may involve the
    round-1 merge product, and may be a SELF-pair — no distinct-char
    restriction, see ``bpe_merge_round``).  Output: the round-3
    candidate pair table (top 20, count desc / pair asc, symbols
    joined with '+') over the twice-merged corpus."""
    # Seed AND per-round outputs are materialized: every stage feeds
    # two-plus consumers (a round's pair count + its merge; the final
    # count), so leaving lineage re-runs the whole prior chain per
    # consumer — measured 11.4 s → 5.2 s at sf0.1 from these
    # localCheckpoints alone.  (r19 optimization round: dropping the
    # LAST round's checkpoint was tried and measured SLOWER — 4.9 →
    # 5.6 s median A/B — the filter(size>=2) + pair-explode both
    # re-evaluate the inlined merge-string expression when it is not
    # materialized; the checkpoint is load-bearing, keep it.)
    # The seed is REPARTITIONED before it is even TOKENIZED (r19
    # optimization, guide §2.5 "unsplittable input — repartition
    # immediately after the read"): the single-row-group corpus scan
    # leaves everything upstream of the exchange in ONE task, so with
    # the repartition placed after the explode that task still paid
    # the regex tokenize + explode + char split + exchange write of
    # the 270k exploded symbol rows (event-log: 762 ms of the query's
    # 3.0 s).  Shipping the RAW text rows (2k, narrow) and running
    # tokenize/explode/split post-exchange puts the heavy map on all
    # cores.  r20: layout-gated — the Exchange is absent when the
    # scan already arrives in >= cores splits.
    toks = materialize(
        spread_scan(_docs(spark, sf_dir).select("text"),
                    spark, sf_dir, "documents")
        .select(F.explode(_tokens_col()).alias("t"))
        .select(
            F.expr(
                "transform(sequence(1, length(t)), i -> substr(t, i, 1))"
            ).alias("syms")
        ),
        "t_bpe_train2:symbols",
    )
    for rnd in (1, 2):
        toks = materialize(bpe_merge_round(toks), f"t_bpe_train2:merge {rnd}")
    return (
        toks.where(F.size("syms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> concat(syms[i - 1], '+', syms[i]))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


def t_bpe_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's actual ARTIFACT: the ordered merge table — three
    chained rounds, each row the round's winning pair (count desc,
    (l, r) asc over the corpus as merged so far) with its pre-merge
    count.  This table, broadcast, is what a tokenizer-apply stage
    replays to encode new text; ``t_bpe_train2`` prices the corpus
    side of the same loop."""
    toks = materialize(
        # same fan-out + repartition-before-tokenize rules as
        # t_bpe_train2 (the raw text rows cross the exchange;
        # layout-gated)
        spread_scan(_docs(spark, sf_dir).select("text"),
                    spark, sf_dir, "documents")
        .select(F.explode(_tokens_col()).alias("t"))
        .select(
            F.expr(
                "transform(sequence(1, length(t)), i -> substr(t, i, 1))"
            ).alias("syms")
        ),
        "t_bpe_train_vocab:symbols",
    )
    out = None
    for rnd in range(1, 4):
        toks, best = bpe_merge_round(toks, with_best=True)
        if rnd < 3:
            # the LAST round's merged corpus has no consumer (only its
            # best-pair row ships) — checkpointing it was a wasted
            # materialization job (r19 optimization)
            toks = materialize(toks, f"t_bpe_train_vocab:merge {rnd}")
        row = best.select(
            F.lit(rnd).alias("merge_round"),
            F.concat_ws("+", "l", "r").alias("pair"),
            "n",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("merge_round")


def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: encode every document with the corpus-trained
    merges (two rounds — the same chain ``t_bpe_train2`` trains) and
    ledger the compression per document: word tokens, character
    symbols before any merge, and symbols after both merges.  The
    per-doc symbol drop is exactly the number of merge applications
    that landed in that document — the accounting a tokenizer
    migration reads before re-encoding a 100 TB corpus.

    Scale shape: identical per-round plan to the trainer (pair count
    with map-side combine, 1-row broadcast, narrow merge expression)
    with ``doc_id`` riding the narrow stages untouched; the final
    ledger is one doc-keyed partial aggregate."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    toks = materialize(
        # same fan-out + repartition-before-tokenize rules as
        # t_bpe_train2 (the raw text rows cross the exchange;
        # layout-gated)
        spread_scan(_docs(spark, sf_dir).select("doc_id", "text"),
                    spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens_col()).alias("t"))
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, length(t)), i -> substr(t, i, 1))"
            ).alias("syms"),
        ),
        "t_bpe_encode:symbols",
    )
    # Round 1 keeps its checkpoint (TWO consumers: round 2's pair
    # count + its merge).  Round 2's merged corpus has exactly ONE
    # consumer — the per-doc size aggregate below, which evaluates
    # the merge expression once in a single pass — so its checkpoint
    # was one wasted materialization job (r20, the consumer-count
    # audit from the r19 curation/train_vocab lesson; t_bpe_train2
    # differs: its final consumer is a filter + pair-explode that
    # re-evaluates the merge string, measured SLOWER unmaterialized).
    toks = materialize(bpe_merge_round(toks), "t_bpe_encode:merge 1")
    toks = bpe_merge_round(toks)
    per = toks.groupBy("doc_id").agg(
        F.sum(F.size("syms")).cast("long").alias("n_sym_merged")
    )
    base = d.select(
        "doc_id",
        F.size("tokens").cast("long").alias("n_tok"),
        F.expr(
            "aggregate(tokens, CAST(0 AS BIGINT), (a, t) -> a + length(t))"
        ).alias("n_sym_chars"),
    )
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        "n_sym_chars",
        F.coalesce("n_sym_merged", F.lit(0)).cast("long").alias("n_sym_merged"),
    )


def _bpe_round_doc_sql(i: int) -> str:
    """Doc-carrying DuckDB merge round (``t_bpe_encode``): the pair
    count/best pick are corpus-global exactly as in ``_bpe_round_sql``;
    enc/decode carry doc_id through."""
    p = f"syms{i - 1}"
    return f"""pairs{i} AS (
  SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                               i -> {{'l': syms[i], 'r': syms[i + 1]}})) AS p
  FROM {p}
  WHERE len(syms) >= 2
),
best{i} AS (
  SELECT p.l AS l, p.r AS r, count(*) AS n FROM pairs{i}
  GROUP BY p.l, p.r
  ORDER BY count(*) DESC, p.l ASC, p.r ASC
  LIMIT 1
),
enc{i} AS (
  SELECT doc_id,
         replace(chr(1) || array_to_string(syms, chr(1) || chr(1)) || chr(1),
                 chr(1) || l || chr(1) || chr(1) || r || chr(1),
                 chr(1) || l || r || chr(1)) AS e
  FROM {p}, best{i}
),
syms{i} AS (
  SELECT doc_id,
         list_filter(string_split(substr(e, 2, length(e) - 2),
                                  chr(1) || chr(1)),
                     x -> x != '') AS syms
  FROM enc{i}
)"""


def _bpe_round_sql(i: int) -> str:
    """One DuckDB merge-round CTE chain (pairs/best/enc/syms) mirroring
    ``bpe_merge_round`` — chr(1)-wrapped encode, left-to-right
    ``replace`` merge, same (count DESC, l ASC, r ASC) best pick."""
    p = f"syms{i - 1}"
    return f"""pairs{i} AS (
  SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                               i -> {{'l': syms[i], 'r': syms[i + 1]}})) AS p
  FROM {p}
  WHERE len(syms) >= 2
),
best{i} AS (
  SELECT p.l AS l, p.r AS r, count(*) AS n FROM pairs{i}
  GROUP BY p.l, p.r
  ORDER BY count(*) DESC, p.l ASC, p.r ASC
  LIMIT 1
),
enc{i} AS (
  SELECT replace(chr(1) || array_to_string(syms, chr(1) || chr(1)) || chr(1),
                 chr(1) || l || chr(1) || chr(1) || r || chr(1),
                 chr(1) || l || r || chr(1)) AS e
  FROM {p}, best{i}
),
syms{i} AS (
  SELECT list_filter(string_split(substr(e, 2, length(e) - 2),
                                  chr(1) || chr(1)),
                     x -> x != '') AS syms
  FROM enc{i}
)"""


T_BPE_TRAIN2_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS t FROM documents
),
syms0 AS (
  SELECT list_transform(generate_series(1, strlen(t)), i -> substr(t, i, 1)) AS syms
  FROM toks
),
{_bpe_round_sql(1)},
{_bpe_round_sql(2)},
newpairs AS (
  SELECT unnest(list_transform(generate_series(1, len(syms) - 1),
                               i -> syms[i] || '+' || syms[i + 1])) AS pair
  FROM syms2
  WHERE len(syms) >= 2
)
SELECT pair, count(*) AS n
FROM newpairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""


T_BPE_ENCODE_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS tokens FROM documents
),
toks AS (
  SELECT doc_id, unnest(tokens) AS t FROM tok
),
syms0 AS (
  SELECT doc_id,
         list_transform(generate_series(1, strlen(t)), i -> substr(t, i, 1)) AS syms
  FROM toks
),
{_bpe_round_doc_sql(1)},
{_bpe_round_doc_sql(2)},
per AS (
  SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_sym_merged
  FROM syms2 GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tokens) AS BIGINT) AS n_tok,
       CAST(coalesce(list_sum(list_transform(t.tokens, x -> strlen(x))), 0)
            AS BIGINT) AS n_sym_chars,
       CAST(coalesce(p.n_sym_merged, 0) AS BIGINT) AS n_sym_merged
FROM tok t LEFT JOIN per p ON t.doc_id = p.doc_id
"""


T_BPE_TRAIN_VOCAB_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS t FROM documents
),
syms0 AS (
  SELECT list_transform(generate_series(1, strlen(t)), i -> substr(t, i, 1)) AS syms
  FROM toks
),
{_bpe_round_sql(1)},
{_bpe_round_sql(2)},
{_bpe_round_sql(3)}
SELECT merge_round, pair, n FROM (
  SELECT 1 AS merge_round, l || '+' || r AS pair, n FROM best1
  UNION ALL
  SELECT 2 AS merge_round, l || '+' || r AS pair, n FROM best2
  UNION ALL
  SELECT 3 AS merge_round, l || '+' || r AS pair, n FROM best3
)
ORDER BY merge_round
"""


# ------------------------------------------------ t_stratified_sample
# Per-language keep rates in permille.  Unknown languages take the
# conservative default.  The sampling gate is a deterministic
# multiplicative hash of doc_id — identical int64 arithmetic in both
# engines (max intermediate (1000002)·2654435761 ≈ 2.7e15, far inside
# ANSI int64), so the kept SET is reproducible run-to-run and
# engine-to-engine, which is what lets a 100 TB sampling job be
# restarted or audited without storing the sample itself.
_STRAT_RATES = [("en", 100), ("es", 250), ("de", 500), ("fr", 750), ("zh", 900)]
_STRAT_DEFAULT = 200
_STRAT_BUCKET_SQL = "(((doc_id % 1000003) * 2654435761) % 1000000007) % 1000"


def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling ledger: per-language totals, kept
    counts under per-stratum permille rates, and two kept-set
    checksums (bit_xor of doc_id — order-insensitive and
    overflow-free — plus kept char volume) that pin the exact kept
    SET, not just its size.

    Unlike ``d_split_hash`` (uniform 90/5/5 split), rates differ per
    stratum — the down-sample-the-dominant-language shape of corpus
    curation.  Scale shape: the gate is a pure narrow codegen
    expression (no rand(), no shuffle to decide membership), then one
    5-key partial aggregate; conditional aggregation keeps
    zero-kept strata present with 0 rather than a vanishing group.
    """
    d = _docs(spark, sf_dir)
    bucket = (((F.col("doc_id") % 1000003) * 2654435761) % 1000000007) % 1000
    rate = F.lit(_STRAT_DEFAULT)
    for lang, permille in _STRAT_RATES:
        rate = F.when(F.col("lang") == lang, permille).otherwise(rate)
    keep = bucket < rate
    return (
        d.select(
            "lang",
            "n_chars",
            keep.alias("keep"),
            F.col("doc_id"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.coalesce(
                F.bit_xor(F.when(F.col("keep"), F.col("doc_id"))), F.lit(0)
            ).alias("kept_id_xor"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("n_chars"))), F.lit(0)
            ).alias("kept_chars"),
        )
        .orderBy("lang")
    )


_STRAT_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lang}' THEN {permille}" for lang, permille in _STRAT_RATES
) + f" ELSE {_STRAT_DEFAULT} END"

T_STRATIFIED_SAMPLE_SQL = f"""
WITH gated AS (
  SELECT lang, n_chars, doc_id,
         {_STRAT_BUCKET_SQL} < {_STRAT_RATE_SQL} AS keep
  FROM documents
)
SELECT lang,
       count(*) AS n_total,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(bit_xor(CASE WHEN keep THEN doc_id END), 0) AS kept_id_xor,
       CAST(COALESCE(sum(CASE WHEN keep THEN n_chars END), 0) AS BIGINT)
         AS kept_chars
FROM gated
GROUP BY lang
ORDER BY lang
"""


# ------------------------------------------------------ t_mix_weights
def t_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture reweighting: per-source token volume, its share
    of the corpus, and the sampling weight that would equalize the
    mixture (uniform target = total/n_sources tokens per source) —
    the ledger a data-mixing stage publishes before sampling.  Shares
    and weights are integer parts-per-million (floor division) so the
    oracle comparison is exact.  Scale shape: per-source partial
    aggregate, then the ~20-row totals frame is BROADCAST back — no
    second shuffle, no single-partition window over the big table."""
    d = _docs(spark, sf_dir).withColumn("tokens", _tokens_col())
    per_src = (
        d.select("source", F.size("tokens").cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("src_tokens"))
    )
    totals = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "src_tokens",
        F.expr("src_tokens * 1000000 div total_tokens").alias("share_ppm"),
        F.expr("(total_tokens div n_sources) * 1000000 div src_tokens").alias(
            "weight_ppm"
        ),
    )


T_MIX_WEIGHTS_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(CAST(len({_TOKENS_SQL}) AS BIGINT)) AS BIGINT) AS src_tokens
  FROM documents
  GROUP BY 1
),
totals AS (
  SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
         count(*) AS n_sources
  FROM per_src
)
SELECT source, n_docs, src_tokens,
       src_tokens * 1000000 // total_tokens AS share_ppm,
       (total_tokens // n_sources) * 1000000 // src_tokens AS weight_ppm
FROM per_src, totals
"""


# --------------------------------------------------------- d_dedup_matrix
def d_dedup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document DEDUP DECISION MATRIX — the three text tiers
    of the dedup cost ladder composed into one auditable verdict per
    doc: `exact` (a content-identical md5 twin exists), `simhash`
    (any banded pair within hamming ≤ 8 — `d_simhash_banded`'s
    relation verbatim), `jaccard` (any LSH-verified shingle pair at
    ≥ 0.5 — `d_neardup_clusters`' edge threshold over
    `d_lsh_pairs`), plus the STRICTEST-tier verdict (exact ≻
    simhash ≻ jaccard ≻ unique).  This is the reporting artifact a
    corpus-curation run actually reviews — which tier would have
    caught each duplicate — and the cross-tier containment sanity
    check (every exact dup should be caught by the fuzzy tiers too;
    rows where it isn't are the interesting ones) falls out of the
    matrix for free.

    Scale shape: each tier is its own audited plan (hash groupBy /
    banded chunk join / shingle inverted index); the matrix adds
    only O(docs) flag joins on doc_id.  The flag joins carry NO
    broadcast hint (VERDICT r16 watch item): the flagged-doc set is
    data-dependent — a heavily-duplicated corpus flags O(docs) rows
    and a forced broadcast would OOM — so AQE sizes the build side
    at runtime (the d_incremental pattern); at test scale it still
    chooses broadcast.  Oracle: the
    three tiers' oracle SQL bodies embedded as derived tables (each
    pinned separately for years of rounds), folded with the same
    flags."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ex = docs.select("doc_id", F.md5("text").alias("h"))
    exd = (
        ex.join(ex.groupBy("h").agg(F.count("*").alias("c")), "h")
        .select("doc_id",
                (F.col("c") > 1).cast("int").alias("exact_dup"))
    )

    def flagged(pairs: DataFrame, name: str) -> DataFrame:
        ids = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        return ids.withColumn(name, F.lit(1))

    sh = flagged(d_simhash_banded(spark, sf_dir), "simhash_dup")
    ja = flagged(
        d_lsh_pairs(spark, sf_dir).where(F.col("jaccard") >= 0.5),
        "jaccard_dup",
    )
    out = (
        exd.join(sh, "doc_id", "left")
        .join(ja, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("simhash_dup", F.lit(0)).alias("simhash_dup"),
            F.coalesce("jaccard_dup", F.lit(0)).alias("jaccard_dup"),
        )
    )
    return out.withColumn(
        "tier",
        F.when(F.col("exact_dup") == 1, "exact")
        .when(F.col("simhash_dup") == 1, "simhash")
        .when(F.col("jaccard_dup") == 1, "jaccard")
        .otherwise("unique"),
    )


def _d_dedup_matrix_sql() -> str:
    return f"""
WITH shp AS ({D_SIMHASH_PAIRS_SQL}),
lshp AS ({D_LSH_SQL}),
exd AS (
  SELECT doc_id,
         CASE WHEN count(*) OVER (PARTITION BY md5(text)) > 1
              THEN 1 ELSE 0 END AS exact_dup
  FROM documents
),
shf AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM shp UNION ALL SELECT doc_b FROM shp)
),
jaf AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM lshp WHERE jaccard >= 0.5
    UNION ALL SELECT doc_b FROM lshp WHERE jaccard >= 0.5)
)
SELECT e.doc_id,
       CAST(e.exact_dup AS INTEGER) AS exact_dup,
       CAST(CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END
            AS INTEGER) AS simhash_dup,
       CAST(CASE WHEN j.doc_id IS NULL THEN 0 ELSE 1 END
            AS INTEGER) AS jaccard_dup,
       CASE WHEN e.exact_dup = 1 THEN 'exact'
            WHEN s.doc_id IS NOT NULL THEN 'simhash'
            WHEN j.doc_id IS NOT NULL THEN 'jaccard'
            ELSE 'unique' END AS tier
FROM exd e
LEFT JOIN shf s ON e.doc_id = s.doc_id
LEFT JOIN jaf j ON e.doc_id = j.doc_id
"""


# ------------------------------------------------------------ s_labelprop
def _labelprop_round(edges: DataFrame, lab: DataFrame) -> DataFrame:
    """ONE min-label propagation round: the per-dst min over the
    neighbor-label join, merged by LEAST into the surviving labels.
    Shared by `s_labelprop`'s driver loop and the plan-audit builder
    (`s_labelprop_round`), so the audited plan IS the shipped plan —
    REVIEW r16, mirroring the `_tri_ledger_increment` pattern.

    NO broadcast hints (VERDICT r16 item 3): the label frame is
    O(nodes) — at 100 TB that is O(corpus vectors) and a FORCED
    broadcast OOMs the executors.  Both joins are left unhinted so
    AQE sizes them from the post-checkpoint runtime stats (the
    round-10 policy, the `d_incremental` pattern): at test scale AQE
    still CHOOSES broadcast — `s_labelprop_round`'s
    require_executed pins that adaptive choice — and at cluster
    scale the same code degrades to a shuffle join instead of an
    OOM."""
    nbr = (
        edges.join(
            lab.select(F.col("node").alias("src"), "comm"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min("comm").alias("ml"))
    )
    return lab.join(nbr, "node", "left").select(
        "node",
        F.least(F.col("comm"),
                F.coalesce("ml", F.col("comm"))).alias("comm"),
    )


_LP_MAX_ROUNDS = 64   # driver-loop safety cap
_LP_ORACLE_K = 28     # oracle unroll depth — strictly past the
#                       measured fixpoints (17/10/11 at
#                       sf0.001/0.01/0.1; rounds past the fixpoint
#                       propagate over an unchanged label table,
#                       provably no-ops)


def _labelprop_fixpoint(nodes: DataFrame, pairs: DataFrame):
    """Min-label propagation run TO its exact fixpoint over the given
    undirected pair relation; returns (labels frame, round count).
    The loop body is `_labelprop_round` (the audited plan); shared by
    `s_labelprop` (exact all-pairs edges) and `s_labelprop_lsh`
    (LSH-bucketed edges) so both rungs run the SAME schedule and the
    comparison between them isolates the EDGE RELATION as the only
    variable."""
    edges = materialize(
        pairs.select(F.col("ida").alias("src"), F.col("idb").alias("dst"))
        .unionAll(
            pairs.select(F.col("idb").alias("src"),
                         F.col("ida").alias("dst"))),
        "labelprop:edges")
    lab = materialize(nodes.withColumn("comm", F.col("node")),
                      "labelprop:seed labels", reset_stats=True)
    iters = 0
    while True:
        iters += 1
        new = materialize(_labelprop_round(edges, lab),
                          f"labelprop:round {iters}", reset_stats=True)
        # ONE control-plane scalar per round — labels only decrease,
        # so max(prev - new) == 0 IS the fixpoint test
        delta = (
            new.join(lab.withColumnRenamed("comm", "prev"), "node")
            .agg(F.max(F.col("prev") - F.col("comm")))
            .first()[0]
        )
        lab = new
        # an empty node frame aggregates to NULL — that IS the (trivial)
        # fixpoint, not a non-convergence
        if delta is None or delta == 0:
            break
        if iters >= _LP_MAX_ROUNDS:
            raise RuntimeError("label propagation did not converge")
    return lab, iters


def s_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels over the embedding near-duplicate graph by
    integer-exact MIN-LABEL propagation run TO its exact fixpoint
    (VERDICT r15 item 6) — the corpus-clustering convergence rung
    (Raghavan et al. 2007's propagation schedule, made deterministic
    by the min tie-break): every vector starts as its own label and
    each round takes the min of its own and its neighbors' labels
    over the cosine ≥ 0.35 graph (`s_cosine_nearpairs`' exact pair
    relation).  The fixpoint labels are the connected components of
    the near-dup graph — the cluster artifact a SemDeDup-style
    pipeline (`s_semantic_dedup`) bounds its quadratic dedup by —
    and because labels are integers that only ever DECREASE,
    "converged" is a decidable predicate and the ledger carries the
    iteration count.

    Where `d_neardup_clusters` (text tier) checks its closure
    against a recursive CTE, this rung follows the
    `w_pagerank_fixpoint` discipline: the oracle UNROLLS
    _LP_ORACLE_K (28) MATERIALIZED rounds — strictly past every
    measured fixpoint (17/10/11) — and derives the SAME iteration
    count in SQL (min k with max label-drop = 0), so the
    loop-until-converged semantics are oracle-checked, not just the
    final labeling.  Isolated vectors keep their own label
    (singleton communities): the labeling is TOTAL over the corpus.

    Scale shape: each round is one shuffle (the per-dst min over the
    O(edges) neighbor-label join) + an O(nodes) LEAST merge; ONE
    control-plane scalar per round (max label drop — the convergence
    test); the label frame enters its round plan MULTIPLICATIVELY
    (the neighbor join AND the LEAST merge), so rounds re-anchor via
    `materialize(..., reset_stats=True)` — the truss/k-core stats-reset
    discipline.  The pair build is the all-pairs exact baseline
    (correct at test scale); at 100 TB you swap in the LSH-bucketed
    pair relation (`d_embed_neardup_lsh`) — the propagation loop is
    agnostic to how edges were produced."""
    pairs = s_cosine_nearpairs(spark, sf_dir).select("ida", "idb")
    nodes = _cos_frames(spark, sf_dir).select(F.col("vec_id").alias("node"))
    lab, iters = _labelprop_fixpoint(nodes, pairs)
    if iters >= _LP_ORACLE_K:
        raise RuntimeError(
            f"label-prop fixpoint at round {iters} >= the oracle "
            f"unroll depth _LP_ORACLE_K={_LP_ORACLE_K}; raise the "
            "unroll depth so rounds k.._LP_ORACLE_K stay provably "
            "identical"
        )
    return lab.select(
        F.col("node").alias("vec_id"),
        "comm",
        F.lit(iters).cast("long").alias("iters"),
    )


def _s_labelprop_sql(k: int = _LP_ORACLE_K, with_iters: bool = True) -> str:
    """Generated oracle: k unrolled MATERIALIZED min-label rounds
    (k strictly past every measured fixpoint) + the SQL derivation
    of the round count (min t with max label-drop = 0 — identical
    semantics to the driver loop's stop test).  ``with_iters=False``
    drops the diffs/fix CTEs and the iters column — the streamed
    warm-start form (`st_labelprop`) reaches the same fixpoint
    LABELS but its round count depends on batch slicing, so only
    the labels are oracle-comparable."""
    its = []
    for t in range(1, k + 1):
        prev = f"l{t - 1}"
        its.append(
            f"l{t} AS MATERIALIZED (\n"
            f"  SELECT p.node,\n"
            f"         LEAST(p.comm, COALESCE(m.ml, p.comm)) AS comm\n"
            f"  FROM {prev} p LEFT JOIN (\n"
            f"    SELECT e.dst AS node, min(p2.comm) AS ml\n"
            f"    FROM ed e JOIN {prev} p2 ON e.src = p2.node\n"
            f"    GROUP BY e.dst\n"
            f"  ) m ON p.node = m.node\n"
            f")"
        )
    diffs = "\n  UNION ALL ".join(
        f"SELECT {t} AS t, max(a.comm - b.comm) AS d"
        f" FROM l{t - 1} a JOIN l{t} b ON a.node = b.node"
        for t in range(1, k + 1)
    )
    rounds = ",\n".join(its)
    if with_iters:
        tail = (
            f",\ndiffs AS MATERIALIZED (\n  {diffs}\n),\n"
            "fix AS (SELECT CAST(min(t) AS BIGINT) AS iters"
            " FROM diffs WHERE d = 0)\n"
            "SELECT node AS vec_id, comm, (SELECT iters FROM fix)"
            f" AS iters\nFROM l{k}"
        )
    else:
        tail = f"\nSELECT node AS vec_id, comm FROM l{k}"
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM e
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(generate_series(1, 64),
              i -> a.v[i] * b.v[i])) / (a.norm * b.norm), 6) >= 0.35
),
ed AS MATERIALIZED (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL SELECT idb, ida FROM pairs
),
l0 AS MATERIALIZED (
  SELECT vec_id AS node, vec_id AS comm FROM e
),
{rounds}{tail}
"""


# ------------------------------------------------------ s_labelprop_lsh
def s_labelprop_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH-EDGE rung of label propagation (VERDICT r16 item 5) —
    the `d_lsh_tuning` measured-trade discipline applied to
    CLUSTERING: run the SAME fixpoint schedule (`_labelprop_fixpoint`
    — the audited `_labelprop_round` body, shared verbatim with
    `s_labelprop`) over `d_embed_neardup_lsh`'s bucketed pair
    relation instead of the all-pairs exact one, and LEDGER the
    cluster agreement against the exact fixpoint — turning the
    standing "at 100 TB swap in the LSH edges" docstring claim into
    a measured, oracle-checked row.

    The comparison has a THEOREM in it: the LSH pairs are exact-
    verified (sim >= 0.35) but enumerated only within hyperplane
    buckets, so the LSH edge set is a SUBSET of the exact edge set —
    LSH components REFINE exact components, every LSH cluster maps
    into exactly one exact cluster, and `refinement_violations` is
    pinned 0 cross-engine (a real recall bug in the bucketing would
    break it loudly).  The cost of the trade is SPLITTING: exact
    clusters shatter where all their internal edges straddle
    hyperplanes.  `agree_ppm` prices it pair-wise — the fraction of
    exact same-cluster pairs still co-clustered under LSH labels
    (Σ C(joint group, 2) / Σ C(exact group, 2), exact floored ppm)
    — computable from group SIZES alone, never enumerating pairs.

    Scale shape: the LSH side is the production path (bucket-keyed
    join, work ∝ Σ bucket²); the exact side is the fenced all-pairs
    baseline this ledger exists to price against; the agreement
    arithmetic is three map-combined counts + one 1-row crossJoin.
    Measured fixpoints over the LSH edges: 3/3/11 rounds at
    sf0.001/0.01/0.1 (vs 17/10/11 exact) — sparser graphs converge
    FASTER because the surviving components are smaller.

    THE MEASURED VERDICT (the reason this rung exists): a single
    4-hyperplane table keeps only agree_ppm = 18,233 (sf0.01) /
    1,060 (sf0.1) of exact intra-cluster pairs — 237 exact clusters
    shatter to 455, 37 to 1,386.  Pair-level recall is tolerable
    for DEDUP (each surviving pair still dedups its two members) but
    catastrophic for CLUSTERING, where component connectivity needs
    most edges, not a sample.  So the honest 100 TB guidance is NOT
    "swap in these buckets" — it is the `d_simhash_banded` shape:
    OR multiple independent tables / multi-probe so banding recall
    compounds (1−(1−r)^b) before propagation runs.  This ledger is
    the artifact that forces that decision with numbers instead of
    a docstring claim."""
    pairs_lsh = d_embed_neardup_lsh(spark, sf_dir).select("ida", "idb")
    return _lsh_agreement_ledger(spark, sf_dir, pairs_lsh)


def _lsh_agreement_ledger(spark: SparkSession, sf_dir: str,
                          pairs_lsh: DataFrame,
                          oracle_k: int = _LP_ORACLE_K) -> DataFrame:
    """The exact-vs-LSH cluster-agreement ledger shared by
    `s_labelprop_lsh` (one table) and the `s_labelprop_lsh_mt*`
    table-count curve: both fixpoints, edge counts (the COST side of
    the trade), size-arithmetic pair agreement (the RECALL side),
    and the refinement-violation theorem column.  ``oracle_k`` must
    match the rung's oracle unroll depth — sparser edge relations
    reach fixpoint LATER (the 2-table graph needs 35 rounds at sf0.1
    where 4 tables need 20: surviving components have longer
    internal paths), so the 2-table rung passes a deeper unroll."""
    pairs_ex = s_cosine_nearpairs(spark, sf_dir).select("ida", "idb")
    nodes = _cos_frames(spark, sf_dir).select(F.col("vec_id").alias("node"))
    lab_ex, it_ex = _labelprop_fixpoint(nodes, pairs_ex)
    lab_lsh, it_lsh = _labelprop_fixpoint(nodes, pairs_lsh)
    for it, tag in ((it_ex, "exact"), (it_lsh, "lsh")):
        if it >= oracle_k:
            raise RuntimeError(
                f"{tag} label-prop fixpoint at round {it} >= the "
                f"oracle unroll depth {oracle_k}; "
                "raise the unroll depth so later rounds stay "
                "provably no-ops"
            )
    joint = lab_ex.join(
        lab_lsh.withColumnRenamed("comm", "comm_lsh"), "node")
    # integer `div`, not float `/`: c*(c-1) is always even, and the
    # double round-trip would lose exactness past 2^53 intra-pairs —
    # reachable at corpus scale even though test SFs never get close
    c2 = lambda c: F.expr(f"({c} * ({c} - 1)) div 2")  # noqa: E731
    eed = pairs_ex.agg(F.count("*").alias("exact_edges"))
    led = pairs_lsh.agg(F.count("*").alias("lsh_edges"))
    exs = (lab_ex.groupBy("comm").agg(F.count("*").alias("c"))
           .agg(F.count("*").alias("exact_clusters"),
                F.sum(c2("c")).alias("exact_intra_pairs")))
    lss = (lab_lsh.groupBy("comm").agg(F.count("*").alias("c"))
           .agg(F.count("*").alias("lsh_clusters")))
    jnt = (joint.groupBy("comm", "comm_lsh").agg(F.count("*").alias("c"))
           .agg(F.sum(c2("c")).alias("joint_intra_pairs")))
    viol = (joint.select("comm", "comm_lsh").distinct()
            .groupBy("comm_lsh").agg(F.count("*").alias("n_ex"))
            .agg(F.sum((F.col("n_ex") > 1).cast("long"))
                 .alias("refinement_violations")))
    n = lab_ex.agg(F.count("*").alias("n_nodes"))
    return (
        n.crossJoin(exs).crossJoin(lss).crossJoin(eed).crossJoin(led)
        .crossJoin(jnt).crossJoin(viol)
        .select(
            "n_nodes", "exact_clusters", "lsh_clusters",
            "exact_edges", "lsh_edges",
            "exact_intra_pairs", "joint_intra_pairs",
            # a corpus with no exact near-dup clusters has no pairs to
            # agree on — emit the -1 sentinel instead of letting the
            # two engines diverge (Spark `div` by 0 → NULL, DuckDB `//`
            # by 0 → error); same CASE in the oracle
            F.expr("CASE WHEN coalesce(exact_intra_pairs, 0) = 0 THEN -1 "
                   "ELSE joint_intra_pairs * 1000000 div exact_intra_pairs "
                   "END")
            .alias("agree_ppm"),
            "refinement_violations",
        )
    )


def _s_labelprop_lsh_sql(k: int = _LP_ORACLE_K,
                         pairsl_body: str = None,
                         extra_ctes: str = "") -> str:
    """Generated oracle: TWO independent k-round unrolled MATERIALIZED
    propagation schedules — one over the exact all-pairs edges, one
    over the LSH-bucketed edges (both k=28, strictly past every
    measured fixpoint: 17/10/11 exact, 3/3/11 single-table LSH,
    6/7/20 OR'd multi-table — the sparser graph's surviving
    components have LONGER internal paths at sf0.1, so min-labels
    travel farther even though there is less to merge) — folded
    into the same size-arithmetic
    agreement ledger the Spark side computes.  ``pairsl_body``
    overrides the LSH pair CTE body — `s_labelprop_lsh_mt` passes
    the OR'd multi-table candidate join."""
    from go_whisper_spark.operators.llm_ops import _bucket_expr_sql

    if pairsl_body is None:
        pairsl_body = f"""  SELECT a.vec_id AS ida, c.vec_id AS idb
  FROM bkt a JOIN bkt c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
  WHERE round(list_sum(list_transform(generate_series(1, 64),
              i -> a.v[i] * c.v[i])) / (a.norm * c.norm), 6) >= 0.35"""

    def unroll(prefix: str, ed: str) -> str:
        its = []
        for t in range(1, k + 1):
            prev = f"{prefix}{t - 1}"
            its.append(
                f"{prefix}{t} AS MATERIALIZED (\n"
                f"  SELECT p.node,\n"
                f"         LEAST(p.comm, COALESCE(m.ml, p.comm)) AS comm\n"
                f"  FROM {prev} p LEFT JOIN (\n"
                f"    SELECT e.dst AS node, min(p2.comm) AS ml\n"
                f"    FROM {ed} e JOIN {prev} p2 ON e.src = p2.node\n"
                f"    GROUP BY e.dst\n"
                f"  ) m ON p.node = m.node\n"
                f")"
            )
        return ",\n".join(its)

    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM e
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ida, b.vec_id AS idb
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(generate_series(1, 64),
              i -> a.v[i] * b.v[i])) / (a.norm * b.norm), 6) >= 0.35
),
ed AS MATERIALIZED (
  SELECT ida AS src, idb AS dst FROM pairs
  UNION ALL SELECT idb, ida FROM pairs
),
bkt AS MATERIALIZED (
  SELECT vec_id, v, norm, {_bucket_expr_sql()} AS bucket FROM n
),
{extra_ctes}pairsl AS MATERIALIZED (
{pairsl_body}
),
edl AS MATERIALIZED (
  SELECT ida AS src, idb AS dst FROM pairsl
  UNION ALL SELECT idb, ida FROM pairsl
),
l0 AS MATERIALIZED (
  SELECT vec_id AS node, vec_id AS comm FROM e
),
m0 AS MATERIALIZED (
  SELECT vec_id AS node, vec_id AS comm FROM e
),
{unroll('l', 'ed')},
{unroll('m', 'edl')},
exf AS MATERIALIZED (SELECT node, comm FROM l{k}),
lsf AS MATERIALIZED (SELECT node, comm AS comm_lsh FROM m{k}),
exs AS (SELECT comm, count(*) AS c FROM exf GROUP BY 1),
jnt AS (
  SELECT a.comm, b.comm_lsh, count(*) AS c
  FROM exf a JOIN lsf b ON a.node = b.node
  GROUP BY 1, 2
)
SELECT
  (SELECT count(*) FROM exf) AS n_nodes,
  (SELECT count(*) FROM exs) AS exact_clusters,
  (SELECT CAST(count(DISTINCT comm_lsh) AS BIGINT) FROM lsf)
    AS lsh_clusters,
  (SELECT count(*) FROM pairs) AS exact_edges,
  (SELECT count(*) FROM pairsl) AS lsh_edges,
  (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) FROM exs)
    AS exact_intra_pairs,
  (SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) FROM jnt)
    AS joint_intra_pairs,
  CAST(CASE WHEN COALESCE((SELECT sum(c * (c - 1) // 2) FROM exs), 0) = 0
            THEN -1
            ELSE (SELECT sum(c * (c - 1) // 2) FROM jnt) * 1000000
                 // (SELECT sum(c * (c - 1) // 2) FROM exs) END AS BIGINT)
    AS agree_ppm,
  (SELECT CAST(sum(CASE WHEN n_ex > 1 THEN 1 ELSE 0 END) AS BIGINT)
   FROM (SELECT comm_lsh, count(DISTINCT comm) AS n_ex
         FROM jnt GROUP BY 1))
    AS refinement_violations
FROM (SELECT 1)
"""


# ------------------------------------------------------------ t_pii_scrub
# PII patterns chosen for cross-dialect identity: Java regex (Spark)
# and RE2 (DuckDB) agree on character classes, bounded repetition and
# \b word boundaries; no lookaround anywhere (RE2 has none).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def _pii_aug_col():
    """The deterministic CRT-overlapping PII injection (emails on
    doc_id % 3, IPv4s on % 5, phones on % 7) — shared VERBATIM by
    `t_pii_scrub` and `t_curation_pii`'s scrub stage; the oracle
    twin is `_PII_AUG_EXPR_SQL`."""
    return F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.concat(
            F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), (F.col("doc_id") % 100).cast("string"))
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.concat(
            F.lit(" call 555-"),
            (100 + F.col("doc_id") % 900).cast("string"),
            F.lit("-"),
            (1000 + F.col("doc_id") % 9000).cast("string"))
        ).otherwise(F.lit("")),
    )


def _pii_red_col(c):
    """The chained 3-class redaction (order pinned by the zero-
    residual law); oracle twin `_pii_scrub_expr_sql`."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, _PII_EMAIL, "[EMAIL]"),
            _PII_IPV4, "[IP]"),
        _PII_PHONE, "[PHONE]")


_PII_AUG_EXPR_SQL = """text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                      || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                 ELSE '' END"""


def _pii_scrub_expr_sql(col: str) -> str:
    return (f"regexp_replace(regexp_replace(regexp_replace(\n"
            f"             {col}, '{_PII_EMAIL}', '[EMAIL]', 'g'),\n"
            f"             '{_PII_IPV4}', '[IP]', 'g'),\n"
            f"             '{_PII_PHONE}', '[PHONE]', 'g')")


def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the curation stage every released
    corpus runs and the text-analysis family was missing: per-class
    regex detection (email / IPv4 / phone) and placeholder
    replacement, with the ledger a compliance review reads.  The
    synthetic corpus contains no organic PII, so the fixture INJECTS
    it deterministically from doc_id (emails on doc_id % 3 == 0,
    IPv4s on % 5 == 0, phones on % 7 == 0 — overlapping classes by
    CRT, so multi-class documents exist) — both engines apply the
    identical augmentation, making every downstream number
    full-rank.  What the cross-engine ledger then PINS is the scrub
    machinery itself, per lang:

      * per-class match counts (the detection side);
      * `chars_removed` = Σ (len before − len after) — redaction is
        measured, not asserted (placeholders are fixed strings, so
        the delta is deterministic);
      * `residual` = matches of ANY class remaining AFTER the scrub
        — pinned 0 cross-engine, the completeness law (replacement
        order bugs, overlapping-match bugs, or a dialect divergence
        in `regexp_replace` semantics all break it loudly — DuckDB
        replaces first-match-only without the 'g' flag, exactly the
        class of bug this column exists to catch).

    Scale shape: one narrow codegen'd map over the corpus (regex
    count + chained replace — no shuffle until the per-lang
    aggregate), then a map-combined groupBy.  Patterns are
    RE2-compatible by construction (no lookaround), which is also
    the production constraint: RE2-safe patterns run on any engine
    and never backtrack-explode on adversarial documents."""
    # repartition-before-the-regex-map (guide §2.5; measured −18%
    # median — the chained scrub regexes otherwise run in the
    # single-row-group scan task; r20: layout-gated, so no Exchange
    # when the scan is already wide)
    d = spread_scan(
        _docs(spark, sf_dir).select("doc_id", "lang", "text"),
        spark, sf_dir, "documents",
    )
    base = d.select("doc_id", "lang", _pii_aug_col().alias("aug"))
    red = _pii_red_col(F.col("aug"))
    scr = base.select(
        "lang",
        F.regexp_count("aug", F.lit(_PII_EMAIL)).alias("em"),
        F.regexp_count("aug", F.lit(_PII_IPV4)).alias("ip"),
        F.regexp_count("aug", F.lit(_PII_PHONE)).alias("ph"),
        (F.length("aug") - F.length(red)).alias("delta"),
        (F.regexp_count(red, F.lit(_PII_EMAIL))
         + F.regexp_count(red, F.lit(_PII_IPV4))
         + F.regexp_count(red, F.lit(_PII_PHONE))).alias("res"),
    )
    return scr.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("em").cast("long").alias("emails"),
        F.sum("ip").cast("long").alias("ipv4s"),
        F.sum("ph").cast("long").alias("phones"),
        F.sum("delta").cast("long").alias("chars_removed"),
        F.sum("res").cast("long").alias("residual"),
    )


# Built from the SAME `_PII_AUG_EXPR_SQL` / `_pii_scrub_expr_sql`
# helpers as T_CURATION_PII_SQL (ADVICE r18: two hand-inlined copies
# of the injection + chained-redaction SQL can silently drift); the
# redacted string is hoisted into its own CTE column so the 4x
# repeated triple-regexp_replace collapses to one.
T_PII_SCRUB_SQL = rf"""
WITH aug0 AS (
  SELECT lang,
         {_PII_AUG_EXPR_SQL} AS aug
  FROM documents
),
red AS (
  SELECT lang, aug,
         {_pii_scrub_expr_sql('aug')} AS scr
  FROM aug0
),
scr AS (
  SELECT lang,
         len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS em,
         len(regexp_extract_all(aug, '{_PII_IPV4}')) AS ip,
         len(regexp_extract_all(aug, '{_PII_PHONE}')) AS ph,
         length(aug) - length(scr) AS delta,
         len(regexp_extract_all(scr, '{_PII_EMAIL}'))
         + len(regexp_extract_all(scr, '{_PII_IPV4}'))
         + len(regexp_extract_all(scr, '{_PII_PHONE}')) AS res
  FROM red
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(em) AS BIGINT) AS emails,
       CAST(sum(ip) AS BIGINT) AS ipv4s,
       CAST(sum(ph) AS BIGINT) AS phones,
       CAST(sum(delta) AS BIGINT) AS chars_removed,
       CAST(sum(res) AS BIGINT) AS residual
FROM scr
GROUP BY lang
"""


# ------------------------------------------------------------ t_pii_luhn
# Credit-card candidates: fixed dddd-dddd-dddd-dddd format (RE2-safe,
# \b-bounded; a 4-digit group can never satisfy the phone pattern's
# 3-digit group at a word boundary, so the classes do not overlap).
_PII_CARD = r"\b\d{4}-\d{4}-\d{4}-\d{4}\b"


def _luhn_valid_sql(c: str, dialect: str) -> str:
    """The Luhn checksum of a dddd-dddd-dddd-dddd candidate ``c`` as
    a boolean SQL expression — integer arithmetic only, exact in
    both engines (the reason a checksum gate CAN be oracle-pinned).
    Digit k (1-based, left to right) sits at char k + (k-1) div 4
    (skipping dashes); with 16 digits the doubled positions are the
    odd k (rightmost digit k=16 is never doubled)."""
    if dialect == "spark":
        d = f"(ascii(substr({c}, CAST(k + (k - 1) div 4 AS INT), 1)) - 48)"
        body = (
            f"aggregate(sequence(1, 16), 0, (acc, k) -> acc + "
            f"(CASE WHEN k % 2 = 1 THEN "
            f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END) "
            f"ELSE {d} END))"
        )
    else:
        d = f"(unicode(substring({c}, CAST(k + (k - 1) // 4 AS INT), 1)) - 48)"
        body = (
            f"list_sum(list_transform(generate_series(1, 16), "
            f"k -> (CASE WHEN k % 2 = 1 THEN "
            f"(CASE WHEN 2 * {d} > 9 THEN 2 * {d} - 9 ELSE 2 * {d} END) "
            f"ELSE {d} END)))"
        )
    return f"(({body}) % 10 = 0)"


def t_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKSUM-GATED PII detection (VERDICT r18 item 7) — the
    classic case regex alone overfires on: credit-card-shaped
    numbers.  The regex finds dddd-dddd-dddd-dddd CANDIDATES; only
    candidates passing a pure-SQL Luhn check (integer arithmetic,
    exact in both engines) are redacted to ``[CARD]`` — a
    Luhn-failing near-miss is LEFT UNTOUCHED (pytest-pinned), which
    is the behavioral difference between a detector and a checksum
    gate.  The fixture injects one card per doc_id % 11 == 0 with
    digits derived from doc_id (lpad of a Knuth-multiplied hash —
    deterministic, varied, and ~1 in 10 Luhn-valid by arithmetic
    accident, so BOTH classes are populated at every SF without
    hand-picking numbers; measured below).

    The redaction is the general candidate→verify→rebuild spelling,
    not replace-all: split the text BY the pattern, re-interleave
    parts with each match either redacted (Luhn passes) or kept
    verbatim — so a document holding a valid and a near-miss card
    redacts exactly one.  (Spark guard: sequence(1, 0) is
    DESCENDING, so the zero-match doc short-circuits to the raw
    text — the m_cdc_dedup lesson.)

    The cross-engine ledger per lang: candidates found, Luhn-valid
    (== redacted), chars_removed (measured, not asserted),
    `residual_valid` — VALID cards remaining after the scrub,
    pinned 0 (the zero-residual law extended through the gate) —
    and `near_miss_kept`, pinned == found − valid (the gate's
    complement: what a checksum-blind scrubber would have burned).

    MEASURED (sf0.01 / sf0.1): 46 / 455 candidates, 6 / 48
    Luhn-valid (residual_valid 0, near_miss_kept 40 / 407) — the
    ~1-in-10 arithmetic holds at both SFs.

    Scale shape: one narrow codegen map per doc (regex extract +
    split + a 16-term integer fold per candidate — no shuffle until
    the per-lang fold), then a map-combined groupBy; the pattern is
    RE2-safe (no lookaround) like every class in the family."""
    luhn_c = _luhn_valid_sql("c", "spark")
    luhn_m = _luhn_valid_sql("element_at(ms, i)", "spark")
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    base = d.select(
        "doc_id", "lang",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.concat(
                F.lit(" card "),
                F.expr(
                    "substr(lpad(CAST((doc_id * 2654435761) % "
                    "10000000000000000 AS STRING), 16, '0'), 1, 4) || '-' || "
                    "substr(lpad(CAST((doc_id * 2654435761) % "
                    "10000000000000000 AS STRING), 16, '0'), 5, 4) || '-' || "
                    "substr(lpad(CAST((doc_id * 2654435761) % "
                    "10000000000000000 AS STRING), 16, '0'), 9, 4) || '-' || "
                    "substr(lpad(CAST((doc_id * 2654435761) % "
                    "10000000000000000 AS STRING), 16, '0'), 13, 4)"
                ))).otherwise(F.lit("")),
        ).alias("aug"),
    )
    staged = base.select(
        "lang", "aug",
        F.regexp_extract_all("aug", F.lit(_PII_CARD), F.lit(0)).alias("ms"),
        F.split("aug", _PII_CARD, -1).alias("parts"),
    ).select(
        "lang", "aug", "ms",
        F.expr(f"size(filter(ms, c -> {luhn_c}))").alias("n_valid"),
        F.expr(
            "CASE WHEN size(ms) = 0 THEN aug ELSE "
            "concat(element_at(parts, 1), "
            "aggregate(sequence(1, size(ms)), '', (acc, i) -> "
            f"acc || (CASE WHEN {luhn_m} THEN '[CARD]' "
            "ELSE element_at(ms, i) END) "
            "|| element_at(parts, i + 1))) END"
        ).alias("red"),
    )
    scr = staged.select(
        "lang",
        F.size("ms").alias("found"),
        "n_valid",
        (F.length("aug") - F.length("red")).alias("delta"),
        F.expr(
            "size(filter(regexp_extract_all(red, "
            f"'{_PII_CARD_SQL}', 0), c -> {luhn_c}))"
        ).alias("res_valid"),
        F.expr(
            "size(filter(regexp_extract_all(red, "
            f"'{_PII_CARD_SQL}', 0), c -> NOT {luhn_c}))"
        ).alias("kept"),
    )
    return scr.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("found").cast("long").alias("cards_found"),
        F.sum("n_valid").cast("long").alias("cards_valid"),
        F.sum("delta").cast("long").alias("chars_removed"),
        F.sum("res_valid").cast("long").alias("residual_valid"),
        F.sum("kept").cast("long").alias("near_miss_kept"),
    )


# the pattern as it appears INSIDE Spark SQL text (F.expr parses
# backslash escapes in string literals, unlike F.lit)
_PII_CARD_SQL = _PII_CARD.replace("\\", "\\\\")


def _t_pii_luhn_sql() -> str:
    luhn_c = _luhn_valid_sql("c", "duck")
    luhn_m = _luhn_valid_sql("ms[i]", "duck")
    cc = ("substring(c16, 1, 4) || '-' || substring(c16, 5, 4) || '-' || "
          "substring(c16, 9, 4) || '-' || substring(c16, 13, 4)")
    return f"""
WITH aug0 AS (
  SELECT lang,
         text || CASE WHEN doc_id % 11 = 0 THEN ' card ' || {cc}
                 ELSE '' END AS aug
  FROM (
    SELECT doc_id, lang, text,
           lpad(CAST((doc_id * 2654435761) % 10000000000000000
                AS VARCHAR), 16, '0') AS c16
    FROM documents
  )
),
staged AS (
  SELECT lang, aug,
         regexp_extract_all(aug, '{_PII_CARD}') AS ms,
         str_split_regex(aug, '{_PII_CARD}') AS parts
  FROM aug0
),
red0 AS (
  SELECT lang, aug, ms,
         len(list_filter(ms, c -> {luhn_c})) AS n_valid,
         parts[1] || array_to_string(
           list_transform(generate_series(1, len(ms)),
             i -> (CASE WHEN {luhn_m} THEN '[CARD]' ELSE ms[i] END)
                  || parts[i + 1]), '') AS red
  FROM staged
),
scr AS (
  SELECT lang,
         len(ms) AS found, n_valid,
         length(aug) - length(red) AS delta,
         len(list_filter(regexp_extract_all(red, '{_PII_CARD}'),
             c -> {luhn_c})) AS res_valid,
         len(list_filter(regexp_extract_all(red, '{_PII_CARD}'),
             c -> NOT {luhn_c})) AS kept
  FROM red0
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(found) AS BIGINT) AS cards_found,
       CAST(sum(n_valid) AS BIGINT) AS cards_valid,
       CAST(sum(delta) AS BIGINT) AS chars_removed,
       CAST(sum(res_valid) AS BIGINT) AS residual_valid,
       CAST(sum(kept) AS BIGINT) AS near_miss_kept
FROM scr
GROUP BY lang
"""


# The curation capstone in policy order dedup -> scrub -> train: the
# e2e oracle with the survivors' text replaced by the scrubbed text
# (so tokd/c2/c1/scored all run over placeholders) and the scrub
# audit columns folded per lang over the post-dedup corpus.
T_CURATION_PII_SQL = f"""
WITH pairs AS ({D_CDC_NEARDUP_SQL}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
aug0 AS (
  SELECT doc_id, lang,
         {_PII_AUG_EXPR_SQL} AS aug
  FROM documents
),
base AS (
  SELECT doc_id, lang, aug,
         {_pii_scrub_expr_sql('aug')} AS scr,
         {_SPLIT_BUCKET_SQL} AS bucket
  FROM aug0
),
docs AS (
  SELECT b.doc_id, b.lang, length(b.scr) AS nb, b.bucket, b.scr AS text,
         len(regexp_extract_all(b.aug, '{_PII_EMAIL}')) AS em,
         len(regexp_extract_all(b.aug, '{_PII_IPV4}')) AS ip,
         len(regexp_extract_all(b.aug, '{_PII_PHONE}')) AS ph,
         length(b.aug) - length(b.scr) AS delta,
         CASE WHEN dr.doc_id IS NOT NULL THEN 1 END AS dup
  FROM base b LEFT JOIN dropped dr ON b.doc_id = dr.doc_id
),
tokd AS (
  SELECT doc_id, lang, bucket,
         generate_subscripts({_TOKENS_SQL}, 1) AS pos,
         unnest({_TOKENS_SQL}) AS w
  FROM docs WHERE dup IS NULL
),
t_bi AS (
  SELECT a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket < {_SPLIT_TRAIN}
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM t_bi GROUP BY 1, 2),
c1 AS (SELECT w, count(*) AS c1 FROM tokd WHERE bucket < {_SPLIT_TRAIN} GROUP BY 1),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS N FROM c1),
sb AS (
  SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
  FROM tokd a JOIN tokd b
    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.bucket >= {_SPLIT_TRAIN}
),
scored AS (
  SELECT sb.doc_id, sb.lang,
         CASE
           WHEN c2.c2 IS NOT NULL THEN
             CAST(floor(-ln(CAST(c2.c2 AS DOUBLE) / u1.c1) * 1000000.0) AS BIGINT)
           WHEN u2.c1 IS NOT NULL THEN
             CAST(floor(-ln(0.4 * u2.c1 / t.N) * 1000000.0) AS BIGINT)
           ELSE
             CAST(floor(-ln(0.4 / t.N) * 1000000.0) AS BIGINT)
         END AS s_u6
  FROM sb
  LEFT JOIN c2 ON c2.w1 = sb.w1 AND c2.w2 = sb.w2
  LEFT JOIN c1 u1 ON u1.w = sb.w1
  LEFT JOIN c1 u2 ON u2.w = sb.w2
  CROSS JOIN tot t
),
per_doc AS (
  SELECT doc_id, lang,
         CAST(sum(s_u6) AS BIGINT) // count(*) AS ppl_u6
  FROM scored GROUP BY doc_id, lang
),
tail AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ntile(3) OVER (PARTITION BY lang ORDER BY ppl_u6, doc_id)
             AS tercile
    FROM per_doc
  ) WHERE tercile = 3
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN dup IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_dedup,
       CAST(sum(CASE WHEN p.p_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       CAST(sum(CASE WHEN tl.t_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail_dropped,
       CAST(sum(CASE WHEN dup IS NULL AND tl.t_id IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN dup IS NULL AND tl.t_id IS NULL THEN nb ELSE 0 END)
            AS BIGINT) AS bytes_kept,
       CAST(sum(CASE WHEN dup IS NULL THEN em ELSE 0 END) AS BIGINT)
         AS pii_emails,
       CAST(sum(CASE WHEN dup IS NULL THEN ip ELSE 0 END) AS BIGINT)
         AS pii_ipv4s,
       CAST(sum(CASE WHEN dup IS NULL THEN ph ELSE 0 END) AS BIGINT)
         AS pii_phones,
       CAST(sum(CASE WHEN dup IS NULL THEN delta ELSE 0 END) AS BIGINT)
         AS pii_chars_removed
FROM docs
LEFT JOIN (SELECT DISTINCT doc_id AS p_id FROM per_doc) p
  ON docs.doc_id = p.p_id
LEFT JOIN (SELECT doc_id AS t_id FROM tail) tl
  ON docs.doc_id = tl.t_id
GROUP BY lang
"""


# -------------------------------------------------- s_labelprop_lsh_mt
_MT_TABLES = 4
_MT_TABLES_MAX = 8   # the table-count knob sweep's largest rung
_LP_ORACLE_K2 = 40   # the 2-table rung's unroll depth: its sparser
#                      graph reaches fixpoint at round 35 at sf0.1
#                      (the guard caught 35 >= 28 when the rung first
#                      ran under the shared depth — measured, then
#                      deepened, exactly what the loud guard is for)
_mt_prng = random.Random(0xB0B5CA1E)
# 8 tables from ONE sequential PRNG stream: the first 4 are bitwise
# identical to the pre-curve MT_HYPERPLANES, so every T-table rung's
# table set is a PREFIX of the next — which makes the curve's edge
# sets nested (edges(T) ⊆ edges(T')) and agree_ppm provably monotone
# in T (more edges only merge LSH clusters, which stay refinements
# of the exact clustering).
MT_HYPERPLANES = [
    [[round(_mt_prng.gauss(0.0, 1.0), 8) for _ in range(64)]
     for _ in range(N_PLANES)]
    for _ in range(_MT_TABLES_MAX)
]


def _mt_bucket_assign(spark: SparkSession, sf_dir: str,
                      n_tables: int) -> DataFrame:
    """(vec_id, v, norm, t, bucket) for the first ``n_tables`` of the
    prefix-nested hyperplane stream — ONE Arrow pass assigns all T
    buckets (the per-table rows explode from the same vector batch).
    Shared by `_mt_lsh_pairs` (the mt curve's edge builder) and the
    `s_lsh_multiprobe` sweep so every rung prices the SAME buckets."""
    tables = MT_HYPERPLANES[:n_tables]
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].values).astype(np.float64)
            norm = np.sqrt(_seq_dot(V, V))
            outs = []
            for t, planes in enumerate(tables):
                bucket = np.zeros(len(pdf), dtype=np.int64)
                for i, plane in enumerate(planes):
                    P = np.broadcast_to(
                        np.asarray(plane, dtype=np.float64), V.shape)
                    bucket += (_seq_dot(V, P) > 0).astype(np.int64) << i
                out = pdf[["vec_id", "v"]].copy()
                out["norm"] = norm
                out["t"] = t
                out["bucket"] = bucket
                outs.append(out)
            yield pd.concat(outs)

    return e.mapInPandas(
        assign, "vec_id long, v array<double>, norm double, "
                "t long, bucket long")


def _mt_lsh_pairs(spark: SparkSession, sf_dir: str,
                  n_tables: int = _MT_TABLES) -> DataFrame:
    """OR'd multi-table LSH candidate pairs, exact-verified:
    ``n_tables`` INDEPENDENT 4-hyperplane tables; a pair is a
    candidate if it shares a bucket in ANY table (so miss
    probability compounds: (1-p)^T instead of 1-p), each candidate
    verified sim >= 0.35 before it becomes an edge.  One Arrow pass
    assigns all T buckets (`_mt_bucket_assign`); the pair
    enumeration is the (t, bucket)-keyed kernel of
    `d_embed_neardup_lsh` verbatim; the cross-table dedup
    is one distinct on the pair key.  Cost: ~T× the single-table
    candidate work — the priced trade the `s_labelprop_lsh_mt*`
    ledgers record next to the recall it buys."""
    bkt = _mt_bucket_assign(spark, sf_dir, n_tables)

    def bucket_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return _EMPTY_PAIRS[["ida", "idb"]]
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.stack(pdf["v"].values).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        norms = pdf["norm"].to_numpy()
        iu, ju = np.triu_indices(n, k=1)
        sim = np.round(_seq_dot(V[iu], V[ju]) / (norms[iu] * norms[ju]), 6)
        m = sim >= 0.35
        return pd.DataFrame({"ida": ids[iu][m], "idb": ids[ju][m]})

    return (
        bkt.groupBy("t", "bucket")
        .applyInPandas(bucket_pairs, "ida long, idb long")
        .distinct()
    )


def s_labelprop_lsh_mt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR'd MULTI-TABLE LSH label propagation — the fix
    `s_labelprop_lsh`'s measured verdict demands, measured the same
    way: one 4-hyperplane table keeps agree_ppm 18,233 (sf0.01) /
    1,060 (sf0.1) of exact intra-cluster pairs, so this rung runs
    the SAME fixpoint schedule over the union of FOUR independent
    tables (`_mt_lsh_pairs` — miss probability (1-p)^4) and ledgers
    what the compounding buys and costs.  The refinement theorem
    still holds (every candidate is exact-verified, so the OR'd
    edge set is still ⊆ the exact edge set → refinement_violations
    pinned 0); `lsh_edges` vs `exact_edges` prices the candidate
    cost next to the recovered agreement.  Together the two rungs
    are the d_lsh_tuning collision-curve discipline applied to
    clustering: a measured (tables × recall) curve instead of a
    banding claim.

    THE MEASURED RECOVERY: 4 OR'd tables lift agree_ppm from
    18,233 → 148,730 (sf0.01) and 1,060 → 698,131 (sf0.1) — at
    sf0.1, 50.2% edge recall (2,076 of 4,137; sf0.01: 137 of 271 —
    the round-19 sweep corrected this rung's earlier 122 note, the
    ledger itself always said 137) yields 69.8% pair
    agreement, because giant components carry redundant edges and
    survive misses that shatter small ones.  Fixpoints over the
    OR'd graph: 6/7/20 rounds (vs 17/10/11 exact).  Round 18 turned
    the two points into the measured CURVE: `s_labelprop_lsh_mt2` /
    `_mt8` sit on the same prefix-nested table stream."""
    return _lsh_agreement_ledger(spark, sf_dir,
                                 _mt_lsh_pairs(spark, sf_dir))


def s_labelprop_lsh_mt2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-TABLE point on the (tables × agree_ppm × candidate-cost)
    curve (VERDICT r17 item 4): same ledger, same fixpoint schedule,
    table set = the FIRST TWO of the mt stream — a strict prefix of
    `s_labelprop_lsh_mt`'s four, so edges(2) ⊆ edges(4) ⊆ edges(8)
    and agreement is monotone in T by construction (pytest-pinned).
    MEASURED: agree_ppm 50,053 (sf0.01) / 140,057 (sf0.1) at
    lsh_edges 75 / 1,242 — vs 1 table's 18,233 / 1,060 and 4
    tables' 148,730 / 698,131 at 137 / 2,076.  Its sparser surviving graph also
    reaches fixpoint LATEST on the curve (35 rounds at sf0.1 vs 20
    for 4 tables — longer internal paths), which the rung's deeper
    oracle unroll (_LP_ORACLE_K2) carries."""
    return _lsh_agreement_ledger(spark, sf_dir,
                                 _mt_lsh_pairs(spark, sf_dir, 2),
                                 oracle_k=_LP_ORACLE_K2)


def s_labelprop_lsh_mt8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-TABLE point — the top of the curve: miss probability
    (1-p)^8 at ~8× single-table candidate cost.  MEASURED: agree_ppm
    530,568 (sf0.01) / 922,133 (sf0.1) at lsh_edges 201 / 3,060 —
    vs 4 tables' 148,730 / 698,131 at 137 / 2,076.  The full curve
    (T = 1, 2, 4, 8): 18k → 50k → 149k → 531k ppm at sf0.01 and
    1k → 140k → 698k → 922k at sf0.1 — agreement keeps climbing
    through 8 tables (sf0.01's small shattered components mean every
    recovered edge merges a pair; sf0.1's giant component saturates:
    69.8% → 92.2% for the last doubling at ~1.5× edge cost), so the
    default stays a WORKLOAD choice and the sweep is the data to
    make it with.  Refinement theorem (LSH edges ⊆ exact edges)
    pinned cross-engine on every rung of the curve."""
    return _lsh_agreement_ledger(spark, sf_dir,
                                 _mt_lsh_pairs(spark, sf_dir, 8))


def _mt_table_expr_sql(planes) -> str:
    """The 4-bit hyperplane bucket of one table as a DuckDB integer
    expression — shared by the mt-curve oracles and the multiprobe
    sweep oracle (one spelling of the bucket math)."""
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(c)) for c in plane) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform("
            f"generate_series(1, 64), "
            f"i -> v[i] * ({lit}::DOUBLE[])[i])) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _s_labelprop_lsh_mt_sql(k: int = _LP_ORACLE_K,
                            n_tables: int = _MT_TABLES) -> str:
    cols = ",\n         ".join(
        f"{_mt_table_expr_sql(MT_HYPERPLANES[t])} AS b{t}"
        for t in range(n_tables)
    )
    ors = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    extra = f"""bktm AS MATERIALIZED (
  SELECT vec_id, v, norm,
         {cols}
  FROM n
),
"""
    body = f"""  SELECT a.vec_id AS ida, c.vec_id AS idb
  FROM bktm a JOIN bktm c
    ON a.vec_id < c.vec_id AND ({ors})
  WHERE round(list_sum(list_transform(generate_series(1, 64),
              i -> a.v[i] * c.v[i])) / (a.norm * c.norm), 6) >= 0.35"""
    return _s_labelprop_lsh_sql(k, pairsl_body=body, extra_ctes=extra)


# (tables, probe radius) sweep grid for `s_lsh_multiprobe` — radius-0
# rows replicate the mt curve's edge counts (the m_ahash_multiprobe
# cross-rung consistency pin); radius-1 on 4-bit buckets is 4
# neighbor probes per (vec, table), Lv et al.'s knob on the
# hyperplane family.
_MP_LSH_SWEEP = ((1, 0), (1, 1), (2, 0), (2, 1), (4, 0), (4, 1))


def s_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE on the hyperplane LSH family — the probe-radius
    axis the (tables x agree_ppm x cost) curve still lacked (VERDICT
    r18 item 4; the aHash family got its radius axis in
    `m_ahash_multiprobe`): instead of more tables, probe each
    table's 1-BIT NEIGHBOR buckets too (bucket XOR 2^i for each of
    the 4 hyperplane bits), so a pair is a candidate when its
    buckets differ by <= radius bits in ANY of the first T tables —
    4 extra probe rows per (vec, table) exploding into the SAME
    (t, bucket) equi-join, measured against the exact sim >= 0.35
    edge set like every rung of the curve.

    MEASURED (sf0.01 / sf0.1 edge recall): radius-1 at ONE table
    MATCHES radius-0 at FOUR tables (T=1 r=1 recovers 509,225 /
    524,292 ppm of exact edges vs T=4 r=0's 505,535 / 501,812)
    while storing ONE index instead of four, at ~1.34x their
    candidates (n_cand 39,672 / 633,890 vs 29,801 / 471,934) —
    flipping one hyperplane bit probes a neighbor halfspace of the
    SAME partition, so the probe set buys what three more
    independent tables buy.  T=2 r=1 reaches 793,357 / 769,639 ppm.
    At T=4 r=1 the 4-bit bucket space SATURATES — 77% of ALL pairs
    become candidates (96,431 / 1,542,273 of 124,750 / 1,999,000)
    for 940,959 / 950,688 ppm — the measured warning that
    multi-probe composes with table count only while the per-table
    admit probability (5/16 at r=1) stays small: 1-(11/16)^4 = 0.78
    is the saturation arithmetic itself.  Radius-0 rows replicate
    `_mt_lsh_pairs`' verified edge counts exactly (44 / 75 / 137 at
    sf0.01, 702 / 1,242 / 2,076 at sf0.1 — the T=4 row also
    corrected a stale 122 in the mt4 docstring; the ledgers agree
    at 137) — the cross-rung pin.

    Scale shape: ONE Arrow assignment pass at T=4 shared by all six
    configs (`_mt_bucket_assign`, materialized); per config the
    probe explode is codegen (no Python), the candidate join is
    (t, bucket)-keyed, verification joins the broadcast O(vectors)
    ledger with the codegen dot product; counts are control-plane
    scalars.  The truth pass is the fenced quadratic
    `s_cosine_nearpairs` this family always prices against.  [pins
    Lv et al. multi-probe LSH on the hyperplane table stream]"""
    base = materialize(_mt_bucket_assign(spark, sf_dir, 4)
                       .select("vec_id", "t", "bucket"),
                       "s_lsh_multiprobe:buckets")
    e = materialize(_cos_frames(spark, sf_dir).select("vec_id", "v", "norm"),
                    "s_lsh_multiprobe:vectors")
    exact = materialize(s_cosine_nearpairs(spark, sf_dir).select("ida", "idb"),
                        "s_lsh_multiprobe:truth pairs")
    n_true = exact.count()
    rows = []
    for n_tables, radius in _MP_LSH_SWEEP:
        sub = base.where(F.col("t") < n_tables)
        if radius == 0:
            probes = sub
        else:
            probes = sub.select(
                "vec_id", "t",
                F.explode(F.expr(
                    "array(bucket, bucket ^ 1, bucket ^ 2, "
                    "bucket ^ 4, bucket ^ 8)")).alias("bucket"),
            )
        cand = materialize(
            probes.alias("a").join(sub.alias("b"), ["t", "bucket"])
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("ida"),
                    F.col("b.vec_id").alias("idb"))
            .distinct(),
            f"s_lsh_multiprobe:T{n_tables} r{radius} candidates",
        )
        n_cand = cand.count()
        ver = (
            cand
            .join(F.broadcast(e.select(F.col("vec_id").alias("ida"),
                                       F.col("v").alias("va"),
                                       F.col("norm").alias("na"))), "ida")
            .join(F.broadcast(e.select(F.col("vec_id").alias("idb"),
                                       F.col("v").alias("vb"),
                                       F.col("norm").alias("nb"))), "idb")
            .where(F.round(_dot_expr("va", "vb")
                           / (F.col("na") * F.col("nb")), 6) >= 0.35)
        )
        lsh_edges = ver.count()
        rows.append((n_tables, radius, n_cand, lsh_edges, n_true,
                     (lsh_edges * 1_000_000 // n_true) if n_true else -1))
    return spark.createDataFrame(
        rows, "tables long, radius long, n_cand long, lsh_edges long, "
              "exact_edges long, recall_ppm long")


def _s_lsh_multiprobe_sql() -> str:
    """Oracle: ONE materialized all-pairs pass carrying the verified
    flag and each table's bucket XOR hamming, then each sweep row is
    an aggregate over it — probe-set membership restated as
    bit_count(xor(bucket_a, bucket_b)) <= radius, which is exactly
    what the Spark side's neighbor-probe explode admits."""
    cols = ",\n         ".join(
        f"{_mt_table_expr_sql(MT_HYPERPLANES[t])} AS b{t}"
        for t in range(4)
    )
    selects = []
    for n_tables, radius in _MP_LSH_SWEEP:
        hmin = ("h0" if n_tables == 1 else
                "least(" + ", ".join(f"h{t}" for t in range(n_tables)) + ")")
        selects.append(f"""SELECT {n_tables} AS tables, {radius} AS radius,
       CAST(sum(CASE WHEN {hmin} <= {radius} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cand,
       CAST(sum(CASE WHEN {hmin} <= {radius} AND ok = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS lsh_edges,
       CAST(sum(ok) AS BIGINT) AS exact_edges,
       CAST(CASE WHEN sum(ok) = 0 THEN -1
            ELSE sum(CASE WHEN {hmin} <= {radius} AND ok = 1
                     THEN 1 ELSE 0 END) * 1000000 // sum(ok)
            END AS BIGINT) AS recall_ppm
FROM pr""")
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
  FROM e
),
bktm AS MATERIALIZED (
  SELECT vec_id, v, norm,
         {cols}
  FROM n
),
pr AS MATERIALIZED (
  SELECT a.vec_id AS ida, c.vec_id AS idb,
         CASE WHEN round(list_sum(list_transform(generate_series(1, 64),
              i -> a.v[i] * c.v[i])) / (a.norm * c.norm), 6) >= 0.35
              THEN 1 ELSE 0 END AS ok,
         bit_count(xor(a.b0, c.b0)) AS h0,
         bit_count(xor(a.b1, c.b1)) AS h1,
         bit_count(xor(a.b2, c.b2)) AS h2,
         bit_count(xor(a.b3, c.b3)) AS h3
  FROM bktm a JOIN bktm c ON a.vec_id < c.vec_id
)
{union}
"""


QUERIES = {
    "d_exact_dedup": d_exact_dedup,
    "d_neardup_clusters": d_neardup_clusters,
    "t_bigram_freq": t_bigram_freq,
    "d_dedup_keepers": d_dedup_keepers,
    "d_jaccard_pairs": d_jaccard_pairs,
    "d_prefix_join": d_prefix_join,
    "s_mmr_rerank": s_mmr_rerank,
    "d_minhash_sigs": d_minhash_sigs,
    "d_lsh_pairs": d_lsh_pairs,
    "d_simhash": d_simhash,
    "d_simhash_pairs": d_simhash_pairs,
    "d_simhash_banded": d_simhash_banded,
    "s_cosine_topk": s_cosine_topk,
    "s_hybrid_rrf": s_hybrid_rrf,
    "s_pq_search_filtered": s_pq_search_filtered,
    "s_cosine_nearpairs": s_cosine_nearpairs,
    "s_cosine_ann": s_cosine_ann,
    "s_ann_recall": s_ann_recall,
    "s_cosine_ann_mp": s_cosine_ann_mp,
    "s_ann_mp_recall": s_ann_mp_recall,
    "s_cosine_sig": s_cosine_sig,
    "s_sig_recall": s_sig_recall,
    "s_vector_stats": s_vector_stats,
    "d_embed_neardup_lsh": d_embed_neardup_lsh,
    "s_cosine_ivf": s_cosine_ivf,
    "t_token_stats": t_token_stats,
    "t_lang_id": t_lang_id,
    "t_quality": t_quality,
    "t_fingerprint": t_fingerprint,
    "t_tfidf_top3": t_tfidf_top3,
    "t_word_freq": t_word_freq,
    "s_quantize_int8": s_quantize_int8,
    "d_norm_dedup": d_norm_dedup,
    "d_containment": d_containment,
    "t_sentence_stats": t_sentence_stats,
    "t_quality_filter": t_quality_filter,
    "t_bytes_hdr": t_bytes_hdr,
    "t_seq_packing": t_seq_packing,
    "t_pipeline_e2e": t_pipeline_e2e,
    "d_split_hash": d_split_hash,
    "t_contamination": t_contamination,
    "t_bloom_decontam": t_bloom_decontam,
    "t_repetition": t_repetition,
    "t_mix_weights": t_mix_weights,
    "t_dup_spans": t_dup_spans,
    "t_span_dedup": t_span_dedup,
    "t_span_dedup_l5": t_span_dedup_l5,
    "t_span_dedup_l9": t_span_dedup_l9,
    "t_decontam": t_decontam,
    "t_bpe_merge": t_bpe_merge,
    "t_bpe_train2": t_bpe_train2,
    "t_bpe_train_vocab": t_bpe_train_vocab,
    "t_bpe_encode": t_bpe_encode,
    "t_length_buckets": t_length_buckets,
    "d_cc_stars": d_cc_stars,
    "t_stratified_sample": t_stratified_sample,
    "t_bpe_pairs": t_bpe_pairs,
    "d_incremental": d_incremental,
    "s_mrl_eval": s_mrl_eval,
    "t_unigram_logprob": t_unigram_logprob,
    "t_bigram_logprob": t_bigram_logprob,
    "t_ppl_terciles": t_ppl_terciles,
    "t_lang_confusion": t_lang_confusion,
    "s_kmeans_step": s_kmeans_step,
    "s_kmeans_train": s_kmeans_train,
    "s_kmeans_train_k12": s_kmeans_train_k12,
    "s_coreset": s_coreset,
    "s_kmeans_2step": s_kmeans_2step,
    "s_kmeans_seed": s_kmeans_seed,
    "d_cdc_neardup": d_cdc_neardup,
    "d_cdc_keepers": d_cdc_keepers,
    "t_curation_e2e": t_curation_e2e,
    "t_curation_pii": t_curation_pii,
    "s_pq_encode": s_pq_encode,
    "s_pq_recall": s_pq_recall,
    "s_pq_search": s_pq_search,
    "s_pq_search_serve": s_pq_search_serve,
    "s_pq_upsert": s_pq_upsert,
    "s_pq_search_upserted": s_pq_search_upserted,
    "s_pq_upserted_recall": s_pq_upserted_recall,
    "s_pq_search_recall": s_pq_search_recall,
    "s_pq_search_mp": s_pq_search_mp,
    "s_pq_mp_recall": s_pq_mp_recall,
    "s_semantic_dedup": s_semantic_dedup,
    "s_labelprop": s_labelprop,
    "s_labelprop_lsh": s_labelprop_lsh,
    "s_labelprop_lsh_mt": s_labelprop_lsh_mt,
    "s_labelprop_lsh_mt2": s_labelprop_lsh_mt2,
    "s_labelprop_lsh_mt8": s_labelprop_lsh_mt8,
    "s_lsh_multiprobe": s_lsh_multiprobe,
    "t_pii_scrub": t_pii_scrub,
    "t_pii_luhn": t_pii_luhn,
    "d_dedup_matrix": d_dedup_matrix,
    "d_lsh_tuning": d_lsh_tuning,
}

ORACLES = {
    "d_exact_dedup": D_EXACT_SQL,
    "d_neardup_clusters": D_CLUSTERS_SQL,
    "t_bigram_freq": T_BIGRAM_SQL,
    "d_dedup_keepers": D_KEEPERS_SQL,
    "d_jaccard_pairs": D_JACCARD_SQL,
    "d_prefix_join": D_PREFIX_JOIN_SQL,
    "s_mmr_rerank": _s_mmr_rerank_sql(),
    "d_minhash_sigs": D_MINHASH_SQL,
    "d_lsh_pairs": D_LSH_SQL,
    "d_simhash": D_SIMHASH_SQL,
    "d_simhash_pairs": D_SIMHASH_PAIRS_SQL,
    "d_simhash_banded": D_SIMHASH_PAIRS_SQL,
    "s_cosine_topk": S_COSINE_TOPK_SQL,
    "s_hybrid_rrf": S_HYBRID_RRF_SQL,
    "s_pq_search_filtered": _s_pq_search_sql(_PQ_SEARCH_CTES_FILTERED),
    "s_cosine_nearpairs": S_COSINE_PAIRS_SQL,
    "s_cosine_ann": _s_cosine_ann_sql(),
    "s_ann_recall": _s_ann_recall_sql(),
    "s_cosine_ann_mp": _s_cosine_ann_mp_sql(),
    "s_ann_mp_recall": _s_ann_mp_recall_sql(),
    "s_cosine_sig": _s_cosine_sig_sql(),
    "s_sig_recall": _s_sig_recall_sql(),
    "s_vector_stats": S_VECTOR_STATS_SQL,
    "d_embed_neardup_lsh": _d_embed_neardup_lsh_sql(),
    "s_cosine_ivf": _s_cosine_ivf_sql(),
    "t_token_stats": T_TOKEN_STATS_SQL,
    "t_lang_id": T_LANG_ID_SQL,
    "t_quality": T_QUALITY_SQL,
    "t_fingerprint": T_FINGERPRINT_SQL,
    "t_tfidf_top3": T_TFIDF_SQL,
    "t_word_freq": T_WORD_FREQ_SQL,
    "s_quantize_int8": S_QUANTIZE_INT8_SQL,
    "d_norm_dedup": D_NORM_DEDUP_SQL,
    "d_containment": D_CONTAINMENT_SQL,
    "t_sentence_stats": T_SENTENCE_STATS_SQL,
    "t_quality_filter": T_QUALITY_FILTER_SQL,
    "t_bytes_hdr": T_BYTES_HDR_SQL,
    "t_seq_packing": T_SEQ_PACKING_SQL,
    "t_pipeline_e2e": T_PIPELINE_E2E_SQL,
    "d_split_hash": D_SPLIT_HASH_SQL,
    "t_contamination": T_CONTAMINATION_SQL,
    "t_bloom_decontam": T_BLOOM_DECONTAM_SQL,
    "t_repetition": T_REPETITION_SQL,
    "t_mix_weights": T_MIX_WEIGHTS_SQL,
    "t_dup_spans": T_DUP_SPANS_SQL,
    "t_span_dedup": T_SPAN_DEDUP_SQL,
    "t_span_dedup_l5": _t_span_dedup_min_len_sql(5),
    "t_span_dedup_l9": _t_span_dedup_min_len_sql(9),
    "t_decontam": T_DECONTAM_SQL,
    "t_bpe_merge": T_BPE_MERGE_SQL,
    "t_bpe_train2": T_BPE_TRAIN2_SQL,
    "t_bpe_train_vocab": T_BPE_TRAIN_VOCAB_SQL,
    "t_bpe_encode": T_BPE_ENCODE_SQL,
    "t_length_buckets": T_LENGTH_BUCKETS_SQL,
    # Same component semantics as d_neardup_clusters — the recursive-CTE
    # transitive closure is the oracle for BOTH implementations.
    "d_cc_stars": D_CLUSTERS_SQL,
    "t_stratified_sample": T_STRATIFIED_SAMPLE_SQL,
    "t_bpe_pairs": T_BPE_PAIRS_SQL,
    "d_incremental": _d_incremental_sql(),
    "s_mrl_eval": _s_mrl_eval_sql(),
    "t_unigram_logprob": T_UNIGRAM_LOGPROB_SQL,
    "t_bigram_logprob": T_BIGRAM_LOGPROB_SQL,
    "t_ppl_terciles": T_PPL_TERCILES_SQL,
    "t_lang_confusion": T_LANG_CONFUSION_SQL,
    "s_kmeans_step": S_KMEANS_STEP_SQL,
    "s_kmeans_train": _s_kmeans_train_sql(),
    "s_kmeans_train_k12": _s_kmeans_train_sql(k=12),
    "s_coreset": _s_coreset_sql(),
    "s_kmeans_2step": S_KMEANS_2STEP_SQL,
    "s_kmeans_seed": S_KMEANS_SEED_SQL,
    "d_cdc_neardup": D_CDC_NEARDUP_SQL,
    "d_cdc_keepers": D_CDC_KEEPERS_SQL,
    "t_curation_e2e": T_CURATION_E2E_SQL,
    "t_curation_pii": T_CURATION_PII_SQL,
    "s_pq_encode": _s_pq_encode_sql(),
    "s_pq_recall": _s_pq_recall_sql(),
    "s_pq_search": _s_pq_search_sql(),
    # Identical results by construction (same kernels, same index
    # contents; only the build is memoized) — shares the oracle.
    "s_pq_search_serve": _s_pq_search_sql(),
    "s_pq_upsert": _s_pq_upsert_sql(),
    "s_pq_search_upserted": _s_pq_search_sql(_PQ_SEARCH_CTES_UPSERTED),
    "s_pq_upserted_recall": _s_pq_search_recall_sql(_PQ_SEARCH_CTES_UPSERTED),
    "s_pq_search_recall": _s_pq_search_recall_sql(),
    "s_pq_search_mp": _s_pq_search_sql(_PQ_SEARCH_CTES_MP),
    "s_pq_mp_recall": _s_pq_search_recall_sql(_PQ_SEARCH_CTES_MP),
    "s_semantic_dedup": _s_semantic_dedup_sql(),
    "s_labelprop": _s_labelprop_sql(),
    "s_labelprop_lsh": _s_labelprop_lsh_sql(),
    "s_labelprop_lsh_mt": _s_labelprop_lsh_mt_sql(),
    "s_labelprop_lsh_mt2": _s_labelprop_lsh_mt_sql(k=_LP_ORACLE_K2,
                                                   n_tables=2),
    "s_labelprop_lsh_mt8": _s_labelprop_lsh_mt_sql(n_tables=8),
    "s_lsh_multiprobe": _s_lsh_multiprobe_sql(),
    "t_pii_scrub": T_PII_SCRUB_SQL,
    "t_pii_luhn": _t_pii_luhn_sql(),
    "d_dedup_matrix": _d_dedup_matrix_sql(),
    "d_lsh_tuning": _d_lsh_tuning_sql(),
}
