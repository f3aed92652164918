"""Pytest-embedded oracle gate: a representative subset of the driver
contract compared against DuckDB at sf0.001 (the full gate lives in
tools/check_contract.py and runs all queries at sf0.01/sf0.1)."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

SUBSET = [
    "w_lww_1h",
    "w_cascade_1d",
    "w_fetch_dense_3d",
    "w_sessionize_30m",
    "w_diff_series",
    "w_fill_merge",
    "g_group_by_node",
    "g_stdev_1d",
    "g_ewma",
    "g_moving_avg_time",
    "g_keep_last_limit",
    "r_q2_min_cost",
    "r_unpivot",
    "r_lateral_top2",
    "g_linreg_1d",
    "r_q1_pricing",
    "r_exists_sql",
    "r_corr_scalar_sub",
    "r_q14_promo",
    "r_q7_nation_volume",
    "r_q22_acctbal",
    "r_window_running",
    "w_asof_join",
    "w_session_window_native",
    "w_xff_sensitivity",
    "d_lsh_pairs",
    "d_neardup_clusters",
    "s_ann_recall",
    "s_ann_mp_recall",
    "s_cosine_sig",
    "s_sig_recall",
    "s_vector_stats",
    "t_bigram_freq",
    "d_simhash_pairs",
    "d_simhash_banded",
    "s_cosine_topk",
    "t_tfidf_top3",
    "g_nonneg_derivative",
    "st_rollup_lww_1h",
    "st_sessions_30m",
    "s_cosine_ivf",
    "g_consolidate_by",
    "g_average_above",
    "g_integral_by_interval",
    "w_wsp_propagate",
    "w_sessionize_chunked",
    "g_per_second",
    "g_nth_percentile",
    "g_alias_sub",
    "g_logarithm",
    "w_approx_stats",
    "r_q6_forecast",
    "r_q9_profit",
    "r_q11_top_value",
    "r_q13_cust_dist",
    "r_q21_waiting",
    "st_cascade_6h",
    "s_quantize_int8",
    "g_interpolate",
    "g_divide_series",
    "g_weighted_average",
    "g_round_to",
    "g_minmax_norm",
    "st_derivative",
    "st_dedup_1h",
    "w_wsp_export",
    "g_moving_sum",
    "g_transform_null",
    "g_diff_vs_yesterday",
    "g_avg_outside_pctile",
    "w_carbon_ingest",
    "d_norm_dedup",
    "d_containment",
    "r_grouping_sets",
    "g_area_between",
    "t_sentence_stats",
    "g_holt_winters",
    "g_tag_select",
    "g_tag_group",
    "g_tag_parse",
    "g_smart_summarize",
    "g_agg_wildcards",
    "g_apply_by_node",
    "g_constant_line",
    "g_time_function",
    "g_holt_winters_bands",
    "g_range_of_series",
    "g_multiply_series",
    "g_stddev_series",
    "g_hw_aberration",
    "g_most_deviant",
    "g_minimum_above",
    "g_current_below",
    "g_sort_by_minima",
    "g_scale_to_seconds",
    "g_fallback_series",
    "g_summarize_last",
    "g_sigmoid",
    "t_quality_filter",
    "m_decode_stats",
    "m_frame_sample",
    "d_split_hash",
    "t_contamination",
    "t_repetition",
    "t_mix_weights",
    "st_join_1h",
    "m_resize_stats",
    "t_dup_spans",
    "w_retention_expand",
    "g_remove_between_pctile",
    "g_random_walk",
    "t_length_buckets",
    "d_cc_stars",
    "t_stratified_sample",
    "st_cascade_chained",
    "w_lakehouse_rollup",
    "m_pcm_energy",
    "t_bpe_pairs",
    "d_incremental",
    "s_mrl_eval",
    "st_lsh_prefilter",
    "t_unigram_logprob",
    "t_bigram_logprob",
    "s_pq_encode",
    "s_pq_recall",
    "w_retention_reap",
    "w_store_fetch",
    "s_pq_search",
    "s_pq_search_recall",
    "t_span_dedup",
    "g_avg_outside_pctile_vt",
    "s_semantic_dedup",
    "t_decontam",
    "t_bpe_merge",
    "m_pcm_resample",
    "w_resize",
    "st_pq_score",
    "g_cacti_style",
    "st_lakehouse_ingest",
    "w_lakehouse_timetravel",
    "m_cdc_dedup",
    "t_ppl_terciles",
    "g_changed",
    "g_counter_wrap",
    "g_render_deep",
    "s_pq_upsert",
    "t_span_dedup_l5",
    "w_lakehouse_mor",
    "st_lakehouse_cdf",
    "st_lakehouse_cdf_pos",
    "st_join_1h_outer",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def test_holt_winters_recurrence(spark, sf_dir):
    """Pin the smoothing recurrence: recompute one metric's series in
    pure Python (same float op order) and compare bit-for-bit."""
    from go_whisper_spark.operators.graphite_funcs import g_holt_winters
    from go_whisper_spark.render import _lww1h

    rows = g_holt_winters(spark, sf_dir).where("metric = 'click'").collect()
    got = {r.interval: (r.level, r.trend, r.forecast) for r in rows}
    series = sorted(
        (r.interval, r.value)
        for r in _lww1h(spark, sf_dir).where("metric = 'click'").collect()
    )
    assert len(series) == len(got) > 0
    alpha, beta = 0.5, 0.3
    s, b = series[0][1], 0.0
    assert got[series[0][0]] == (s, b, None)
    for t in range(1, len(series)):
        iv, x = series[t]
        fc = s + b
        s_new = alpha * x + (1 - alpha) * (s + b)
        b = beta * (s_new - s) + (1 - beta) * b
        s = s_new
        assert got[iv] == (s, b, fc)


def test_sig_ann_recall_gate(spark, sf_dir):
    """The quality gate for the ANN scale path: signature-prefiltered
    search must recover >= 0.9 of the exact top-3, with the candidate
    prefilter keeping < 20% of the corpus per query.

    Runs at the suite's sf_dir (measured: recall 0.933 at both
    sf0.001 and sf0.01 with SIG_HAM_MAX=106 — a ~5-hit margin over
    the gate at 150 trials, so a one-hit data drift can't flip it;
    candidate fraction ~0.14 vs the 0.2 cap)."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.llm_ops import (
        _sig_words_frame,
        s_sig_recall,
        sig_candidates,
    )

    mean_recall = (
        s_sig_recall(spark, sf_dir).agg(F.avg("recall3").alias("r")).first()["r"]
    )
    assert mean_recall >= 0.9, f"recall@3 {mean_recall} below gate"

    # Candidate fraction measured on the SAME pipeline production
    # uses (shared sig_candidates helper), not a re-implementation.
    n = _sig_words_frame(spark, sf_dir).count()
    n_cand = sig_candidates(spark, sf_dir).count()
    frac = n_cand / (50 * n)
    assert frac < 0.2, f"candidate fraction {frac} — prefilter too loose"


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    srows = sorted(
        (tuple(_norm(r[c]) for c in cols) for r in sdf.select(*cols).collect()),
        key=_key,
    )
    ddf = duck.execute(oracles[name]).fetchdf()
    assert sorted(ddf.columns.tolist()) == cols
    drows = sorted(
        (
            tuple(_norm(row[c]) for c in cols)
            for _, row in ddf.iterrows()
        ),
        key=_key,
    )
    assert len(srows) == len(drows), f"{name}: row count"
    for ra, rb in zip(srows, drows):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-12, abs_tol=1e-12), (name, ra, rb)
            else:
                assert va == vb, (name, ra, rb)


def test_ppl_terciles_semantics(spark, sf_dir):
    """Terciles are balanced (ntile: sizes differ by at most 1 per
    lang) and monotone: every head (tercile 1) doc's perplexity is
    <= every tail (tercile 3) doc's within the same language."""
    from collections import defaultdict

    qs = entrymod.queries()
    rows = qs["t_ppl_terciles"](spark, sf_dir).collect()
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        assert r.tercile in (1, 2, 3)
        assert r.ppl_u6 > 0 and r.n_bigrams >= 1
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        sizes = [sum(1 for r in rs if r.tercile == t) for t in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        head = [r.ppl_u6 for r in rs if r.tercile == 1]
        tail = [r.ppl_u6 for r in rs if r.tercile == 3]
        if head and tail:
            assert max(head) <= min(tail), (lang, max(head), min(tail))


def test_kmeans_two_step_converges(spark, sf_dir):
    """Lloyd monotonicity: round-2 inertia <= round-1, and the moved
    count is sane (0 <= n_moved <= corpus size)."""
    qs = entrymod.queries()
    rows = {r.round: r for r in qs["s_kmeans_2step"](spark, sf_dir).collect()}
    assert set(rows) == {1, 2}
    assert rows[2].inertia <= rows[1].inertia
    assert rows[1].n_moved == 0 and rows[2].n_moved >= 0


def test_kmeans_maximin_seed_properties(spark, sf_dir):
    """Maximin seeding: 4 distinct picks, radii monotonically
    non-increasing after the first (each pick can only shrink the
    max-min distance), all positive past pick 0."""
    qs = entrymod.queries()
    rows = sorted(qs["s_kmeans_seed"](spark, sf_dir).collect(),
                  key=lambda r: r.pick)
    assert [r.pick for r in rows] == [0, 1, 2, 3]
    assert len({r.vec_id for r in rows}) == 4
    assert rows[0].radius == 0
    assert rows[1].radius >= rows[2].radius >= rows[3].radius > 0


def test_funnel_strictness_and_window(spark):
    """Funnel edge semantics: same-timestamp events do NOT chain
    (strict >), steps outside the 7-day window from the first view
    don't count, and pre-view events are ignored."""
    from go_whisper_spark.operators.whisper_queries import (
        _FUNNEL_W,
        w_funnel_3step,
    )
    import go_whisper_spark.sources.tables as tables_mod
    from unittest import mock

    T0 = 1_700_000_000
    rows = [
        # u1: clean conversion
        (1, "view", T0), (1, "click", T0 + 10), (1, "purchase", T0 + 20),
        # u2: click at the SAME ts as view -> strict > rejects it
        (2, "view", T0), (2, "click", T0), (2, "purchase", T0 + 5),
        # u3: click after the 7-day window -> not reached
        (3, "view", T0), (3, "click", T0 + _FUNNEL_W + 1),
        # u4: purchase BEFORE any view -> ignored; then view only
        (4, "purchase", T0 - 5), (4, "view", T0),
        # u5: no view at all -> absent from the output
        (5, "click", T0),
    ]
    import datetime

    df = spark.createDataFrame(
        [(u, e, datetime.datetime.utcfromtimestamp(t)) for u, e, t in rows],
        "user_id long, event_type string, ts timestamp",
    )
    with mock.patch.object(
        tables_mod, "load_table", lambda _s, _d, _t: df
    ):
        out = {r.user_id: r for r in w_funnel_3step(spark, "unused").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].reached == 3
    assert out[2].reached == 1 and out[2].c_ts is None
    assert out[3].reached == 1
    assert out[4].reached == 1 and out[4].p_ts is None


def test_funnel_fold_generalizes_3step(spark, sf_dir):
    """The k-step generalized fold instantiated at the 3-step spec
    must reproduce w_funnel_3step row for row on real data — the
    generalization is a refactor of the semantics, not a fork."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _FUNNEL_W,
        funnel_fold,
        w_funnel_3step,
    )
    from go_whisper_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("et"),
        F.unix_timestamp("ts").alias("ts"),
    )
    gen = funnel_fold(ev, ["view", "click", "purchase"], _FUNNEL_W).select(
        "user_id",
        F.col("s0").alias("v_ts"),
        F.col("s1").cast("double").alias("c_ts"),
        F.col("s2").cast("double").alias("p_ts"),
        "reached",
    )
    want = {r.user_id: tuple(r) for r in w_funnel_3step(spark, sf_dir).collect()}
    got = {r.user_id: tuple(r) for r in gen.collect()}
    assert got == want


def test_funnel_4step_window_and_order(spark):
    """4-step edge semantics: the 14-day window anchors at the FIRST
    view; a signup BEFORE the click never chains (order is the step
    list, not event availability)."""
    import datetime
    from unittest import mock

    import go_whisper_spark.sources.tables as tables_mod
    from go_whisper_spark.operators.whisper_queries import (
        _FUNNEL4_W,
        w_funnel_4step,
    )

    T0 = 1_700_000_000
    rows = [
        # u1: full conversion in order
        (1, "view", T0), (1, "click", T0 + 1), (1, "signup", T0 + 2),
        (1, "purchase", T0 + 3),
        # u2: signup arrives BEFORE the click -> chain stops at click
        (2, "view", T0), (2, "signup", T0 + 1), (2, "click", T0 + 2),
        (2, "purchase", T0 + 3),
        # u3: purchase past the 14-day window from the view
        (3, "view", T0), (3, "click", T0 + 1), (3, "signup", T0 + 2),
        (3, "purchase", T0 + _FUNNEL4_W + 1),
    ]
    df = spark.createDataFrame(
        [(u, e, datetime.datetime.utcfromtimestamp(t)) for u, e, t in rows],
        "user_id long, event_type string, ts timestamp",
    )
    with mock.patch.object(tables_mod, "load_table", lambda _s, _d, _t: df):
        out = {r.user_id: r for r in w_funnel_4step(spark, "unused").collect()}
    assert out[1].reached == 4
    assert out[2].reached == 2 and out[2].g_ts is None
    assert out[3].reached == 3 and out[3].p_ts is None


def test_bloom_decontam_no_false_negatives(spark, sf_dir):
    """Bloom membership has NO false negatives by construction: the
    (flagged_bloom=0, contaminated=1) cell must be structurally
    absent, and every exactly-contaminated shingle must also be
    bloom-positive (sum_bloom_hits >= sum_exact_hits per cell)."""
    from go_whisper_spark.operators.llm_ops import t_bloom_decontam

    rows = t_bloom_decontam(spark, sf_dir).collect()
    cells = {(r.flagged_bloom, r.contaminated): r for r in rows}
    assert (0, 1) not in cells, "bloom missed an exactly-contaminated doc"
    for r in rows:
        assert r.sum_bloom_hits >= r.sum_exact_hits


def test_kmv_jaccard_estimate_quality(spark, sf_dir):
    """The Theta-sketch Jaccard estimate must land near the exact
    value on every pair — K=64 over ~350-member sets gives ~±0.08
    observed; the 0.15 bound catches a broken re-threshold (wrong θ
    gives wildly off samples) without flaking on sketch variance."""
    from go_whisper_spark.operators.whisper_queries import w_kmv_jaccard

    rows = w_kmv_jaccard(spark, sf_dir).collect()
    assert len(rows) == 10  # all 5-choose-2 event-type pairs present
    for r in rows:
        assert abs(r.jacc_est - r.jacc_exact) <= 0.15, (
            f"({r.ma}, {r.mb}): est {r.jacc_est} vs exact {r.jacc_exact}")


def test_quantile_hdr_error_bound_and_merge_law(spark, sf_dir):
    """The HDR rank sketch's two contracts: (1) the quantile estimate
    is a LOWER bound within relative error 2^-s of the exact rank
    statistic (err_bp in [0, 625) for s=4 — the deterministic
    guarantee, not a probabilistic one); (2) the sketch MERGES by
    keyed counter sum — partials built over an arbitrary 3-way split
    of the rows sum to exactly the one-shot sketch (the law
    st_quantile_hdr streams)."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _HDR_SBITS,
        w_quantile_hdr,
    )
    from go_whisper_spark.sources.tables import load_table

    rows = w_quantile_hdr(spark, sf_dir).collect()
    assert len(rows) == 15  # 5 event types x 3 quantiles
    bound = 10000 // (1 << _HDR_SBITS)  # 625 bp for s=4
    for r in rows:
        assert r.est <= r.exact, f"{r.metric} q{r.q_bp}: est above exact"
        assert 0 <= r.err_bp < bound, (
            f"{r.metric} q{r.q_bp}: err {r.err_bp}bp breaks the 2^-s bound")

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("metric"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        (F.col("event_id") % 3).alias("shard"),
    )
    # _hdr_rep is only rank-monotone for non-negative values (bin() of
    # a negative long is the 64-char two's complement) — pin the domain
    # so a corpus with negative values fails HERE, not as a silently
    # wrong quantile.
    assert ev.agg(F.min("cents")).first()[0] >= 0, (
        "HDR sketch requires a non-negative domain (see _hdr_rep)")
    sh = f"CAST(greatest(length(bin(cents)) - 1 - {_HDR_SBITS}, 0) AS INT)"
    rep = F.expr(f"shiftleft(shiftright(cents, {sh}), {sh})")
    one_shot = (
        ev.select("metric", rep.alias("rep"))
        .groupBy("metric", "rep").agg(F.count("*").alias("cnt"))
    )
    merged = (
        ev.select("metric", "shard", rep.alias("rep"))
        .groupBy("metric", "shard", "rep").agg(F.count("*").alias("cnt"))
        .groupBy("metric", "rep").agg(F.sum("cnt").alias("cnt"))
    )
    assert one_shot.exceptAll(merged).isEmpty()
    assert merged.exceptAll(one_shot).isEmpty()


def test_triangles_orientation_and_laws(spark, sf_dir):
    """Degree-ordered triangle counting's three contracts: (1) the
    handshake law — per-node participations sum to exactly 3× the
    number of distinct triangles (each triangle touches 3 nodes), so
    sum(tri_n) ≡ 0 (mod 3) and matches an independently derived
    count; (2) the orientation KILLS skew — the max oriented
    out-degree is bounded by √(2m) and strictly below the max
    undirected degree (the hub's adjacency never self-joins — the
    100 TB story the plan spec pins structurally); (3) cc_ppm is the
    exact floored ppm 2·tri·10⁶ div (deg·(deg−1))."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _tri_oriented,
        w_triangles,
    )

    rows = w_triangles(spark, sf_dir).collect()
    assert rows, "ledger is empty"
    total_part = sum(r.tri_n for r in rows)
    assert total_part % 3 == 0, "handshake law: participations not 3x"

    _, deg, ori = _tri_oriented(spark, sf_dir)
    m = ori.count()
    max_deg = deg.agg(F.max("deg")).first()[0]
    max_out = ori.groupBy("src").count().agg(F.max("count")).first()[0]
    assert max_out * max_out <= 2 * m, (
        f"oriented out-degree {max_out} breaks the sqrt(2m) bound")
    assert max_out < max_deg, (
        f"orientation did not reduce the hub fan-out "
        f"({max_out} vs deg {max_deg})")

    for r in rows:
        want = 0 if r.deg < 2 else (2 * r.tri_n * 1_000_000) // (
            r.deg * (r.deg - 1))
        assert r.cc_ppm == want, f"node {r.node}: cc {r.cc_ppm} != {want}"
        assert r.tri_n <= r.deg * (r.deg - 1) // 2, (
            f"node {r.node}: more triangles than wedge pairs")


def test_triangles_serve_matches_batch_ledger(spark, sf_dir):
    """The serve path over the cached, src-partitioned substrate must
    emit the exact ledger the batch form computes from scratch."""
    import go_whisper_spark.operators.whisper_queries as wq

    wq._TRI_SUBSTRATE_CACHE.clear()
    want = sorted(map(tuple, wq.w_triangles(spark, sf_dir).collect()))
    got = sorted(map(tuple, wq.w_triangles_serve(spark, sf_dir).collect()))
    assert got == want


def test_truss_support_charge_law(spark, sf_dir):
    """The edge-support histogram's conservation laws: (1) the total
    charge Σ support·n_edges equals exactly 3× the triangle count
    (each triangle charges its 3 edges once); (2) the histogram
    covers EVERY edge (Σ n_edges = |edges|, support-0 rows included);
    (3) an edge's support never exceeds min(deg_u, deg_v) − 1."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _tri_oriented,
        _tri_triangles,
        w_truss_support,
    )

    rows = w_truss_support(spark, sf_dir).collect()
    edges, deg, ori = _tri_oriented(spark, sf_dir)
    n_tri = _tri_triangles(ori).count()
    assert sum(r.support * r.n_edges for r in rows) == 3 * n_tri
    assert sum(r.n_edges for r in rows) == edges.count()
    max_sup = max(r.support for r in rows)
    cap = (
        edges.join(deg.withColumnRenamed("node", "u")
                   .withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v")
              .withColumnRenamed("deg", "dv"), "v")
        .agg(F.max(F.least("du", "dv"))).first()[0]
    )
    assert max_sup <= cap - 1


def test_triangle_sample_estimator(spark, sf_dir):
    """The DOULION ledger's contracts: the deterministic hash sample
    keeps ~1/p of the edges (0.2..0.3 for p=4 — md5 uniformity), the
    estimate is p³·sampled count, and on this corpus the relative
    error stays under 15% (measured 3.8% at sf0.01, 0.4% at sf0.1 —
    the bound is deliberately loose; the estimator is unbiased, not
    deterministic-accurate)."""
    from go_whisper_spark.operators.whisper_queries import (
        _TRI_P,
        w_triangle_sample,
    )

    r = w_triangle_sample(spark, sf_dir).first()
    frac = r.n_edges_sampled / r.n_edges
    assert 0.2 <= frac <= 0.3, f"sample fraction {frac} off 1/{_TRI_P}"
    assert r.tri_est % _TRI_P ** 3 == 0
    assert abs(r.err_permille) <= 150, f"err {r.err_permille} permille"


def test_pagerank_fixpoint_properties(spark, sf_dir):
    """The convergence loop's load-bearing bounds: (1) the fixpoint
    arrives strictly INSIDE the oracle's unroll depth (iters <
    _PRF_ORACLE_K — otherwise the oracle's last iteration would not
    be the fixpoint and the whole comparison is meaningless); (2) it
    takes more than the 2 steps w_event_pagerank unrolls (this query
    adds information); (3) total mass stays within the floor-leak
    bound of the 10⁶ grid — a node receives ONE floored term per
    IN-EDGE plus the teleport floor, so the steady-state deficit is
    O(edges + nodes) amplified by the 1/(1−d) geometric factor, NOT
    O(nodes) (the bound a review pass corrected)."""
    from go_whisper_spark.operators.whisper_queries import (
        _PRF_ORACLE_K,
        w_pagerank_fixpoint,
    )
    from go_whisper_spark.sources.tables import load_table

    rows = w_pagerank_fixpoint(spark, sf_dir).collect()
    iters = rows[0].iters
    assert all(r.iters == iters for r in rows)
    assert 2 < iters < _PRF_ORACLE_K, f"fixpoint at {iters}"
    total = sum(r.pr_fix for r in rows)
    n = len(rows)
    # transition-graph edges are bounded by n_types² (complete here)
    n_types = (
        load_table(spark, sf_dir, "events")
        .select("event_type").distinct().count()
    )
    bound = 7 * (n_types * n_types + n)  # 1/(1-0.85) ≈ 6.7, rounded up
    assert total <= 1_000_000
    assert total >= 1_000_000 - bound, f"mass leaked to {total}"


def test_bytes_hdr_weighted_bounds_and_merge(spark, sf_dir):
    """The weighted HDR sketch's contracts: (1) the deterministic
    bound survives weighting — est ≤ exact and err_bp < 2^-s·10⁴
    (the weighted-CDF argument is the unit-weight one, weights being
    non-negative); (2) the non-negative domain pin (bin() of a
    negative long breaks bucket monotonicity); (3) the weighted
    counters still MERGE by keyed sum — partials over a 3-way shard
    split equal the one-shot sketch (the fifth law, with weights)."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.llm_ops import _BHDR_SBITS, t_bytes_hdr
    from go_whisper_spark.sources.tables import load_table

    rows = t_bytes_hdr(spark, sf_dir).collect()
    bound = 10000 // (1 << _BHDR_SBITS)
    for r in rows:
        assert r.est <= r.exact, f"{r.lang} q{r.q_bp}: est above exact"
        assert 0 <= r.err_bp < bound, f"{r.lang} q{r.q_bp}: err {r.err_bp}bp"

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("long").alias("v"),
        (F.col("doc_id") % 3).alias("shard"),
    )
    assert docs.agg(F.min("v")).first()[0] >= 0
    sh = f"CAST(greatest(length(bin(v)) - 1 - {_BHDR_SBITS}, 0) AS INT)"
    rep = F.expr(f"shiftleft(shiftright(v, {sh}), {sh})")
    one_shot = (
        docs.select("lang", rep.alias("rep"), "v")
        .groupBy("lang", "rep").agg(F.sum("v").alias("wcnt"))
    )
    merged = (
        docs.select("lang", "shard", rep.alias("rep"), "v")
        .groupBy("lang", "shard", "rep").agg(F.sum("v").alias("wcnt"))
        .groupBy("lang", "rep").agg(F.sum("wcnt").alias("wcnt"))
    )
    assert one_shot.exceptAll(merged).isEmpty()
    assert merged.exceptAll(one_shot).isEmpty()


def test_funnel_cohort_matrix_invariants(spark, sf_dir):
    """The cohort × funnel matrix's structural laws: step counts are
    monotonically non-increasing within a cohort (reaching step k+1
    implies reaching k), step-1 rows exist for every cohort with any
    view-starting user, n_step never exceeds the cohort size, and the
    ppm share is the exact floored cross-multiplication."""
    from go_whisper_spark.operators.whisper_queries import w_funnel_cohort

    rows = w_funnel_cohort(spark, sf_dir).collect()
    assert rows, "matrix is empty"
    by_cohort: dict = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_day, {})[r.step] = r
        assert 1 <= r.step <= 4
        assert 0 < r.n_step <= r.cohort_users
        assert r.share_ppm == r.n_step * 1_000_000 // r.cohort_users
    for cohort, steps in by_cohort.items():
        ks = sorted(steps)
        assert ks == list(range(1, len(ks) + 1)), (
            f"cohort {cohort}: step gap in {ks}")
        for a, b in zip(ks, ks[1:]):
            assert steps[a].n_step >= steps[b].n_step, (
                f"cohort {cohort}: step {b} exceeds step {a}")


def test_event_pagerank_mass_and_bounds(spark, sf_dir):
    """Fixed-point PageRank's structural laws: every rank is at least
    the teleport floor; total mass starts at ~1e6 and can only LEAK
    (each floored contribution and the teleport floor round down, and
    dangling mass is dropped by the leaky variant) — never grow; the
    floors lose at most 1 unit per (edge + node) per iteration."""
    from go_whisper_spark.operators.whisper_queries import (
        _PR_SCALE,
        w_event_pagerank,
    )

    rows = w_event_pagerank(spark, sf_dir).collect()
    assert rows, "empty graph"
    n = len(rows)
    tele = 15 * _PR_SCALE // (100 * n)
    for r in rows:
        assert r.pr0 == _PR_SCALE // n
        assert r.pr1 >= tele and r.pr2 >= tele
        assert r.out_n > 0 and r.in_n > 0  # every type flows both ways
    n_edges = n * n  # 5x5 transition matrix is dense on this corpus
    slack = n_edges + n  # ≤1 unit lost per floored term
    for col in ("pr1", "pr2"):
        total = sum(getattr(r, col) for r in rows)
        assert total <= _PR_SCALE
        assert total >= _PR_SCALE - slack - n  # pr0 floor loss too


def test_zorder_skipping_layout_laws(spark, sf_dir):
    """The file-skipping ledger's structural laws: scanned rows always
    cover the true matches (min/max pruning has no false negatives),
    the per-box match counts agree across layouts (same predicate),
    and Morton order's READ AMPLIFICATION (rows scanned) is never
    worse than the single-column sort on any box and strictly better
    on the time-only box — the dimension the linear sort cannot
    prune.  (File-hit counts are not compared: at sparse SFs the two
    layouts materialize different numbers of non-empty files.)"""
    from go_whisper_spark.operators.whisper_queries import (
        w_zorder_skipping,
    )

    rows = {(r.layout, r.box): r
            for r in w_zorder_skipping(spark, sf_dir).collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert r.rows_scanned >= r.rows_match
        assert 0 < r.files_hit <= r.files_total
    for box in ("user", "time", "both"):
        z, lin = rows[("zorder", box)], rows[("linear", box)]
        assert z.rows_match == lin.rows_match
        assert z.rows_scanned <= lin.rows_scanned
    assert rows[("zorder", "time")].rows_scanned < (
        rows[("linear", "time")].rows_scanned)


def test_prefix_join_exact_and_pruning(spark, sf_dir):
    """The prefix-filter theorem as a test: the prefix-pruned join
    must return EXACTLY the full posting join's pairs at tau=0.5
    (no false negatives — exactness is the whole point), while
    examining strictly fewer candidate pairs than the full join
    generates (the pruning that makes it the scale path)."""
    from pyspark.sql import Window, functions as F

    from go_whisper_spark.operators.llm_ops import (
        _doc_features,
        d_jaccard_pairs,
        d_prefix_join,
    )

    got = {(r.doc_a, r.doc_b): (r.shared, r.jaccard)
           for r in d_prefix_join(spark, sf_dir).collect()}
    want = {(r.doc_a, r.doc_b): (r.shared, r.jaccard)
            for r in d_jaccard_pairs(spark, sf_dir).collect()
            if r.jaccard >= 0.5}
    assert got == want, "prefix join diverges from the full posting join"

    feats = _doc_features(spark, sf_dir).where(F.col("n_sh") > 0)
    sh = feats.select("doc_id", "n_sh", F.explode("shingles").alias("sh"))
    full_cand = (
        sh.alias("a").join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    ranked = sh.join(df, "sh").withColumn(
        "r", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "sh")))
    pref = ranked.where(
        F.col("r") <= F.col("n_sh") - F.expr("(n_sh + 1) div 2") + 1)
    pref_cand = (
        pref.alias("a").join(
            pref.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") * 2 >= F.col("a.n_sh"))
            & (F.col("a.n_sh") * 2 >= F.col("b.n_sh")))
        .select("a.doc_id", "b.doc_id").distinct().count()
    )
    assert pref_cand < full_cand, (
        f"prefix filter pruned nothing: {pref_cand} vs {full_cand}")


def test_mmr_rerank_diversification_laws(spark, sf_dir):
    """MMR's structural laws: pick 0 is the pure-relevance argmax
    (maxsim 0); within a query, picks never repeat and every pick's
    MMR objective (7*rel - 3*maxsim) is at least that of any
    LATER-available candidate at its round is hard to re-check
    cheaply, but the monotone consequence is: relevance of pick 0 >=
    relevance of every other pick, and maxsim >= 0 always (the fold
    clamps negative similarities to 0 by construction)."""
    from go_whisper_spark.operators.llm_ops import _MMR_K, _MMR_Q, s_mmr_rerank

    rows = s_mmr_rerank(spark, sf_dir).collect()
    assert len(rows) == _MMR_Q * _MMR_K
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.qid, {})[r.pick] = r
    assert len(by_q) == _MMR_Q
    for qid, picks in by_q.items():
        assert sorted(picks) == list(range(_MMR_K))
        vids = [picks[k].vec_id for k in range(_MMR_K)]
        assert len(set(vids)) == _MMR_K, f"q{qid}: repeated pick"
        assert picks[0].maxsim == 0
        for k in range(1, _MMR_K):
            assert picks[0].rel >= picks[k].rel
            assert picks[k].maxsim >= 0  # clamped fold floor


def test_hilbert_skipping_beats_morton_off_alignment(spark, sf_dir):
    """At the deliberately non-power-of-4 file size (24 cells/file)
    the Hilbert layout's read amplification must never exceed
    Morton's on any probe box and must be strictly tighter on the
    2-D box (the tile-jump penalty); plus the shared ledger laws
    (coverage, cross-layout match agreement).  Also pin the xy→d
    transform itself: a bijection on the full 32×32 grid equal to
    the reference recurrence."""
    from go_whisper_spark.operators.whisper_queries import (
        w_hilbert_skipping,
    )

    rows = {(r.layout, r.box): r
            for r in w_hilbert_skipping(spark, sf_dir).collect()}
    assert len(rows) == 6
    for r in rows.values():
        assert r.rows_scanned >= r.rows_match
    for box in ("user", "time", "both"):
        h, z = rows[("hilbert", box)], rows[("zorder", box)]
        assert h.rows_match == z.rows_match
        assert h.rows_scanned <= z.rows_scanned
    assert rows[("hilbert", "both")].rows_scanned < (
        rows[("zorder", "both")].rows_scanned)

    # engine-emitted transform == the reference recurrence, bijective
    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    from go_whisper_spark.operators.whisper_queries import _hilbert_steps

    grid = spark.sql(
        "SELECT a.qx, b.qt FROM (SELECT explode(sequence(0, 31)) qx) a "
        "CROSS JOIN (SELECT explode(sequence(0, 31)) qt) b"
    ).selectExpr("qx", "qt", "qx AS x0", "qt AS y0",
                 "CAST(0 AS BIGINT) AS acc0")
    for accs, nxs, nys in _hilbert_steps(spark_dialect=True):
        grid = grid.selectExpr("qx", "qt", accs, nxs, nys)
    got = {(r.qx, r.qt): r.acc5 for r in grid.collect()}
    assert len(set(got.values())) == 1024  # bijection
    assert all(got[(x, y)] == xy2d(32, x, y)
               for x in range(32) for y in range(32))


def test_join_cms_estimate_one_sided_and_bounded(spark, sf_dir):
    """The CM inner-product join-size estimator's laws: the estimate
    NEVER undershoots (collision cross-terms are non-negative, so
    each row's inner product >= the true join size and so does their
    min), and the overestimate stays within a loose multiple of the
    expected collision mass n_a*n_b/w (deterministic given the md5
    buckets; measured ~1x at both SFs, 5x headroom)."""
    from go_whisper_spark.operators.whisper_queries import (
        _JCMS_W,
        w_join_cms_estimate,
    )

    r = w_join_cms_estimate(spark, sf_dir).first()
    assert r.est_join >= r.exact_join
    assert r.overestimate == r.est_join - r.exact_join
    bound = 5 * r.n_a * r.n_b // _JCMS_W + 1
    assert r.overestimate <= bound, (
        f"overestimate {r.overestimate} vs collision-mass bound {bound}")


def test_triangle_broadcast_gate_fallback_is_identical(spark, sf_dir):
    """The closing-probe broadcast hint is size-gated (ADVICE r14):
    past _TRI_BCAST_MAX_EDGES the identical plan must run as the
    (v, w)-keyed shuffle join and produce the SAME triangle set —
    forcing the gate with n_edges above the ceiling exercises the
    fallback path end-to-end."""
    from go_whisper_spark.operators.whisper_queries import (
        _TRI_BCAST_MAX_EDGES,
        _tri_oriented,
        _tri_triangles,
    )

    _, _, ori = _tri_oriented(spark, sf_dir)
    hinted = _tri_triangles(ori, n_edges=1)
    fallback = _tri_triangles(ori, n_edges=_TRI_BCAST_MAX_EDGES + 1)
    # the gate actually changes the physical probe: the fallback plan
    # must carry one fewer broadcast join than the hinted plan
    def n_bcast(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ).count("BroadcastHashJoin")

    assert n_bcast(fallback) < n_bcast(hinted), (
        "size gate did not remove the probe's broadcast hint")
    h = {(r.a, r.v, r.w) for r in hinted.collect()}
    f = {(r.a, r.v, r.w) for r in fallback.collect()}
    assert h == f and h, "fallback shuffle join diverges from broadcast probe"


def test_truss_decomp_matches_reference_peel(spark, sf_dir):
    """w_truss_decomp's (trussness, n_edges, iters) ledger must equal
    an independent in-memory peel: same flattened schedule (peel
    support < k-2 within the survivor subgraph, bump k when stable,
    stop the round the edge set empties), computed with plain Python
    sets over the collected sampled edge list — no Spark, no SQL, no
    orientation.  Also pins the conservation law Σ n_edges = |E|."""
    from collections import defaultdict

    from go_whisper_spark.operators.whisper_queries import (
        _TRUSS_MOD,
        _tri_edges,
        w_truss_decomp,
    )

    rows = w_truss_decomp(spark, sf_dir).collect()
    E = {(r.u, r.v) for r in
         _tri_edges(spark, sf_dir, order_mod=_TRUSS_MOD).collect()}
    assert sum(r.n_edges for r in rows) == len(E)

    adj = defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)
    cur, k, iters, hist = set(E), 2, 0, defaultdict(int)
    while cur:
        iters += 1
        drop = [e for e in cur if len(adj[e[0]] & adj[e[1]]) < k - 2]
        if not drop:
            k += 1
            continue
        for (u, v) in drop:
            cur.discard((u, v))
            adj[u].discard(v)
            adj[v].discard(u)
        hist[k - 1] += len(drop)
    got = {r.trussness: r.n_edges for r in rows}
    assert got == dict(hist), f"histogram diverges: {got} vs {dict(hist)}"
    assert all(r.iters == iters for r in rows), (
        f"round count {rows[0].iters} != reference {iters}")


def test_kcore_decomp_matches_reference_peel(spark, sf_dir):
    """w_kcore_decomp's (coreness, n_nodes, iters) ledger must equal
    an independent in-memory peel: same flattened schedule (peel
    nodes with degree < k within the survivor subgraph, bump k when
    stable, stop the round the node set empties), computed with plain
    Python dicts over the collected sampled edge list — no Spark, no
    SQL.  Also pins the conservation law Σ n_nodes = |V| and the
    degeneracy identity max coreness = the largest k with a non-empty
    k-core."""
    from collections import defaultdict

    from go_whisper_spark.operators.whisper_queries import (
        _TRUSS_MOD,
        _tri_edges,
        w_kcore_decomp,
    )

    rows = w_kcore_decomp(spark, sf_dir).collect()
    E = {(r.u, r.v) for r in
         _tri_edges(spark, sf_dir, order_mod=_TRUSS_MOD).collect()}
    adj = defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)
    assert sum(r.n_nodes for r in rows) == len(adj)

    alive, k, iters, hist = set(adj), 2, 0, defaultdict(int)
    while alive:
        iters += 1
        drop = [n for n in alive if len(adj[n] & alive) < k]
        if not drop:
            k += 1
            continue
        for n in drop:
            alive.discard(n)
        hist[k - 1] += len(drop)
    got = {r.coreness: r.n_nodes for r in rows}
    assert got == dict(hist), f"histogram diverges: {got} vs {dict(hist)}"
    assert all(r.iters == iters for r in rows), (
        f"round count {rows[0].iters} != reference {iters}")
    assert max(got) == k - 1  # the last non-empty core level


def test_coreset_gonzalez_laws(spark, sf_dir):
    """Gonzalez selection laws: the pick-radius sequence r2 is
    nonincreasing for k_idx ≥ 1 (each pick is the current farthest —
    later picks cannot be farther), the final covering radius never
    exceeds the last pick's r2, picks are distinct, and the whole
    ledger matches a brute-force Python greedy over the collected
    quantized vectors (same tie-break)."""
    from go_whisper_spark.operators.llm_ops import (
        _CORESET_K,
        _km_quant,
        s_coreset,
    )

    rows = sorted(s_coreset(spark, sf_dir).collect(),
                  key=lambda r: r.k_idx)
    assert len(rows) == _CORESET_K
    r2s = [r.r2 for r in rows[1:]]
    assert all(a >= b for a, b in zip(r2s, r2s[1:])), r2s
    assert rows[0].final_r2 <= rows[-1].r2
    assert len({r.vec_id for r in rows}) == _CORESET_K

    vecs = {r.vec_id: r.qv for r in _km_quant(spark, sf_dir).collect()}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    sel = [min(vecs)]
    md = {v: d2(vecs[v], vecs[sel[0]]) for v in vecs}
    want = [(0, sel[0], 0)]
    for r in range(1, _CORESET_K):
        pick = max(vecs, key=lambda v: (md[v], -v))
        want.append((r, pick, md[pick]))
        for v in vecs:
            md[v] = min(md[v], d2(vecs[v], vecs[pick]))
    assert [(r.k_idx, r.vec_id, r.r2) for r in rows] == want
    assert rows[0].final_r2 == max(md.values())


def test_bfs_layers_matches_reference(spark, sf_dir):
    """w_bfs_layers must equal a plain Python multi-source BFS over
    the collected edge list: same layers, same round count.  Also
    pins layer-0 = the exact seed count and that the reached set
    covers most of the near-connected co-purchase graph."""
    from collections import defaultdict, deque

    from go_whisper_spark.operators.whisper_queries import (
        _BFS_SEED_MOD,
        _tri_edges,
        w_bfs_layers,
    )

    rows = w_bfs_layers(spark, sf_dir).collect()
    E = [(r.u, r.v) for r in _tri_edges(spark, sf_dir).collect()]
    adj = defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)
    seeds = sorted(n for n in adj if n % _BFS_SEED_MOD == 0)
    dist = {n: 0 for n in seeds}
    dq = deque(seeds)
    while dq:
        n = dq.popleft()
        for m in adj[n]:
            if m not in dist:
                dist[m] = dist[n] + 1
                dq.append(m)
    want = defaultdict(int)
    for d in dist.values():
        want[d] += 1
    got = {r.d: r.n_nodes for r in rows}
    assert got == dict(want), f"layers diverge: {got} vs {dict(want)}"
    assert got[0] == len(seeds)
    assert all(r.iters == max(want) + 1 for r in rows)  # +empty round
    assert sum(got.values()) >= 0.9 * len(adj)  # near-connected


def test_topk_mg_one_sided_law(spark, sf_dir):
    """The MG guarantees: every estimate UNDERCOUNTS (deficit ≥ 0 —
    the one-sided law, opposite CM's), the deficit never exceeds the
    provable bound Σ t_s + T, at most k keys survive, and every key
    whose exact count exceeds the bound IS in the summary (the
    heavy-hitter completeness guarantee)."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _MG_K,
        _MG_SHARDS,
        w_topk_mg,
    )
    from go_whisper_spark.sources.tables import load_table

    rows = w_topk_mg(spark, sf_dir).collect()
    assert 0 < len(rows) <= _MG_K
    bound = rows[0].bound
    for r in rows:
        assert r.deficit >= 0, "MG overestimated — law violated"
        assert r.deficit <= bound
        assert r.bound == bound
    # completeness: exact > bound -> key survives
    ev = load_table(spark, sf_dir, "events").select("user_id")
    exact = {r.user_id: r.exact
             for r in ev.groupBy("user_id").count()
             .withColumnRenamed("count", "exact").collect()}
    survivors = {r.user_id for r in rows}
    for u, c in exact.items():
        if c > bound:
            assert u in survivors, (
                f"user {u} (exact {c} > bound {bound}) missing")
    # shard split is real: no shard holds every event of a top key
    top = max(exact, key=lambda u: (exact[u], -u))
    per_shard = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") == top)
        .groupBy((F.col("event_id") % _MG_SHARDS).alias("s"))
        .count()
        .collect()
    )
    assert len(per_shard) > 1, "sharding degenerated to one summary"


def test_link_cn_matches_bruteforce(spark, sf_dir):
    """w_link_cn's top-20 must equal a brute-force Python scorer over
    the collected edge list: common-neighbor counts via set
    intersections on NON-edge 2-hop pairs, exact integer Jaccard,
    same (cn DESC, u, v) order.  Also pins the wedge identity the
    plan relies on: every center z contributes exactly C(deg(z), 2)
    unordered pairs, so Σ cn over ALL 2-hop pairs (edges included)
    equals Σ_z C(deg(z), 2)."""
    from collections import defaultdict
    from itertools import combinations

    from go_whisper_spark.operators.whisper_queries import (
        _tri_edges,
        w_link_cn,
    )

    rows = w_link_cn(spark, sf_dir).collect()
    E = {(r.u, r.v) for r in _tri_edges(spark, sf_dir).collect()}
    adj = defaultdict(set)
    for u, v in E:
        adj[u].add(v)
        adj[v].add(u)

    cn_all = defaultdict(int)
    for z in adj:
        for a, b in combinations(sorted(adj[z]), 2):
            cn_all[(a, b)] += 1
    assert sum(cn_all.values()) == sum(
        len(adj[z]) * (len(adj[z]) - 1) // 2 for z in adj)

    cand = [(u, v, c) for (u, v), c in cn_all.items() if (u, v) not in E]
    cand.sort(key=lambda t: (-t[2], t[0], t[1]))
    want = []
    for u, v, c in cand[:20]:
        du, dv = len(adj[u]), len(adj[v])
        un = du + dv - c
        want.append((u, v, c, du, dv, un, 1000000 * c // un))
    got = [(r.u, r.v, r.cn, r.du, r.dv, r.union_n, r.jac_ppm)
           for r in rows]
    assert got == want, f"top-20 diverges: {got[:3]} vs {want[:3]}"


def test_kmeans_train_convergence_ledger(spark, sf_dir):
    """The to-convergence trainer's ledger laws: rounds are contiguous
    from 1, inertia is monotonically non-increasing (the Lloyd
    guarantee — each assign and each update can only lower it), the
    loop stops at the FIRST stable round (n_moved = 0 past round 1,
    and nowhere earlier), and the km++-style seeding actually spread
    the seeds (round-1 inertia vs the lowest-8-ids seeding of
    s_kmeans_step would differ; here we pin it strictly above the
    converged inertia)."""
    from go_whisper_spark.operators.llm_ops import s_kmeans_train

    rows = sorted(s_kmeans_train(spark, sf_dir).collect(),
                  key=lambda r: r.round)
    assert [r.round for r in rows] == list(range(1, len(rows) + 1))
    inert = [r.inertia for r in rows]
    assert all(a >= b for a, b in zip(inert, inert[1:])), (
        f"inertia not monotone: {inert}")
    assert rows[-1].n_moved == 0, "loop did not stop on a stable round"
    assert all(r.n_moved > 0 for r in rows[1:-1]), (
        "an earlier stable round should have stopped the loop")
    assert inert[0] > inert[-1], "training did not reduce inertia"


def test_flat_localCheckpoint_resets_plan_stats(spark):
    """The stats-free rewrap of
    `materialize(..., reset_stats=True)` must actually ENGAGE — if Spark-version
    drift moves the private `internalCreateDataFrame` constructor,
    the silent fallback branch would reintroduce the
    double-exponential BigInteger stats blowup in every
    multiplicative peel loop (truss/k-core).  The rewrapped plan's
    sizeInBytes must equal the session's defaultSizeInBytes (a
    LogicalRDD with no origin stats), while a PLAIN localCheckpoint
    demonstrably preserves the origin's small estimate — both sides
    asserted so the test also fails if Spark ever changes the
    preservation behavior that motivates the helper."""
    from go_whisper_spark.session import materialize

    df = spark.range(1000).selectExpr("id", "id * 2 AS v")

    def size_of(frame):
        return int(str(
            frame._jdf.queryExecution().optimizedPlan().stats()
            .sizeInBytes()
        ))

    default = int(str(
        spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    ))
    plain = size_of(df.localCheckpoint())
    flat_df = materialize(df, "test:flat", reset_stats=True)
    flat = size_of(flat_df)
    assert plain < default, (
        "plain localCheckpoint no longer preserves origin stats — "
        "re-evaluate whether reset_stats is still needed")
    assert flat == default, (
        f"stats rewrap did not engage (sizeInBytes={flat}, expected "
        f"default {default}): the private-constructor fallback was "
        "taken — fix the rewrap for this Spark version")
    # the rewrap must not change the data
    assert flat_df.count() == 1000
    assert flat_df.schema == df.schema


def test_tri_ledger_increment_laws(spark):
    """VERDICT r15 item 3: the incremental triangle/degree ledger's
    three laws, on a synthetic graph with all three new-triangle
    classes — (1) TELESCOPING: folding per-batch increments over any
    slicing of the edge set equals the batch ledger (1 slice vs 3
    adversarial slices vs per-edge slices); (2) IDEMPOTENCY:
    replaying an already-applied batch contributes zero increments
    (the store anti-join empties Δ); (3) EXACTNESS of the class
    decomposition: a batch that closes triangles with 1, 2, and 3
    new edges at once counts each exactly once."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.streaming_queries import (
        _tri_ledger_fold,
        _tri_ledger_increment,
    )
    from go_whisper_spark.operators.whisper_queries import (
        _tri_degrees,
        _tri_node_ledger,
        _tri_orient,
    )

    # K4 on 1-4, a pendant, and a second component triangle
    all_edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (6, 7), (6, 8), (7, 8)]

    def frame(rows):
        return spark.createDataFrame(rows, "u long, v long")

    def run(slices):
        store = None
        incs = []
        for s in slices:
            delta = frame(s)
            if store is not None:
                delta = delta.join(store, ["u", "v"], "left_anti")
            incs.append(_tri_ledger_increment(store, delta))
            store = delta if store is None else store.unionByName(delta)
            store = store.localCheckpoint()
        inc = incs[0]
        for i in incs[1:]:
            inc = inc.unionByName(i)
        return sorted(
            (r.node, r.deg, r.tri_n, r.cc_ppm)
            for r in _tri_ledger_fold(inc).collect()
        )

    edges = frame(all_edges)
    deg = _tri_degrees(edges)
    ori = _tri_orient(edges, deg)
    want = sorted((r.node, r.deg, r.tri_n, r.cc_ppm)
                  for r in _tri_node_ledger(deg, ori).collect())

    # law 1: telescoping under any slicing.  The 3-slice cut is
    # adversarial: batch 2 closes class-1 (edge (2,3) over old
    # wedges), class-2 ((2,4),(3,4) sharing 4 over old (2,3)? — no:
    # over old (1,4)-style wedges) and batch 3 an all-new triangle.
    assert run([all_edges]) == want
    assert run([
        all_edges[:3] + [(4, 5)],            # star at 1 + pendant
        [(2, 3), (2, 4), (3, 4)],            # closes K4: classes 1+2
        [(6, 7), (6, 8), (7, 8)],            # class 3: all-new
    ]) == want
    assert run([[e] for e in all_edges]) == want

    # law 2: duplicate delivery is a no-op
    store = frame(all_edges).localCheckpoint()
    dup = frame(all_edges[:4]).join(store, ["u", "v"], "left_anti")
    inc = _tri_ledger_increment(store, dup)
    assert inc.count() == 0

    # law 3 cross-check: total participations = 3 * 5 triangles
    total = sum(t for _, _, t, _ in run([all_edges]))
    assert total == 3 * 5


def test_tri_support_increment_laws(spark):
    """The per-EDGE support ledger behind st_truss, on the node
    ledger's synthetic graph (all three new-triangle classes): (1)
    TELESCOPING — folding per-batch support increments over any
    slicing equals the full graph's per-edge triangle support,
    computed independently with plain Python sets; (2) IDEMPOTENCY —
    a replayed batch dedups to an empty delta, zero increments; (3)
    conservation — total support = 3 × the triangle count (each
    triangle charges exactly its 3 edges).  Law 1 is also the
    st_truss seeding guarantee: the folded ledger IS the cold peel's
    round-1 support relation, so the seeded schedule is the cold
    schedule."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from go_whisper_spark.operators.streaming_queries import (
        _tri_support_increment,
    )

    all_edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (6, 7), (6, 8), (7, 8)]

    def frame(rows):
        return spark.createDataFrame(rows, "u long, v long")

    def run(slices):
        store, incs = None, []
        for s in slices:
            delta = frame(s)
            if store is not None:
                delta = delta.join(store, ["u", "v"], "left_anti")
            incs.append(_tri_support_increment(store, delta))
            store = delta if store is None else store.unionByName(delta)
            store = store.localCheckpoint()
        inc = incs[0]
        for i in incs[1:]:
            inc = inc.unionByName(i)
        fold = inc.groupBy("cu", "cv").agg(F.sum("d_sup").alias("s"))
        return sorted((r.cu, r.cv, r.s) for r in fold.collect())

    # independent reference: per-edge triangle support via plain sets
    E = set(all_edges)
    tris = [t for t in combinations(sorted({n for e in E for n in e}), 3)
            if {(t[0], t[1]), (t[0], t[2]), (t[1], t[2])} <= E]
    want = {}
    for a, b, c in tris:
        for e in ((a, b), (a, c), (b, c)):
            want[e] = want.get(e, 0) + 1
    want = sorted((u, v, s) for (u, v), s in want.items())

    assert run([all_edges]) == want
    assert run([
        all_edges[:3] + [(4, 5)],
        [(2, 3), (2, 4), (3, 4)],
        [(6, 7), (6, 8), (7, 8)],
    ]) == want
    assert run([[e] for e in all_edges]) == want

    # idempotency: duplicate delivery contributes nothing
    store = frame(all_edges).localCheckpoint()
    dup = frame(all_edges[:4]).join(store, ["u", "v"], "left_anti")
    assert _tri_support_increment(store, dup).count() == 0

    # conservation: Σ support = 3 × |triangles| (5 here)
    assert sum(s for _, _, s in run([all_edges])) == 3 * len(tris)


def test_kcore_warm_peel_laws(spark):
    """VERDICT r16 item 4: the incremental k-core ledger's laws, on a
    crafted graph that exercises the kmin > 0 seeding path (the
    harness's arrival pattern keeps introducing new nodes, which
    collapses kmin to 0 — so the carried/survivor-seed branch is
    pinned here): (1) WARM == COLD under arbitrary slicings — the
    warm-started peel folded over any batch cut equals the cold peel
    of the final edge set; (2) the SEEDING is load-bearing — the
    batch that completes K4 re-peels in strictly fewer rounds than
    the cold schedule, and its carried set (the sub-kmin pendant) is
    returned VERBATIM, never re-peeled; (3) the ledger is an honest
    LOWER BOUND between peels — every interim ledger value is <= the
    final coreness (insertion monotonicity); (4) IDEMPOTENCY —
    replaying an applied batch dedups to an empty delta (the store
    anti-join), so no peel runs."""
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.streaming_queries import (
        _kcore_warm_peel,
    )

    # 4-cycle + chord (a 2-core) + pendant 5; the last edge (2,4)
    # completes K4 and lifts exactly the K4 members 2 -> 3
    cyc = [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3), (1, 5)]
    all_edges = cyc + [(2, 4)]

    def frame(rows):
        return spark.createDataFrame(rows, "u long, v long")

    def run(slices):
        store, led, rounds = None, None, []
        for s in slices:
            delta = frame(s)
            if store is not None:
                delta = delta.join(store, ["u", "v"], "left_anti")
            delta = delta.localCheckpoint()
            store = (delta if store is None
                     else store.unionByName(delta).localCheckpoint())
            dirty = (delta.select(F.explode(F.array("u", "v"))
                                  .alias("node")).distinct())
            led, it = _kcore_warm_peel(store, led, dirty)
            led = led.localCheckpoint()
            rounds.append(it)
        return (sorted((r.node, r.coreness) for r in led.collect()),
                rounds)

    want = {1: 3, 2: 3, 3: 3, 4: 3, 5: 1}
    cold, cold_rounds = run([all_edges])
    assert cold == sorted(want.items())

    # law 1: warm == cold over an adversarial 2-cut and per-edge cuts
    warm2, warm2_rounds = run([cyc, [(2, 4)]])
    assert warm2 == cold
    per_edge, _ = run([[e] for e in all_edges])
    assert per_edge == cold

    # law 2: the completing batch's dirty endpoints {2, 4} both sit
    # at ledger coreness 2 -> kmin = 2: the pendant (coreness 1) is
    # carried, the peel starts at threshold 3 over the induced K4,
    # and the schedule is strictly shorter than the cold one
    assert warm2_rounds[1] < cold_rounds[0], (
        f"warm re-peel {warm2_rounds[1]} rounds not < cold "
        f"{cold_rounds[0]}")

    # law 3: every interim ledger is a pointwise lower bound
    interim, _ = run([cyc])
    interim = dict(interim)
    assert all(interim[n] <= want[n] for n in interim)

    # law 4: a replayed batch dedups to an empty delta
    store = frame(all_edges).localCheckpoint()
    dup = frame(cyc).join(store, ["u", "v"], "left_anti")
    assert dup.count() == 0


def test_hashring_moved_keys_land_on_new_node():
    """The consistent-hashing law behind w_carbon_hashring, pinned as
    a pure property (no Spark): for ANY metric population and ANY
    added node, every key whose assignment changes moves TO the new
    node — survivors never trade keys among themselves — because
    adding replicas only splits existing arcs.  Pure-python mirror of
    the ring walk (smallest position >= hash, wrapping)."""
    import hashlib

    from go_whisper_spark.operators.whisper_queries import (
        _ring_positions,
    )

    def assign(nodes, metric):
        h = int(hashlib.md5(metric.encode()).hexdigest()[:8], 16)
        entries = sorted(_ring_positions(nodes), key=lambda t: (t[1], t[0]))
        for node, pos in entries:
            if pos >= h:
                return node
        return entries[0][0]

    metrics = [f"srv{i}" for i in range(500)]
    for base_nodes, new in (
        (("relay-a", "relay-b", "relay-c"), "relay-d"),
        (("relay-a", "relay-b"), "relay-z"),
        (("n1", "n2", "n3", "n4", "n5"), "n6"),
    ):
        grown = base_nodes + (new,)
        moved = 0
        for m in metrics:
            a, b = assign(base_nodes, m), assign(grown, m)
            if a != b:
                assert b == new, (m, a, b)
                moved += 1
        # the new node takes a nontrivial share, far below a reshuffle
        assert 0 < moved < len(metrics) // 2, (base_nodes, new, moved)
