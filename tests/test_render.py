"""Render-target expression layer (go_whisper_spark/render.py):
parser unit tests plus composition equivalence against hand-built
frames.  The registered g_render_* queries, and the g_* queries that
are registered as one render target (``graphite_funcs._rendered``), are
oracle-gated by the driver contract; these tests pin the parser and the
Spark-side composition semantics independently."""

import pytest
from pyspark.sql import functions as F

from go_whisper_spark.render import (
    Call,
    Glob,
    Num,
    RenderParseError,
    Str,
    glob_to_regex,
    parse_target,
    render,
)


def test_parse_nested_call():
    n = parse_target("movingSum(scale(seriesByGlob('c*'), 3), 4)")
    assert isinstance(n, Call) and n.name == "movingSum"
    inner, k = n.args
    assert isinstance(k, Num) and k.value == 4
    assert isinstance(inner, Call) and inner.name == "scale"
    seed, mult = inner.args
    assert isinstance(seed, Call) and seed.name == "seriesByGlob"
    assert isinstance(seed.args[0], Str) and seed.args[0].value == "c*"
    assert isinstance(mult, Num) and mult.value == 3


def test_parse_bare_glob_and_negative_int():
    n = parse_target("offset(web.*.cpu, -5)")
    assert isinstance(n.args[0], Glob) and n.args[0].pattern == "web.*.cpu"
    assert n.args[1].value == -5


def test_parse_double_quoted_string():
    n = parse_target('grep(seriesByGlob("*"), "^(c|v)")')
    assert n.args[1].value == "^(c|v)"


@pytest.mark.parametrize(
    "bad",
    [
        "scale(x, 3",  # missing )
        "scale(x, 3)) ",  # trailing token
        "scale(, 3)",  # empty arg
        "",  # empty target
    ],
)
def test_parse_errors(bad):
    with pytest.raises(RenderParseError):
        parse_target(bad)


def test_eval_errors(spark, sf_dir):
    with pytest.raises(RenderParseError, match="unknown render function"):
        render(spark, sf_dir, "noSuchFunc('*')")
    with pytest.raises(RenderParseError, match="takes 2 args"):
        render(spark, sf_dir, "scale('*')")
    with pytest.raises(RenderParseError, match="expected Num"):
        render(spark, sf_dir, "scale('*', 'x')")


def test_glob_to_regex():
    assert glob_to_regex("web.*.cpu") == "^web\\.[^.]*\\.cpu$"
    assert glob_to_regex("c?ick") == "^c.ick$"
    # regex metacharacters in the glob are literals
    assert glob_to_regex("a+b") == "^a\\+b$"


def test_scale_offset_composition_matches_manual(spark, sf_dir):
    from go_whisper_spark.operators.whisper_queries import _cents
    from go_whisper_spark.render import _lww1h

    got = {
        (r.metric, r.interval): r.value
        for r in render(spark, sf_dir, "offset(scale('c*', 3), -1)").collect()
    }
    manual = {
        (r.metric, r.interval): r.value
        for r in _lww1h(spark, sf_dir)
        .where(F.col("metric").rlike("^c[^.]*$"))
        .select(
            "metric",
            "interval",
            (((_cents() * 3 - 100).cast("double")) / 100.0).alias("value"),
        )
        .collect()
    }
    assert got == manual and got


def test_sum_series_then_derivative(spark, sf_dir):
    rows = render(spark, sf_dir, "derivative(sumSeries('*'))").collect()
    assert {r.metric for r in rows} == {"sumSeries"}
    by_iv = sorted(rows, key=lambda r: r.interval)
    assert by_iv[0].value is None  # first slot has no predecessor
    assert all(r.value is not None for r in by_iv[1:])


def test_maximum_above_filters_series(spark, sf_dir):
    all_m = {r.metric for r in render(spark, sf_dir, "'*'").collect()}
    kept = {
        r.metric
        for r in render(spark, sf_dir, "maximumAbove('*', 300)").collect()
    }
    assert kept < all_m and kept  # strict, non-empty discrimination


def test_time_shift_and_integral(spark, sf_dir):
    base = {
        (r.metric, r.interval): r.value
        for r in render(spark, sf_dir, "countSeries('*')").collect()
    }
    shifted = {
        (r.metric, r.interval): r.value
        for r in render(spark, sf_dir, "timeShift(countSeries('*'), 2)").collect()
    }
    assert shifted == {(m, iv + 7200): v for (m, iv), v in base.items()}
    integ = sorted(
        (r.interval, r.value)
        for r in render(spark, sf_dir, "integral(countSeries('*'))").collect()
    )
    running, expect = 0.0, []
    for iv, v in sorted((iv, v) for (_, iv), v in base.items()):
        running += v
        expect.append((iv, running))
    assert integ == expect


def test_binary_combiners(spark, sf_dir):
    tot = {
        r.interval: r.value
        for r in render(spark, sf_dir, "sumSeries('*')").collect()
    }
    clicks = {
        r.interval: r.value
        for r in render(spark, sf_dir, "sumSeries('c*')").collect()
    }
    pct = {
        r.interval: r.value
        for r in render(
            spark, sf_dir, "asPercent(sumSeries('c*'), sumSeries('*'))"
        ).collect()
    }
    import math

    for iv, v in pct.items():
        a_c = round(clicks[iv] * 100)
        b_c = round(tot[iv] * 100)
        assert v == math.floor(a_c * 10000 / b_c) / 100.0
    diff = {
        r.interval: r.value
        for r in render(
            spark, sf_dir, "diffSeries(sumSeries('*'), sumSeries('c*'))"
        ).collect()
    }
    for iv, v in diff.items():
        if iv in clicks:
            assert v == pytest.approx(tot[iv] - clicks[iv], abs=1e-9)
        else:
            assert v is None  # left slot with no right partner


def test_group_is_bag_union(spark, sf_dir):
    a = render(spark, sf_dir, "alias(sumSeries('c*'), 'x')").collect()
    b = render(spark, sf_dir, "scale('e*', -1)").collect()
    g = render(
        spark, sf_dir, "group(alias(sumSeries('c*'), 'x'), scale('e*', -1))"
    ).collect()
    key = lambda r: (r.metric, r.interval, r.value)
    assert sorted(map(key, g)) == sorted(map(key, list(a) + list(b)))


def test_counter_cleanup_ops(spark, sf_dir):
    """nonNegativeDerivative nulls drop slots; keepLastValue forward
    fills them; transformNull zeroes each series' first slot."""
    raw = render(spark, sf_dir, "derivative('c*')").collect()
    assert any(r.value is not None and r.value < 0 for r in raw)
    nn = {
        (r.metric, r.interval): r.value
        for r in render(spark, sf_dir, "nonNegativeDerivative('c*')").collect()
    }
    for r in raw:
        want = r.value if (r.value is not None and r.value >= 0) else None
        assert nn[(r.metric, r.interval)] == want
    filled = render(
        spark,
        sf_dir,
        "transformNull(keepLastValue(nonNegativeDerivative('c*')), 0)",
    ).collect()
    assert all(r.value is not None for r in filled)
    # forward fill: recompute per metric in Python
    by_metric = {}
    for r in sorted(raw, key=lambda r: (r.metric, r.interval)):
        carry = by_metric.setdefault(r.metric, [None])
        v = r.value if (r.value is not None and r.value >= 0) else None
        carry.append(v if v is not None else carry[-1])
    got = {
        (r.metric, r.interval): r.value
        for r in filled
    }
    for m, vals in by_metric.items():
        series = [v if v is not None else 0.0 for v in vals[1:]]
        ivs = sorted(iv for (mm, iv) in got if mm == m)
        assert [got[(m, iv)] for iv in ivs] == series


# ------------------------------------------------- static analyzer
def test_analyzer_rejects_ambiguous_window_ops():
    """Order-sensitive ops over a possibly-duplicate-keyed frame are
    rejected in BOTH visitors (ADVICE r10: lag/last tie ordering is
    nondeterministic in both engines, so Spark and the oracle could
    legitimately disagree run-to-run)."""
    from go_whisper_spark.render import parse_target, validate_target

    bad = [
        # same-labeled group branches → duplicate keys
        "movingSum(group('c*', 'c*'), 3)",
        # alias over a multi-series input collapses labels
        "derivative(alias('*', 'x'))",
        "summarize(alias('*', 'x'), 2, 'last')",
        # binary right side must be ONE uniquely-keyed series
        "diffSeries(sumSeries('*'), '*')",
        "asPercent('c*', group('*', '*'))",
        # group of globs is not provably label-disjoint
        "keepLastValue(group('c*', 'v*'))",
        "currentAbove(group('*', '*'), 0)",
    ]
    for target in bad:
        with pytest.raises(RenderParseError):
            validate_target(parse_target(target))


def test_analyzer_accepts_disjoint_alias_group():
    """group() branches with distinct static labels ARE uniquely
    keyed — window ops over them are legal."""
    from go_whisper_spark.render import analyze, parse_target, validate_target

    ok = ("movingSum(group(alias(sumSeries('c*'), 'a'), "
          "alias(sumSeries('v*'), 'b')), 2)")
    validate_target(parse_target(ok))
    # alias over a reduced (single) series keeps uniqueness
    single, unique, label = analyze(parse_target("alias(sumSeries('*'), 'x')"))
    assert (single, unique, label) == (True, True, "x")
    # but alias('*') over multi-series loses it
    single, unique, _ = analyze(parse_target("alias('*', 'x')"))
    assert (single, unique) == (True, False)


def test_null_preserving_last_and_current(spark, sf_dir):
    """summarize 'last' / currentAbove over NULL-producing upstreams:
    the oracle's struct-wrapped arg_max must keep a NULL at the max
    interval, matching Spark's max_by (ADVICE r10 divergence)."""
    import duckdb
    import math
    from collections import Counter
    from go_whisper_spark.render import render, render_oracle_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    for target in (
        "summarize(derivative('*'), 4, 'last')",
        "currentAbove(nonNegativeDerivative('*'), 0)",
        "currentBelow(derivative('*'), 300)",
    ):
        got = Counter(
            (r.metric, r.interval, r.value)
            for r in render(spark, sf_dir, target).collect()
        )
        want = Counter()
        for m, iv, v in con.execute(render_oracle_sql(target)).fetchall():
            if v is not None and isinstance(v, float) and math.isnan(v):
                v = None
            want[(m, iv, v)] += 1
        assert got == want, target


def test_alias_sub_replaces_all_occurrences(spark, sf_dir):
    """Spark regexp_replace is replace-ALL; the oracle passes the 'g'
    flag so DuckDB matches (ADVICE r10: without it 'ccc' with /c/->K
    gave 'KKK' vs 'Kcc')."""
    import duckdb
    from go_whisper_spark.render import render, render_oracle_sql

    target = "aliasSub('c*', 'c', 'K')"
    got = {r.metric for r in render(spark, sf_dir, target).collect()}
    assert all("c" not in m for m in got)  # every occurrence rewritten
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = {row[0] for row in con.execute(render_oracle_sql(target)).fetchall()}
    assert got == want


def test_group_of_fixed_label_reducers_is_window_safe():
    """Wave-3 reducers carry provable static labels, so a group() of
    distinct reducers stays uniquely keyed and window ops over it are
    legal — while duplicated reducers are rejected."""
    from go_whisper_spark.render import parse_target, validate_target

    validate_target(parse_target(
        "movingSum(group(minSeries('*'), maxSeries('*'), "
        "stddevSeries('c*')), 2)"
    ))
    with pytest.raises(RenderParseError):
        validate_target(parse_target(
            "movingSum(group(minSeries('*'), minSeries('c*')), 2)"
        ))


def test_glob_character_classes():
    """Graphite character-class globs translate to real classes
    (identical semantics in Java regex and RE2); an unterminated
    bracket stays literal."""
    import re

    assert glob_to_regex("[ve]*") == "^[ve][^.]*$"
    assert glob_to_regex("[!c]*") == "^[^c][^.]*$"
    assert glob_to_regex("x[") == "^x\\[$"
    assert re.match(glob_to_regex("[ve]*"), "view")
    assert not re.match(glob_to_regex("[ve]*"), "click")


def test_wave5_value_maps_and_selectors(spark, sf_dir):
    # isNonNull: every slot becomes exactly 1.0 or 0.0
    vals = {
        r.value
        for r in render(spark, sf_dir, "isNonNull(derivative('*'))").collect()
    }
    assert vals <= {0.0, 1.0} and vals == {0.0, 1.0}

    # threshold: one flat series under its own label
    th = render(spark, sf_dir, "threshold(42)").collect()
    assert {r.metric for r in th} == {"threshold"}
    assert {r.value for r in th} == {42.0}

    # scaleToSeconds at k=3600 is the identity (step == 3600)
    base = {(r.metric, r.interval): r.value
            for r in render(spark, sf_dir, "'*'").collect()}
    scaled = {(r.metric, r.interval): r.value
              for r in render(spark, sf_dir,
                              "scaleToSeconds('*', 3600)").collect()}
    assert scaled == base

    # highestCurrent(1) picks the series with the max latest slot
    hc = render(spark, sf_dir, "highestCurrent('*', 1)").collect()
    assert len({r.metric for r in hc}) == 1
    last = {}
    for (m, iv), v in base.items():
        if m not in last or iv > last[m][0]:
            last[m] = (iv, v)
    best = max(last, key=lambda m: (last[m][1], ))
    assert {r.metric for r in hc} == {best}


def test_wave5_hitcount_is_summarize_sum_times_step(spark, sf_dir):
    hits = {(r.metric, r.interval): r.value
            for r in render(spark, sf_dir, "hitcount('*', 4)").collect()}
    summed = {(r.metric, r.interval): r.value
              for r in render(spark, sf_dir,
                              "summarize('*', 4, 'sum')").collect()}
    assert hits.keys() == summed.keys()
    for k, v in summed.items():
        assert hits[k] == pytest.approx(v * 3600)


def test_wave5_wildcard_reducer_and_substr(spark, sf_dir):
    # prefix every label with 'x.' then delete node 0 → original series
    back = {(r.metric, r.interval): r.value
            for r in render(
                spark, sf_dir,
                "sumSeriesWithWildcards(aliasSub('*', '^', 'x.'), 0)"
            ).collect()}
    base = {(r.metric, r.interval): r.value
            for r in render(spark, sf_dir, "'*'").collect()}
    assert back == base
    # substr keeping node [0,1) of 'x.<m>' is the constant 'x' label:
    # collapsing labels still key by (metric, interval) row-wise
    sub = render(
        spark, sf_dir, "substr(aliasSub('*', '^', 'x.'), 0, 1)"
    ).collect()
    assert {r.metric for r in sub} == {"x"}


def test_wave5_fallback_series(spark, sf_dir):
    # non-empty first arg → second arg ignored
    kept = render(
        spark, sf_dir, "fallbackSeries('c*', constantLine(7))"
    ).collect()
    assert {r.metric for r in kept} != {"constantLine"}
    # empty first arg → fall back
    fb = render(
        spark, sf_dir, "fallbackSeries(grep('*', 'zzz'), constantLine(7))"
    ).collect()
    assert {r.metric for r in fb} == {"constantLine"}


def test_wave5_analyzer_properties():
    from go_whisper_spark.render import analyze, validate_target

    # stdev/highestCurrent are order-sensitive: duplicate-keyed input
    # (same-label group) must be rejected
    for t in ("stdev(group('*', '*'), 3)",
              "highestCurrent(group('*', '*'), 2)"):
        with pytest.raises(RenderParseError):
            validate_target(parse_target(t))
    # threshold is a single fixed-label series
    assert analyze(parse_target("threshold(5)")) == (True, True, "threshold")
    # wildcard reducers make keys unique again
    assert analyze(
        parse_target("sumSeriesWithWildcards(group('*', '*'), 0)")
    )[1] is True
    # multiplySeries requires a single-series right side
    with pytest.raises(RenderParseError):
        validate_target(parse_target("multiplySeries('*', '*')"))


def test_wave6_ops(spark, sf_dir):
    from go_whisper_spark.render import analyze, validate_target

    # roundTo(2) is the identity; roundTo(0) lands on whole values
    base = {(r.metric, r.interval): r.value
            for r in render(spark, sf_dir, "'*'").collect()}
    same = {(r.metric, r.interval): r.value
            for r in render(spark, sf_dir, "roundTo('*', 2)").collect()}
    assert same == base
    whole = [r.value for r in
             render(spark, sf_dir, "roundTo('*', 0)").collect()]
    assert all(v == int(v) for v in whole if v is not None)

    # minMax lands in [0, 1]
    mm = [r.value for r in render(spark, sf_dir, "minMax('*')").collect()]
    assert all(0.0 <= v <= 1.0 for v in mm if v is not None)

    # movingMedian(1) is the identity on known slots
    med1 = {(r.metric, r.interval): r.value
            for r in render(spark, sf_dir, "movingMedian('*', 1)").collect()}
    assert med1 == base

    # EMA(N=1) has alpha=1: every output slot is the input's own
    # cents (floor of the float fold of an integer is the integer)
    e1 = {(r.metric, r.interval): r.value
          for r in render(
              spark, sf_dir, "exponentialMovingAverage('*', 1)"
          ).collect()}
    assert e1 == base

    # interpolate leaves a NULL-free series untouched
    interp = {(r.metric, r.interval): r.value
              for r in render(spark, sf_dir, "interpolate('*')").collect()}
    assert interp == base

    # order-sensitive wave-6 ops reject duplicate-keyed frames
    for t in ("movingMedian(group('*', '*'), 3)",
              "interpolate(group('*', '*'))",
              "exponentialMovingAverage(group('*', '*'), 3)"):
        with pytest.raises(RenderParseError):
            validate_target(parse_target(t))
    # weightedAverage is one fixed-label series
    assert analyze(
        parse_target("weightedAverage('*', isNonNull('*'), 0)")
    ) == (True, True, "weightedAverage")


def test_wave8_desugar_canonical_ast():
    # the generic spellings parse to the SAME AST as their canonical
    # operator — one dispatch point (parse_target), no visitor logic
    assert parse_target("aggregate('*', 'sum')") == parse_target(
        "sumSeries('*')")
    assert parse_target("aggregate('*', 'median')") == parse_target(
        "percentileOfSeries('*', 50)")
    assert parse_target("highest('*', 3, 'max')") == parse_target(
        "highestMax('*', 3)")
    assert parse_target("lowest('*', 2, 'current')") == parse_target(
        "lowestCurrent('*', 2)")
    assert parse_target("movingWindow('*', 4, 'median')") == parse_target(
        "movingMedian('*', 4)")
    assert parse_target("add('*', 3)") == parse_target("offset('*', 3)")
    assert parse_target("timeFunction('t')") == parse_target("identity('t')")
    # unknown methods are parse errors, not runtime surprises
    for t in ("aggregate('*', 'nope')", "highest('*', 2, 'min')",
              "movingWindow('*', 2, 'stddev')"):
        with pytest.raises(RenderParseError):
            parse_target(t)


def test_wave8_identity_and_filter_series(spark, sf_dir):
    # identity: the slot's own epoch seconds, one series, full spine
    rows = render(spark, sf_dir, "identity('t')").collect()
    assert rows and all(r.metric == "t" and r.value == float(r.interval)
                        for r in rows)

    # filterSeries boundary semantics: '>=' keeps the series whose max
    # IS the threshold, '>' drops it
    mx = {}
    for r in render(spark, sf_dir, "'*'").collect():
        if r.value is not None:
            mx[r.metric] = max(mx.get(r.metric, r.value), r.value)
    t = int(max(mx.values()))
    exact_peak = {m for m, v in mx.items() if v >= t}
    ge = {r.metric for r in render(
        spark, sf_dir, f"filterSeries('*', 'max', '>=', {t})").collect()}
    gt = {r.metric for r in render(
        spark, sf_dir, f"filterSeries('*', 'max', '>', {t})").collect()}
    assert ge == exact_peak and gt == {m for m, v in mx.items() if v > t}


def test_wave8_pairing_percent_and_cacti(spark, sf_dir):
    # divideSeriesLists of a list against itself: every known nonzero
    # slot divides to exactly 1.00 (floor(c*100/c) = 100 cents); a
    # zero denominator or NULL slot is NULL
    vals = [r.value for r in render(
        spark, sf_dir, "divideSeriesLists('*', '*')").collect()]
    assert vals and all(v is None or v == 1.0 for v in vals)

    # single-arg asPercent: spot-check floor(c*10000/total)/100
    base = render(spark, sf_dir, "'*'").collect()
    totals = {}
    for r in base:
        if r.value is not None:
            totals[r.interval] = totals.get(r.interval, 0) + round(r.value * 100)
    got = {(r.metric, r.interval): r.value for r in render(
        spark, sf_dir, "asPercent('*')").collect()}
    import math as _math
    for r in base[:50]:
        want = None
        if r.value is not None and totals.get(r.interval, 0) != 0:
            want = _math.floor(round(r.value * 100) * 10000
                               / totals[r.interval]) / 100.0
        assert got[(f"asPercent({r.metric})", r.interval)] == want

    # cactiStyle: exact-2-decimal legend, slot values untouched
    import re as _re
    out = render(spark, sf_dir, "cactiStyle('*')").collect()
    pat = _re.compile(
        r"^\S+ Current:(-?\d+\.\d\d|nan) Max:(-?\d+\.\d\d|nan) "
        r"Min:(-?\d+\.\d\d|nan)$")
    assert out and all(pat.match(r.metric) for r in out)
    assert sorted(v for r in out if (v := r.value) is not None) == sorted(
        v for r in base if (v := r.value) is not None)


def test_wave8_smart_summarize_alignment(spark, sf_dir):
    # smartSummarize buckets start at the frame's own min interval —
    # on a shifted frame (delay moves values, not intervals; use
    # timeShift) the grid follows the frame while summarize stays
    # epoch-pinned
    base = render(spark, sf_dir, "'*'").collect()
    t0 = min(r.interval for r in base)
    sm = render(spark, sf_dir, "smartSummarize('*', 7, 'sum')").collect()
    assert min(r.interval for r in sm) == t0
    assert all((r.interval - t0) % (7 * 3600) == 0 for r in sm)
    # epoch-aligned summarize generally disagrees on a 7h grid unless
    # t0 happens to sit on it
    ep = render(spark, sf_dir, "summarize('*', 7, 'sum')").collect()
    assert all(r.interval % (7 * 3600) == 0 for r in ep)


def test_wave8_analyzer_gates():
    from go_whisper_spark.render import validate_target

    for t in ("cactiStyle(group('*', '*'))",
              "filterSeries(group('*', '*'), 'current', '>', 0)",
              "divideSeriesLists(group('*', '*'), sumSeries('*'))",
              "smartSummarize(group('*', '*'), 4, 'last')"):
        with pytest.raises(RenderParseError):
            validate_target(parse_target(t))
    # non-'current' filterSeries and non-'last' smartSummarize are
    # key-order-insensitive: duplicate-keyed frames are fine
    validate_target(parse_target(
        "filterSeries(group('*', '*'), 'max', '>', 0)"))
    validate_target(parse_target("smartSummarize(group('*', '*'), 4, 'sum')"))


def test_changed_follows_graphite_at_gaps(spark, monkeypatch):
    """Graphite's changed() is 0 unless a known slot differs from a
    known predecessor: 0 at the series' first slot, at a NULL slot and
    just after it — in the Spark visitor and the oracle alike."""
    import duckdb
    from go_whisper_spark import render as render_mod

    rows = [("m", 3600 * i, v)
            for i, v in enumerate([5.0, 5.0, 7.0, None, 7.0, 8.0])]
    want = [0, 0, 100, 0, 0, 100]
    frame = spark.createDataFrame(
        rows, "metric string, interval bigint, value double")
    monkeypatch.setattr(render_mod, "_lww1h", lambda spark, sf_dir: frame)
    node = parse_target("changed('*')")
    got = render_mod.build_frame(spark, "unused", node).orderBy("interval")
    assert [r.cents for r in got.collect()] == want

    con = duckdb.connect()
    con.execute("CREATE TABLE lww1h (metric VARCHAR, interval BIGINT, "
                "value DOUBLE)")
    con.executemany("INSERT INTO lww1h VALUES (?, ?, ?)", rows)
    # the emitted oracle minus its events-derived CTEs reads the table
    ctes = f"WITH {render_mod.PTS_CTE}, {render_mod.LWW_1H_CTE}\n"
    sql = render_mod.build_sql(node)
    assert sql.startswith(ctes)
    got_sql = con.execute(
        f"SELECT value FROM ({sql[len(ctes):]}) ORDER BY interval").fetchall()
    assert [round(v * 100) for (v,) in got_sql] == want


def test_adhoc_build_after_a_render_starts_no_job(spark, sf_dir, jobs_started):
    """After one render in a session, building a never-seen target
    starts no Spark job: its seeds filter the corpus's memoized seed
    frame and the table schemas come from the schema memo.  Its rows
    still equal the oracle's."""
    import duckdb
    from collections import Counter

    from go_whisper_spark.render import render_oracle_sql

    render(spark, sf_dir, "sumSeries('c*')")
    render(spark, sf_dir, "seriesByTag('dc=dc0')")
    target = "asPercent(offset(scale('v*', 37), -11), sumSeries(seriesByTag('dc=dc2')))"
    with jobs_started() as jobs:
        df = render(spark, sf_dir, target)
    assert jobs == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    got = Counter((r.metric, r.interval, r.value) for r in df.collect())
    want = Counter(con.execute(render_oracle_sql(target)).fetchall())
    assert got and got == want
