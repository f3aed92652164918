"""Graphite render-target expression layer: parse a nested target
string — ``movingSum(scale(grep(seriesByGlob('*'), '^(c|v)'), 3), 4)``
— and compose it into ONE declarative DataFrame pipeline over the
standard series frame, exactly the way a Graphite user writes queries
against the reference ecosystem's render API.

Two visitors walk the same AST:

- ``build_frame``  — the Spark plan: each operator is a narrow
  DataFrame transform (filter / projection / window / small-key
  aggregate) composed lazily, so the WHOLE expression is one logical
  plan for Catalyst — filters written innermost still push to the
  scan, windows share the per-metric partitioning, and nothing
  materializes between operators.
- ``build_sql``    — the matching DuckDB oracle: each operator wraps
  the previous SQL in a subquery applying the identical arithmetic.

Exactness contract: all VALUE arithmetic runs in integer CENTS
(``round(value*100)`` longs) from the seed until the single final
``cents / 100.0`` projection, so every composition — scales, offsets,
window sums, cross-series sums, derivatives — is exact 64-bit integer
math in BOTH engines and the driver's typed hash cannot drift.
Numeric operator arguments are therefore integers (Graphite's float
args quantize to cents here; documented, not hidden).

Operator registry (130 ops — the composable core; the fixed-form
analogs in ``operators/graphite_funcs.py`` whose answer is a render
target are registered as that target, the rest stay hand-built):

  seeds       seriesByGlob / bare glob (* ? — translated to an
              anchored regex identically in both engines)
              constantLine(k) / threshold(k) — data-free generators
              on the spine
              randomWalk('name') — PINNED md5-derived integer
              micro-unit steps summed on the spine (the
              g_random_walk discipline; wall-clock random() is not
              oracle-checkable)
  value maps  scale offset absolute transformNull invert pow
              squareRoot removeAboveValue removeBelowValue
              isNonNull scaleToSeconds(k) roundTo(k) — half-up at
              the 10^(2-k)-cent grid, k in 0..2
              drawAsInfinite — 1 where known AND non-zero, 0 where
              known zero, NULL propagates (the display directive
              made data-shaped)
  windows     derivative nonNegativeDerivative(±maxValue counter
              wrap) perSecond movingSum
              movingAverage movingMin movingMax keepLastValue(±limit
              — bounded fill, longer outages stay NULL)
              integral integralByInterval delay changed
              stacked — per-slot running total of the series stacked
              beneath (stack order = metric name; NULL slots stay
              NULL)
              offsetToZero stdev(n) movingMedian(n) — lower median
              of the NULL-filtered sorted window
              interpolate(±limit) — integer-exact linear fill between
              known neighbours (leading/trailing NULLs stay NULL;
              optional limit caps the filled gap length, longer
              outages stay NULL)
              minMax — (v−min)/(max−min) per series in floored
              cents (max==min → 0; whole-partition, dup-safe)
              exponentialMovingAverage(N) — α=2/(N+1) left fold,
              IEEE-identical per-step ops (applyInPandas kernel ↔
              recursive CTE, the Holt-Winters discipline)
              (order-sensitive ones statically require unique
              (metric, interval) keys — see analyze())
  filters     grep exclude limit removeEmptySeries(±pct — optional
              xFilesFactor percent: survivors need
              count(known)·100 >= pct·slots, the exact integer gate)
  selectors   maximumAbove maximumBelow minimumAbove minimumBelow
              averageAbove averageBelow currentAbove currentBelow
              highestMax highestAverage lowestAverage mostDeviant
              highestCurrent lowestCurrent
  slicing     timeSlice(from, until) — outside slots go NULL
  reference   nPercentile(p) — per-series flat percentile line
  forecast    holtWintersForecast holtWintersConfidenceUpper
              holtWintersConfidenceLower holtWintersAberration —
              Holt's linear trend + γ-smoothed deviation envelope,
              bit-exact IEEE fold in both engines (one metric-keyed
              applyInPandas kernel ↔ recursive CTE)
              holtWintersConfidenceArea — desugars to
              areaBetween(lower, upper) (band width; one-series
              contract enforced there)
              linearRegression — per-series OLS fit line over the
              slot index (exact-long normal-equation sums, the two
              IEEE-identical divisions; single-point series → NULL)
  removers    removeAbovePercentile removeBelowPercentile
              removeBetweenPercentile (rank-based thresholds,
              offending slots go NULL)
  reducers    sumSeries averageSeries countSeries minSeries
              maxSeries rangeOfSeries stddevSeries
              percentileOfSeries summarize groupByNode(i, how)
              hitcount(h) — summarize-sum × slot width (rate→count)
              sumSeriesWithWildcards(i) averageSeriesWithWildcards(i)
              maxSeriesWithWildcards(i) minSeriesWithWildcards(i)
              multiplySeriesWithWildcards(i) — left fold of the
              multiplySeries cent contract in original-label order
              (NULL member slots propagate; missing rows don't
              contribute)
              — aggregate after deleting the i-th dot node
              (the generic aggregateWithWildcards(s, 'how', i)
              desugars here)
  per-series  aggregateLine('avg'|'max'|'min') — flat line at the
              series aggregate (keys preserved)
  labels      alias aliasSub (replace-ALL semantics in both engines)
              aliasByNode(i[, j, ...]) — rename to the named dot
              nodes joined by '.' (missing → '')
              substr(i, j) — keep dot nodes [i, j)
  selectors++ useSeriesAbove(t, 'search', 'replace') — keep series
              whose peak exceeds t AND regex-rename them
  overlays    timeStack(d|'<n>h'|'<n>d', a, b) — shifted copies
              b−a ≤ 8 on a common axis (integer d = days; the unit
              string generalizes to sub-day stacking), each under a
              '.s<k>' suffixed label
  tagged      seriesByTag('k=v', 'k!=v', 'k=~re', 'k!=~re', ...) —
              seed the TAGGED series universe (path =
              name;dc=..;host=.. — the g_tag_select encoding;
              'name' is the pseudo-tag) filtered on the PARSED path
              groupByTags(s, 'sum'|'avg'|'max'|'min', 'tag') —
              aggregate series sharing a tag value, labeled
              name;tag=value
              aliasByTags(s, 'k1', ...) — rename to the tag values
              joined by '.'
  selectors+  averageOutsidePercentile(p) — means outside the
              [p, 100−p] band (rank window over the O(n_metrics)
              means relation)
  combiners   group diffSeries divideSeries asPercent multiplySeries
              (binary right side must be one uniquely-keyed series —
              enforced) fallbackSeries(a, b) — b only when a is empty
              weightedAverage(a, w, i) — pair the two frames by the
              i-th dot node, ONE series: floor(Σ a·w / Σ w) per slot
              (weights counted only where the pair is known)
              asPercent(s) single-arg — percent of the per-interval
              across-series total (one window sum, keys preserved)
              divideSeriesLists(a, b) — pairwise division with the
              i-th series of each side paired by SORTED label rank
              (the deterministic analog of Graphite's positional
              pairing; both sides must be uniquely keyed)
              aggregateSeriesLists(a, b, 'sum'|'diff'|'multiply') —
              pairwise position-matched combine, same
              sorted-label-rank pairing contract as
              divideSeriesLists; an unmatched rank or slot keeps a's
              row with NULL cents; 'multiply' floors the cent
              product (the multiplySeries contract)
              sumSeriesLists / diffSeriesLists /
              multiplySeriesLists(a, b) — desugared to
              aggregateSeriesLists
              unique(a, b, ...) — first-occurrence dedup across
              series lists: a metric in several args keeps only its
              earliest arg's rows (one union + per-metric min(src)
              window, no joins)
  grouped     applyByNode(s, i, 'template') — evaluate a template
              per node-i group: 'f(%)' for a reducer f desugars to
              groupByNode; 'asPercent(%)' = each slot as percent of
              the group's per-slot total; 'divideSeries(%, f(%))' =
              each slot divided by the group's per-slot aggregate.
              ONE (node, interval) window — no per-group replay
  ordering    sortByTotal sortByMaxima sortByMinima sortByName
              sortBy(s, 'max'|'min'|'sum'|'average'|'current',
              reverse 0|1) — the generic spelling: ASC NULLS LAST by
              default, DESC when reverse=1; 'average' orders by the
              IEEE-identical double division of exact longs,
              'current' is order-gated — ordering-only:
              the legend order surfaces as an explicit series_rank
              column (row order is invisible to the hash oracle), so
              these are ROOT-ONLY — validate_target rejects them
              anywhere deeper; rank = row_number over the
              O(n_metrics) per-series aggregate relation (sum / max
              DESC NULLS LAST / min ASC NULLS LAST / name ASC,
              ties on metric)
  combiners+  areaBetween(a, b) — per-slot band width |a−b| in exact
              cents under one label (both sides must be ONE
              uniquely-keyed series; the fixed-form query keeps the
              full low/high/width relation)
  reducers+   groupByNodes(s, 'how', i, j, ...) — multi-node
              groupByNode: label = the named dot nodes joined by
              '.', missing nodes → ''
  labels+     aliasByMetric(s) — rename to the LAST dot node
  generic     aggregate(s, 'how') highest(s, k, 'how')
  spellings   lowest(s, k, 'how') movingWindow(s, n, 'how')
              add(s, k) timeFunction('name') — desugared by
              parse_target to the canonical operator above (one
              dispatch point; the analyzer/visitors/streaming see
              only canonical ASTs)
              filterSeries(s, 'max'|'min'|'sum'|'average'|'current',
              '>'|'>='|'<'|'<='|'='|'!=', t) — the six-op generic
              selector ('average' compares exact sum vs t·n;
              'current' is order-gated)
  dashboards  cactiStyle(s) — legend relabel with exact-2-decimal
              Current/Max/Min assembled from integer cents
              legendValue(s, 'avg'|'total'|'min'|'max'|'last', ...)
              — legend relabel 'metric (key: val)' per stat key, the
              cactiStyle rendering discipline ('avg' floors like
              summarize-avg; 'last' order-gated; all-NULL → 'nan')
              setXFilesFactor(s, pct) — whisper's xFilesFactor gate
              as a render annotation, consumed by the summarize
              DIRECTLY above it (enforced): a bucket survives only
              when count(known)·100 >= pct·h — propagate()'s
              known/expected >= xff as an exact integer
              cross-multiplication; gated buckets are DROPPED
              (the skip-the-write semantics); the subtree below
              must stay at the 1h seed grain (no grain-changing
              reducer — enforced)
              smartSummarize(s, h, 'how') — summarize aligned to the
              frame's own first interval (1-row broadcast bound)
              identity('name') — each slot's epoch seconds as the
              value (fuzz-excluded: epoch-magnitude cents would
              overflow a composed pow)

Scale shape: seeds and filters are scan-adjacent; per-series operators
ride ONE (metric)-partitioned window chain; ``sumSeries`` is the only
cross-series shuffle (per-interval partial aggregate).  An expression
tree of depth d costs at most d narrow stages + the aggregates it
names — no driver-side evaluation anywhere.

[ref: SURVEY.md §2C Graphite render functions — this is the
composition layer over the same semantics; the reference target
syntax is public Graphite documentation.]

Adding an operator (the five mandatory touch points — missing any
one produces a silent cross-engine or coverage gap):
  1. a case in ``build_frame``'s ``ev`` (Spark plan);
  2. the matching case in ``build_sql``'s ``ev`` (DuckDB oracle,
     identical arithmetic, operand for operand);
  3. ``analyze()`` properties — add to ``_ORDER_SENSITIVE`` if the
     result depends on intra-key row order, ``_FIXED_LABEL`` if the
     output label is static, or a bespoke branch if keys change;
  4. a generator arm in tests/test_render_fuzz.py (validity-aware);
  5. a row in docs/RENDER.md and this docstring's registry.
A stateless per-row op is written once, as a ``@_stateless`` function
(``_STATELESS_OPS``), instead of a case in ``ev`` for step 1: the
batch visitor and the streaming render (``streaming/render.py``) both
dispatch to it, so the op streams with no further edit.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import List, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_whisper_spark.operators.whisper_queries import (
    CENTS_SQL,
    HOUR,
    LWW_1H_CTE,
    PTS_CTE,
    _cents,
    _lww,
    _points,
)
from go_whisper_spark.session import session_memo
from go_whisper_spark.sources.tables import load_table


# ------------------------------------------------------------------ AST
@dataclass
class Call:
    name: str
    args: List["Node"]


@dataclass
class Glob:
    pattern: str


@dataclass
class Num:
    value: int


@dataclass
class Str:
    value: str


Node = Union[Call, Glob, Num, Str]


class RenderParseError(ValueError):
    pass


# `name` covers both function identifiers and bare series globs
# ("web.*.cpu") — the parser disambiguates: a name followed by "(" that
# is a plain identifier is a function call, anything else is a glob.
# A separate word/glob split would cut "web.*.cpu" at the first dot.
_TOKEN = re.compile(
    r"\s*(?:(?P<lparen>\()|(?P<rparen>\))|(?P<comma>,)"
    r"|(?P<str>'[^']*'|\"[^\"]*\")"
    r"|(?P<num>-?\d+(?![A-Za-z0-9_*?.\[\]-]))"
    r"|(?P<name>[A-Za-z0-9_*?.\[\]-]+))"
)

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def tokenize(text: str):
    pos, out = 0, []
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip() == "":
                break
            raise RenderParseError(f"bad token at {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        out.append((kind, m.group(kind)))
    return out


def parse_target(text: str) -> Node:
    """Recursive-descent parse of one render target expression."""
    toks = tokenize(text)
    i = 0

    def peek():
        return toks[i] if i < len(toks) else (None, None)

    def expr() -> Node:
        nonlocal i
        kind, val = peek()
        if kind is None:
            raise RenderParseError("unexpected end of target")
        if kind == "str":
            i += 1
            return Str(val[1:-1])
        if kind == "num":
            i += 1
            return Num(int(val))
        if kind == "name":
            i += 1
            nk, _ = peek()
            if _IDENT.match(val) and nk == "lparen":
                i += 1  # consume (
                args: List[Node] = []
                if peek()[0] != "rparen":
                    args.append(expr())
                    while peek()[0] == "comma":
                        i += 1
                        args.append(expr())
                if peek()[0] != "rparen":
                    raise RenderParseError(f"missing ) in {text!r}")
                i += 1
                return Call(val, args)
            # bare word/glob = a series glob, as in Graphite targets
            return Glob(val)
        raise RenderParseError(f"unexpected token {val!r}")

    node = expr()
    if i != len(toks):
        raise RenderParseError(f"trailing tokens in {text!r}: {toks[i:]}")
    return _desugar(node)


# Graphite's generic/method-string spellings desugar to the canonical
# operator the visitors implement — applied once by parse_target so
# every consumer (analyzer, both visitors, the streaming planner, the
# fuzz) sees the canonical AST and no dispatch logic is duplicated.
_AGG_REDUCER = {
    "sum": "sumSeries", "total": "sumSeries",
    "avg": "averageSeries", "average": "averageSeries",
    "max": "maxSeries", "min": "minSeries",
    "count": "countSeries",
    "range": "rangeOfSeries", "rangeOf": "rangeOfSeries",
    "stddev": "stddevSeries",
}
_HIGHEST = {"max": "highestMax", "average": "highestAverage",
            "avg": "highestAverage", "current": "highestCurrent"}
_LOWEST = {"average": "lowestAverage", "avg": "lowestAverage",
           "current": "lowestCurrent"}
_MOVING = {"sum": "movingSum", "average": "movingAverage",
           "avg": "movingAverage", "min": "movingMin",
           "max": "movingMax", "median": "movingMedian"}


def _desugar(node: Node) -> Node:
    """Bottom-up rewrite of the generic forms: ``aggregate(s, 'how')``
    → the named reducer ('median' → percentileOfSeries 50),
    ``highest``/``lowest``/``movingWindow`` dispatch on their method
    string, ``add`` == offset, ``timeFunction`` == identity."""
    if not isinstance(node, Call):
        return node
    args = [_desugar(a) for a in node.args]
    name = node.name
    if name == "aggregate":
        if len(args) != 2 or not isinstance(args[1], Str):
            raise RenderParseError("aggregate takes (series, 'method')")
        how = args[1].value
        if how == "median":
            return Call("percentileOfSeries", [args[0], Num(50)])
        target = _AGG_REDUCER.get(how)
        if target is None:
            raise RenderParseError(f"aggregate: unknown method {how!r}")
        return Call(target, [args[0]])
    if name in ("highest", "lowest"):
        table = _HIGHEST if name == "highest" else _LOWEST
        if (len(args) != 3 or not isinstance(args[1], Num)
                or not isinstance(args[2], Str)):
            raise RenderParseError(f"{name} takes (series, k, 'method')")
        target = table.get(args[2].value)
        if target is None:
            raise RenderParseError(
                f"{name}: unknown method {args[2].value!r}"
            )
        return Call(target, [args[0], args[1]])
    if name == "movingWindow":
        if (len(args) != 3 or not isinstance(args[1], Num)
                or not isinstance(args[2], Str)):
            raise RenderParseError("movingWindow takes (series, n, 'method')")
        target = _MOVING.get(args[2].value)
        if target is None:
            raise RenderParseError(
                f"movingWindow: unknown method {args[2].value!r}"
            )
        return Call(target, [args[0], args[1]])
    if name == "add":
        return Call("offset", args)
    if name == "timeFunction":
        return Call("identity", args)
    if name == "holtWintersConfidenceArea":
        # the shaded band IS the width between the two confidence
        # bounds — desugared to areaBetween over the two bands, so
        # the visitors see only canonical ops (and areaBetween's
        # one-uniquely-keyed-series contract is enforced there).
        if len(args) != 1:
            raise RenderParseError(
                "holtWintersConfidenceArea takes (series)")
        return Call("areaBetween", [
            Call("holtWintersConfidenceLower", [args[0]]),
            Call("holtWintersConfidenceUpper", [args[0]]),
        ])
    if name in ("sumSeriesLists", "diffSeriesLists",
                "multiplySeriesLists"):
        if len(args) != 2:
            raise RenderParseError(f"{name} takes (seriesA, seriesB)")
        how = {"sumSeriesLists": "sum", "diffSeriesLists": "diff",
               "multiplySeriesLists": "multiply"}[name]
        return Call("aggregateSeriesLists", [args[0], args[1], Str(how)])
    if name == "applyByNode":
        # aggregate templates ('sumSeries(%)' etc.) are groupByNode in
        # disguise — rewritten once here, so the visitors only see the
        # window-shaped templates (percent / divide-by-group-agg).
        if len(args) == 3 and isinstance(args[2], Str):
            kind = _parse_apply_template(args[2].value)
            if kind[0] == "agg":
                return Call("groupByNode", [args[0], args[1], Str(kind[1])])
        return Call(name, args)
    if name == "sortBy":
        # generic ordering spelling: normalize to the canonical 3-arg
        # form sortBy(s, 'func', reverse) — Graphite's defaults
        # ('average', False).
        if len(args) == 1:
            args = args + [Str("average"), Num(0)]
        elif len(args) == 2:
            args = args + [Num(0)]
        if (len(args) != 3 or not isinstance(args[1], Str)
                or not isinstance(args[2], Num)
                or args[2].value not in (0, 1)):
            raise RenderParseError(
                "sortBy takes (series[, 'func'[, reverse 0|1]])"
            )
        return Call(name, args)
    if name == "aggregateWithWildcards":
        if (len(args) != 3 or not isinstance(args[1], Str)
                or not isinstance(args[2], Num)):
            raise RenderParseError(
                "aggregateWithWildcards takes (series, 'method', position)"
            )
        target = {
            "sum": "sumSeriesWithWildcards",
            "average": "averageSeriesWithWildcards",
            "avg": "averageSeriesWithWildcards",
            "max": "maxSeriesWithWildcards",
            "min": "minSeriesWithWildcards",
            "multiply": "multiplySeriesWithWildcards",
        }.get(args[1].value)
        if target is None:
            raise RenderParseError(
                f"aggregateWithWildcards: unknown method {args[1].value!r}"
            )
        return Call(target, [args[0], args[2]])
    return Call(name, args)


# applyByNode template subset: the reducers map to groupByNode's
# method strings; anything outside the grammar below is rejected with
# the supported shapes spelled out (full Graphite re-evaluates an
# arbitrary target per node prefix — a driver-side loop; these three
# shapes cover the dashboard uses and stay ONE window).
_APPLY_AGG = {"sumSeries": "sum", "averageSeries": "avg",
              "maxSeries": "max", "minSeries": "min"}


def _timestack_shift(arg) -> int:
    """timeStack's shift argument: an integer (DAYS — the original
    spelling) or a Graphite unit string '<n>h'/'<n>d' (the round-15
    generalization to sub-day stacking).  Returns SECONDS; both
    visitors call this one parser so the engines cannot drift."""
    if isinstance(arg, Num):
        if arg.value < 1:
            raise RenderParseError("timeStack needs d >= 1")
        return 86400 * arg.value
    if isinstance(arg, Str):
        m = re.fullmatch(r"(\d+)([hd])", arg.value)
        if not m or int(m.group(1)) < 1:
            raise RenderParseError(
                "timeStack unit must be '<n>h' or '<n>d' with n >= 1"
            )
        return int(m.group(1)) * (3600 if m.group(2) == "h" else 86400)
    raise RenderParseError("timeStack shift must be a number or unit string")


def _parse_apply_template(tpl: str):
    """Parse an applyByNode template: ``f(%)`` (reducer → ('agg',
    how)), ``asPercent(%)`` / ``asPercent(%, sumSeries(%))`` →
    ('percent',), ``divideSeries(%, f(%))`` → ('divide', how)."""
    try:
        t = parse_target(tpl.replace("%", "__pct__"))
    except RenderParseError as exc:
        raise RenderParseError(f"applyByNode: bad template {tpl!r}: {exc}")

    def is_pct(x) -> bool:
        return isinstance(x, Glob) and x.pattern == "__pct__"

    if (isinstance(t, Call) and t.name in _APPLY_AGG
            and len(t.args) == 1 and is_pct(t.args[0])):
        return ("agg", _APPLY_AGG[t.name])
    if isinstance(t, Call) and t.name == "asPercent":
        if len(t.args) == 1 and is_pct(t.args[0]):
            return ("percent",)
        if (len(t.args) == 2 and is_pct(t.args[0])
                and isinstance(t.args[1], Call)
                and t.args[1].name == "sumSeries"
                and len(t.args[1].args) == 1 and is_pct(t.args[1].args[0])):
            return ("percent",)
    if (isinstance(t, Call) and t.name == "divideSeries"
            and len(t.args) == 2 and is_pct(t.args[0])
            and isinstance(t.args[1], Call)
            and t.args[1].name in _APPLY_AGG
            and len(t.args[1].args) == 1 and is_pct(t.args[1].args[0])):
        return ("divide", _APPLY_AGG[t.args[1].name])
    raise RenderParseError(
        f"applyByNode: unsupported template {tpl!r} — supported: "
        "'f(%)' for f in sumSeries/averageSeries/maxSeries/minSeries, "
        "'asPercent(%)', 'asPercent(%, sumSeries(%))', "
        "'divideSeries(%, f(%))'"
    )


def glob_to_regex(pattern: str) -> str:
    """Graphite glob → anchored regex, restricted to syntax that means
    the same thing in Java regex and DuckDB's RE2: ``*`` → ``[^.]*``,
    ``?`` → ``.``, ``[abc]``/``[a-z]``/``[!abc]`` → a character class
    (``!`` → ``^``, fnmatch-style; classes interpret identically in
    both engines), everything else escaped.  An unterminated ``[`` is
    a literal bracket."""
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            out.append("[^.]*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append("\\[")
            else:
                inner = pattern[i + 1:j]
                if inner.startswith("!"):
                    inner = "^" + inner[1:]
                out.append("[" + inner.replace("\\", "\\\\") + "]")
                i = j
        elif ch in ".[]()\\^$+{}|":
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    return "^" + "".join(out) + "$"


# ------------------------------------------------------ static analysis
# Per-metric window operators (lag / rolling frames / running totals)
# are order-ambiguous when the input frame can carry duplicate
# (metric, interval) rows — group() with same-labeled branches or
# alias() over a multi-series input legitimately produces them, and
# lag/last tie ordering is nondeterministic in BOTH engines (ADVICE
# r10).  Rather than suffix-renaming union branches (which would
# change user-visible labels), the layer statically tracks two
# properties per AST node and REJECTS the ambiguous compositions in
# both visitors identically:
#
#   single — provably at most one distinct metric label;
#   unique — provably unique (metric, interval) keys.
#
# aliasSub is treated as key-preserving: the rewrite is injective on
# any label set whose members differ outside the matched span (true
# for every registered/fuzzed pattern); a colliding rewrite would need
# two live labels mapping to the same string, which the layer does not
# attempt to prove.  Documented, not hidden.

# Window/arg_max ops whose result depends on slot ORDER within a
# (metric, interval) key — these require `unique` inputs.
_ORDER_SENSITIVE = frozenset({
    "derivative", "nonNegativeDerivative", "movingSum", "movingAverage",
    "movingMin", "movingMax", "keepLastValue", "integral",
    "integralByInterval", "perSecond", "delay", "changed",
    "currentAbove", "currentBelow", "holtWintersForecast",
    "holtWintersConfidenceUpper", "holtWintersConfidenceLower",
    "holtWintersAberration", "highestCurrent", "lowestCurrent",
    "stdev", "movingMedian", "interpolate", "exponentialMovingAverage",
    "stacked",
})

# Static label, when provable: aggregate reducers and alias pin it.
_FIXED_LABEL = {
    "sumSeries": "sumSeries",
    "averageSeries": "averageSeries",
    "countSeries": "countSeries",
    "minSeries": "minSeries",
    "maxSeries": "maxSeries",
    "rangeOfSeries": "rangeOfSeries",
    "stddevSeries": "stddevSeries",
    "percentileOfSeries": "percentileOfSeries",
}


# tag filter: key, operator, value — Graphite's four tag-filter ops.
_TAG_FILTER = re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*)(=~|!=~|!=|=)(.+)$"
)


def _parse_tag_filter(text: str):
    m = _TAG_FILTER.match(text)
    if not m:
        raise RenderParseError(f"bad tag filter {text!r}")
    return m.group(1), m.group(2), m.group(3)


def analyze(node: Node):
    """Bottom-up (single, unique, label) for a parsed target.

    ``label`` is the one static metric label the node provably emits,
    or None when the label set is data-dependent.  Raises
    RenderParseError for order-ambiguous compositions (window op over
    a possibly-duplicate-keyed frame) and for binary combiners whose
    right side is not provably one uniquely-keyed series.
    """
    if isinstance(node, (Glob, Str)):
        return (False, True, None)
    if not isinstance(node, Call):
        raise RenderParseError(f"series expression expected, got {node}")
    name = node.name
    if name == "seriesByGlob":
        return (False, True, None)
    if name in ("constantLine", "threshold"):
        # data-free generators over the interval spine — one series.
        return (True, True, name)
    if name == "verticalLine":
        # marker generator: ONE row (or zero when the offset lands
        # outside the spine) under its own label.
        if (not node.args or not isinstance(node.args[0], Num)
                or (len(node.args) > 1
                    and not isinstance(node.args[1], Str))
                or len(node.args) > 2):
            raise RenderParseError(
                "verticalLine takes (offset_hours[, 'label'])")
        lbl = (node.args[1].value if len(node.args) > 1
               else "verticalLine")
        return (True, True, lbl)
    if name in ("randomWalk", "identity"):
        # data-free generators — one series under their own label.
        lbl = node.args[0].value if node.args else None
        return (True, True, lbl)
    if name == "seriesByTag":
        # tagged-universe seed: unique per (path, interval).
        for a in node.args:
            if isinstance(a, Str):
                _parse_tag_filter(a.value)
        return (False, True, None)
    if name == "group":
        parts = [analyze(a) for a in node.args]
        labels = [p[2] for p in parts]
        disjoint = (
            all(lb is not None for lb in labels)
            and len(set(labels)) == len(labels)
        )
        unique = all(p[1] for p in parts) and disjoint
        return (False, unique, None)
    if name == "asPercent" and len(node.args) == 1:
        # percent-of-per-interval-total: keys preserved; the relabel
        # metric → 'asPercent(metric)' is injective (fixed wrapper).
        cs, cu, cl = analyze(node.args[0])
        return (cs, cu, f"asPercent({cl})" if cl is not None else None)
    if name == "divideSeriesLists":
        # rank-paired pairwise division: both sides must be
        # uniquely-keyed for the sorted-label pairing to be
        # deterministic; a's labels survive (injectively wrapped).
        if len(node.args) != 2:
            raise RenderParseError("divideSeriesLists takes 2 series")
        ls, lu, ll = analyze(node.args[0])
        rs, ru, _ = analyze(node.args[1])
        if not (lu and ru):
            raise RenderParseError(
                "divideSeriesLists: both sides must carry unique "
                "(metric, interval) keys for deterministic pairing"
            )
        return (ls, lu, f"divideSeriesLists({ll})" if ll is not None
                else None)
    if name == "aggregateSeriesLists":
        # same pairing contract as divideSeriesLists: sorted-label
        # ranks are only deterministic over uniquely-keyed sides.
        if (len(node.args) != 3 or not isinstance(node.args[2], Str)
                or node.args[2].value not in ("sum", "diff", "multiply")):
            raise RenderParseError(
                "aggregateSeriesLists takes (seriesA, seriesB, "
                "'sum'|'diff'|'multiply')"
            )
        ls, lu, ll = analyze(node.args[0])
        rs, ru, _ = analyze(node.args[1])
        if not (lu and ru):
            raise RenderParseError(
                "aggregateSeriesLists: both sides must carry unique "
                "(metric, interval) keys for deterministic pairing"
            )
        wrap = {"sum": "sumSeriesLists", "diff": "diffSeriesLists",
                "multiply": "multiplySeriesLists"}[node.args[2].value]
        return (ls, lu, f"{wrap}({ll})" if ll is not None else None)
    if name == "unique":
        # first-occurrence dedup: per metric exactly one arg's rows
        # survive, so uniqueness is inherited from the branches.
        if not node.args:
            raise RenderParseError("unique takes 1+ series lists")
        parts = [analyze(a) for a in node.args]
        return (False, all(p[1] for p in parts), None)
    if name == "applyByNode":
        # grouped window aggregates over (node, interval) are
        # order-free; keys preserved, label wrapped injectively
        # ('agg' templates were desugared to groupByNode already).
        if (len(node.args) != 3 or not isinstance(node.args[1], Num)
                or not isinstance(node.args[2], Str)):
            raise RenderParseError(
                "applyByNode takes (series, node, 'template')")
        kind = _parse_apply_template(node.args[2].value)
        cs, cu, cl = analyze(node.args[0])
        wrapname = "asPercent" if kind[0] == "percent" else "divideSeries"
        return (cs, cu, f"{wrapname}({cl})" if cl is not None else None)
    if name in ("diffSeries", "divideSeries", "asPercent",
                "multiplySeries"):
        ls, lu, ll = analyze(node.args[0])
        rs, ru, _ = analyze(node.args[1])
        if not (rs and ru):
            raise RenderParseError(
                f"{name}: right side must be ONE uniquely-keyed series — "
                "reduce it with sumSeries/averageSeries first"
            )
        lbl = f"{name}({ll})" if ll is not None else None
        return (ls, lu, lbl)
    if name == "areaBetween":
        # band width between exactly two series: BOTH sides must be
        # one uniquely-keyed series (the band is pairwise by
        # definition, not list-broadcast).
        if len(node.args) != 2:
            raise RenderParseError("areaBetween takes 2 series")
        ls, lu, ll = analyze(node.args[0])
        rs, ru, _ = analyze(node.args[1])
        if not (ls and lu and rs and ru):
            raise RenderParseError(
                "areaBetween: both sides must be ONE uniquely-keyed "
                "series — reduce with sumSeries/averageSeries first"
            )
        return (True, lu, f"areaBetween({ll})" if ll is not None else None)
    if name == "fallbackSeries":
        # which side survives is data-dependent: properties only
        # when BOTH sides guarantee them; label only when both sides
        # provably carry the same one.
        ls, lu, ll = analyze(node.args[0])
        rs, ru, rl = analyze(node.args[1])
        lbl = ll if (ll is not None and ll == rl) else None
        return (ls and rs, lu and ru, lbl)
    if name == "weightedAverage":
        # both sides are series args; the node-pairing contract
        # (labels pair 1:1 after node extraction) is data-dependent
        # and documented, not proven.  Output is one fixed-label
        # series.
        analyze(node.args[0])
        analyze(node.args[1])
        return (True, True, "weightedAverage")
    # every remaining operator transforms args[0]
    child = node.args[0] if node.args else None
    if child is None:
        raise RenderParseError(f"{name} needs a series argument")
    cs, cu, cl = analyze(child)
    if name in _ORDER_SENSITIVE and not cu:
        raise RenderParseError(
            f"{name} over a frame that can carry duplicate "
            "(metric, interval) keys — reduce with sumSeries/alias a "
            "single series, or keep group() branches label-disjoint"
        )
    if name == "alias":
        return (True, cs and cu, node.args[1].value)
    if name in _FIXED_LABEL:
        return (True, True, _FIXED_LABEL[name])
    if name in ("groupByNode", "groupByNodes", "sumSeriesWithWildcards",
                "averageSeriesWithWildcards", "maxSeriesWithWildcards",
                "minSeriesWithWildcards", "multiplySeriesWithWildcards",
                "groupByTags"):
        # relabel + aggregate: keys unique per (new label, interval),
        # label set data-dependent.
        return (False, True, None)
    if name == "aliasByTags":
        # distinct paths can share tag values → duplicates unless the
        # input is provably one series (the aliasByNode rule).
        return (cs, cs and cu, None)
    if name == "hitcount":
        # summarize-sum at a coarser grain: buckets are unique.
        return (cs, True, cl)
    if name == "substr":
        # node-range relabel: distinct labels can collapse.
        return (cs, cs and cu, None)
    if name == "useSeriesAbove":
        # selection + regex rename: the aliasSub injectivity caveat.
        return (cs, cu, None)
    if name == "timeStack":
        # day-shifted copies under distinct '.s<k>' suffixes: unique
        # keys survive, the label set is data-dependent, and more
        # than one copy means more than one series.
        return (False, cu, None)
    if name in ("summarize", "smartSummarize"):
        how = node.args[2].value if len(node.args) == 3 else None
        if how == "last" and not cu:
            raise RenderParseError(
                f"{name}(...'last') over a possibly-duplicate-keyed "
                "frame is order-ambiguous — reduce first"
            )
        return (cs, True, cl)
    if name == "filterSeries":
        # generic selector: only the 'current' key (arg_max on
        # interval) is order-sensitive.
        func = (node.args[1].value
                if len(node.args) > 1 and isinstance(node.args[1], Str)
                else None)
        if func == "current" and not cu:
            raise RenderParseError(
                "filterSeries(...'current'...) over a possibly-"
                "duplicate-keyed frame is order-ambiguous — reduce first"
            )
        return (cs, cu, cl)
    if name == "cactiStyle":
        # Current = arg_max on interval → order-sensitive; the legend
        # relabel carries the aliasSub injectivity caveat.
        if not cu:
            raise RenderParseError(
                "cactiStyle over a possibly-duplicate-keyed frame is "
                "order-ambiguous — reduce first"
            )
        return (cs, cu, None)
    if name == "legendValue":
        # same discipline as cactiStyle: only the 'last' key is
        # order-sensitive, and the relabel carries the injectivity
        # caveat.
        keys = [a.value for a in node.args[1:] if isinstance(a, Str)]
        if "last" in keys and not cu:
            raise RenderParseError(
                "legendValue(...'last') over a possibly-duplicate-"
                "keyed frame is order-ambiguous — reduce first"
            )
        return (cs, cu, None)
    if name == "sortBy":
        # ordering-only (root-only): key-preserving; only the
        # 'current' key (arg_max on interval) is order-sensitive.
        func = (node.args[1].value
                if len(node.args) > 1 and isinstance(node.args[1], Str)
                else None)
        if func == "current" and not cu:
            raise RenderParseError(
                "sortBy(...'current'...) over a possibly-duplicate-"
                "keyed frame is order-ambiguous — reduce first"
            )
        return (cs, cu, cl)
    if name == "setXFilesFactor":
        # pass-through annotation — placement is enforced by
        # _check_xff_placement (direct child of summarize only).
        return (cs, cu, cl)
    if name == "aliasSub":
        return (cs, cu, None)
    if name in ("aliasByNode", "aliasByMetric"):
        # distinct labels can share a node → duplicates unless the
        # input is provably one series.
        return (cs, cs and cu, None)
    # value maps, filters, selectors, timeShift: key-preserving
    return (cs, cu, cl)


# Ordering-only ops surface their result as the extra series_rank
# column, which no other operator consumes — so they are ROOT-ONLY.
_ROOT_ONLY = frozenset({"sortByTotal", "sortByMaxima", "sortByName",
                        "sortByMinima", "sortBy"})


def _check_root_only(node: Node, is_root: bool = True) -> None:
    if isinstance(node, Call):
        if node.name in _ROOT_ONLY and not is_root:
            raise RenderParseError(
                f"{node.name} is ordering-only — it emits the "
                "series_rank column and must be the outermost operator"
            )
        for a in node.args:
            _check_root_only(a, False)


# Bucket-grain-changing reducers: a setXFilesFactor subtree must not
# contain one (the xff gate's expected-slot count assumes the 1h seed
# grain, the whisper propagate contract).
_GRAIN_CHANGERS = frozenset({"summarize", "smartSummarize", "hitcount"})


def _contains_grain_changer(node: Node) -> bool:
    if isinstance(node, Call):
        if node.name in _GRAIN_CHANGERS:
            return True
        return any(_contains_grain_changer(a) for a in node.args)
    return False


def _check_xff_placement(node: Node, ok_here: bool = False) -> None:
    """``setXFilesFactor`` is an annotation consumed by the summarize
    directly above it (the whisper xFilesFactor gate) — anywhere else
    it has no consumer and is rejected; its subtree must stay at the
    1h seed grain so the expected-slot count (h per bucket) is
    honest."""
    if not isinstance(node, Call):
        return
    if node.name == "setXFilesFactor":
        if not ok_here:
            raise RenderParseError(
                "setXFilesFactor is only meaningful as the direct "
                "series argument of summarize"
            )
        if (len(node.args) != 2 or not isinstance(node.args[1], Num)
                or not 0 <= node.args[1].value <= 100):
            raise RenderParseError(
                "setXFilesFactor takes (series, percent 0..100)"
            )
        if _contains_grain_changer(node.args[0]):
            raise RenderParseError(
                "setXFilesFactor below a grain-changing reducer "
                "(summarize/smartSummarize/hitcount) — the expected-"
                "slot count assumes the 1h seed grain"
            )
        _check_xff_placement(node.args[0], False)
        return
    for i, a in enumerate(node.args):
        _check_xff_placement(a, ok_here=(node.name == "summarize" and i == 0))


def validate_target(node: Node) -> Node:
    _check_root_only(node)
    _check_xff_placement(node)
    analyze(node)
    return node


# ----------------------------------------------------------- evaluators
def _need(node: Call, n: int, kinds) -> None:
    if len(node.args) != n:
        raise RenderParseError(f"{node.name} takes {n} args, got {len(node.args)}")
    for a, k in zip(node.args, kinds):
        if not isinstance(a, k):
            raise RenderParseError(
                f"{node.name}: expected {k.__name__}, got {type(a).__name__}"
            )


def _tag_col(key: str):
    # 'name' is the pseudo-tag (the path before the first ';'); real
    # tags parse from the encoded path — the g_tag_select /
    # g_tag_group primitives, so any parse drift diverges there first.
    if key == "name":
        return F.substring_index("metric", ";", 1)
    return F.regexp_extract("metric", f";{key}=([^;]+)", 1)


def _series_by_tag(n: Call, universe) -> DataFrame:
    """seriesByTag: the tagged universe ``universe()`` filtered by 1+
    tag predicates, each evaluated on the PARSED path (predicates
    compose as AND — Graphite's seriesByTag contract)."""
    if not n.args or not all(isinstance(a, Str) for a in n.args):
        raise RenderParseError("seriesByTag takes 1+ quoted tag filters")
    out = universe()
    for a in n.args:
        key, op, val = _parse_tag_filter(a.value)
        c = _tag_col(key)
        if op == "=":
            out = out.where(c == val)
        elif op == "!=":
            out = out.where(c != val)
        elif op == "=~":
            out = out.where(c.rlike(val))
        else:  # '!=~'
            out = out.where(~c.rlike(val))
    return out


def _node_col(i: int):
    # the i-th dot node of the label; F.get (not getItem): out-of-range
    # → NULL under ANSI mode, coalesced to '' to match DuckDB's
    # split_part('').
    return F.coalesce(F.get(F.split("metric", "[.]"), i), F.lit(""))


def _cents_agg(how: str, op: str, w=None):
    """The cents aggregate of method ``how`` (over window ``w`` when
    given): sum / max / min, 'last' = the value at the max interval
    (max_by, unique per (metric, interval)), 'avg' floored to exact
    cents.  Callers whose groups have no row order reject 'last'
    before calling."""

    def over(c):
        return c if w is None else c.over(w)

    if how == "sum":
        return over(F.sum("cents"))
    if how == "max":
        return over(F.max("cents"))
    if how == "min":
        return over(F.min("cents"))
    if how == "last":
        return over(F.max_by("cents", "interval"))
    if how == "avg":
        return F.floor(
            over(F.sum("cents")).cast("double") / over(F.count("cents"))
        ).cast("long")
    raise RenderParseError(f"{op}: unknown method {how!r}")


def _one_level(n: Call):
    """(relabel, cents aggregate, bucket hours) of the one-level
    reducers: summarize / hitcount aggregate each series into h-hour
    epoch buckets (relabel None); groupByNode / groupByTags aggregate
    the series sharing a relabel per interval (hours None).  The batch
    visitor groups by (metric, bucket | interval); the streaming
    render runs the same level as a watermarked tumbling window."""
    name = n.name
    if name in ("summarize", "hitcount"):
        if name == "summarize":
            _need(n, 3, (object, Num, Str))
        else:
            _need(n, 2, (object, Num))
        h = n.args[1].value
        if h < 1:
            raise RenderParseError(f"{name} bucket must be >= 1 hour")
        if name == "hitcount":
            # per-rate × slot-width summed over the bucket —
            # Σ(cents·3600), exact integers end to end; an all-NULL
            # bucket stays NULL (empty sum is NULL in both engines).
            return None, F.sum("cents") * 3600, h
        return None, _cents_agg(n.args[2].value, name), h
    if name == "groupByNode":
        # series sharing the i-th dot-node of their label — the
        # wildcard-reducer family as one op.
        _need(n, 3, (object, Num, Str))
        i = n.args[1].value
        if i < 0:
            raise RenderParseError("groupByNode index must be >= 0")
        how, lab = n.args[2].value, _node_col(i)
    else:
        # groupByTags: series sharing a tag value, labeled
        # name;tag=value (the g_tag_group shape as a composable op).
        _need(n, 3, (object, Str, Str))
        how, key = n.args[1].value, n.args[2].value
        if key == "name":
            raise RenderParseError(
                "groupByTags: group by a real tag, not 'name'"
            )
        lab = F.concat(
            F.substring_index("metric", ";", 1),
            F.lit(";" + key + "="),
            _tag_col(key),
        )
    if how == "last":
        raise RenderParseError(f"{name}: unknown method {how!r}")
    return lab, _cents_agg(how, name), None


# Stateless per-row operators: one definition each, shared by the
# batch visitor and the streaming render (streaming/render.py).
# ``op(n, ev)`` checks the node's arguments, then maps ``ev(n.args[0])``
# — ``ev`` is the calling visitor.
_STATELESS_OPS: dict = {}


def _stateless(*names):
    def register(fn):
        for nm in names:
            _STATELESS_OPS[nm] = fn
        return fn

    return register


@_stateless("scale")
def _scale(n: Call, ev) -> DataFrame:
    _need(n, 2, (object, Num))
    return ev(n.args[0]).withColumn("cents", F.col("cents") * n.args[1].value)


@_stateless("offset")
def _offset(n: Call, ev) -> DataFrame:
    _need(n, 2, (object, Num))
    return ev(n.args[0]).withColumn(
        "cents", F.col("cents") + 100 * n.args[1].value
    )


@_stateless("absolute")
def _absolute(n: Call, ev) -> DataFrame:
    _need(n, 1, (object,))
    return ev(n.args[0]).withColumn("cents", F.abs("cents"))


@_stateless("transformNull")
def _transform_null(n: Call, ev) -> DataFrame:
    _need(n, 2, (object, Num))
    return ev(n.args[0]).withColumn(
        "cents",
        F.coalesce(F.col("cents"), F.lit(100 * n.args[1].value)),
    )


@_stateless("invert")
def _invert(n: Call, ev) -> DataFrame:
    # cent-exact 1/x: floor(10000/cents), NULL at zero.
    _need(n, 1, (object,))
    return ev(n.args[0]).withColumn(
        "cents",
        F.when(
            F.col("cents") != 0,
            F.floor(F.lit(10000) / F.col("cents")),
        ).cast("long"),
    )


@_stateless("pow")
def _pow(n: Call, ev) -> DataFrame:
    # value^n cent-exact: floor(cents^n / 100^(n-1)); n bounded so the
    # integer power stays inside double's exact range (|cents| <= ~5e4
    # → cents^3 <= 1.25e14).
    _need(n, 2, (object, Num))
    p = n.args[1].value
    if not 1 <= p <= 3:
        raise RenderParseError("pow exponent must be in 1..3")
    num = F.col("cents")
    for _ in range(p - 1):
        num = num * F.col("cents")
    return ev(n.args[0]).withColumn(
        "cents",
        F.floor(num / F.lit(100 ** (p - 1))).cast("long"),
    )


@_stateless("squareRoot")
def _square_root(n: Call, ev) -> DataFrame:
    # floor(10·sqrt(cents)) — sqrt is IEEE correctly rounded (identical
    # doubles in both engines, unlike exp/log); negative slots go NULL.
    _need(n, 1, (object,))
    return ev(n.args[0]).withColumn(
        "cents",
        F.when(
            F.col("cents") >= 0,
            F.floor(F.lit(10.0) * F.sqrt(F.col("cents"))),
        ).cast("long"),
    )


@_stateless("removeAboveValue", "removeBelowValue")
def _remove_value(n: Call, ev) -> DataFrame:
    # Graphite semantics: offending slots go None (keys — and the
    # `unique` property — are preserved).
    _need(n, 2, (object, Num))
    t = 100 * n.args[1].value
    keep = (F.col("cents") <= t) if n.name == "removeAboveValue" else (
        F.col("cents") >= t)
    return ev(n.args[0]).withColumn("cents", F.when(keep, F.col("cents")))


@_stateless("grep", "exclude")
def _grep(n: Call, ev) -> DataFrame:
    _need(n, 2, (object, Str))
    hit = F.col("metric").rlike(n.args[1].value)
    return ev(n.args[0]).where(hit if n.name == "grep" else ~hit)


@_stateless("alias")
def _alias(n: Call, ev) -> DataFrame:
    _need(n, 2, (object, Str))
    return ev(n.args[0]).withColumn("metric", F.lit(n.args[1].value))


@_stateless("aliasSub")
def _alias_sub(n: Call, ev) -> DataFrame:
    _need(n, 3, (object, Str, Str))
    return ev(n.args[0]).withColumn(
        "metric",
        F.regexp_replace("metric", n.args[1].value, n.args[2].value),
    )


@_stateless("aliasByNode")
def _alias_by_node(n: Call, ev) -> DataFrame:
    # rename each series to the named dot-nodes of its label joined by
    # '.' (missing node → '', both engines) — the hierarchy-flatten
    # rename, multi-index like public Graphite's aliasByNode(s, 1, 3);
    # collapsing labels is tracked by analyze().
    if len(n.args) < 2 or not all(isinstance(a, Num) for a in n.args[1:]):
        raise RenderParseError("aliasByNode takes (series, i[, j, ...])")
    idxs = [a.value for a in n.args[1:]]
    if any(i < 0 for i in idxs):
        raise RenderParseError("aliasByNode index must be >= 0")
    parts = [_node_col(i) for i in idxs]
    return ev(n.args[0]).withColumn(
        "metric",
        parts[0] if len(parts) == 1 else F.concat_ws(".", *parts),
    )


@_stateless("isNonNull")
def _is_non_null(n: Call, ev) -> DataFrame:
    # 1 where the slot is known, 0 where it is None — in cents: 100 / 0.
    _need(n, 1, (object,))
    return ev(n.args[0]).withColumn(
        "cents",
        F.when(F.col("cents").isNotNull(), F.lit(100))
        .otherwise(F.lit(0)).cast("long"),
    )


@_stateless("scaleToSeconds")
def _scale_to_seconds(n: Call, ev) -> DataFrame:
    # value · k / step at the 1h archive (step = 3600s): floored cents,
    # NULL propagates.  Both engines floor the same correctly-rounded
    # double quotient.
    _need(n, 2, (object, Num))
    return ev(n.args[0]).withColumn(
        "cents",
        F.floor(
            (F.col("cents") * n.args[1].value).cast("double") / 3600
        ).cast("long"),
    )


@_stateless("substr")
def _substr(n: Call, ev) -> DataFrame:
    # keep dot nodes [i, j) of the label — narrow relabel (distinct
    # labels can collapse; tracked by analyze()).
    _need(n, 3, (object, Num, Num))
    i, j2 = n.args[1].value, n.args[2].value
    if not 0 <= i < j2:
        raise RenderParseError("substr needs 0 <= start < stop")
    parts = F.split("metric", "[.]")
    return ev(n.args[0]).withColumn(
        "metric",
        F.concat_ws(".", F.slice(parts, i + 1, j2 - i)),
    )


@_stateless("roundTo")
def _round_to(n: Call, ev) -> DataFrame:
    # round to k decimals ON THE TRUE DECIMAL VALUE: integer half-UP at
    # the 10^(2-k)-cent grid (float round() is a cross-engine trap —
    # the g_round_to discipline; floor division is toward -inf in both
    # engines, so half-up is identical for negatives too).  k=2 is the
    # identity.
    _need(n, 2, (object, Num))
    kd = n.args[1].value
    if not 0 <= kd <= 2:
        raise RenderParseError("roundTo decimals must be in 0..2")
    d = 10 ** (2 - kd)
    h = d // 2
    return ev(n.args[0]).withColumn(
        "cents",
        (F.floor((F.col("cents") + h).cast("double") / d) * d).cast("long"),
    )


def _pair_lists(a: DataFrame, b: DataFrame) -> DataFrame:
    """Pair two series lists by SORTED label rank — the deterministic
    analog of Graphite's positional pairing, ranks computed on the
    O(n_metrics) distinct-labels relation — and slot: (metric, rnk,
    interval, a_c) left-joined to b's (b_rnk, b_iv, b_c), so an
    unmatched rank or slot keeps a's row with NULL b_c."""

    def ranked(df):
        rnk = df.select("metric").distinct().select(
            "metric",
            F.row_number().over(Window.orderBy("metric")).alias("rnk"),
        )
        return df.join(rnk, "metric")

    ra = ranked(a).select(
        "metric", "rnk", "interval", F.col("cents").alias("a_c")
    )
    rb = ranked(b).select(
        F.col("rnk").alias("b_rnk"),
        F.col("interval").alias("b_iv"),
        F.col("cents").alias("b_c"),
    )
    return ra.join(
        rb,
        (F.col("rnk") == F.col("b_rnk")) & (F.col("interval") == F.col("b_iv")),
        "left",
    )


def _value_col():
    # the single final cents → value projection
    return (F.col("cents").cast("double") / F.lit(100.0)).alias("value")


def _lww1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1h last-writer-wins series every untagged seed reads."""
    return _lww(_points(spark, sf_dir), HOUR)


def _tagged_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as TAGGED whisper points: path = name;dc=..;host=.."""
    ev = load_table(spark, sf_dir, "events")
    path = F.concat(
        F.col("event_type"),
        F.lit(";dc=dc"), (F.col("user_id") % 3).cast("string"),
        F.lit(";host=h"), (F.col("user_id") % 10).cast("string"),
    )
    return ev.select(
        path.alias("metric"),
        F.col("ts_sec").alias("ts"),
        F.col("value"),
        F.col("event_id").alias("write_seq"),
    )


def _cents_str(c):
    """Exact decimal rendering of an integer-cents column ("12.30",
    "-0.05") — pure integer arithmetic + string ops, so the legend
    strings are bit-identical cross-engine (printf `%.2f` of a
    near-boundary double is NOT — Java and C round the unrepresentable
    2-decimal doubles differently)."""
    a = F.abs(c)
    return F.concat(
        F.when(c < 0, F.lit("-")).otherwise(F.lit("")),
        F.floor(a / F.lit(100)).cast("long").cast("string"),
        F.lit("."),
        F.lpad((a % 100).cast("string"), 2, "0"),
    )


# Per-process memo of BUILT render DataFrames, in two entry kinds:
# ``(corpus, target)`` → the rendered target (``render``), and
# ``("seed", corpus, tagged)`` → the 1h LWW cents frame every untagged
# or tagged seed filters (``_seed_frame``; a 3-tuple, so it cannot
# collide with a target entry).  Building is the cost being saved: a
# composed target's construction (parse, a few hundred py4j
# column/window calls, Catalyst's eager analysis of the depth-6
# chains) measured 0.6-3.5 s on the deep targets, and a seed's base
# rebuilt the LWW plan and read the table's footer each time.  Both kinds assume a corpus path is
# not rewritten within a session: the built plan is then a pure
# function of (session, corpus, target).  DataFrames are immutable
# plans, not results: every action on a memoized frame still scans
# the parquet inputs and computes from scratch.
_RENDER_FRAME_CACHE: dict = {}


def _seed_frame(spark: SparkSession, sf_dir: str, tagged: bool) -> DataFrame:
    """The (metric, interval, cents) 1h LWW frame of ``sf_dir``'s
    untagged or tagged universe, built once per (session, corpus)."""

    def build() -> DataFrame:
        lww = _lww(_tagged_points(spark, sf_dir), HOUR) if tagged else _lww1h(spark, sf_dir)
        return lww.select("metric", "interval", _cents().alias("cents"))

    return session_memo(_RENDER_FRAME_CACHE, spark, ("seed", sf_dir, tagged), build)


def build_frame(spark: SparkSession, sf_dir: str, node: Node) -> DataFrame:
    """AST → composed DataFrame of (metric, interval, cents).  A glob
    seed is the corpus's memoized seed frame plus its ``rlike`` filter."""

    def seed(pattern: str) -> DataFrame:
        return _seed_frame(spark, sf_dir, False).where(
            F.col("metric").rlike(glob_to_regex(pattern))
        )

    w = Window.partitionBy("metric").orderBy("interval")

    def ev(n: Node) -> DataFrame:
        if isinstance(n, Glob):
            return seed(n.pattern)
        if isinstance(n, Str):
            return seed(n.value)
        if not isinstance(n, Call):
            raise RenderParseError(f"series expression expected, got {n}")
        name = n.name
        if name == "seriesByGlob":
            _need(n, 1, (Str,))
            return seed(n.args[0].value)
        if name == "seriesByTag":
            return _series_by_tag(n, lambda: _seed_frame(spark, sf_dir, True))
        op = _STATELESS_OPS.get(name)
        if op is not None:
            return op(n, ev)
        if name in ("groupByNode", "groupByTags"):
            # aggregate the series sharing a relabel per interval —
            # see _one_level.
            lab, agg, _ = _one_level(n)
            return (
                ev(n.args[0])
                .withColumn("metric", lab)
                .groupBy("metric", "interval")
                .agg(agg.alias("cents"))
            )
        if name == "aliasByTags":
            # rename to the tag values joined by '.' ('name' allowed
            # as a pseudo-tag) — the aliasByNode analog for tagged
            # paths.
            if len(n.args) < 2 or not all(
                isinstance(a, Str) for a in n.args[1:]
            ):
                raise RenderParseError(
                    "aliasByTags takes a series + 1+ quoted tag keys"
                )
            cols = [_tag_col(a.value) for a in n.args[1:]]
            return ev(n.args[0]).withColumn(
                "metric", F.concat_ws(".", *cols)
            )
        if name == "derivative":
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn(
                "cents", F.col("cents") - F.lag("cents").over(w)
            )
        if name in ("movingSum", "movingMin", "movingMax"):
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError(f"{name} window must be >= 1")
            agg = {"movingSum": F.sum, "movingMin": F.min,
                   "movingMax": F.max}[name]
            return ev(n.args[0]).withColumn(
                "cents", agg("cents").over(w.rowsBetween(-(k - 1), 0))
            )
        if name == "nonNegativeDerivative":
            # optional maxValue: a negative delta means the counter
            # wrapped, so the true increment is maxValue − prev + cur
            # + 1 (Graphite's wrap formula, in cents — the
            # g_counter_wrap discipline); without it, drops go NULL.
            if len(n.args) == 2:
                _need(n, 2, (object, Num))
                mv = 100 * n.args[1].value
                prev = F.lag("cents").over(w)
                return ev(n.args[0]).withColumn(
                    "cents",
                    F.when(
                        F.col("cents") >= prev, F.col("cents") - prev
                    ).otherwise(F.lit(mv) - prev + F.col("cents") + 1),
                )
            _need(n, 1, (object,))
            d = F.col("cents") - F.lag("cents").over(w)
            return ev(n.args[0]).withColumn(
                "cents", F.when(d >= 0, d)
            )
        if name == "keepLastValue":
            # last-ignorenulls over the running frame INCLUDES the
            # current row, so non-null slots pass through unchanged.
            # Optional limit: fill only gaps of at most `limit`
            # consecutive missing slots — longer outages stay NULL
            # (the g_keep_last_limit staleness-window form).
            wb = w.rowsBetween(Window.unboundedPreceding, 0)
            carried = F.last("cents", ignorenulls=True).over(wb)
            if len(n.args) == 2:
                _need(n, 2, (object, Num))
                lim = n.args[1].value
                if lim < 1:
                    raise RenderParseError("keepLastValue limit must be >= 1")
                last_known = F.max(
                    F.when(F.col("cents").isNotNull(), F.col("interval"))
                ).over(wb)
                return ev(n.args[0]).withColumn(
                    "cents",
                    F.when(
                        F.col("interval") - last_known <= 3600 * lim,
                        carried,
                    ),
                )
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn("cents", carried)
        if name == "highestMax":
            # Fixed-size winner set (k rows) — the one selector whose
            # join-back keeps an explicit broadcast hint, like the
            # top-k family in graphite_funcs.
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError("highestMax k must be >= 1")
            s = ev(n.args[0])
            top = (
                s.groupBy("metric")
                .agg(F.max("cents").alias("mx"))
                .orderBy(F.desc("mx"), F.asc("metric"))
                .limit(k)
                .select("metric")
            )
            return s.join(F.broadcast(top), "metric")
        if name == "movingAverage":
            # Floored-CENT mean over the window (exact integer math;
            # Graphite's float mean quantizes to 2 decimals here —
            # same documented cent contract as every arithmetic op).
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError("movingAverage window must be >= 1")
            fr = w.rowsBetween(-(k - 1), 0)
            return ev(n.args[0]).withColumn(
                "cents",
                F.floor(
                    F.sum("cents").over(fr).cast("double")
                    / F.count("cents").over(fr)
                ).cast("long"),
            )
        if name in ("summarize", "hitcount"):
            # summarize(s, hours, 'sum'|'max'|'min'|'last'|'avg') /
            # hitcount(s, hours): epoch-aligned coarse buckets per
            # metric — whisper's consolidation as a render op (the
            # fine interval stays addressable for 'last''s max_by, so
            # the bucket gets its own column pre-grouping).
            _, agg, h = _one_level(n)
            b = 3600 * h
            src, xff = n.args[0], None
            if (name == "summarize" and isinstance(src, Call)
                    and src.name == "setXFilesFactor"):
                # whisper's xFilesFactor gate as a render annotation
                # (validated to sit exactly here): a bucket survives
                # only when known-slot coverage reaches the factor —
                # count(cents)·100 >= pct·h, the exact integer
                # cross-multiplication of propagate()'s known/expected
                # >= xff (expected = h slots at the 1h seed grain).
                # Gated buckets are DROPPED, matching propagate's
                # skip-the-write semantics.
                xff = src.args[1].value
                src = src.args[0]
            aggs = [agg.alias("cents")]
            if xff is not None:
                aggs.append(F.count("cents").alias("known"))
            g = (
                ev(src)
                .withColumn("bucket", F.col("interval") - F.col("interval") % b)
                .groupBy("metric", "bucket")
                .agg(*aggs)
            )
            if xff is not None:
                g = g.where(F.col("known") * 100 >= F.lit(xff * h))
            return g.select(
                "metric", F.col("bucket").alias("interval"), "cents"
            )
        if name in _APPLY_AGG or name == "rangeOfSeries":
            # across-series per-slot reducers: sumSeries averageSeries
            # maxSeries minSeries rangeOfSeries
            _need(n, 1, (object,))
            agg = (F.max("cents") - F.min("cents") if name == "rangeOfSeries"
                   else _cents_agg(_APPLY_AGG[name], name))
            return (
                ev(n.args[0])
                .groupBy("interval")
                .agg(agg.alias("cents"))
                .select(F.lit(name).alias("metric"), "interval", "cents")
            )
        if name == "stddevSeries":
            # population stddev across series per slot, exact until
            # the one IEEE-correctly-rounded sqrt:
            # floor(sqrt(n·Σx² − (Σx)²) / n) in cents — the radicand
            # is an exact long (Cauchy-Schwarz ⇒ ≥ 0).
            _need(n, 1, (object,))
            g = (
                ev(n.args[0])
                .groupBy("interval")
                .agg(
                    F.count("cents").alias("nn"),
                    F.sum("cents").alias("s1"),
                    F.sum(F.col("cents") * F.col("cents")).alias("s2"),
                )
            )
            rad = F.col("nn") * F.col("s2") - F.col("s1") * F.col("s1")
            return g.select(
                F.lit("stddevSeries").alias("metric"),
                "interval",
                F.when(
                    F.col("nn") > 0,
                    F.floor(F.sqrt(rad) / F.col("nn")),
                ).cast("long").alias("cents"),
            )
        if name == "percentileOfSeries":
            # across-series per-slot percentile: rank-based (value at
            # sorted position ceil(p/100·n) over non-NULL slots —
            # same convention as the remove*Percentile thresholds).
            _need(n, 2, (object, Num))
            p = n.args[1].value
            if not 0 < p <= 100:
                raise RenderParseError(
                    "percentileOfSeries percentile must be in (0,100]"
                )
            g = (
                ev(n.args[0])
                .groupBy("interval")
                .agg(F.array_sort(F.collect_list("cents")).alias("vs"))
            )
            nn = F.size("vs")
            pos = F.ceil(nn * F.lit(p) / 100).cast("int")
            return g.select(
                F.lit("percentileOfSeries").alias("metric"),
                "interval",
                F.when(nn > 0, F.element_at("vs", pos)).alias("cents"),
            )
        if name == "verticalLine":
            # marker generator (Graphite's time marker made
            # data-shaped, the drawAsInfinite discipline): one row of
            # value 1 at the slot offset_hours past the frame's own
            # start (the timeSlice bounds convention); an offset
            # outside the spine emits zero rows.
            h = int(n.args[0].value)
            lbl = (n.args[1].value if len(n.args) > 1
                   else "verticalLine")
            sp = seed("*").select("interval").distinct()
            b = sp.agg(F.min("interval").alias("t0"))
            return (
                sp.crossJoin(F.broadcast(b))
                .where(F.col("interval") == F.col("t0") + 3600 * h)
                .select(
                    F.lit(lbl).alias("metric"),
                    "interval",
                    F.lit(100).cast("long").alias("cents"),
                )
            )
        if name == "constantLine":
            # data-free generator: the constant over the interval
            # spine of the full series universe (one output series).
            _need(n, 1, (Num,))
            return (
                seed("*")
                .select("interval")
                .distinct()
                .select(
                    F.lit("constantLine").alias("metric"),
                    "interval",
                    F.lit(100 * n.args[0].value).cast("long").alias("cents"),
                )
            )
        if name == "maximumAbove":
            _need(n, 2, (object, Num))
            s = ev(n.args[0])
            winners = (
                s.groupBy("metric")
                .agg(F.max("cents").alias("mx"))
                .where(F.col("mx") > 100 * n.args[1].value)
                .select("metric")
            )
            # un-hinted O(n_metrics) join-back — AQE sizes it (the
            # selector-family policy, docs/SCALE.md).
            return s.join(winners, "metric")
        if name in ("currentAbove", "currentBelow"):
            # most-recent slot (max_by on interval — keys unique by
            # the analyze() gate) vs the threshold; un-hinted
            # join-back.  A NULL latest slot fails BOTH compares in
            # BOTH engines (the oracle wraps arg_max in a struct so
            # its NULL survives — ADVICE r10).
            _need(n, 2, (object, Num))
            s = ev(n.args[0])
            cur = F.max_by("cents", "interval").alias("cur")
            t = 100 * n.args[1].value
            cond = (F.col("cur") > t) if name == "currentAbove" else (
                F.col("cur") < t)
            winners = (
                s.groupBy("metric").agg(cur).where(cond).select("metric")
            )
            return s.join(winners, "metric")
        if name in ("averageAbove", "averageBelow"):
            # exact integer compare: sum_cents vs t·100·n — no float
            # average ever materializes for the decision.
            _need(n, 2, (object, Num))
            s = ev(n.args[0])
            t = 100 * n.args[1].value
            cond = (
                F.col("sc") > t * F.col("nn")
                if name == "averageAbove"
                else F.col("sc") < t * F.col("nn")
            )
            winners = (
                s.groupBy("metric")
                .agg(F.sum("cents").alias("sc"), F.count("cents").alias("nn"))
                .where(cond)
                .select("metric")
            )
            return s.join(winners, "metric")
        if name in ("minimumAbove", "minimumBelow", "maximumBelow"):
            _need(n, 2, (object, Num))
            s = ev(n.args[0])
            t = 100 * n.args[1].value
            agg = (F.max("cents") if name == "maximumBelow"
                   else F.min("cents")).alias("mv")
            cond = (F.col("mv") > t) if name == "minimumAbove" else (
                F.col("mv") < t)
            winners = s.groupBy("metric").agg(agg).where(cond).select("metric")
            return s.join(winners, "metric")
        if name in ("highestAverage", "lowestAverage"):
            # fixed-k winner set by mean value — the rank key is the
            # ONE double division both engines compute from the same
            # (sum, count) longs (IEEE-identical), ties broken by
            # metric; all-NULL series rank last (NULL mean).
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError(f"{name} k must be >= 1")
            s = ev(n.args[0])
            mean = (F.sum("cents").cast("double") / F.count("cents")).alias("mv")
            # all-NULL series have a NULL mean — explicitly NULLS
            # LAST both directions (Spark's bare asc is nulls-FIRST,
            # the oracle emits NULLS LAST).
            direction = (
                F.desc_nulls_last if name == "highestAverage"
                else F.asc_nulls_last
            )
            top = (
                s.groupBy("metric")
                .agg(mean)
                .orderBy(direction("mv"), F.asc("metric"))
                .limit(k)
                .select("metric")
            )
            return s.join(F.broadcast(top), "metric")
        if name in ("removeAbovePercentile", "removeBelowPercentile"):
            # Rank-based per-metric threshold (value at sorted
            # position ceil(p/100·n) over NON-NULL slots — same
            # convention as the fixed-form g_remove_*_pctile family:
            # pure ordering, tie-sharing, no interpolation).
            # Offending slots go NULL; LEFT join keeps all-NULL
            # metrics (threshold NULL → every compare NULL → NULL).
            _need(n, 2, (object, Num))
            p = n.args[1].value
            if not 0 < p <= 100:
                raise RenderParseError(f"{name} percentile must be in (0,100]")
            s = ev(n.args[0])
            wv = Window.partitionBy("metric").orderBy("cents")
            ranked = (
                s.where(F.col("cents").isNotNull())
                .withColumn("rn", F.row_number().over(wv))
                .withColumn(
                    "nn", F.count("*").over(Window.partitionBy("metric"))
                )
            )
            thresh = (
                ranked.where(
                    F.col("rn")
                    <= F.ceil(F.col("nn") * F.lit(p) / 100).cast("long")
                )
                .groupBy("metric")
                .agg(F.max("cents").alias("pc"))
            )
            keep = (
                F.col("cents") <= F.col("pc")
                if name == "removeAbovePercentile"
                else F.col("cents") >= F.col("pc")
            )
            return (
                s.join(thresh, "metric", "left")
                .select(
                    "metric",
                    "interval",
                    F.when(keep, F.col("cents")).alias("cents"),
                )
            )
        if name in ("holtWintersForecast", "holtWintersConfidenceUpper",
                    "holtWintersConfidenceLower", "holtWintersAberration"):
            # The Holt-Winters family: one-step-ahead double
            # exponential smoothing (Holt's linear trend, α=0.5
            # β=0.3), the γ=0.1 smoothed-absolute-deviation
            # confidence envelope forecast ± 3·dev, and the
            # band-breach aberration — all folded per series in CENT
            # space by ONE metric-keyed applyInPandas kernel (the
            # canonical sequential-recursion operator; same
            # discipline as g_holt_winters / g_holt_winters_bands).
            # The oracle replays the IDENTICAL per-step IEEE double
            # operations via a recursive CTE, so the floored outputs
            # are bit-identical.  NULL slots are skipped by the fold
            # and emit NULL; the first folded slot has no
            # forecast/bands (NULL) and aberration 0.
            _need(n, 1, (object,))
            import math as _math

            import pandas as _pd

            mode = name
            s = ev(n.args[0])

            def _hw(pdf):
                pdf = pdf.sort_values("interval").reset_index(drop=True)
                out = [None] * len(pdf)
                sv, bv, dv, seen = 0.0, 0.0, 0.0, 0
                for i in range(len(pdf)):
                    x = pdf["cents"].iloc[i]
                    if _pd.isna(x):
                        continue
                    x = float(x)
                    if seen == 0:
                        sv, bv, dv = x, 0.0, 0.0
                        if mode == "holtWintersAberration":
                            out[i] = 0
                    else:
                        f = sv + bv
                        dv = 0.1 * abs(x - f) + (1 - 0.1) * dv
                        upper = f + 3 * dv
                        lower = f - 3 * dv
                        if mode == "holtWintersForecast":
                            out[i] = int(_math.floor(f))
                        elif mode == "holtWintersConfidenceUpper":
                            out[i] = int(_math.floor(upper))
                        elif mode == "holtWintersConfidenceLower":
                            out[i] = int(_math.floor(lower))
                        else:  # aberration
                            if x > upper:
                                out[i] = int(_math.floor(x - upper))
                            elif x < lower:
                                out[i] = int(_math.floor(x - lower))
                            else:
                                out[i] = 0
                        s_new = 0.5 * x + (1 - 0.5) * (sv + bv)
                        bv = 0.3 * (s_new - sv) + (1 - 0.3) * bv
                        sv = s_new
                    seen += 1
                return _pd.DataFrame(
                    {
                        "metric": pdf["metric"],
                        "interval": pdf["interval"],
                        "cents": _pd.array(out, dtype="Int64"),
                    }
                )

            return s.groupBy("metric").applyInPandas(
                _hw, "metric string, interval long, cents long"
            )
        if name == "nPercentile":
            # every slot becomes the series' rank-based p-th
            # percentile (the flat reference line per series) — same
            # threshold convention as the removers; all-NULL series
            # stay NULL via the LEFT join.
            _need(n, 2, (object, Num))
            p = n.args[1].value
            if not 0 < p <= 100:
                raise RenderParseError("nPercentile percentile must be in (0,100]")
            s = ev(n.args[0])
            wv = Window.partitionBy("metric").orderBy("cents")
            ranked = (
                s.where(F.col("cents").isNotNull())
                .withColumn("rn", F.row_number().over(wv))
                .withColumn(
                    "nn", F.count("*").over(Window.partitionBy("metric"))
                )
            )
            thresh = (
                ranked.where(
                    F.col("rn")
                    <= F.ceil(F.col("nn") * F.lit(p) / 100).cast("long")
                )
                .groupBy("metric")
                .agg(F.max("cents").alias("pc"))
            )
            return (
                s.join(thresh, "metric", "left")
                .select("metric", "interval", F.col("pc").alias("cents"))
            )
        if name == "mostDeviant":
            # top-k series by population stddev — rank key =
            # sqrt(n·Σx² − (Σx)²)/n from exact longs (one correctly-
            # rounded sqrt, identical doubles both engines), NULLS
            # LAST, metric tiebreak; fixed-k broadcast join-back.
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError("mostDeviant k must be >= 1")
            s = ev(n.args[0])
            rad = (
                F.count("cents") * F.sum(F.col("cents") * F.col("cents"))
                - F.sum("cents") * F.sum("cents")
            )
            top = (
                s.groupBy("metric")
                .agg(
                    F.when(
                        F.count("cents") > 0,
                        F.sqrt(rad) / F.count("cents"),
                    ).alias("dv")
                )
                .orderBy(F.desc_nulls_last("dv"), F.asc("metric"))
                .limit(k)
                .select("metric")
            )
            return s.join(F.broadcast(top), "metric")
        if name == "timeSlice":
            # keep slots within [t0 + 3600·a, t0 + 3600·b) of the
            # input frame's own start; outside slots go NULL (keys —
            # and `unique` — preserved).  The 1-row bounds frame is
            # the only broadcast (the g_time_slice policy).
            _need(n, 3, (object, Num, Num))
            a, b2 = n.args[1].value, n.args[2].value
            if not 0 <= a < b2:
                raise RenderParseError("timeSlice needs 0 <= from < until")
            s = ev(n.args[0])
            t0f = s.agg(F.min("interval").alias("t0"))
            keep = (
                (F.col("interval") >= F.col("t0") + 3600 * a)
                & (F.col("interval") < F.col("t0") + 3600 * b2)
            )
            return (
                s.crossJoin(F.broadcast(t0f))
                .select(
                    "metric",
                    "interval",
                    F.when(keep, F.col("cents")).alias("cents"),
                )
            )
        if name == "perSecond":
            # non-negative slot delta per second of step (1h slots):
            # floor(d/3600) cents — exact, negatives/resets go NULL.
            # Optional maxValue: wrap like nonNegativeDerivative
            # before the per-second division.
            if len(n.args) == 2:
                _need(n, 2, (object, Num))
                mv = 100 * n.args[1].value
                prev = F.lag("cents").over(w)
                d2 = F.when(
                    F.col("cents") >= prev, F.col("cents") - prev
                ).otherwise(F.lit(mv) - prev + F.col("cents") + 1)
                return ev(n.args[0]).withColumn(
                    "cents", F.floor(d2 / F.lit(3600)).cast("long")
                )
            _need(n, 1, (object,))
            d = F.col("cents") - F.lag("cents").over(w)
            return ev(n.args[0]).withColumn(
                "cents",
                F.when(d >= 0, F.floor(d / F.lit(3600)).cast("long")),
            )
        if name == "linearRegression":
            # per-series OLS fit line over the slot index i =
            # (interval − t0)/3600: exact-long normal-equation sums
            # (n, Σi, Σi², Σy, Σiy over the known slots), then the
            # TWO double divisions both engines compute in the same
            # order — b = (nΣiy − ΣiΣy)/(nΣi² − (Σi)²), a = (Σy −
            # b·Σi)/n — and one floor per slot.  den = 0 (≤ 1 known
            # point) → NULL; the line covers EVERY slot of the frame,
            # including formerly-NULL ones.
            _need(n, 1, (object,))
            wm = Window.partitionBy("metric")
            s = ev(n.args[0]).select(
                "metric",
                "interval",
                "cents",
                F.min("interval").over(wm).alias("t0"),
            ).withColumn(
                "i",
                ((F.col("interval") - F.col("t0")) / 3600).cast("long"),
            )
            known = F.col("cents").isNotNull()
            s = s.select(
                "metric",
                "interval",
                "i",
                F.count("cents").over(wm).alias("nn"),
                F.sum(F.when(known, F.col("i"))).over(wm).alias("si"),
                F.sum(F.when(known, F.col("i") * F.col("i")))
                .over(wm).alias("sii"),
                F.sum("cents").over(wm).alias("sy"),
                F.sum(F.when(known, F.col("i") * F.col("cents")))
                .over(wm).alias("siy"),
            )
            den = F.col("nn") * F.col("sii") - F.col("si") * F.col("si")
            b = (
                F.col("nn") * F.col("siy") - F.col("si") * F.col("sy")
            ).cast("double") / den
            a = (
                F.col("sy").cast("double") - b * F.col("si")
            ) / F.col("nn")
            return s.select(
                "metric",
                "interval",
                F.when(den != 0, F.floor(a + b * F.col("i")))
                .cast("long").alias("cents"),
            )
        if name == "offsetToZero":
            # subtract the series' own minimum — window min over the
            # whole partition (dup-safe: min is order-independent).
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn(
                "cents",
                F.col("cents")
                - F.min("cents").over(Window.partitionBy("metric")),
            )
        if name == "delay":
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 0:
                raise RenderParseError("delay steps must be >= 0")
            return ev(n.args[0]).withColumn(
                "cents", F.lag("cents", k).over(w)
            )
        if name == "changed":
            # Graphite's changed(): 1.0 where a known slot differs from
            # a known predecessor, else 0 — so 0 at each series' first
            # slot, at a NULL slot and at the slot just after one.
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn(
                "cents",
                F.when(F.col("cents") != F.lag("cents").over(w), 100)
                .otherwise(0)
                .cast("long"),
            )
        if name == "limit":
            # first k series in metric order — Graphite's limit() with
            # a deterministic (alphabetical) series order; fixed-k
            # winner set broadcasts like the top-k selectors.
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError("limit k must be >= 1")
            s = ev(n.args[0])
            top = (
                s.select("metric").distinct().orderBy(F.asc("metric")).limit(k)
            )
            return s.join(F.broadcast(top), "metric")
        if name == "integralByInterval":
            # running sum resetting at every h-hour epoch bucket: the
            # same window chain keyed (metric, bucket) — keys and
            # uniqueness unchanged.
            _need(n, 2, (object, Num))
            h = n.args[1].value
            if h < 1:
                raise RenderParseError("integralByInterval bucket must be >= 1 hour")
            b = 3600 * h
            wb = Window.partitionBy(
                "metric", F.col("interval") - F.col("interval") % b
            ).orderBy("interval").rowsBetween(Window.unboundedPreceding, 0)
            return ev(n.args[0]).withColumn("cents", F.sum("cents").over(wb))
        if name == "timeShift":
            _need(n, 2, (object, Num))
            # timeShift(s, h): plot the series h hours EARLIER — add
            # h·3600 to each interval (Graphite's '-1h' pulls
            # yesterday's data onto today's axis; integer seconds).
            return ev(n.args[0]).withColumn(
                "interval", F.col("interval") + 3600 * n.args[1].value
            )
        if name == "integral":
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn(
                "cents",
                F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
        if name == "countSeries":
            _need(n, 1, (object,))
            return (
                ev(n.args[0])
                .groupBy("interval")
                .agg(F.count("*").alias("cnt"))
                .select(
                    F.lit("countSeries").alias("metric"),
                    "interval",
                    (F.col("cnt") * 100).alias("cents"),
                )
            )
        if name == "averageOutsidePercentile":
            # keep series whose mean falls OUTSIDE the [p, 100-p]
            # band of the per-series means (p <= 50): thresholds are
            # rank-based over the tiny per-metric mean relation; the
            # rank key is the one IEEE-identical double division of
            # exact (sum, count) longs.
            _need(n, 2, (object, Num))
            p = n.args[1].value
            if not 0 < p <= 50:
                raise RenderParseError(
                    "averageOutsidePercentile percentile must be in (0,50]"
                )
            s = ev(n.args[0])
            means = (
                s.groupBy("metric")
                .agg(
                    (F.sum("cents").cast("double") / F.count("cents")).alias(
                        "mv"
                    )
                )
                .where(F.col("mv").isNotNull())
            )
            wv = Window.orderBy("mv", "metric")
            ranked = means.withColumn("rn", F.row_number().over(wv)).withColumn(
                "nn", F.count("*").over(Window.partitionBy())
            )
            lo = F.ceil(F.col("nn") * F.lit(p) / 100).cast("long")
            hi = F.ceil(F.col("nn") * F.lit(100 - p) / 100).cast("long")
            winners = ranked.where(
                (F.col("rn") <= lo) | (F.col("rn") > hi)
            ).select("metric")
            return s.join(winners, "metric")
        if name == "group":
            # group(a, b, ...): bag union of any number of series
            # expressions — Graphite's list combinator, what lets one
            # render mix differently-transformed families.
            if not n.args:
                raise RenderParseError("group needs at least one series")
            frames = [ev(a) for a in n.args]
            out = frames[0]
            for f2 in frames[1:]:
                out = out.unionByName(f2)
            return out
        if name == "asPercent" and len(n.args) == 1:
            # asPercent with no total: each slot as a percent of the
            # per-interval across-series total — cent-quantized exact
            # ratio (floor(c·10000 / Σc)), NULL on zero/empty totals;
            # one per-interval window sum, keys preserved, label
            # wrapped injectively.
            s = ev(n.args[0])
            tot = F.sum("cents").over(Window.partitionBy("interval"))
            return s.select(
                F.concat(
                    F.lit("asPercent("), F.col("metric"), F.lit(")")
                ).alias("metric"),
                "interval",
                F.when(
                    tot != 0,
                    F.floor((F.col("cents") * 10000).cast("double") / tot),
                ).cast("long").alias("cents"),
            )
        if name in ("diffSeries", "divideSeries", "asPercent"):
            # Binary combiners over per-interval single series: each
            # side must already be one series (reduce multi-series
            # args with sumSeries/alias first — documented contract;
            # Graphite's flatten-first-minus-rest list semantics are
            # reachable through that reduction).  Join key = interval;
            # LEFT join keeps the left series' slots (missing right →
            # NULL, Graphite's None-propagation).  diff is exact cent
            # subtraction; divide/asPercent are cent-quantized exact
            # ratios: floor(a·100/b) and floor(a·10000/b) — integer
            # math both engines, NULL on b = 0.
            _need(n, 2, (object, object))
            a = ev(n.args[0]).select(
                "metric", "interval", F.col("cents").alias("a_c")
            )
            b = ev(n.args[1]).select(
                F.col("interval").alias("b_iv"), F.col("cents").alias("b_c")
            )
            j = a.join(b, a.interval == b.b_iv, "left")
            label = F.concat(F.lit(name + "("), F.col("metric"), F.lit(")"))
            if name == "diffSeries":
                out = F.col("a_c") - F.col("b_c")
            elif name == "divideSeries":
                out = F.when(
                    F.col("b_c") != 0,
                    F.floor((F.col("a_c") * 100).cast("double") / F.col("b_c")),
                ).cast("long")
            else:  # asPercent
                out = F.when(
                    F.col("b_c") != 0,
                    F.floor((F.col("a_c") * 10000).cast("double") / F.col("b_c")),
                ).cast("long")
            return j.select(
                label.alias("metric"), "interval", out.alias("cents")
            )
        if name == "areaBetween":
            # per-slot band WIDTH between two single series — |a−b|
            # in exact cents under one label (the relational scalar
            # of Graphite's area fill; the fixed-form query keeps the
            # full low/high/width relation).  Both sides must be one
            # uniquely-keyed series (enforced in analyze); LEFT join
            # keeps a's slots with NULL width on a missing b slot.
            _need(n, 2, (object, object))
            a = ev(n.args[0]).select(
                "metric", "interval", F.col("cents").alias("a_c")
            )
            b = ev(n.args[1]).select(
                F.col("interval").alias("b_iv"), F.col("cents").alias("b_c")
            )
            j = a.join(b, a.interval == b.b_iv, "left")
            return j.select(
                F.concat(
                    F.lit("areaBetween("), F.col("metric"), F.lit(")")
                ).alias("metric"),
                "interval",
                F.abs(F.col("a_c") - F.col("b_c")).alias("cents"),
            )
        if name == "groupByNodes":
            # multi-node groupByNode: keep the named dot nodes (label
            # = nodes joined by '.') and aggregate series sharing
            # them — one relabel + one (label, interval) aggregate,
            # same shape as groupByNode.  Missing nodes → '' in both
            # engines (the groupByNode convention).
            if (len(n.args) < 3 or not isinstance(n.args[1], Str)
                    or not all(isinstance(a, Num) for a in n.args[2:])):
                raise RenderParseError(
                    "groupByNodes takes (series, 'method', node, ...)")
            idxs = [a.value for a in n.args[2:]]
            if any(i < 0 for i in idxs):
                raise RenderParseError("groupByNodes indexes must be >= 0")
            how = n.args[1].value
            if how == "last":
                raise RenderParseError(
                    f"groupByNodes: unknown method {how!r}")
            agg = _cents_agg(how, name)
            lab = F.concat_ws(".", *[_node_col(i) for i in idxs])
            return (
                ev(n.args[0])
                .withColumn("metric", lab)
                .groupBy("metric", "interval")
                .agg(agg.alias("cents"))
            )
        if name == "aliasByMetric":
            # rename to the LAST dot node — the aliasByNode(-1)
            # spelling Graphite dashboards use; same common-regex
            # extraction in both engines.
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn(
                "metric", F.regexp_extract("metric", "([^.]*)$", 1)
            )
        if name == "multiplySeries":
            # same single-right-series contract as diffSeries; the
            # cent product a·b/100 is floored (exact in double: the
            # long product stays far below 2^53).  NULL on either
            # side propagates through the arithmetic.
            _need(n, 2, (object, object))
            a = ev(n.args[0]).select(
                "metric", "interval", F.col("cents").alias("a_c")
            )
            b = ev(n.args[1]).select(
                F.col("interval").alias("b_iv"), F.col("cents").alias("b_c")
            )
            return (
                a.join(b, a.interval == b.b_iv, "left")
                .select(
                    F.concat(
                        F.lit("multiplySeries("), F.col("metric"), F.lit(")")
                    ).alias("metric"),
                    "interval",
                    F.floor(
                        (F.col("a_c") * F.col("b_c")).cast("double") / 100
                    ).cast("long").alias("cents"),
                )
            )
        if name == "fallbackSeries":
            # fallbackSeries(a, b): b only when a produced NO series.
            # The emptiness scalar is a 1-row aggregate frame gating
            # each side via a broadcast cross join — fully lazy, no
            # driver-side count (the g_time_slice 1-row-bounds
            # pattern).
            _need(n, 2, (object, object))
            a = ev(n.args[0])
            b = ev(n.args[1])
            ca = a.agg(F.count("*").alias("ca"))
            keep_a = a.crossJoin(
                F.broadcast(ca.where(F.col("ca") > 0))
            ).select("metric", "interval", "cents")
            keep_b = b.crossJoin(
                F.broadcast(ca.where(F.col("ca") == 0))
            ).select("metric", "interval", "cents")
            return keep_a.unionByName(keep_b)
        if name == "threshold":
            # Graphite's threshold(k) — constantLine under its own
            # label.
            _need(n, 1, (Num,))
            return (
                seed("*")
                .select("interval")
                .distinct()
                .select(
                    F.lit("threshold").alias("metric"),
                    "interval",
                    F.lit(100 * n.args[0].value).cast("long").alias("cents"),
                )
            )
        if name == "drawAsInfinite":
            # Graphite's display directive made data-shaped: 1 where
            # the slot is known AND non-zero (the vertical-line
            # condition), 0 where known zero, NULL propagates —
            # in cents: 100 / 0 / NULL (stateless value map).
            _need(n, 1, (object,))
            return ev(n.args[0]).withColumn(
                "cents",
                F.when(F.col("cents").isNull(), F.lit(None))
                .when(F.col("cents") != 0, F.lit(100))
                .otherwise(F.lit(0))
                .cast("long"),
            )
        if name in ("highestCurrent", "lowestCurrent"):
            # fixed-k winner set by the most-recent slot (max_by on
            # interval — NULL latest stays NULL and ranks last both
            # directions), ties by metric; broadcast join-back like
            # the top-k family.
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError(f"{name} k must be >= 1")
            s = ev(n.args[0])
            direction = (
                F.desc_nulls_last if name == "highestCurrent"
                else F.asc_nulls_last
            )
            top = (
                s.groupBy("metric")
                .agg(F.max_by("cents", "interval").alias("cur"))
                .orderBy(direction("cur"), F.asc("metric"))
                .limit(k)
                .select("metric")
            )
            return s.join(F.broadcast(top), "metric")
        if name == "removeEmptySeries":
            # drop all-NULL series: winners have >= 1 known slot;
            # un-hinted O(n_metrics) join-back (AQE-sized).
            # Optional xFilesFactor percent (public Graphite's
            # removeEmptySeries(s, xff), quantized to integer percent
            # like setXFilesFactor): a series survives only when
            # count(known)·100 >= pct·count(slots) — the same exact
            # integer cross-multiplication as the xff gate.
            if len(n.args) == 2:
                _need(n, 2, (object, Num))
                pct = n.args[1].value
                if not 1 <= pct <= 100:
                    raise RenderParseError(
                        "removeEmptySeries pct must be in 1..100")
                s = ev(n.args[0])
                winners = (
                    s.groupBy("metric")
                    .agg(F.count("cents").alias("nn"),
                         F.count("*").alias("nt"))
                    .where(F.col("nn") * 100 >= F.lit(pct) * F.col("nt"))
                    .select("metric")
                )
                return s.join(winners, "metric")
            _need(n, 1, (object,))
            s = ev(n.args[0])
            winners = (
                s.groupBy("metric")
                .agg(F.count("cents").alias("nn"))
                .where(F.col("nn") > 0)
                .select("metric")
            )
            return s.join(winners, "metric")
        if name == "aggregateLine":
            # flat per-series line at the series aggregate — keys
            # preserved, one partition-wide window (no ordering
            # dependence), floored-cent mean.
            _need(n, 2, (object, Str))
            how = n.args[1].value
            if how not in ("avg", "max", "min"):
                raise RenderParseError(f"aggregateLine: unknown method {how!r}")
            val = _cents_agg(how, name, Window.partitionBy("metric"))
            return ev(n.args[0]).select(
                "metric", "interval", val.alias("cents")
            )
        if name == "removeBetweenPercentile":
            # slots INSIDE the [p, 100-p] rank band go NULL, keeping
            # the outliers on both tails — band membership uses the
            # thresholds' own values so boundary ties fall inside in
            # both engines (the g_remove_between_pctile convention).
            _need(n, 2, (object, Num))
            p = n.args[1].value
            if not 0 < p < 50:
                raise RenderParseError(
                    "removeBetweenPercentile percentile must be in (0,50)"
                )
            s = ev(n.args[0])
            wv = Window.partitionBy("metric").orderBy("cents")
            ranked = (
                s.where(F.col("cents").isNotNull())
                .withColumn("rn", F.row_number().over(wv))
                .withColumn(
                    "nn", F.count("*").over(Window.partitionBy("metric"))
                )
            )
            thresh = ranked.groupBy("metric").agg(
                F.max(
                    F.when(
                        F.col("rn")
                        <= F.ceil(F.col("nn") * F.lit(p) / 100).cast("long"),
                        F.col("cents"),
                    )
                ).alias("lo"),
                F.max(
                    F.when(
                        F.col("rn")
                        <= F.ceil(
                            F.col("nn") * F.lit(100 - p) / 100
                        ).cast("long"),
                        F.col("cents"),
                    )
                ).alias("hi"),
            )
            keep = (F.col("cents") < F.col("lo")) | (
                F.col("cents") > F.col("hi")
            )
            return (
                s.join(thresh, "metric", "left")
                .select(
                    "metric",
                    "interval",
                    F.when(keep, F.col("cents")).alias("cents"),
                )
            )
        if name == "stdev":
            # moving population stddev over the trailing n slots —
            # the stddevSeries radicand (n·Σx² − (Σx)², an exact
            # long) windowed per metric, one correctly-rounded sqrt.
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError("stdev window must be >= 1")
            fr = w.rowsBetween(-(k - 1), 0)
            nn = F.count("cents").over(fr)
            s1 = F.sum("cents").over(fr)
            s2 = F.sum(F.col("cents") * F.col("cents")).over(fr)
            rad = nn * s2 - s1 * s1
            return ev(n.args[0]).select(
                "metric",
                "interval",
                F.when(nn > 0, F.floor(F.sqrt(rad) / nn))
                .cast("long").alias("cents"),
            )
        if name in ("sumSeriesWithWildcards", "averageSeriesWithWildcards",
                    "maxSeriesWithWildcards", "minSeriesWithWildcards",
                    "multiplySeriesWithWildcards"):
            # delete the i-th dot node from every label, then
            # aggregate series that now share a label — Graphite's
            # wildcard reducers (the max/min forms reach here via the
            # aggregateWithWildcards desugar).  Deleting a node past
            # the end is a no-op in both engines (slice truncates).
            _need(n, 2, (object, Num))
            i = n.args[1].value
            if i < 0:
                raise RenderParseError(f"{name} index must be >= 0")
            parts = F.split("metric", "[.]")
            relabel = F.concat_ws(
                ".",
                F.concat(
                    F.slice(parts, 1, i),
                    F.slice(
                        parts,
                        i + 2,
                        F.greatest(F.lit(0), F.size(parts) - i - 1),
                    ),
                ),
            )
            if name == "multiplySeriesWithWildcards":
                # left fold of the multiplySeries cent contract over
                # the group sorted by ORIGINAL label (both engines
                # fold in the same order, so per-step flooring cannot
                # drift — the relabel must NOT overwrite the sort key
                # before the collect); a NULL member slot propagates
                # NULL (the multiplySeries contract), a MISSING
                # member row simply does not contribute (the
                # sum-reducer missingness contract).
                arr = F.array_sort(
                    F.collect_list(F.struct("metric", "cents")))
                fold = F.aggregate(
                    F.slice(arr, 2,
                            F.greatest(F.lit(0), F.size(arr) - 1)),
                    F.element_at(arr, 1)["cents"],
                    lambda acc, x: F.floor(
                        (acc * x["cents"]).cast("double") / 100
                    ).cast("long"),
                )
                return (
                    ev(n.args[0])
                    .withColumn("lab", relabel)
                    .groupBy("lab", "interval")
                    .agg(fold.alias("cents"))
                    .select(F.col("lab").alias("metric"), "interval",
                            "cents")
                )
            # sumSeriesWithWildcards → _APPLY_AGG["sumSeries"] = "sum"
            how = _APPLY_AGG[name.replace("WithWildcards", "")]
            agg = _cents_agg(how, name)
            return (
                ev(n.args[0])
                .withColumn("metric", relabel)
                .groupBy("metric", "interval")
                .agg(agg.alias("cents"))
            )
        if name == "movingMedian":
            # lower median (sorted element at ceil(m/2)) of the
            # NULL-filtered trailing-k window — pure element
            # selection, no float arithmetic (the g_moving_median_5
            # convention); an all-NULL window emits NULL.
            _need(n, 2, (object, Num))
            k = n.args[1].value
            if k < 1:
                raise RenderParseError("movingMedian window must be >= 1")
            fr = w.rowsBetween(-(k - 1), 0)
            arr = F.array_sort(F.collect_list("cents").over(fr))
            return ev(n.args[0]).select(
                "metric",
                "interval",
                F.when(
                    F.size(arr) > 0,
                    F.element_at(
                        arr, F.ceil(F.size(arr) / 2).cast("int")
                    ),
                ).alias("cents"),
            )
        if name == "minMax":
            # Graphite's minMax normalization: (v − min)/(max − min)
            # per series, in floored cents of the [0, 1] result;
            # max == min → 0; NULL slots stay NULL.  Whole-partition
            # windows — dup-safe, not order-sensitive.
            _need(n, 1, (object,))
            wm = Window.partitionBy("metric")
            mn = F.min("cents").over(wm)
            mx = F.max("cents").over(wm)
            val = F.when(
                mx > mn,
                F.floor(
                    ((F.col("cents") - mn) * 100).cast("double") / (mx - mn)
                ).cast("long"),
            ).otherwise(
                F.when(F.col("cents").isNotNull(), F.lit(0).cast("long"))
            )
            return ev(n.args[0]).select(
                "metric", "interval", val.alias("cents")
            )
        if name == "interpolate":
            # integer-exact linear fill of NULL slots between their
            # nearest known neighbours (the g_interpolate weights:
            # filled = (prev·(next_iv−iv) + next·(iv−prev_iv))
            # / (next_iv−prev_iv), floor-truncated); leading/trailing
            # NULLs stay NULL, known slots pass through.  Optional
            # limit (public Graphite's interpolate(s, limit)): fill
            # only gaps of at most `limit` consecutive missing slots
            # — next_iv − prev_iv ≤ 3600·(limit+1); longer outages
            # stay NULL (the keepLastValue(limit) discipline).
            lim = None
            if len(n.args) == 2:
                _need(n, 2, (object, Num))
                lim = n.args[1].value
                if lim < 1:
                    raise RenderParseError("interpolate limit must be >= 1")
            else:
                _need(n, 1, (object,))
            s = ev(n.args[0])
            wb = w.rowsBetween(Window.unboundedPreceding, 0)
            wf = w.rowsBetween(0, Window.unboundedFollowing)
            known_iv = F.when(
                F.col("cents").isNotNull(), F.col("interval")
            )
            prev_iv = F.last(known_iv, ignorenulls=True).over(wb)
            prev_c = F.last("cents", ignorenulls=True).over(wb)
            next_iv = F.first(known_iv, ignorenulls=True).over(wf)
            next_c = F.first("cents", ignorenulls=True).over(wf)
            fill = F.floor(
                (
                    prev_c * (next_iv - F.col("interval"))
                    + next_c * (F.col("interval") - prev_iv)
                ).cast("double")
                / (next_iv - prev_iv)
            ).cast("long")
            fillable = prev_iv.isNotNull() & next_iv.isNotNull()
            if lim is not None:
                fillable = fillable & (
                    next_iv - prev_iv <= 3600 * (lim + 1)
                )
            return s.select(
                "metric",
                "interval",
                F.when(F.col("cents").isNotNull(), F.col("cents"))
                .otherwise(F.when(fillable, fill))
                .alias("cents"),
            )
        if name == "exponentialMovingAverage":
            # per-slot EWMA, α = 2/(N+1): the sequential left fold as
            # ONE metric-keyed applyInPandas kernel; the oracle
            # replays the identical per-step IEEE ops via a recursive
            # CTE (the Holt-Winters discipline).  NULL slots are
            # skipped by the fold and emit NULL; the first known slot
            # emits itself.
            _need(n, 2, (object, Num))
            kN = n.args[1].value
            if kN < 1:
                raise RenderParseError(
                    "exponentialMovingAverage N must be >= 1"
                )
            alpha = 2.0 / (kN + 1)
            import math as _math

            import pandas as _pd

            s = ev(n.args[0])

            def _ema(pdf):
                pdf = pdf.sort_values("interval").reset_index(drop=True)
                out = [None] * len(pdf)
                e, seen = 0.0, 0
                for i in range(len(pdf)):
                    x = pdf["cents"].iloc[i]
                    if _pd.isna(x):
                        continue
                    x = float(x)
                    e = x if seen == 0 else alpha * x + (1 - alpha) * e
                    out[i] = int(_math.floor(e))
                    seen += 1
                return _pd.DataFrame(
                    {
                        "metric": pdf["metric"],
                        "interval": pdf["interval"],
                        "cents": _pd.array(out, dtype="Int64"),
                    }
                )

            return s.groupBy("metric").applyInPandas(
                _ema, "metric string, interval long, cents long"
            )
        if name == "weightedAverage":
            # weightedAverage(values, weights, node): pair the two
            # frames by the i-th dot node per interval (the 1:1
            # pairing is Graphite's contract — duplicate node labels
            # multiply, documented), then ONE output series:
            # floor(Σ a·w / Σ w) with weights counted only where the
            # pair is known — exact integer cents end to end.
            _need(n, 3, (object, object, Num))
            i = n.args[2].value
            if i < 0:
                raise RenderParseError("weightedAverage node must be >= 0")
            node_of = _node_col(i)
            a = (
                ev(n.args[0])
                .select(
                    node_of.alias("nd"),
                    "interval",
                    F.col("cents").alias("a_c"),
                )
            )
            b = (
                ev(n.args[1])
                .select(
                    node_of.alias("nd"),
                    F.col("interval").alias("b_iv"),
                    F.col("cents").alias("w_c"),
                )
            )
            j = a.join(
                b, (a.nd == b.nd) & (a.interval == b.b_iv), "inner"
            )
            both = F.col("a_c").isNotNull() & F.col("w_c").isNotNull()
            num = F.sum(F.when(both, F.col("a_c") * F.col("w_c")))
            den = F.sum(F.when(both, F.col("w_c")))
            return (
                j.groupBy("interval")
                .agg(
                    F.when(
                        den != 0, F.floor(num.cast("double") / den)
                    ).cast("long").alias("cents")
                )
                .select(
                    F.lit("weightedAverage").alias("metric"),
                    "interval",
                    "cents",
                )
            )
        if name == "stacked":
            # per-slot running total of the series stacked beneath
            # (stack order = metric name — deterministic under the
            # analyzer's unique-keys gate); a NULL slot stays NULL
            # rather than echoing the partial total.
            _need(n, 1, (object,))
            ws = (
                Window.partitionBy("interval")
                .orderBy("metric")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            return ev(n.args[0]).select(
                "metric",
                "interval",
                F.when(
                    F.col("cents").isNotNull(), F.sum("cents").over(ws)
                ).alias("cents"),
            )
        if name == "useSeriesAbove":
            # keep series whose peak exceeds t AND regex-rename them
            # (replace-ALL both engines) — Graphite's
            # select-then-switch idiom as one relation.
            _need(n, 4, (object, Num, Str, Str))
            t = 100 * n.args[1].value
            s = ev(n.args[0])
            winners = (
                s.groupBy("metric")
                .agg(F.max("cents").alias("mx"))
                .where(F.col("mx") > t)
                .select("metric")
            )
            return (
                s.join(winners, "metric")
                .withColumn(
                    "metric",
                    F.regexp_replace(
                        "metric", n.args[2].value, n.args[3].value
                    ),
                )
            )
        if name == "timeStack":
            # b−a day-shifted copies of each series on a common axis,
            # each under a '.s<k>' suffixed label (the g_timestack
            # overlay, labels kept distinct so keys stay unique).
            _need(n, 4, (object, object, Num, Num))
            shift = _timestack_shift(n.args[1])
            a2, b2 = (x.value for x in n.args[2:])
            if not 0 <= a2 < b2 or b2 - a2 > 8:
                raise RenderParseError(
                    "timeStack needs 0 <= start < stop <= start+8"
                )
            s = ev(n.args[0])
            copies = [
                s.select(
                    F.concat(F.col("metric"), F.lit(f".s{k}")).alias(
                        "metric"
                    ),
                    (F.col("interval") + shift * k).alias("interval"),
                    "cents",
                )
                for k in range(a2, b2)
            ]
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
            return out
        if name == "randomWalk":
            # seeded synthetic series: md5-derived integer micro-unit
            # steps in [-0.5, 0.5) summed over the spine, floored to
            # cents — bit-identical cross-engine (the g_random_walk
            # md5 discipline; every value is integer until the one
            # floored division).
            _need(n, 1, (Str,))
            lbl = n.args[0].value
            sp = seed("*").select("interval").distinct()
            t0f = sp.agg(F.min("interval").alias("lo"))
            base = sp.crossJoin(F.broadcast(t0f)).select(
                "interval",
                ((F.col("interval") - F.col("lo")) / 3600)
                .cast("long")
                .alias("i"),
            )
            u32 = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(lbl + ":"), F.col("i"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            stepped = base.withColumn(
                "step_u6",
                F.floor(
                    (u32 * 1000000).cast("long")
                    / F.lit(4294967296).cast("long")
                ).cast("long")
                - 500000,
            )
            wseq = Window.orderBy("i").rowsBetween(
                Window.unboundedPreceding, 0
            )
            return stepped.select(
                F.lit(lbl).alias("metric"),
                "interval",
                F.floor(
                    F.sum("step_u6").over(wseq).cast("double") / 10000
                ).cast("long").alias("cents"),
            )
        if name == "filterSeries":
            # Graphite's generic selector: keep series whose aggregate
            # key ('max'|'min'|'sum'|'average'|'current') compares
            # {op} against the threshold — the six-op generalization
            # of the fixed above/below family.  'average' compares
            # exactly (sum_cents vs t·100·n — no float mean ever
            # materializes); 'current' is max_by on interval (unique
            # keys gated in analyze()).  A NULL key (all-NULL series)
            # fails every op in both engines — SQL three-valued logic.
            # Un-hinted O(n_metrics) winner join-back (AQE-sized, the
            # selector-family policy).
            _need(n, 4, (object, Str, Str, Num))
            func, op = n.args[1].value, n.args[2].value
            if op not in (">", ">=", "<", "<=", "=", "!="):
                raise RenderParseError(f"filterSeries: unknown op {op!r}")
            t = 100 * n.args[3].value
            s = ev(n.args[0])
            if func == "average":
                g = s.groupBy("metric").agg(
                    F.sum("cents").alias("sc"), F.count("cents").alias("nn")
                )
                lhs, rhs = F.col("sc"), F.col("nn") * F.lit(t)
            else:
                agg = {
                    "max": F.max("cents"), "min": F.min("cents"),
                    "sum": F.sum("cents"),
                    "current": F.max_by("cents", "interval"),
                }.get(func)
                if agg is None:
                    raise RenderParseError(
                        f"filterSeries: unknown func {func!r}"
                    )
                g = s.groupBy("metric").agg(agg.alias("kv"))
                lhs, rhs = F.col("kv"), F.lit(t)
            cond = {
                ">": lhs > rhs, ">=": lhs >= rhs, "<": lhs < rhs,
                "<=": lhs <= rhs, "=": lhs == rhs, "!=": lhs != rhs,
            }[op]
            winners = g.where(cond).select("metric")
            return s.join(winners, "metric")
        if name == "smartSummarize":
            # summarize aligned to the frame's own FIRST interval
            # instead of the epoch grid (Graphite's smartSummarize).
            # The min interval is a 1-row broadcast scalar — the
            # timeSlice bounds discipline; (interval − t0) is ≥ 0 so
            # the % bucketing agrees in both engines.
            _need(n, 3, (object, Num, Str))
            h = n.args[1].value
            if h < 1:
                raise RenderParseError("smartSummarize bucket must be >= 1 hour")
            b = 3600 * h
            agg = _cents_agg(n.args[2].value, name)
            s = ev(n.args[0])
            t0 = s.agg(F.min("interval").alias("t0"))
            off = F.col("interval") - F.col("t0")
            return (
                s.crossJoin(F.broadcast(t0))
                .withColumn("bucket", F.col("t0") + off - off % b)
                .groupBy("metric", "bucket")
                .agg(agg.alias("cents"))
                .select("metric", F.col("bucket").alias("interval"), "cents")
            )
        if name == "identity":
            # data-free generator: each slot's own epoch seconds as
            # the value (Graphite's identity/timeFunction) over the
            # interval spine, one series under the given label.
            # NOTE: cents ≈ interval·100 ≈ 1.8e11 — large but exact;
            # composing pow() on top would overflow (documented, and
            # the fuzz keeps identity out of pow chains).
            _need(n, 1, (Str,))
            return (
                seed("*").select("interval").distinct()
                .select(
                    F.lit(n.args[0].value).alias("metric"),
                    "interval",
                    (F.col("interval") * 100).cast("long").alias("cents"),
                )
            )
        if name == "divideSeriesLists":
            # pairwise division of two series lists: Graphite pairs by
            # list position — the unordered-relation analog is the
            # SORTED label rank, deterministic in both engines (ranks
            # computed on the O(n_metrics) distinct-labels relation,
            # the selector join-back policy).  floor(a·100/b) exact
            # cents; NULL on b = 0; an unmatched rank or slot keeps
            # a's row with NULL cents (divideSeries' left-join
            # None-propagation).
            _need(n, 2, (object, object))
            j = _pair_lists(ev(n.args[0]), ev(n.args[1]))
            out = F.when(
                F.col("b_c") != 0,
                F.floor((F.col("a_c") * 100).cast("double") / F.col("b_c")),
            ).cast("long")
            return j.select(
                F.concat(
                    F.lit("divideSeriesLists("), F.col("metric"), F.lit(")")
                ).alias("metric"),
                "interval",
                out.alias("cents"),
            )
        if name == "cactiStyle":
            # legend annotation: rename each series to
            # 'metric Current:x Max:y Min:z' with the exact 2-decimal
            # stats assembled from integer cents (the g_cacti_style
            # _cents_str discipline — printf %.2f of a double is a
            # cross-engine trap); slot values pass through unchanged.
            # Current = max_by on interval (unique keys gated in
            # analyze()); an all-NULL stat renders 'nan'.  Un-hinted
            # O(n_metrics) join-back.
            _need(n, 1, (object,))
            s = ev(n.args[0])
            per = s.groupBy("metric").agg(
                F.max_by("cents", "interval").alias("cur"),
                F.max("cents").alias("mx"),
                F.min("cents").alias("mn"),
            )

            def _fmt(c):
                return F.coalesce(_cents_str(F.col(c)), F.lit("nan"))

            lab = F.concat(
                F.col("metric"),
                F.lit(" Current:"), _fmt("cur"),
                F.lit(" Max:"), _fmt("mx"),
                F.lit(" Min:"), _fmt("mn"),
            )
            per2 = per.select("metric", lab.alias("new_metric"))
            return s.join(per2, "metric").select(
                F.col("new_metric").alias("metric"), "interval", "cents"
            )
        if name == "aggregateSeriesLists":
            # pairwise position-matched sum/diff of two series lists —
            # the divideSeriesLists pairing (sorted-label ranks over
            # the O(n_metrics) distinct-labels relations) with exact
            # integer-cent combine; an unmatched rank or slot keeps
            # a's row with NULL cents (left-join None-propagation).
            _need(n, 3, (object, object, Str))
            how = n.args[2].value
            if how not in ("sum", "diff", "multiply"):
                raise RenderParseError(
                    "aggregateSeriesLists: method must be "
                    "'sum'|'diff'|'multiply'")
            j = _pair_lists(ev(n.args[0]), ev(n.args[1]))
            if how == "sum":
                comb = F.col("a_c") + F.col("b_c")
            elif how == "diff":
                comb = F.col("a_c") - F.col("b_c")
            else:  # multiply — the multiplySeries cent contract:
                # floor(a·b/100), exact in double below 2^53
                comb = F.floor(
                    (F.col("a_c") * F.col("b_c")).cast("double") / 100
                )
            wrap = {"sum": "sumSeriesLists", "diff": "diffSeriesLists",
                    "multiply": "multiplySeriesLists"}[how]
            return j.select(
                F.concat(
                    F.lit(wrap + "("), F.col("metric"), F.lit(")")
                ).alias("metric"),
                "interval",
                comb.cast("long").alias("cents"),
            )
        if name == "unique":
            # first-occurrence dedup across series lists: one union +
            # a per-metric min(src) window — no joins, and the window
            # runs on the branch index, not the slot data.
            if not n.args:
                raise RenderParseError("unique takes 1+ series lists")
            parts = [
                ev(a).withColumn("src", F.lit(i))
                for i, a in enumerate(n.args)
            ]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionAll(p)
            return (
                u.withColumn(
                    "msrc", F.min("src").over(Window.partitionBy("metric"))
                )
                .where(F.col("src") == F.col("msrc"))
                .select("metric", "interval", "cents")
            )
        if name == "applyByNode":
            # evaluate the (already-validated) template per node-i
            # group as ONE (node, interval) window — percent-of-group
            # or divide-by-group-aggregate; arithmetic matches the
            # asPercent / divideSeries cent contracts exactly.
            _need(n, 3, (object, Num, Str))
            i = n.args[1].value
            if i < 0:
                raise RenderParseError("applyByNode index must be >= 0")
            kind = _parse_apply_template(n.args[2].value)
            s = ev(n.args[0])
            s2 = s.withColumn("node", _node_col(i))
            wg = Window.partitionBy("node", "interval")
            if kind[0] == "percent":
                tot = F.sum("cents").over(wg)
                out = F.when(
                    tot != 0,
                    F.floor((F.col("cents") * 10000).cast("double") / tot),
                ).cast("long")
                lbl = F.concat(
                    F.lit("asPercent("), F.col("metric"), F.lit(")"))
            else:
                # avg floors to cents — the averageSeries contract
                div = _cents_agg(kind[1], name, wg)
                out = F.when(
                    div != 0,
                    F.floor((F.col("cents") * 100).cast("double") / div),
                ).cast("long")
                lbl = F.concat(
                    F.lit("divideSeries("), F.col("metric"), F.lit(")"))
            return s2.select(lbl.alias("metric"), "interval",
                             out.alias("cents"))
        if name in ("sortByTotal", "sortByMaxima", "sortByName",
                    "sortByMinima"):
            # ordering-only (root-only, enforced by validate_target):
            # the legend order surfaces as the series_rank column.
            # The rank window runs over the O(n_metrics) per-series
            # aggregate relation, never the slot data (the
            # g_sort_by_total shape); the winner relation broadcasts
            # back like the top-k selectors.
            _need(n, 1, (object,))
            s = ev(n.args[0])
            if name == "sortByName":
                per = s.select("metric").distinct()
                order = [F.asc("metric")]
            elif name == "sortByMinima":
                per = s.groupBy("metric").agg(F.min("cents").alias("o"))
                order = [F.asc_nulls_last("o"), F.asc("metric")]
            else:
                agg = (F.max("cents") if name == "sortByMaxima"
                       else F.sum("cents"))
                per = s.groupBy("metric").agg(agg.alias("o"))
                order = [F.desc_nulls_last("o"), F.asc("metric")]
            rank = per.select(
                "metric",
                F.row_number().over(Window.orderBy(*order))
                .alias("series_rank"),
            )
            return s.join(F.broadcast(rank), "metric").select(
                "metric", "interval", "cents", "series_rank")
        if name == "sortBy":
            # the generic ordering spelling (root-only, like the
            # named sortBy* family): rank by any of the filterSeries
            # keys, ascending by default, DESC when reverse=1; NULLS
            # LAST both ways, ties on metric.  'average' orders by
            # the IEEE-identical double division of exact longs (the
            # linearRegression discipline); 'current' is max_by on
            # interval (unique keys gated in analyze()).
            _need(n, 3, (object, Str, Num))
            func, rev = n.args[1].value, n.args[2].value
            s = ev(n.args[0])
            key = {
                "max": F.max("cents"), "min": F.min("cents"),
                "sum": F.sum("cents"),
                "average": F.sum("cents").cast("double")
                / F.count("cents"),
                "current": F.max_by("cents", "interval"),
            }.get(func)
            if key is None:
                raise RenderParseError(f"sortBy: unknown func {func!r}")
            per = s.groupBy("metric").agg(key.alias("o"))
            first = (F.desc_nulls_last("o") if rev
                     else F.asc_nulls_last("o"))
            rank = per.select(
                "metric",
                F.row_number().over(Window.orderBy(first, F.asc("metric")))
                .alias("series_rank"),
            )
            return s.join(F.broadcast(rank), "metric").select(
                "metric", "interval", "cents", "series_rank")
        if name == "legendValue":
            # legend relabel 'metric (key: val)...' for each stat key
            # — the cactiStyle discipline (exact 2-decimal strings
            # assembled from integer cents; 'avg' floors like
            # summarize-avg; all-NULL renders 'nan'); slot values
            # pass through unchanged.
            if len(n.args) < 2 or not all(
                isinstance(a, Str) for a in n.args[1:]
            ):
                raise RenderParseError(
                    "legendValue takes (series, 'key', ...)"
                )
            keys = [a.value for a in n.args[1:]]
            for k in keys:
                if k not in ("avg", "total", "min", "max", "last"):
                    raise RenderParseError(
                        f"legendValue: unknown key {k!r}")
            s = ev(n.args[0])
            per = s.groupBy("metric").agg(*[
                _cents_agg("sum" if k == "total" else k, name).alias(f"v{i}")
                for i, k in enumerate(keys)
            ])
            lab = F.col("metric")
            for i, k in enumerate(keys):
                lab = F.concat(
                    lab, F.lit(f" ({k}: "),
                    F.coalesce(_cents_str(F.col(f"v{i}")), F.lit("nan")),
                    F.lit(")"),
                )
            per2 = per.select("metric", lab.alias("new_metric"))
            return s.join(per2, "metric").select(
                F.col("new_metric").alias("metric"), "interval", "cents"
            )
        if name == "setXFilesFactor":
            raise RenderParseError(
                "setXFilesFactor is only meaningful as the direct "
                "series argument of summarize"
            )
        raise RenderParseError(f"unknown render function {name!r}")

    return ev(node)


def render(spark: SparkSession, sf_dir: str, target: str) -> DataFrame:
    """Evaluate one Graphite render target over the 1h LWW series
    frame; output (metric, interval, value) with the single final
    cents→value projection — plus series_rank when the root is an
    ordering-only op (sortByTotal/sortByMaxima/sortByName).  The
    built plan is memoized per (session, corpus, target) — see
    ``_RENDER_FRAME_CACHE``; a hit returns the same object."""

    def build() -> DataFrame:
        frame = build_frame(spark, sf_dir, validate_target(parse_target(target)))
        rank = ["series_rank"] if "series_rank" in frame.columns else []
        return frame.select("metric", "interval", _value_col(), *rank)

    return session_memo(_RENDER_FRAME_CACHE, spark, (sf_dir, target), build)


# ------------------------------------------------------- oracle visitor
def build_sql(node: Node) -> str:
    """AST → DuckDB subquery producing (metric, interval, cents) —
    arithmetic identical to ``build_frame`` step for step."""
    # Recursive-CTE emissions (Holt-Winters, EMA) must use UNIQUE
    # names per emission: a nested composition (hw over hw, hw over
    # ema, …) otherwise has the inner subquery's hwseq/hwrec SHADOW
    # the outer recursion's, and DuckDB silently resolves the outer
    # references against the inner definitions — the fold joins
    # nothing and every band goes NULL (found by the round-14 fuzz
    # drawing holtWintersConfidenceArea over an aberration chain).
    cte_seq = iter(range(1_000_000))

    def seed(pattern: str) -> str:
        rx = glob_to_regex(pattern).replace("'", "''")
        return (
            f"(SELECT metric, interval, {CENTS_SQL} AS cents FROM lww1h "
            f"WHERE regexp_matches(metric, '{rx}'))"
        )

    def tag_col_sql(key: str) -> str:
        if key == "name":
            return "split_part(metric, ';', 1)"
        return f"regexp_extract(metric, ';{key}=([^;]+)', 1)"

    def tagged_seed_sql() -> str:
        # self-contained tagged-universe LWW (the TAGGED_CTE /
        # TAGGED_LWW_CTE derivation inlined — the emitted query's
        # WITH clause only carries the glob seed's CTEs).
        return (
            f"(SELECT metric, interval, {CENTS_SQL} AS cents FROM ("
            "SELECT metric, ts_sec - ts_sec % 3600 AS interval, "
            "arg_max(value, write_seq) AS value FROM ("
            "SELECT event_type || ';dc=dc' || CAST(user_id % 3 AS VARCHAR)"
            " || ';host=h' || CAST(user_id % 10 AS VARCHAR) AS metric, "
            "epoch_ns(ts) // 1000000000 AS ts_sec, value, "
            "event_id AS write_seq FROM events) tg "
            "GROUP BY 1, 2) tl)"
        )

    def ev(n: Node) -> str:
        if isinstance(n, Glob):
            return seed(n.pattern)
        if isinstance(n, Str):
            return seed(n.value)
        if not isinstance(n, Call):
            raise RenderParseError(f"series expression expected, got {n}")
        name = n.name
        if name == "seriesByGlob":
            return seed(n.args[0].value)
        if name == "seriesByTag":
            preds = []
            for a in n.args:
                key, op, val = _parse_tag_filter(a.value)
                c = tag_col_sql(key)
                v = val.replace("'", "''")
                if op == "=":
                    preds.append(f"{c} = '{v}'")
                elif op == "!=":
                    preds.append(f"{c} != '{v}'")
                elif op == "=~":
                    preds.append(f"regexp_matches({c}, '{v}')")
                else:
                    preds.append(f"NOT regexp_matches({c}, '{v}')")
            return (
                f"(SELECT metric, interval, cents FROM "
                f"{tagged_seed_sql()} ts WHERE {' AND '.join(preds)})"
            )
        if name == "groupByTags":
            how = n.args[1].value
            key = n.args[2].value
            agg = {
                "sum": "CAST(sum(cents) AS BIGINT)",
                "max": "max(cents)",
                "min": "min(cents)",
                "avg": ("CAST(floor(CAST(sum(cents) AS DOUBLE) / "
                        "count(cents)) AS BIGINT)"),
            }.get(how)
            if agg is None:
                raise RenderParseError(f"groupByTags: unknown method {how!r}")
            lab = (f"split_part(metric, ';', 1) || ';{key}=' || "
                   f"{tag_col_sql(key)}")
            return (
                f"(SELECT {lab} AS metric, interval, {agg} AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY {lab}, interval)"
            )
        if name == "aliasByTags":
            cols = " || '.' || ".join(
                tag_col_sql(a.value) for a in n.args[1:]
            )
            return (
                f"(SELECT {cols} AS metric, interval, cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "scale":
            return (
                f"(SELECT metric, interval, cents * {n.args[1].value} AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "offset":
            return (
                f"(SELECT metric, interval, cents + {100 * n.args[1].value} "
                f"AS cents FROM {ev(n.args[0])} s)"
            )
        if name == "absolute":
            return (
                f"(SELECT metric, interval, abs(cents) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "derivative":
            return (
                "(SELECT metric, interval, cents - lag(cents) OVER "
                "(PARTITION BY metric ORDER BY interval) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name in ("movingSum", "movingMin", "movingMax"):
            k = n.args[1].value
            fn = {"movingSum": "sum", "movingMin": "min",
                  "movingMax": "max"}[name]
            return (
                f"(SELECT metric, interval, {fn}(cents) OVER "
                "(PARTITION BY metric ORDER BY interval "
                f"ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "nonNegativeDerivative":
            if len(n.args) == 2:
                mv = 100 * n.args[1].value
                return (
                    "(SELECT metric, interval, CASE "
                    "WHEN p IS NULL THEN NULL "
                    "WHEN cents >= p THEN cents - p "
                    f"ELSE {mv} - p + cents + 1 END AS cents "
                    "FROM (SELECT metric, interval, cents, lag(cents) OVER "
                    "(PARTITION BY metric ORDER BY interval) AS p "
                    f"FROM {ev(n.args[0])} s) t)"
                )
            return (
                "(SELECT metric, interval, CASE WHEN d >= 0 THEN d END AS cents "
                "FROM (SELECT metric, interval, cents - lag(cents) OVER "
                "(PARTITION BY metric ORDER BY interval) AS d "
                f"FROM {ev(n.args[0])} s) t)"
            )
        if name == "transformNull":
            return (
                f"(SELECT metric, interval, "
                f"coalesce(cents, {100 * n.args[1].value}) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "keepLastValue":
            wb_ = ("OVER (PARTITION BY metric ORDER BY interval "
                   "ROWS UNBOUNDED PRECEDING)")
            if len(n.args) == 2:
                lim = 3600 * n.args[1].value
                return (
                    f"(SELECT metric, interval, CASE WHEN interval - "
                    f"max(CASE WHEN cents IS NOT NULL THEN interval END) "
                    f"{wb_} <= {lim} THEN "
                    f"last_value(cents IGNORE NULLS) {wb_} END AS cents "
                    f"FROM {ev(n.args[0])} s)"
                )
            return (
                f"(SELECT metric, interval, "
                f"last_value(cents IGNORE NULLS) {wb_} AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "highestMax":
            k = n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"ORDER BY max(cents) DESC, metric ASC LIMIT {k}) w "
                f"ON s.metric = w.metric)"
            )
        if name == "movingAverage":
            k = n.args[1].value
            fr = (f"OVER (PARTITION BY metric ORDER BY interval "
                  f"ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)")
            return (
                f"(SELECT metric, interval, CAST(floor("
                f"CAST(sum(cents) {fr} AS DOUBLE) / count(cents) {fr}"
                f") AS BIGINT) AS cents FROM {ev(n.args[0])} s)"
            )
        if name == "summarize":
            b = 3600 * n.args[1].value
            how = n.args[2].value
            # 'last' wraps the value in a struct so a NULL at the
            # bucket's max interval SURVIVES arg_max (bare
            # arg_max(cents, interval) skips NULL args and would
            # return the latest non-NULL — diverging from Spark's
            # max_by; ADVICE r10).
            agg = {
                "sum": "CAST(sum(cents) AS BIGINT)",
                "max": "max(cents)",
                "min": "min(cents)",
                "last": "(arg_max({'v': cents}, interval)).v",
                "avg": ("CAST(floor(CAST(sum(cents) AS DOUBLE) / count(cents))"
                        " AS BIGINT)"),
            }.get(how)
            if agg is None:
                raise RenderParseError(f"summarize: unknown method {how!r}")
            src = n.args[0]
            having = ""
            if isinstance(src, Call) and src.name == "setXFilesFactor":
                # the whisper xFilesFactor gate (see build_frame):
                # exact integer cross-multiplication, gated buckets
                # dropped.
                pct = src.args[1].value
                h = n.args[1].value
                having = f" HAVING count(cents) * 100 >= {pct * h}"
                src = src.args[0]
            return (
                f"(SELECT metric, interval - interval % {b} AS interval, "
                f"{agg} AS cents FROM {ev(src)} s "
                f"GROUP BY metric, interval - interval % {b}{having})"
            )
        if name == "sumSeries":
            return (
                "(SELECT 'sumSeries' AS metric, interval, "
                "CAST(sum(cents) AS BIGINT) AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY interval)"
            )
        if name in ("minSeries", "maxSeries", "rangeOfSeries"):
            agg = {
                "minSeries": "min(cents)",
                "maxSeries": "max(cents)",
                "rangeOfSeries": "max(cents) - min(cents)",
            }[name]
            return (
                f"(SELECT '{name}' AS metric, interval, {agg} AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY interval)"
            )
        if name == "stddevSeries":
            return (
                "(SELECT 'stddevSeries' AS metric, interval, "
                "CASE WHEN count(cents) > 0 THEN CAST(floor("
                "sqrt(CAST(count(cents) * sum(cents * cents) "
                "- sum(cents) * sum(cents) AS DOUBLE)) / count(cents)"
                ") AS BIGINT) END AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY interval)"
            )
        if name == "percentileOfSeries":
            p = n.args[1].value
            return (
                "(SELECT 'percentileOfSeries' AS metric, interval, "
                "CASE WHEN len(vs) > 0 THEN "
                f"vs[CAST(ceil(len(vs) * {p} / 100.0) AS INT)] END AS cents "
                "FROM (SELECT interval, "
                "list_sort(list(cents) FILTER (WHERE cents IS NOT NULL)) "
                f"AS vs FROM {ev(n.args[0])} s GROUP BY interval) t)"
            )
        if name == "verticalLine":
            h = int(n.args[0].value)
            lbl = (n.args[1].value if len(n.args) > 1
                   else "verticalLine").replace("'", "''")
            return (
                f"(SELECT '{lbl}' AS metric, interval, "
                "CAST(100 AS BIGINT) AS cents "
                f"FROM (SELECT DISTINCT interval FROM {seed('*')} z) t "
                "WHERE interval = (SELECT min(interval) + "
                f"{3600 * h} FROM (SELECT DISTINCT interval "
                f"FROM {seed('*')} z2) t2))"
            )
        if name == "constantLine":
            k = 100 * n.args[0].value
            return (
                f"(SELECT 'constantLine' AS metric, interval, "
                f"CAST({k} AS BIGINT) AS cents "
                f"FROM (SELECT DISTINCT interval FROM {seed('*')} z) t)"
            )
        if name == "averageSeries":
            return (
                "(SELECT 'averageSeries' AS metric, interval, "
                "CAST(floor(CAST(sum(cents) AS DOUBLE) / count(cents)) "
                "AS BIGINT) AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY interval)"
            )
        if name == "maximumAbove":
            t = 100 * n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING max(cents) > {t}) w ON s.metric = w.metric)"
            )
        if name == "grep":
            rx = n.args[1].value.replace("'", "''")
            return (
                f"(SELECT metric, interval, cents FROM {ev(n.args[0])} s "
                f"WHERE regexp_matches(metric, '{rx}'))"
            )
        if name == "exclude":
            rx = n.args[1].value.replace("'", "''")
            return (
                f"(SELECT metric, interval, cents FROM {ev(n.args[0])} s "
                f"WHERE NOT regexp_matches(metric, '{rx}'))"
            )
        if name in ("currentAbove", "currentBelow"):
            # struct-wrapped arg_max: a NULL latest slot stays NULL
            # (fails the compare, matching Spark's max_by — ADVICE
            # r10's divergence fix).
            t = 100 * n.args[1].value
            op = ">" if name == "currentAbove" else "<"
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING (arg_max({{'v': cents}}, interval)).v {op} {t}) w "
                f"ON s.metric = w.metric)"
            )
        if name in ("averageAbove", "averageBelow"):
            t = 100 * n.args[1].value
            op = ">" if name == "averageAbove" else "<"
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING sum(cents) {op} {t} * count(cents)) w "
                f"ON s.metric = w.metric)"
            )
        if name in ("minimumAbove", "minimumBelow", "maximumBelow"):
            t = 100 * n.args[1].value
            fn = "max" if name == "maximumBelow" else "min"
            op = ">" if name == "minimumAbove" else "<"
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING {fn}(cents) {op} {t}) w ON s.metric = w.metric)"
            )
        if name in ("highestAverage", "lowestAverage"):
            k = n.args[1].value
            d = "DESC" if name == "highestAverage" else "ASC"
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"ORDER BY CAST(sum(cents) AS DOUBLE) / count(cents) {d} "
                f"NULLS LAST, metric ASC LIMIT {k}) w "
                f"ON s.metric = w.metric)"
            )
        if name in ("removeAboveValue", "removeBelowValue"):
            t = 100 * n.args[1].value
            op = "<=" if name == "removeAboveValue" else ">="
            return (
                f"(SELECT metric, interval, "
                f"CASE WHEN cents {op} {t} THEN cents END AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name in ("removeAbovePercentile", "removeBelowPercentile"):
            p = n.args[1].value
            op = "<=" if name == "removeAbovePercentile" else ">="
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, "
                f"CASE WHEN s.cents {op} t.pc THEN s.cents END AS cents "
                f"FROM {inner} s LEFT JOIN ("
                f"SELECT metric, max(cents) AS pc FROM ("
                f"SELECT metric, cents, "
                f"row_number() OVER (PARTITION BY metric ORDER BY cents) "
                f"AS rn, count(*) OVER (PARTITION BY metric) AS nn "
                f"FROM {inner} r WHERE cents IS NOT NULL) q "
                f"WHERE rn <= CAST(ceil(nn * {p} / 100.0) AS BIGINT) "
                f"GROUP BY metric) t ON s.metric = t.metric)"
            )
        if name in ("holtWintersForecast", "holtWintersConfidenceUpper",
                    "holtWintersConfidenceLower", "holtWintersAberration"):
            # the recursive term re-derives s_new / d_new inside each
            # expression so every operand sequence matches the kernel
            # loop exactly (the g_holt_winters_bands discipline, in
            # cents):
            #   f     = level + trend
            #   d_new = 0.1*abs(x - f) + (1 - 0.1)*dev
            #   upper = f + 3*d_new ; lower = f - 3*d_new
            #   s_new = 0.5*x + (1 - 0.5)*(level + trend)
            #   b_new = 0.3*(s_new - level) + (1 - 0.3)*trend
            inner = ev(n.args[0])
            f_ = "(h.level + h.trend)"
            dnew = f"(0.1 * abs(s.x - {f_}) + (1 - 0.1) * h.dev)"
            sel = {
                "holtWintersForecast": "CAST(floor(h.forecast) AS BIGINT)",
                "holtWintersConfidenceUpper": "CAST(floor(h.upper) AS BIGINT)",
                "holtWintersConfidenceLower": "CAST(floor(h.lower) AS BIGINT)",
                "holtWintersAberration": (
                    "CASE WHEN h.t IS NULL THEN NULL "
                    "WHEN h.upper IS NULL THEN CAST(0 AS BIGINT) "
                    "WHEN h.x > h.upper THEN CAST(floor(h.x - h.upper) AS BIGINT) "
                    "WHEN h.x < h.lower THEN CAST(floor(h.x - h.lower) AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END"
                ),
            }[name]
            k = next(cte_seq)
            sq, rc = f"hwseq_{k}", f"hwrec_{k}"
            return (
                f"(WITH RECURSIVE {sq} AS MATERIALIZED ("
                f"SELECT metric, interval, CAST(cents AS DOUBLE) AS x, "
                f"row_number() OVER (PARTITION BY metric ORDER BY interval)"
                f" AS t FROM {inner} hs WHERE cents IS NOT NULL), "
                f"{rc} AS ("
                f"SELECT metric, t, interval, x, x AS level, "
                f"CAST(0.0 AS DOUBLE) AS trend, "
                f"CAST(0.0 AS DOUBLE) AS dev, "
                f"CAST(NULL AS DOUBLE) AS forecast, "
                f"CAST(NULL AS DOUBLE) AS upper, "
                f"CAST(NULL AS DOUBLE) AS lower "
                f"FROM {sq} WHERE t = 1 "
                f"UNION ALL "
                f"SELECT s.metric, s.t, s.interval, s.x, "
                f"0.5 * s.x + (1 - 0.5) * {f_} AS level, "
                f"0.3 * ((0.5 * s.x + (1 - 0.5) * {f_})"
                f" - h.level) + (1 - 0.3) * h.trend AS trend, "
                f"{dnew} AS dev, "
                f"{f_} AS forecast, "
                f"{f_} + 3 * {dnew} AS upper, "
                f"{f_} - 3 * {dnew} AS lower "
                f"FROM {rc} h JOIN {sq} s "
                f"ON s.metric = h.metric AND s.t = h.t + 1) "
                f"SELECT c.metric, c.interval, {sel} AS cents "
                f"FROM {inner} c LEFT JOIN {rc} h "
                f"ON h.metric = c.metric AND h.interval = c.interval)"
            )
        if name == "nPercentile":
            p = n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, t.pc AS cents "
                f"FROM {inner} s LEFT JOIN ("
                f"SELECT metric, max(cents) AS pc FROM ("
                f"SELECT metric, cents, "
                f"row_number() OVER (PARTITION BY metric ORDER BY cents) "
                f"AS rn, count(*) OVER (PARTITION BY metric) AS nn "
                f"FROM {inner} r WHERE cents IS NOT NULL) q "
                f"WHERE rn <= CAST(ceil(nn * {p} / 100.0) AS BIGINT) "
                f"GROUP BY metric) t ON s.metric = t.metric)"
            )
        if name == "mostDeviant":
            k = n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"ORDER BY CASE WHEN count(cents) > 0 THEN "
                f"sqrt(CAST(count(cents) * sum(cents * cents) "
                f"- sum(cents) * sum(cents) AS DOUBLE)) / count(cents) END "
                f"DESC NULLS LAST, metric ASC LIMIT {k}) w "
                f"ON s.metric = w.metric)"
            )
        if name == "timeSlice":
            a, b2 = n.args[1].value, n.args[2].value
            inner = ev(n.args[0])
            return (
                f"(SELECT metric, interval, CASE WHEN "
                f"interval >= t.t0 + {3600 * a} AND "
                f"interval < t.t0 + {3600 * b2} THEN cents END AS cents "
                f"FROM {inner} s CROSS JOIN "
                f"(SELECT min(interval) AS t0 FROM {inner} z) t)"
            )
        if name == "groupByNode":
            i = n.args[1].value
            how = n.args[2].value
            agg = {
                "sum": "CAST(sum(cents) AS BIGINT)",
                "max": "max(cents)",
                "min": "min(cents)",
                "avg": ("CAST(floor(CAST(sum(cents) AS DOUBLE) / count(cents))"
                        " AS BIGINT)"),
            }.get(how)
            if agg is None:
                raise RenderParseError(f"groupByNode: unknown method {how!r}")
            return (
                f"(SELECT split_part(metric, '.', {i + 1}) AS metric, "
                f"interval, {agg} AS cents FROM {ev(n.args[0])} s "
                f"GROUP BY split_part(metric, '.', {i + 1}), interval)"
            )
        if name == "perSecond":
            if len(n.args) == 2:
                mv = 100 * n.args[1].value
                return (
                    "(SELECT metric, interval, CASE WHEN p IS NULL THEN "
                    "NULL ELSE CAST(floor(CAST(CASE WHEN cents >= p THEN "
                    f"cents - p ELSE {mv} - p + cents + 1 END AS DOUBLE) "
                    "/ 3600) AS BIGINT) END AS cents "
                    "FROM (SELECT metric, interval, cents, lag(cents) OVER "
                    "(PARTITION BY metric ORDER BY interval) AS p "
                    f"FROM {ev(n.args[0])} s) t)"
                )
            return (
                "(SELECT metric, interval, "
                "CASE WHEN d >= 0 THEN "
                "CAST(floor(CAST(d AS DOUBLE) / 3600) AS BIGINT) END "
                "AS cents "
                "FROM (SELECT metric, interval, cents - lag(cents) OVER "
                "(PARTITION BY metric ORDER BY interval) AS d "
                f"FROM {ev(n.args[0])} s) t)"
            )
        if name == "linearRegression":
            pm = "OVER (PARTITION BY metric)"
            nn, si = f"count(cents) {pm}", None
            si = (f"sum(CASE WHEN cents IS NOT NULL THEN i END) {pm}")
            sii = (f"sum(CASE WHEN cents IS NOT NULL THEN i * i END) {pm}")
            sy = f"sum(cents) {pm}"
            siy = (f"sum(CASE WHEN cents IS NOT NULL THEN i * cents END) "
                   f"{pm}")
            den = "(nn * sii - si * si)"
            b = f"(CAST(nn * siy - si * sy AS DOUBLE) / {den})"
            a = f"((CAST(sy AS DOUBLE) - {b} * si) / nn)"
            return (
                f"(SELECT metric, interval, CASE WHEN {den} != 0 THEN "
                f"CAST(floor({a} + {b} * i) AS BIGINT) END AS cents "
                f"FROM (SELECT metric, interval, i, {nn} AS nn, "
                f"{si} AS si, {sii} AS sii, {sy} AS sy, {siy} AS siy "
                f"FROM (SELECT metric, interval, cents, "
                f"(interval - min(interval) {pm}) // 3600 AS i "
                f"FROM {ev(n.args[0])} r) q) t)"
            )
        if name == "offsetToZero":
            return (
                "(SELECT metric, interval, cents - min(cents) OVER "
                "(PARTITION BY metric) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "delay":
            k = n.args[1].value
            return (
                f"(SELECT metric, interval, lag(cents, {k}) OVER "
                "(PARTITION BY metric ORDER BY interval) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "changed":
            return (
                "(SELECT metric, interval, "
                "CASE WHEN cents != lag(cents) OVER "
                "(PARTITION BY metric ORDER BY interval) "
                "THEN 100 ELSE 0 END AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "invert":
            return (
                "(SELECT metric, interval, CASE WHEN cents != 0 THEN "
                "CAST(floor(10000 / CAST(cents AS DOUBLE)) AS BIGINT) END "
                "AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "limit":
            k = n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT DISTINCT metric FROM {inner} g "
                f"ORDER BY metric ASC LIMIT {k}) w ON s.metric = w.metric)"
            )
        if name == "pow":
            p = n.args[1].value
            if not 1 <= p <= 3:
                raise RenderParseError("pow exponent must be in 1..3")
            num = " * ".join(["cents"] * p)
            return (
                f"(SELECT metric, interval, "
                f"CAST(floor(({num}) / CAST({100 ** (p - 1)} AS DOUBLE)) "
                f"AS BIGINT) AS cents FROM {ev(n.args[0])} s)"
            )
        if name == "squareRoot":
            return (
                "(SELECT metric, interval, CASE WHEN cents >= 0 THEN "
                "CAST(floor(10.0 * sqrt(cents)) AS BIGINT) END AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "integralByInterval":
            b = 3600 * n.args[1].value
            return (
                "(SELECT metric, interval, sum(cents) OVER "
                f"(PARTITION BY metric, interval - interval % {b} "
                "ORDER BY interval ROWS UNBOUNDED PRECEDING) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "alias":
            lit = n.args[1].value.replace("'", "''")
            return (
                f"(SELECT '{lit}' AS metric, interval, cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "timeShift":
            return (
                f"(SELECT metric, interval + {3600 * n.args[1].value} "
                f"AS interval, cents FROM {ev(n.args[0])} s)"
            )
        if name == "integral":
            return (
                "(SELECT metric, interval, sum(cents) OVER "
                "(PARTITION BY metric ORDER BY interval "
                "ROWS UNBOUNDED PRECEDING) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "countSeries":
            return (
                "(SELECT 'countSeries' AS metric, interval, "
                "count(*) * 100 AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY interval)"
            )
        if name == "aliasSub":
            # 'g' flag: Spark's regexp_replace replaces ALL
            # occurrences; DuckDB's default replaces only the first
            # (ADVICE r10's divergence on multi-match patterns).
            rx = n.args[1].value.replace("'", "''")
            rep = n.args[2].value.replace("'", "''")
            return (
                f"(SELECT regexp_replace(metric, '{rx}', '{rep}', 'g') "
                f"AS metric, interval, cents FROM {ev(n.args[0])} s)"
            )
        if name == "aliasByNode":
            idxs = [a.value for a in n.args[1:]]
            cols = [f"split_part(metric, '.', {i + 1})" for i in idxs]
            lbl = cols[0] if len(cols) == 1 else " || '.' || ".join(cols)
            return (
                f"(SELECT {lbl} AS metric, "
                f"interval, cents FROM {ev(n.args[0])} s)"
            )
        if name == "averageOutsidePercentile":
            p = n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM ("
                f"SELECT metric, row_number() OVER (ORDER BY mv, metric)"
                f" AS rn, count(*) OVER () AS nn FROM ("
                f"SELECT metric, CAST(sum(cents) AS DOUBLE) / count(cents)"
                f" AS mv FROM {inner} g GROUP BY metric) m "
                f"WHERE mv IS NOT NULL) r "
                f"WHERE rn <= CAST(ceil(nn * {p} / 100.0) AS BIGINT) "
                f"OR rn > CAST(ceil(nn * {100 - p} / 100.0) AS BIGINT)"
                f") w ON s.metric = w.metric)"
            )
        if name == "group":
            parts = " UNION ALL ".join(
                f"SELECT metric, interval, cents FROM {ev(a)} g{i}"
                for i, a in enumerate(n.args)
            )
            return f"({parts})"
        if name == "asPercent" and len(n.args) == 1:
            return (
                "(SELECT 'asPercent(' || metric || ')' AS metric, interval, "
                "CASE WHEN sum(cents) OVER (PARTITION BY interval) != 0 THEN "
                "CAST(floor(CAST(cents * 10000 AS DOUBLE) / "
                "sum(cents) OVER (PARTITION BY interval)) AS BIGINT) "
                "END AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name in ("diffSeries", "divideSeries", "asPercent"):
            a, b = ev(n.args[0]), ev(n.args[1])
            if name == "diffSeries":
                out = "a.cents - b.cents"
            elif name == "divideSeries":
                out = ("CASE WHEN b.cents != 0 THEN CAST(floor("
                       "CAST(a.cents * 100 AS DOUBLE) / b.cents) AS BIGINT) "
                       "END")
            else:
                out = ("CASE WHEN b.cents != 0 THEN CAST(floor("
                       "CAST(a.cents * 10000 AS DOUBLE) / b.cents) AS BIGINT) "
                       "END")
            return (
                f"(SELECT '{name}(' || a.metric || ')' AS metric, "
                f"a.interval, {out} AS cents "
                f"FROM {a} a LEFT JOIN {b} b ON a.interval = b.interval)"
            )
        if name == "multiplySeries":
            a, b = ev(n.args[0]), ev(n.args[1])
            return (
                f"(SELECT 'multiplySeries(' || a.metric || ')' AS metric, "
                f"a.interval, CAST(floor("
                f"CAST(a.cents * b.cents AS DOUBLE) / 100) AS BIGINT) "
                f"AS cents FROM {a} a LEFT JOIN {b} b "
                f"ON a.interval = b.interval)"
            )
        if name == "areaBetween":
            a, b = ev(n.args[0]), ev(n.args[1])
            return (
                f"(SELECT 'areaBetween(' || a.metric || ')' AS metric, "
                f"a.interval, abs(a.cents - b.cents) AS cents "
                f"FROM {a} a LEFT JOIN {b} b ON a.interval = b.interval)"
            )
        if name == "groupByNodes":
            idxs = [a.value for a in n.args[2:]]
            how = n.args[1].value
            agg = {
                "sum": "CAST(sum(cents) AS BIGINT)",
                "max": "max(cents)",
                "min": "min(cents)",
                "avg": ("CAST(floor(CAST(sum(cents) AS DOUBLE) / "
                        "count(cents)) AS BIGINT)"),
            }.get(how)
            if agg is None:
                raise RenderParseError(
                    f"groupByNodes: unknown method {how!r}")
            lab = " || '.' || ".join(
                f"split_part(metric, '.', {i + 1})" for i in idxs
            )
            return (
                f"(SELECT {lab} AS metric, interval, {agg} AS cents "
                f"FROM {ev(n.args[0])} s "
                f"GROUP BY {lab}, interval)"
            )
        if name == "aliasByMetric":
            return (
                "(SELECT regexp_extract(metric, '([^.]*)$', 1) AS metric, "
                f"interval, cents FROM {ev(n.args[0])} s)"
            )
        if name == "fallbackSeries":
            a, b = ev(n.args[0]), ev(n.args[1])
            return (
                f"(SELECT metric, interval, cents FROM {a} fa "
                f"WHERE (SELECT count(*) FROM {a} fc) > 0 "
                f"UNION ALL "
                f"SELECT metric, interval, cents FROM {b} fb "
                f"WHERE (SELECT count(*) FROM {a} fc2) = 0)"
            )
        if name == "threshold":
            k = 100 * n.args[0].value
            return (
                f"(SELECT 'threshold' AS metric, interval, "
                f"CAST({k} AS BIGINT) AS cents "
                f"FROM (SELECT DISTINCT interval FROM {seed('*')} z) t)"
            )
        if name == "drawAsInfinite":
            return (
                "(SELECT metric, interval, CAST(CASE "
                "WHEN cents IS NULL THEN NULL "
                "WHEN cents != 0 THEN 100 ELSE 0 END AS BIGINT) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "isNonNull":
            return (
                "(SELECT metric, interval, CAST(CASE WHEN cents IS NOT NULL "
                "THEN 100 ELSE 0 END AS BIGINT) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "scaleToSeconds":
            k = n.args[1].value
            return (
                f"(SELECT metric, interval, CAST(floor("
                f"CAST(cents * {k} AS DOUBLE) / 3600) AS BIGINT) AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "hitcount":
            b2 = 3600 * n.args[1].value
            return (
                f"(SELECT metric, interval - interval % {b2} AS interval, "
                f"CAST(sum(cents) * 3600 AS BIGINT) AS cents "
                f"FROM {ev(n.args[0])} s "
                f"GROUP BY metric, interval - interval % {b2})"
            )
        if name in ("highestCurrent", "lowestCurrent"):
            k = n.args[1].value
            d = "DESC" if name == "highestCurrent" else "ASC"
            inner = ev(n.args[0])
            # struct-wrapped arg_max: a NULL latest slot stays NULL
            # and ranks last (matching Spark's max_by + NULLS LAST).
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"ORDER BY (arg_max({{'v': cents}}, interval)).v {d} "
                f"NULLS LAST, metric ASC LIMIT {k}) w "
                f"ON s.metric = w.metric)"
            )
        if name == "removeEmptySeries":
            inner = ev(n.args[0])
            if len(n.args) == 2:
                pct = n.args[1].value
                return (
                    f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                    f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                    f"HAVING count(cents) * 100 >= {pct} * count(*)) w "
                    f"ON s.metric = w.metric)"
                )
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING count(cents) > 0) w ON s.metric = w.metric)"
            )
        if name == "aggregateLine":
            how = n.args[1].value
            over = "OVER (PARTITION BY metric)"
            val = {
                "avg": (f"CAST(floor(CAST(sum(cents) {over} AS DOUBLE) "
                        f"/ count(cents) {over}) AS BIGINT)"),
                "max": f"max(cents) {over}",
                "min": f"min(cents) {over}",
            }.get(how)
            if val is None:
                raise RenderParseError(f"aggregateLine: unknown method {how!r}")
            return (
                f"(SELECT metric, interval, {val} AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "removeBetweenPercentile":
            p = n.args[1].value
            inner = ev(n.args[0])
            return (
                f"(SELECT s.metric, s.interval, "
                f"CASE WHEN s.cents < t.lo OR s.cents > t.hi "
                f"THEN s.cents END AS cents "
                f"FROM {inner} s LEFT JOIN ("
                f"SELECT metric, "
                f"max(CASE WHEN rn <= CAST(ceil(nn * {p} / 100.0) AS BIGINT)"
                f" THEN cents END) AS lo, "
                f"max(CASE WHEN rn <= CAST(ceil(nn * {100 - p} / 100.0) "
                f"AS BIGINT) THEN cents END) AS hi FROM ("
                f"SELECT metric, cents, "
                f"row_number() OVER (PARTITION BY metric ORDER BY cents) "
                f"AS rn, count(*) OVER (PARTITION BY metric) AS nn "
                f"FROM {inner} r WHERE cents IS NOT NULL) q "
                f"GROUP BY metric) t ON s.metric = t.metric)"
            )
        if name == "stdev":
            k = n.args[1].value
            fr = (f"OVER (PARTITION BY metric ORDER BY interval "
                  f"ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)")
            nn = f"count(cents) {fr}"
            s1 = f"sum(cents) {fr}"
            s2 = f"sum(cents * cents) {fr}"
            return (
                f"(SELECT metric, interval, "
                f"CASE WHEN {nn} > 0 THEN CAST(floor("
                f"sqrt(CAST({nn} * {s2} - {s1} * {s1} AS DOUBLE)) / {nn}"
                f") AS BIGINT) END AS cents FROM {ev(n.args[0])} s)"
            )
        if name in ("sumSeriesWithWildcards", "averageSeriesWithWildcards",
                    "maxSeriesWithWildcards", "minSeriesWithWildcards",
                    "multiplySeriesWithWildcards"):
            i = n.args[1].value
            # coalesce: DuckDB's array_to_string([]) is NULL where
            # Spark's concat_ws over an empty array is '' — a
            # node-delete that empties the label must agree.
            relabel = (
                f"coalesce(array_to_string(list_concat("
                f"str_split(metric, '.')[1:{i}], "
                f"str_split(metric, '.')[{i + 2}:]), '.'), '')"
            )
            if name == "multiplySeriesWithWildcards":
                # left fold in ORIGINAL-label order (matches Spark's
                # array_sort(collect_list(struct(metric, cents)))
                # fold; list() KEEPS NULL cents so NULL propagates
                # per step).  The inner subquery computes the new
                # label BESIDE the original metric so the fold's
                # ORDER BY cannot resolve to the relabeled alias.
                return (
                    f"(SELECT lab AS metric, interval, "
                    f"list_reduce(list(cents ORDER BY metric), "
                    f"(a, b) -> CAST(floor(CAST(a * b AS DOUBLE) / 100)"
                    f" AS BIGINT)) AS cents "
                    f"FROM (SELECT {relabel} AS lab, metric, interval, "
                    f"cents FROM {ev(n.args[0])} s0) s "
                    f"GROUP BY lab, interval)"
                )
            agg = {
                "sumSeriesWithWildcards": "CAST(sum(cents) AS BIGINT)",
                "maxSeriesWithWildcards": "max(cents)",
                "minSeriesWithWildcards": "min(cents)",
                "averageSeriesWithWildcards": (
                    "CAST(floor(CAST(sum(cents) AS DOUBLE) / count(cents))"
                    " AS BIGINT)"
                ),
            }[name]
            return (
                f"(SELECT {relabel} AS metric, interval, {agg} AS cents "
                f"FROM {ev(n.args[0])} s GROUP BY {relabel}, interval)"
            )
        if name == "substr":
            i, j2 = n.args[1].value, n.args[2].value
            # same empty-slice coalesce as the wildcard reducers
            return (
                f"(SELECT coalesce(array_to_string("
                f"str_split(metric, '.')[{i + 1}:{j2}], '.'), '') AS metric, "
                f"interval, cents FROM {ev(n.args[0])} s)"
            )
        if name == "roundTo":
            kd = n.args[1].value
            d = 10 ** (2 - kd)
            h = d // 2
            return (
                f"(SELECT metric, interval, CAST(floor("
                f"CAST(cents + {h} AS DOUBLE) / {d}) * {d} AS BIGINT) "
                f"AS cents FROM {ev(n.args[0])} s)"
            )
        if name == "movingMedian":
            k = n.args[1].value
            fr = (f"OVER (PARTITION BY metric ORDER BY interval "
                  f"ROWS BETWEEN {k - 1} PRECEDING AND CURRENT ROW)")
            # list() over a window keeps NULL elements in DuckDB
            # (Spark's collect_list drops them) — list_filter first.
            vs = (f"list_sort(list_filter(list(cents) {fr}, "
                  f"x -> x IS NOT NULL))")
            return (
                f"(SELECT metric, interval, CASE WHEN len(vs) > 0 THEN "
                f"vs[CAST(ceil(len(vs) / 2.0) AS INT)] END AS cents FROM ("
                f"SELECT metric, interval, cents, {vs} AS vs "
                f"FROM {ev(n.args[0])} s) t)"
            )
        if name == "minMax":
            over = "OVER (PARTITION BY metric)"
            mn = f"min(cents) {over}"
            mx = f"max(cents) {over}"
            return (
                f"(SELECT metric, interval, "
                f"CASE WHEN {mx} > {mn} THEN CAST(floor("
                f"CAST((cents - {mn}) * 100 AS DOUBLE) / ({mx} - {mn})"
                f") AS BIGINT) WHEN cents IS NOT NULL "
                f"THEN CAST(0 AS BIGINT) END AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "interpolate":
            wb = ("OVER (PARTITION BY metric ORDER BY interval "
                  "ROWS UNBOUNDED PRECEDING)")
            wf = ("OVER (PARTITION BY metric ORDER BY interval "
                  "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)")
            gap = ""
            if len(n.args) == 2:
                gap = (f" AND next_iv - prev_iv <= "
                       f"{3600 * (n.args[1].value + 1)}")
            return (
                f"(SELECT metric, interval, CASE "
                f"WHEN cents IS NOT NULL THEN cents "
                f"WHEN prev_iv IS NOT NULL AND next_iv IS NOT NULL{gap} "
                f"THEN "
                f"CAST(floor(CAST(prev_c * (next_iv - interval) "
                f"+ next_c * (interval - prev_iv) AS DOUBLE) "
                f"/ (next_iv - prev_iv)) AS BIGINT) END AS cents FROM ("
                f"SELECT metric, interval, cents, "
                f"last_value(CASE WHEN cents IS NOT NULL THEN interval END "
                f"IGNORE NULLS) {wb} AS prev_iv, "
                f"last_value(cents IGNORE NULLS) {wb} AS prev_c, "
                f"first_value(CASE WHEN cents IS NOT NULL THEN interval END "
                f"IGNORE NULLS) {wf} AS next_iv, "
                f"first_value(cents IGNORE NULLS) {wf} AS next_c "
                f"FROM {ev(n.args[0])} s) t)"
            )
        if name == "exponentialMovingAverage":
            kN = n.args[1].value
            a_ = f"(2.0 / {kN + 1})"
            inner = ev(n.args[0])
            k = next(cte_seq)
            sq, rc = f"emaseq_{k}", f"emarec_{k}"
            return (
                f"(WITH RECURSIVE {sq} AS MATERIALIZED ("
                f"SELECT metric, interval, CAST(cents AS DOUBLE) AS x, "
                f"row_number() OVER (PARTITION BY metric ORDER BY interval)"
                f" AS t FROM {inner} es WHERE cents IS NOT NULL), "
                f"{rc} AS ("
                f"SELECT metric, t, interval, x, x AS e "
                f"FROM {sq} WHERE t = 1 "
                f"UNION ALL "
                f"SELECT s.metric, s.t, s.interval, s.x, "
                f"{a_} * s.x + (1 - {a_}) * h.e AS e "
                f"FROM {rc} h JOIN {sq} s "
                f"ON s.metric = h.metric AND s.t = h.t + 1) "
                f"SELECT c.metric, c.interval, "
                f"CAST(floor(h.e) AS BIGINT) AS cents "
                f"FROM {inner} c LEFT JOIN {rc} h "
                f"ON h.metric = c.metric AND h.interval = c.interval)"
            )
        if name == "weightedAverage":
            i = n.args[2].value
            nd = f"split_part(metric, '.', {i + 1})"
            a, b = ev(n.args[0]), ev(n.args[1])
            return (
                f"(SELECT 'weightedAverage' AS metric, a.interval, "
                f"CASE WHEN sum(CASE WHEN a.cents IS NOT NULL AND "
                f"b.cents IS NOT NULL THEN b.cents END) != 0 THEN "
                f"CAST(floor(CAST(sum(CASE WHEN a.cents IS NOT NULL AND "
                f"b.cents IS NOT NULL THEN a.cents * b.cents END) "
                f"AS DOUBLE) / sum(CASE WHEN a.cents IS NOT NULL AND "
                f"b.cents IS NOT NULL THEN b.cents END)) AS BIGINT) END "
                f"AS cents "
                f"FROM (SELECT {nd} AS nd, interval, cents FROM {a} aa) a "
                f"JOIN (SELECT {nd} AS nd, interval, cents FROM {b} bb) b "
                f"ON a.nd = b.nd AND a.interval = b.interval "
                f"GROUP BY a.interval)"
            )
        if name == "stacked":
            ws_ = ("OVER (PARTITION BY interval ORDER BY metric "
                   "ROWS UNBOUNDED PRECEDING)")
            return (
                f"(SELECT metric, interval, CASE WHEN cents IS NOT NULL "
                f"THEN sum(cents) {ws_} END AS cents "
                f"FROM {ev(n.args[0])} s)"
            )
        if name == "useSeriesAbove":
            t = 100 * n.args[1].value
            rx = n.args[2].value.replace("'", "''")
            rep = n.args[3].value.replace("'", "''")
            inner = ev(n.args[0])
            return (
                f"(SELECT regexp_replace(s.metric, '{rx}', '{rep}', 'g') "
                f"AS metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING max(cents) > {t}) w ON s.metric = w.metric)"
            )
        if name == "timeStack":
            shift = _timestack_shift(n.args[1])
            a2, b2 = (x.value for x in n.args[2:])
            inner = ev(n.args[0])
            parts = " UNION ALL ".join(
                f"SELECT metric || '.s{k}' AS metric, "
                f"interval + {shift * k} AS interval, cents "
                f"FROM {inner} t{k}"
                for k in range(a2, b2)
            )
            return f"({parts})"
        if name == "randomWalk":
            lbl = n.args[0].value.replace("'", "''")
            return (
                f"(WITH rwsp AS (SELECT DISTINCT interval FROM "
                f"{seed('*')} z), "
                f"rwb AS (SELECT min(interval) AS lo FROM rwsp), "
                f"rwstep AS (SELECT interval, "
                f"(interval - lo) // 3600 AS i, "
                f"CAST(floor(CAST('0x' || substring(md5('{lbl}:' || "
                f"CAST((interval - lo) // 3600 AS VARCHAR)), 1, 8) "
                f"AS BIGINT) * 1000000.0 / 4294967296) AS BIGINT) "
                f"- 500000 AS step_u6 FROM rwsp, rwb) "
                f"SELECT '{lbl}' AS metric, interval, "
                f"CAST(floor(CAST(sum(step_u6) OVER (ORDER BY i "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                f"AS DOUBLE) / 10000) AS BIGINT) AS cents FROM rwstep)"
            )
        if name == "filterSeries":
            func, op = n.args[1].value, n.args[2].value
            if op not in (">", ">=", "<", "<=", "=", "!="):
                raise RenderParseError(f"filterSeries: unknown op {op!r}")
            t = 100 * n.args[3].value
            inner = ev(n.args[0])
            if func == "average":
                having = f"sum(cents) {op} {t} * count(cents)"
            elif func == "current":
                # struct-wrapped arg_max: a NULL latest slot stays
                # NULL and fails every op (matches Spark's max_by).
                having = f"(arg_max({{'v': cents}}, interval)).v {op} {t}"
            elif func in ("max", "min"):
                having = f"{func}(cents) {op} {t}"
            elif func == "sum":
                having = f"CAST(sum(cents) AS BIGINT) {op} {t}"
            else:
                raise RenderParseError(f"filterSeries: unknown func {func!r}")
            return (
                f"(SELECT s.metric, s.interval, s.cents FROM {inner} s "
                f"JOIN (SELECT metric FROM {inner} g GROUP BY metric "
                f"HAVING {having}) w ON s.metric = w.metric)"
            )
        if name == "smartSummarize":
            h = n.args[1].value
            how = n.args[2].value
            b = 3600 * h
            agg = {
                "sum": "CAST(sum(cents) AS BIGINT)",
                "max": "max(cents)",
                "min": "min(cents)",
                "last": "(arg_max({'v': cents}, interval)).v",
                "avg": ("CAST(floor(CAST(sum(cents) AS DOUBLE) / count(cents))"
                        " AS BIGINT)"),
            }.get(how)
            if agg is None:
                raise RenderParseError(
                    f"smartSummarize: unknown method {how!r}"
                )
            inner = ev(n.args[0])
            return (
                f"(SELECT metric, bucket AS interval, {agg} AS cents FROM "
                f"(SELECT s.metric, s.interval, s.cents, "
                f"m.t0 + (s.interval - m.t0) - (s.interval - m.t0) % {b} "
                f"AS bucket FROM {inner} s, "
                f"(SELECT min(interval) AS t0 FROM {inner} s2) m) t "
                f"GROUP BY metric, bucket)"
            )
        if name == "identity":
            lbl = n.args[0].value.replace("'", "''")
            return (
                f"(SELECT '{lbl}' AS metric, interval, "
                f"CAST(interval * 100 AS BIGINT) AS cents "
                f"FROM (SELECT DISTINCT interval FROM {seed('*')} z) t)"
            )
        if name == "divideSeriesLists":
            A, B = ev(n.args[0]), ev(n.args[1])
            rank_a = ("(SELECT metric, row_number() OVER (ORDER BY metric) "
                      f"AS rnk FROM (SELECT DISTINCT metric FROM {A} d) u)")
            rank_b = ("(SELECT metric, row_number() OVER (ORDER BY metric) "
                      f"AS rnk FROM (SELECT DISTINCT metric FROM {B} d) u)")
            return (
                "(SELECT 'divideSeriesLists(' || a.metric || ')' AS metric, "
                "a.interval, CASE WHEN b.cents != 0 THEN "
                "CAST(floor(CAST(a.cents * 100 AS DOUBLE) / b.cents) "
                "AS BIGINT) END AS cents "
                f"FROM (SELECT s.metric, ra.rnk, s.interval, s.cents "
                f"FROM {A} s JOIN {rank_a} ra ON s.metric = ra.metric) a "
                f"LEFT JOIN (SELECT rb.rnk, s.interval, s.cents "
                f"FROM {B} s JOIN {rank_b} rb ON s.metric = rb.metric) b "
                "ON a.rnk = b.rnk AND a.interval = b.interval)"
            )
        if name == "cactiStyle":
            inner = ev(n.args[0])
            cs_ = ("COALESCE(CASE WHEN {c} < 0 THEN '-' ELSE '' END || "
                   "CAST(abs({c}) // 100 AS VARCHAR) || '.' || "
                   "lpad(CAST(abs({c}) % 100 AS VARCHAR), 2, '0'), 'nan')")
            return (
                "(SELECT s.metric || ' Current:' || "
                + cs_.format(c="p.cur")
                + " || ' Max:' || " + cs_.format(c="p.mx")
                + " || ' Min:' || " + cs_.format(c="p.mn")
                + " AS metric, s.interval, s.cents "
                f"FROM {inner} s JOIN "
                "(SELECT metric, (arg_max({'v': cents}, interval)).v AS cur, "
                "max(cents) AS mx, min(cents) AS mn "
                f"FROM {inner} g GROUP BY metric) p ON s.metric = p.metric)"
            )
        if name == "aggregateSeriesLists":
            how = n.args[2].value
            comb = {
                "sum": "a.cents + b.cents",
                "diff": "a.cents - b.cents",
                "multiply": ("floor(CAST(a.cents * b.cents AS DOUBLE) "
                             "/ 100)"),
            }[how]
            wrap = {"sum": "sumSeriesLists", "diff": "diffSeriesLists",
                    "multiply": "multiplySeriesLists"}[how]
            A, B = ev(n.args[0]), ev(n.args[1])
            rank_a = ("(SELECT metric, row_number() OVER (ORDER BY metric) "
                      f"AS rnk FROM (SELECT DISTINCT metric FROM {A} d) u)")
            rank_b = ("(SELECT metric, row_number() OVER (ORDER BY metric) "
                      f"AS rnk FROM (SELECT DISTINCT metric FROM {B} d) u)")
            return (
                f"(SELECT '{wrap}(' || a.metric || ')' AS metric, "
                f"a.interval, CAST({comb} AS BIGINT) AS cents "
                f"FROM (SELECT s.metric, ra.rnk, s.interval, s.cents "
                f"FROM {A} s JOIN {rank_a} ra ON s.metric = ra.metric) a "
                f"LEFT JOIN (SELECT rb.rnk, s.interval, s.cents "
                f"FROM {B} s JOIN {rank_b} rb ON s.metric = rb.metric) b "
                "ON a.rnk = b.rnk AND a.interval = b.interval)"
            )
        if name == "unique":
            branches = " UNION ALL ".join(
                f"SELECT metric, interval, cents, {i} AS src "
                f"FROM {ev(a)} u{i}"
                for i, a in enumerate(n.args)
            )
            return (
                "(SELECT metric, interval, cents FROM "
                "(SELECT metric, interval, cents, src, "
                "min(src) OVER (PARTITION BY metric) AS msrc "
                f"FROM ({branches}) ub) v WHERE src = msrc)"
            )
        if name == "applyByNode":
            i = n.args[1].value
            kind = _parse_apply_template(n.args[2].value)
            inner = ev(n.args[0])
            node_sql = f"split_part(metric, '.', {i + 1})"
            win = f"WINDOW w AS (PARTITION BY {node_sql}, interval)"
            if kind[0] == "percent":
                return (
                    "(SELECT 'asPercent(' || metric || ')' AS metric, "
                    "interval, CASE WHEN sum(cents) OVER w != 0 THEN "
                    "CAST(floor(CAST(cents * 10000 AS DOUBLE) / "
                    "sum(cents) OVER w) AS BIGINT) END AS cents "
                    f"FROM {inner} s {win})"
                )
            div = {
                "sum": "sum(cents) OVER w",
                "max": "max(cents) OVER w",
                "min": "min(cents) OVER w",
                "avg": ("CAST(floor(CAST(sum(cents) OVER w AS DOUBLE) / "
                        "count(cents) OVER w) AS BIGINT)"),
            }[kind[1]]
            return (
                "(SELECT 'divideSeries(' || metric || ')' AS metric, "
                f"interval, CASE WHEN {div} != 0 THEN "
                f"CAST(floor(CAST(cents * 100 AS DOUBLE) / {div}) "
                "AS BIGINT) END AS cents "
                f"FROM {inner} s {win})"
            )
        if name in ("sortByTotal", "sortByMaxima", "sortByName",
                    "sortByMinima"):
            inner = ev(n.args[0])
            if name == "sortByName":
                per = f"(SELECT DISTINCT metric FROM {inner} d)"
                order = "metric ASC"
            elif name == "sortByMinima":
                per = (f"(SELECT metric, min(cents) AS o FROM {inner} g "
                       "GROUP BY metric)")
                order = "o ASC NULLS LAST, metric ASC"
            else:
                agg = ("max(cents)" if name == "sortByMaxima"
                       else "sum(cents)")
                per = (f"(SELECT metric, {agg} AS o FROM {inner} g "
                       "GROUP BY metric)")
                order = "o DESC NULLS LAST, metric ASC"
            return (
                "(SELECT s.metric, s.interval, s.cents, r.series_rank "
                f"FROM {inner} s JOIN (SELECT metric, "
                f"CAST(row_number() OVER (ORDER BY {order}) AS INTEGER) "
                f"AS series_rank FROM {per} p) r ON s.metric = r.metric)"
            )
        if name == "sortBy":
            func, rev = n.args[1].value, n.args[2].value
            inner = ev(n.args[0])
            key = {
                "max": "max(cents)", "min": "min(cents)",
                "sum": "sum(cents)",
                "average": "CAST(sum(cents) AS DOUBLE) / count(cents)",
                "current": "(arg_max({'v': cents}, interval)).v",
            }.get(func)
            if key is None:
                raise RenderParseError(f"sortBy: unknown func {func!r}")
            per = (f"(SELECT metric, {key} AS o FROM {inner} g "
                   "GROUP BY metric)")
            direction = "DESC" if rev else "ASC"
            order = f"o {direction} NULLS LAST, metric ASC"
            return (
                "(SELECT s.metric, s.interval, s.cents, r.series_rank "
                f"FROM {inner} s JOIN (SELECT metric, "
                f"CAST(row_number() OVER (ORDER BY {order}) AS INTEGER) "
                f"AS series_rank FROM {per} p) r ON s.metric = r.metric)"
            )
        if name == "legendValue":
            keys = [a.value for a in n.args[1:]]
            stat = {
                "avg": ("CAST(floor(CAST(sum(cents) AS DOUBLE) / "
                        "count(cents)) AS BIGINT)"),
                "total": "CAST(sum(cents) AS BIGINT)",
                "min": "min(cents)",
                "max": "max(cents)",
                "last": "(arg_max({'v': cents}, interval)).v",
            }
            for k in keys:
                if k not in stat:
                    raise RenderParseError(
                        f"legendValue: unknown key {k!r}")
            inner = ev(n.args[0])
            cs_ = ("COALESCE(CASE WHEN {c} < 0 THEN '-' ELSE '' END || "
                   "CAST(abs({c}) // 100 AS VARCHAR) || '.' || "
                   "lpad(CAST(abs({c}) % 100 AS VARCHAR), 2, '0'), 'nan')")
            lab = "s.metric"
            sel = []
            for i, k in enumerate(keys):
                sel.append(f"{stat[k]} AS v{i}")
                lab += (f" || ' ({k}: ' || " + cs_.format(c=f"p.v{i}")
                        + " || ')'")
            return (
                f"(SELECT {lab} AS metric, s.interval, s.cents "
                f"FROM {inner} s JOIN "
                f"(SELECT metric, {', '.join(sel)} "
                f"FROM {inner} g GROUP BY metric) p "
                "ON s.metric = p.metric)"
            )
        if name == "setXFilesFactor":
            raise RenderParseError(
                "setXFilesFactor is only meaningful as the direct "
                "series argument of summarize"
            )
        raise RenderParseError(f"unknown render function {name!r}")

    body = ev(node)
    rank = (", series_rank"
            if isinstance(node, Call) and node.name in _ROOT_ONLY else "")
    return (
        f"WITH {PTS_CTE}, {LWW_1H_CTE}\n"
        "SELECT metric, interval, CAST(cents AS DOUBLE) / 100.0 AS value"
        f"{rank}\n"
        f"FROM {body} q"
    )


def render_oracle_sql(target: str) -> str:
    return build_sql(validate_target(parse_target(target)))
