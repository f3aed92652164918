"""The 32 registered render compositions, frozen as benchmark input.

A copy of ``go_whisper_spark.operators.graphite_funcs.RENDER_EXPR_*``
taken when the benchmark was defined, keyed by the constant name, so
that a change to the program cannot change the dashboard inputs.
"""

# The compositions in three classes by the render + collect time measured
# when the benchmark was defined (4 cores, sf0.1 events): every block of
# dashboard requests takes one ad-hoc target from each class, so the
# block's cost does not swing with the seed.
COST_CLASSES = (
    ("PIPELINE", "TOPAVG", "COUNTERS", "SUM_DERIV", "NODES", "DEEP", "PRODUCT",
     "UNIQUE", "BAND", "SMOOTH", "SUMMARIZE"),
    ("VLINE", "APPLY", "INFSTACK", "MULTINODE", "GENERIC", "VOLATILITY", "LISTS",
     "SELECT_ALIAS", "GROUP", "XFF", "HITSTACK"),
    ("SPREAD", "CACTI", "RATIO", "BANDS", "HWAREA", "TAGS", "PAIRS", "HW",
     "GAPFILL", "CUMCOUNT"),
)

RENDER_TARGETS = {
    'APPLY':
        "sortByMaxima(applyByNode(timeStack(seriesByGlob('click'), 1, 0, 3), 0, 'asPercent(%)'))",
    'BAND':
        "movingSum(areaBetween(sumSeries('c*'), sumSeries('[ve]*')), 4)",
    'BANDS':
        "diffSeries(sumSeries(holtWintersConfidenceUpper('*')), sumSeries(holtWintersConfidenceLower('*')))",
    'CACTI':
        "cactiStyle(filterSeries('*', 'average', '>=', 45))",
    'COUNTERS':
        "transformNull(keepLastValue(nonNegativeDerivative(highestMax('*', 3))), 0)",
    'CUMCOUNT':
        "alias(integral(timeShift(countSeries(grep('*', '^(c|e)')), 2)), 'cum_present')",
    'DEEP':
        "movingSum(changed(keepLastValue(removeBelowPercentile(delay(scale('*', 3), 1), 10))), 4)",
    'GAPFILL':
        "aliasByNode(removeEmptySeries(interpolate(removeAboveValue(aliasSub('*', '^', 'dc1.x.'), 40), 3), 89), 0, 2)",
    'GENERIC':
        "movingWindow(highest(asPercent(seriesByGlob('*')), 2, 'average'), 4, 'median')",
    'GROUP':
        "group(alias(sumSeries('c*'), 'clicks'), scale(grep('*', '^(e|p)'), -1), timeShift(maximumAbove('v*', 300), 1))",
    'HITSTACK':
        "highestCurrent(hitcount(sumSeriesWithWildcards(group(aliasSub('c*', '^', 'dc1.'), aliasSub('[ve]*', '^', 'dc2.')), 1), 4), 2)",
    'HW':
        "diffSeries(sumSeries('*'), sumSeries(holtWintersForecast('*')))",
    'HWAREA':
        "holtWintersConfidenceArea(sumSeries('*'))",
    'INFSTACK':
        "sortByTotal(timeStack(drawAsInfinite(seriesByGlob('click')), '6h', 0, 3))",
    'LISTS':
        "movingSum(aggregateSeriesLists(seriesByGlob('[ce]*'), seriesByGlob('[vs]*'), 'diff'), 4)",
    'MULTINODE':
        "sortByMinima(groupByNodes(group(aliasSub('c*', '^', 'dc1.x.'), aliasSub('[ve]*', '^', 'dc2.y.')), 'avg', 0, 1))",
    'NODES':
        "groupByNode(group(aliasSub('c*', '^', 'dc1.'), aliasSub('[ve]*', '^', 'dc2.')), 0, 'sum')",
    'PAIRS':
        "divideSeriesLists(smartSummarize(grep('*', '^c'), 4, 'sum'), smartSummarize(exclude('*', '^c'), 4, 'sum'))",
    'PIPELINE':
        "movingSum(offset(scale(grep(seriesByGlob('*'), '^(c|v)'), 3), -1), 4)",
    'PRODUCT':
        "movingSum(multiplySeriesWithWildcards(seriesByGlob('[cv]*'), 0), 4)",
    'RATIO':
        "asPercent(sumSeries('c*'), sumSeries('*'))",
    'SELECT_ALIAS':
        "aliasSub(maximumAbove(absolute('*'), 300), '^c', 'C')",
    'SMOOTH':
        "diffSeries(averageSeries('*'), movingAverage(sumSeries('*'), 6))",
    'SPREAD':
        "movingSum(divideSeries(rangeOfSeries('*'), percentileOfSeries('*', 50)), 4)",
    'SUMMARIZE':
        "diffSeries(sumSeries(summarize('*', 6, 'max')), sumSeries(summarize('*', 6, 'avg')))",
    'SUM_DERIV':
        "derivative(sumSeries(scale('*', 2)))",
    'TAGS':
        "movingSum(highestAverage(groupByTags(seriesByTag('name=~^(click|view|purchase)$', 'host!=h3'), 'sum', 'dc'), 2), 4)",
    'TOPAVG':
        "offsetToZero(highestAverage(perSecond(summarize('*', 2, 'sum')), 3))",
    'UNIQUE':
        "movingSum(unique(seriesByGlob('c*'), seriesByGlob('*')), 4)",
    'VLINE':
        "group(verticalLine(12, 'deploy'), integral(sumSeries(seriesByGlob('c*'))))",
    'VOLATILITY':
        "multiplySeries(aggregateLine(stdev(scaleToSeconds('*', 60), 6), 'max'), sumSeries(isNonNull('*')))",
    'XFF':
        "sortBy(legendValue(summarize(setXFilesFactor(seriesByGlob('*'), 75), 4, 'avg'), 'max', 'avg'), 'average', 1)",
}
