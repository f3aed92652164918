"""Physical-plan audit: verify each headline query compiles to the plan
we want at scale — filters pushed to scans, pruned read schemas, dim
joins broadcast, aggregates partial (map-side combine), whole-stage
codegen coverage.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

CHECKS = {
    "r_q1_pricing": dict(
        require=["PushedFilters: [IsNotNull(l_shipdate)", "partial_sum"],
        forbid=["CartesianProduct"],
        pruned=8,  # ReadSchema column budget (lineitem has 11)
    ),
    "r_q3_revenue": dict(require=["BroadcastHashJoin", "PushedFilters"], forbid=["CartesianProduct"]),
    "r_q5_nation_rev": dict(require=["BroadcastHashJoin"], forbid=["SortMergeJoin"]),
    "w_lww_1h": dict(require=["partial_max_by"], forbid=["CartesianProduct"],
                     pruned=4),  # events has 6 columns
    "w_fetch_dense_3d": dict(require=["partial_max_by"], forbid=["CartesianProduct"]),
    "s_cosine_topk": dict(require=[], forbid=[], pruned=2),  # embeddings has 3
    # Signatures come from the single narrow Arrow pass (no pre-join
    # aggregates), so the only partial agg left is the shared-shingle count.
    "d_lsh_pairs": dict(require=["partial_count"], forbid=["CartesianProduct"]),
    # Banded SimHash after the round-5 rewrite: explode -> equi-join on
    # (band, chunk) -> narrow first-agreeing-chunk filter.  NO
    # HashAggregate may appear (the old candidate `distinct` was a full
    # exchange + aggregate), and no nested-loop join (that would be the
    # all-pairs shape).  The join is broadcast at test scale / shuffled
    # hash at 100 TB — both are fine; the scale-invariant part is
    # equi-join + zero aggregates.
    "d_simhash_banded": dict(
        require=[],
        forbid=["CartesianProduct", "HashAggregate", "BroadcastNestedLoopJoin"],
    ),
    "g_hitcount": dict(require=["partial_sum", "partial_count"], forbid=["CartesianProduct"]),
    "t_quality": dict(require=[], forbid=["Exchange"]),  # pure narrow map
    "t_lang_id": dict(require=[], forbid=["Exchange", "BroadcastHashJoin"]),  # narrow after rewrite
    "w_sessionize_30m": dict(require=["Window"], forbid=["CartesianProduct"]),
    # Skew-proof form: phase-1 per-(user, chunk) sessions are a real
    # partial aggregation (map-side combine on min/max/count); no join
    # anywhere — the merge is a second Window over session rows.
    "w_sessionize_chunked": dict(
        require=["Window", "partial_min"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "g_moving_avg_3": dict(require=["Window", "partial_max_by"], forbid=["CartesianProduct"]),
    "r_rank_funcs": dict(require=["Window"], forbid=["CartesianProduct"]),
    "s_cosine_ann": dict(require=["Window"], forbid=["CartesianProduct"]),
    # As-of = union + in-partition sort + forward-fill: a Window and
    # NO join operator anywhere in the plan.
    "w_asof_join": dict(
        require=["Window", "Union"],
        forbid=["CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"],
    ),
    "w_session_window_native": dict(require=["partial_min", "partial_max"], forbid=["Window"]),
    "r_q7_nation_volume": dict(require=["BroadcastHashJoin", "partial_sum"], forbid=["CartesianProduct"]),
    "r_q2_min_cost": dict(require=["Window", "BroadcastHashJoin"], forbid=["CartesianProduct"]),
    "g_moving_avg_time": dict(require=["Window", "partial_max_by"], forbid=["CartesianProduct"]),
    "s_cosine_ann_mp": dict(require=["Window"], forbid=["CartesianProduct", "SortMergeJoin"]),
    "r_q19_disjunct": dict(require=["PushedFilters", "BroadcastHashJoin"], forbid=["CartesianProduct"]),
    # Signature ANN: the hamming gate is a broadcast of the 50 query
    # signatures over the skinny corpus-signature scan (bit_count(xor)
    # in JVM codegen); the exact rerank joins only surviving pairs back
    # to raw vectors via hash joins.  NOTE: BroadcastHashJoin on the
    # cand-to-vecs rerank is a test-scale artifact (the vector table
    # fits autoBroadcastJoinThreshold here); at 100 TB that join
    # becomes a hash shuffle sized by the ~14% candidate fraction —
    # expected and documented in s_cosine_sig's docstring.  What this
    # audit pins is the scale-invariant part: no sort-merge, no
    # cartesian, and a broadcast (not shuffle) for the query-side
    # signatures.
    "s_cosine_sig": dict(
        require=["Window", "BroadcastNestedLoopJoin", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # IVF (r19 shape): both centroid-assignment passes are literal
    # narrow maps (_ivf_assign folds the collected K=8 centroids into
    # codegen) — the former ×K broadcast-nested-loop + max_by groupBy
    # is gone; the cell search is a broadcast equi-join on the cell
    # id; top-3 is the only Window.
    "s_cosine_ivf": dict(
        require=["Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin", "max_by"],
    ),
    # Round-6 TPC-H batch: every dim side must broadcast; the only
    # sort-merge allowed is a fact-fact join on its natural key.
    "r_q9_profit": dict(
        require=["BroadcastHashJoin", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    "r_q8_mkt_share": dict(
        require=["BroadcastHashJoin", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    "r_q17_small_qty": dict(
        require=["BroadcastHashJoin", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    "r_q18_large_volume": dict(
        require=["BroadcastHashJoin", "partial_sum", "TakeOrderedAndProject"],
        forbid=["CartesianProduct"],
    ),
    # Q21: two grouped aggregates joined back on orderkey — partial
    # max(shipdate) per (order, supplier) must combine map-side; the
    # per-order join is fact-fact (shuffle allowed).
    "r_q21_waiting": dict(
        require=["partial_max", "TakeOrderedAndProject"],
        forbid=["CartesianProduct"],
    ),
    # divideSeries: conditional aggregates — one hash aggregate, no
    # self-join of any kind.
    "g_divide_series": dict(
        require=["partial_max"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    "g_percentile_of_series": dict(require=["Window"], forbid=["CartesianProduct"]),
    # KMV + sample-median: two-level partial-combining aggregates for
    # the sketch, one rank Window for the sample median, broadcast-only
    # joins of the three 5-row per-metric branches.
    "w_approx_stats": dict(
        require=["partial_min", "Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    "r_q10_returns": dict(
        require=["BroadcastHashJoin", "TakeOrderedAndProject"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Q13: left outer against pre-filtered orders, two-level count —
    # both aggregates must combine map-side.
    "r_q13_cust_dist": dict(
        require=["partial_count"],
        forbid=["CartesianProduct"],
    ),
    # int8 quantization: pure narrow map — any exchange is a bug.
    "s_quantize_int8": dict(require=[], forbid=["Exchange"]),
    # stacked: one window over (interval, metric-order); no join.
    "g_stacked": dict(
        require=["Window"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # day-over-day diff: equi-join on (metric, shifted interval) —
    # never a nested-loop.
    "g_diff_vs_yesterday": dict(
        require=[],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Round-7 tagged-series suite: tag parse/filter/group are pure
    # aggregation pipelines over the tagged-path scan — no join of any
    # kind may appear, and the LWW / rollup aggregates must combine
    # map-side.
    "g_tag_select": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    "g_tag_group": dict(
        require=["partial_max_by", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    "g_tag_parse": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    # Holt-Winters: LWW partial agg feeding ONE grouped Arrow pass
    # (FlatMapGroupsInPandas keyed by metric — the reference's
    # one-file-per-metric layout); no join anywhere.
    "g_holt_winters": dict(
        require=["FlatMapGroupsInPandas", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # Carbon ingest: tolerant line parse -> per-slot MAX rollup; the
    # aggregate must combine map-side (order-free max), no join.
    "w_carbon_ingest": dict(
        require=["partial_max", "partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # smartSummarize: window min for the per-series start, then a
    # partial-combining re-bucket sum — no join.
    "g_smart_summarize": dict(
        require=["Window", "partial_sum", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # applyByNode percent-of-group: ONE window sum, never a self-join.
    "g_apply_by_node": dict(
        require=["Window", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    # stddevSeries: two-level integer-cents aggregate, map-side combine.
    "g_stddev_series": dict(
        require=["partial_sum", "partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # sigmoid / scaleToSeconds: pure narrow maps over the LWW
    # aggregate — exactly one exchange (the LWW shuffle), no join.
    "g_sigmoid": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    "g_scale_to_seconds": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # Top-k selector family (round-8 rewrite): partial top-k via
    # TakeOrderedAndProject — per-partition top-k, k·partitions rows
    # merged — with NO single-partition Exchange anywhere in the plan
    # (the old global row_number window pushed the whole per-metric
    # relation through one partition; SinglePartition may not appear
    # at all now).  Rank labels ride TakeOrdered's already-single-
    # partition k-row output; join-backs broadcast the winners.
    "g_most_deviant": dict(
        require=["TakeOrderedAndProject", "partial_sum"],
        forbid=["SinglePartition", "CartesianProduct", "SortMergeJoin",
                "BroadcastHashJoin"],
    ),
    "g_highest_avg_3": dict(
        require=["TakeOrderedAndProject", "partial_max_by", "BroadcastHashJoin"],
        forbid=["SinglePartition", "CartesianProduct", "SortMergeJoin"],
    ),
    "g_lowest_average": dict(
        require=["TakeOrderedAndProject", "partial_max_by", "BroadcastHashJoin"],
        forbid=["SinglePartition", "CartesianProduct", "SortMergeJoin"],
    ),
    "g_limit_sorted": dict(
        require=["TakeOrderedAndProject", "BroadcastHashJoin"],
        forbid=["SinglePartition", "CartesianProduct", "SortMergeJoin"],
    ),
    # Quantile-cut selector (round-8 rewrite): the quartile boundary
    # is two partial top-k selections over the checkpointed per-metric
    # relation — rank-window-free, no single-partition Exchange, and
    # NO Window operator anywhere (the old form ranked the whole
    # per-metric relation through one partition).
    # The n/2-metric winner set joins back UN-HINTED (it is O(n) by
    # construction — a forced broadcast is a multi-hundred-MB driver
    # ship at 10^7 metrics); AQE must still CHOOSE broadcast from
    # runtime stats at test scale — the d_incremental pattern.
    "g_avg_outside_pctile": dict(
        require=["TakeOrderedAndProject"],
        require_executed=["BroadcastHashJoin"],
        forbid=["SinglePartition", "CartesianProduct", "Window"],
    ),
    # Value-threshold (two-pass histogram) form: full buckets pass by
    # narrow filter; ONLY the two boundary buckets run a TakeOrdered —
    # same forbid list, same no-rank-window discipline.
    "g_avg_outside_pctile_vt": dict(
        require=["TakeOrderedAndProject"],
        require_executed=["BroadcastHashJoin"],
        forbid=["SinglePartition", "CartesianProduct", "Window"],
    ),
    # The rest of the un-hinted selector/normalizer family (VERDICT r9
    # item 4): each joins an O(n_metrics)-bounded winner/threshold
    # relation back onto the slots with NO broadcast hint; AQE must
    # still CHOOSE broadcast from runtime stats at test scale, and
    # nothing may go cartesian.
    "g_maximum_above": dict(
        require=["partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_minimum_below": dict(
        require=["partial_min"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_maximum_below": dict(
        require=["partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_remove_below_pctile": dict(
        require=["Window", "partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    "g_average_below": dict(
        require=["partial_sum", "partial_count"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_remove_empty": dict(
        require=["partial_count"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    "g_use_series_above": dict(
        require=["partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_remove_above_pctile": dict(
        require=["Window", "partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    "g_nth_percentile": dict(
        require=["Window", "partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    "g_offset_to_zero": dict(
        require=["partial_min"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_minmax_norm": dict(
        require=["partial_min", "partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    # cactiStyle legend stats: one map-combined per-metric aggregate
    # (max_by/max/min) + integer-string rendering — join- and
    # window-free.
    "g_cacti_style": dict(
        require=["partial_max_by", "partial_max", "partial_min"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin", "Window"],
    ),
    # Stratified sampler: the gate is a narrow codegen expression; the
    # whole query is one partial-combining aggregate — no join, no
    # window, single exchange on the 5-key lang column.
    "t_stratified_sample": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # highestCurrent: winners from two TakeOrdered passes; their exact
    # global ranks restated as counts over a broadcast of the ≤6
    # winners (BroadcastNestedLoopJoin + map-side-combining count) —
    # never a full-relation rank window.
    "g_highest_current": dict(
        require=["TakeOrderedAndProject", "BroadcastNestedLoopJoin",
                 "partial_count"],
        forbid=["SinglePartition", "CartesianProduct", "SortMergeJoin"],
    ),
    # currentBelow: the filtered winner dimension is data-dependent
    # (O(n_metrics) worst case) so it joins back un-hinted; AQE must
    # still choose broadcast from runtime stats at test scale.
    "g_current_below": dict(
        require=["partial_max_by"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # summarize-last: two-level max_by consolidation, map-side combine.
    "g_summarize_last": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # quality-filter accounting: narrow codegen predicate + one tiny
    # (lang, source) aggregate — no join, no window.
    "t_quality_filter": dict(
        require=["partial_sum", "partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # Multimodal decode/frame pipelines: ONE Arrow pass (MapInPandas)
    # over the scan, then a partial-combining aggregate — no join; the
    # mapInPandas stage must not force an exchange before it.
    "m_decode_stats": dict(
        require=["MapInPandas", "partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    "m_frame_sample": dict(
        require=["MapInPandas", "partial_count", "partial_max"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # m_feature_norms (round-8 oracle rewrite): one Arrow pass, the
    # fold chains are expression-level (no Window), then one
    # partial-combining per-kind aggregate.
    "m_feature_norms": dict(
        require=["MapInPandas", "partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # m_resize_stats: TWO chained Arrow stages (resize → decode) with
    # a binary column crossing the boundary — both MapInPandas nodes
    # must sit in one narrow pipeline: no exchange, no join, no agg.
    "m_resize_stats": dict(
        require=["MapInPandas"],
        forbid=["Exchange", "CartesianProduct", "SortMergeJoin",
                "BroadcastHashJoin", "Window", "HashAggregate"],
    ),
    # m_pcm_resample: the audio twin — resample → windowed energy, two
    # chained narrow Arrow stages, then the per-media integer ledger
    # (the only aggregate/exchange).  No joins anywhere.
    "m_pcm_resample": dict(
        require=["MapInPandas", "partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # w_resize: config-only resize — the fetched plan must be exactly
    # the w_fetch_dense_3d family (LWW partial agg + spine join), with
    # nothing resembling a data rewrite.
    "w_resize": dict(require=["partial_max_by"], forbid=["CartesianProduct"]),
    # Holt-Winters bands / aberration: same shape as g_holt_winters —
    # LWW partial agg into ONE grouped Arrow pass per metric; no join.
    "g_holt_winters_bands": dict(
        require=["FlatMapGroupsInPandas", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "g_hw_aberration": dict(
        require=["FlatMapGroupsInPandas", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # Round-8 analogs.  divideSeriesLists/timeShiftMulti are equi-joins
    # on the whisper-native key — a nested-loop join would be the
    # all-pairs bug.  aliasByTags is a pure narrow map over the tagged
    # LWW (no join, no window).  threshold adds one per-metric running
    # window.  isNonNull rides the dense-spine left join + windows.
    "g_divide_series_lists": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "g_time_shift_multi": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "g_alias_by_tags": dict(
        require=["partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin", "Window"],
    ),
    "g_threshold": dict(
        require=["Window", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "g_is_non_null": dict(
        require=["Window", "partial_max_by"],
        forbid=["CartesianProduct"],
    ),
    # Round-8 batch 2.
    "g_highest_max": dict(  # selector family: partial top-k, no 1-part Exchange
        require=["TakeOrderedAndProject", "partial_max", "BroadcastHashJoin"],
        forbid=["SinglePartition", "CartesianProduct", "SortMergeJoin"],
    ),
    "g_group_by_nodes": dict(  # carbon fan-in: two partial aggs, join-free
        require=["partial_max_by", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin", "Window"],
    ),
    "g_counter_wrap": dict(  # one per-metric lag window, join-free
        require=["Window", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    "g_sin_function": dict(  # generator: bounds agg + sequence, no join
        require=[],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    "g_as_percent_series": dict(  # divisor series broadcast onto slots
        require=["BroadcastHashJoin", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    "g_aggregate_series_lists": dict(  # pairwise equi-join, never NL
        require=["partial_max_by"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Sequence packing: per-source cumsum window + partial-combining
    # per-pack aggregate; join-free.
    "t_seq_packing": dict(
        require=["Window", "partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    # End-to-end corpus-prep ledger: one narrow per-doc pass, the
    # keeper window on the digest (no join-back), one tiny-key agg.
    "t_pipeline_e2e": dict(
        require=["Window", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    # Split ledger: narrow hash+count projection, one 15-key aggregate
    # with map-side combine; join- and window-free.
    "d_split_hash": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin", "Window"],
    ),
    # Contamination: inverted-index EQUI-join on the shingle (broadcast
    # at test scale, shuffled hash at 100 TB — both fine); never a
    # nested-loop/cartesian all-pairs shape.
    "t_contamination": dict(
        require=["partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
        pruned=2,  # documents has 5 columns — only (doc_id, text) scan
    ),
    # Repetition signal: pure narrow projection — the whole scan must
    # stay in one exchange-free codegen stage.
    "t_repetition": dict(require=[], forbid=["Exchange"]),
    # removeBetweenPercentile: same two-pass shape as the other
    # percentile filters — per-metric rank window, conditional-max
    # thresholds, un-hinted O(n_metrics) join back (AQE broadcasts at
    # test scale); no cartesian.
    "g_remove_between_pctile": dict(
        require=["Window", "partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # Seeded random walk: generator (bounds agg + sequence spine) with
    # ONE global cumsum window over the O(range/step) spine — ~720
    # rows, data-free; joins of any kind are wrong here.
    "g_random_walk": dict(
        require=["Window"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin"],
    ),
    # Duplicated-span accounting: per-(doc, shingle) partial aggregate,
    # df derived from the SAME relation, inverted-index join back —
    # equi-join only, never nested-loop/cartesian.
    "t_dup_spans": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Span REMOVAL: first-occurrence min(struct) shingle aggregate,
    # postings equi-join, narrow coverage explode, (doc, tpos) anti-
    # join, per-doc rebuild.  Equi-joins only — never nested-loop.
    "t_span_dedup": dict(
        require=["partial_min", "partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
        pruned=2,  # documents has 5 columns — only (doc_id, text) scan
    ),
    # Maximal-span variants: same postings plan + ONE doc-keyed
    # gaps-and-islands window (lag + running sum) — partitioned by
    # doc_id, never a single-partition exchange.
    "t_span_dedup_l5": dict(
        require=["partial_min", "partial_count", "Window"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SinglePartition"],
        pruned=2,
    ),
    "t_span_dedup_l9": dict(
        require=["partial_min", "partial_count", "Window"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SinglePartition"],
        pruned=2,
    ),
    # Decontamination removal: the 5%-split test shingle set probes the
    # train postings via equi-join; the verdict joins back by doc_id;
    # 5-key ledger.  Never nested-loop / cartesian.
    "t_decontam": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # PII scrub (round 17): one narrow codegen'd map (regex count +
    # chained replace — JVM-side, no Python) feeding a map-combined
    # per-lang aggregate; no join, no shuffle before the groupBy, a
    # 3-column pruned scan.
    "t_pii_scrub": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "Window", "BatchEvalPython",
                "ArrowEvalPython"],
        pruned=3,
    ),
    # SemDeDup: intra-cell pair resolution is ONE Arrow kernel per
    # cell (grouped applyInPandas — work ∝ Σ|cell|² by design, the
    # cluster-bounded point on the dedup cost ladder); the dropped-set
    # verdict left join is un-hinted (dropped size is data-dependent),
    # with AQE choosing broadcast at test scale.  No cartesian.
    "s_semantic_dedup": dict(
        require=["FlatMapGroupsInPandas"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # Length-bucket ledger: narrow all-integer projection, small-key
    # partial aggregate; join- and window-free.
    "t_length_buckets": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "ShuffledHashJoin", "Window"],
    ),
    # Mixture weights: per-source partial aggregate, then the ~20-row
    # totals frame broadcast back (single-row NL join is the intended
    # shape); no sort-merge, no unhinted cartesian.
    "t_mix_weights": dict(
        require=["partial_count", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Incremental shard dedup: the only big joins are the banded LSH
    # bucket join inherited from d_lsh_pairs (equi-join — shuffled/
    # sort-merge is the RIGHT shape for two large sides at scale) and
    # the set-size verify join; the flagged sets must broadcast back
    # onto the shard (never shuffle the shard for a 2-column flag),
    # and nothing may go nested-loop.
    # Render-layer compositions: the parsed expression must compile to
    # ONE lazy plan — per-series chains ride a metric-partitioned
    # window, aggregates partial-combine, the selector join-back is
    # AQE-sized, and nothing goes cartesian.
    "g_render_pipeline": dict(
        require=["Window", "partial_max_by"],
        forbid=["CartesianProduct", "SinglePartition"],
    ),
    "g_render_sum_deriv": dict(
        require=["Window", "partial_sum"],
        forbid=["CartesianProduct"],
    ),
    "g_render_select_alias": dict(
        require=["partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    # cumcount's integral window runs over the ONE combined series
    # countSeries produced (a literal metric) — an O(slots) frame, so
    # its single-partition window is semantic, not a scale bug (same
    # as sum_deriv's derivative-after-sumSeries).
    "g_render_cumcount": dict(
        require=["Window", "partial_count"],
        forbid=["CartesianProduct"],
    ),
    "g_render_ratio": dict(
        require=["partial_sum"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    "g_render_smooth": dict(
        require=["Window", "partial_sum"],
        forbid=["CartesianProduct"],
    ),
    "g_render_group": dict(
        require=["Union", "partial_sum"],
        forbid=["CartesianProduct"],
    ),
    # summarize consolidation: both 6h-bucket branches (max, floored
    # avg) partial-combine before the shuffle; the cross-branch
    # spread is union+re-aggregate, never a cartesian.
    "g_render_summarize": dict(
        require=["partial_max", "partial_sum"],
        forbid=["CartesianProduct"],
    ),
    # round-11 compositions: topavg = bucket partial-sum → perSecond
    # window → fixed-k winner broadcast → offsetToZero window; nodes =
    # bag-union of relabeled families → per-(node, interval) partial
    # aggregate, no window anywhere; deep = the depth-6 window chain
    # whose only join is the percentile-threshold join-back (AQE picks
    # broadcast from the tiny per-metric relation at runtime).
    "g_render_topavg": dict(
        require=["Window", "partial_sum", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    "g_render_nodes": dict(
        require=["Union", "partial_sum"],
        forbid=["CartesianProduct", "Window"],
    ),
    "g_render_deep": dict(
        require=["Window", "partial_max"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # spread: both across-series reducers partial-combine on the
    # interval key; the divide is an interval-keyed join of two
    # 1-series frames; the rolling sum runs on the ONE combined
    # series (single-partition by semantics, like g_render_cumcount).
    "g_render_spread": dict(
        require=["Window", "partial_max", "partial_min"],
        forbid=["CartesianProduct"],
    ),
    # hitstack: wildcard-reducer + hitcount partial-combine on the
    # (label, bucket) keys; the most-recent-bucket winner set is a
    # fixed-k broadcast join-back (arg_max partial); NO window op
    # anywhere — the whole path is aggregates.
    "g_render_hitstack": dict(
        require=["partial_sum", "partial_max_by"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # volatility: stdev + aggregateLine ride metric-partitioned
    # windows; the isNonNull count partial-combines per interval; the
    # binary product is an interval-keyed join against the 1-series
    # right frame (AQE broadcasts it).
    "g_render_volatility": dict(
        require=["Window", "partial_sum"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # tagged composition: the tagged-path LWW (partial_max_by) feeds
    # the per-(tag, interval) sum (partial-combined), the top-2 mean
    # winner set broadcasts back, and the rolling sum rides one
    # metric-partitioned window; no cartesian, no sort-merge.
    "g_render_tags": dict(
        require=["Window", "partial_sum", "partial_max_by"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # wave-8 cacti: two per-metric aggregate passes (filterSeries'
    # exact sum-vs-t·n winners, then Current/Max/Min stats incl.
    # partial_max_by) with un-hinted join-backs AQE broadcasts; the
    # whole path is aggregates — no window op anywhere.
    "g_render_cacti": dict(
        require=["partial_sum", "partial_count", "partial_max_by"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # wave-8 pairs: each smartSummarize bound is a 1-row broadcast
    # (BroadcastNestedLoopJoin — the timeSlice discipline, NOT a
    # cartesian); bucket sums partial-combine; the label-rank pairing
    # is a row_number window over the O(n_metrics) distinct-labels
    # relation plus broadcast join-backs.
    "g_render_pairs": dict(
        require=["Window", "partial_sum", "BroadcastNestedLoopJoin"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # wave-8 generic spellings: single-arg asPercent is a per-interval
    # window sum; highest(…'average') partial-combines (sum, count)
    # and broadcasts the fixed-k winner set back; movingWindow
    # ('median') rides the metric-partitioned window chain.
    "g_render_generic": dict(
        require=["Window", "partial_sum", "partial_count"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # round-13 xff dashboard surface: the gated summarize is ONE
    # map-combined (metric, bucket) aggregate whose xff gate is a
    # post-aggregate Filter (count·100 >= pct·h — no extra stage);
    # legendValue's stats partial-combine per metric and join back;
    # the root-only sortBy rank window runs over the O(n_metrics)
    # means relation with a hinted broadcast join-back.
    "g_render_xff": dict(
        require=["Window", "partial_sum", "partial_count",
                 "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
    ),
    # round-12 list combiners: the sorted-label rank windows run over
    # the O(n_metrics) distinct-labels relations (AQE broadcasts the
    # tiny sides of the rank join-backs and the interval-keyed pair
    # join at runtime); movingSum rides the metric window chain.
    "g_render_lists": dict(
        require=["Window"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # round-12 grouped evaluation + ordering surface: timeStack's
    # day-shift union, ONE (node, interval) window for the percent,
    # the O(n_metrics) rank window, and the hinted fixed-size rank
    # join-back (static BHJ).
    "g_render_apply": dict(
        require=["Window", "Union", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # round-12 first-occurrence dedup: union + per-metric min(src)
    # window — NO joins anywhere in the plan; movingSum shares the
    # metric partitioning.
    "g_render_unique": dict(
        require=["Window", "Union"],
        forbid=["CartesianProduct", "SortMergeJoin", "Join"],
    ),
    # round-12 parity wave 2: areaBetween = two reduced single series
    # joined on interval (AQE broadcasts the 1-series sides), the
    # band's movingSum riding the single-series window.
    "g_render_band": dict(
        require=["Window", "partial_sum"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # groupByNodes relabel + (label, interval) aggregate over the
    # union, rank window on the O(n_metrics) per-series mins, hinted
    # fixed-size rank join-back.
    "g_render_multinode": dict(
        require=["Window", "Union", "BroadcastHashJoin", "partial_min"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # HW residual: the sequential fold is the one grouped-pandas
    # stage (metric-keyed, the per-series recursion operator); both
    # cross-series sums partial-combine; interval-keyed diff join.
    "g_render_hw": dict(
        require=["FlatMapGroupsInPandas", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    "g_render_bands": dict(
        require=["FlatMapGroupsInPandas", "partial_sum"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # counters: fixed-k top-by-peak winner set keeps its explicit
    # broadcast hint (k rows by construction) — static BHJ required.
    "g_render_counters": dict(
        require=["Window", "BroadcastHashJoin", "partial_max"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Chunk-hash dedup ledger: chunking + md5 entirely in codegen (no
    # Python, no join); shuffles are the distinct-hash + per-kind
    # aggregates only.
    "m_chunk_dedup": dict(
        require=["partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window", "FlatMapGroupsInPandas", "MapInPandas"],
        pruned=3,  # (doc_id, text, n_chars) of documents' 5 columns
    ),
    # Content-defined chunking ledger: boundary scan + chunk rebuild
    # are higher-order array codegen like the fixed grid; the one
    # extra shape is the 3-row per-kind byte-stats join (AQE
    # broadcasts it) — still no Python anywhere.
    "m_cdc_dedup": dict(
        require=["partial_count", "partial_sum"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window",
                "FlatMapGroupsInPandas", "MapInPandas"],
        pruned=3,
    ),
    # Binned range join: the |dt|<=W predicate must reach the plan as
    # an EQUI-join on the bin id (+ post-join filter) — the
    # nested-loop cross product Catalyst would pick for a raw
    # inequality join is the exact shape this query exists to avoid.
    # r19: zero-neighbor points survive via their own self-match row
    # and CONDITIONAL sums (no join-back, no plain count aggregate).
    "w_range_join_binned": dict(
        require=["partial_sum"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Two-round BPE trainer: per round, a map-side-combined pair count
    # (tiny alphabet), a 1-row best-pair broadcast (nested-loop on a
    # single row is the intended shape), and a narrow codegen merge
    # expression — no cartesian, no shuffle join anywhere.
    "t_bpe_train2": dict(
        require=["partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin", "ShuffledHashJoin",
                "Window"],
    ),
    # Tokenizer apply: the same per-round shape with doc_id riding the
    # narrow stages; final ledger is a doc-keyed partial aggregate.
    # NOTE: the merge rounds are localCheckpoint()ed (c871bfd — the
    # measured 11.4→5.2 s win), which truncates lineage, so the
    # per-round pair counts are NOT visible in the final plan; only
    # the post-checkpoint doc-keyed sum is.  Asserting partial_count
    # here is impossible by construction (the round-10 stale-spec
    # red); the pre-checkpoint shape is pinned by t_bpe_train2 above,
    # which shares bpe_merge_round un-checkpointed stages.
    "t_bpe_encode": dict(
        require=["partial_sum"],
        forbid=["CartesianProduct", "Window"],
    ),
    # Merge-table artifact: three 1-row winner frames unioned — pair
    # counts partial-combined, no window, no cartesian.
    "t_bpe_train_vocab": dict(
        require=["partial_count", "Union"],
        forbid=["CartesianProduct", "Window"],
    ),
    # Incremental dedup: the flagged-dup joins carry NO broadcast hint
    # (dup-set size is data-dependent); at test scale AQE must still
    # CHOOSE broadcast from the post-checkpoint stats at runtime —
    # that adaptive choice is what require_executed pins, alongside
    # the no-cartesian invariant.
    "d_incremental": dict(
        require=["partial_count"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Unigram-LM scoring: vocab counts partial-aggregate; the 1-row
    # total and the surprisal table broadcast back (no shuffle of the
    # exploded token relation for the join); the doc/lang rollups are
    # map-side-combining integer aggregates.
    "t_unigram_logprob": dict(
        require=["partial_count", "partial_sum", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # PQ codebook build + encode: sub-block explode is narrow; Lloyd
    # comp is a (block,cell,dim) partial aggregate; codebooks
    # broadcast for both assignment passes; 32-key integer ledger.
    # min(struct) assignment is an aggregate, never a rank window.
    "s_pq_encode": dict(
        require=["partial_count", "partial_min", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Frozen-codebook upsert: same build layout (broadcast books for
    # both assignment passes, min(struct) argmin aggregate — never a
    # rank window), base-filtered Lloyd step, 32-key ledger.
    "s_pq_upsert": dict(
        require=["partial_count", "partial_min", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # PQ-ADC recall: reconstruction joins broadcast; the scoring pass
    # is the broadcast-query scan (BroadcastNestedLoop by design, like
    # every exact-baseline scorer); final top-k window only.
    "s_pq_recall": dict(
        require=["BroadcastHashJoin", "Window"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Composed IVF→ADC→rerank read path: routing + ADC scoring run in
    # the SAME Arrow kernels as the streaming scorer (MapInPandas);
    # the routed-query side broadcasts onto the cell-assigned index
    # (8 distinct cell ids — shuffling on the cell key would funnel
    # through 8 reducers); codebook/centroid joins broadcast; ADC
    # top-C and the exact rerank top-3 are per-qid rank windows.  No
    # cartesian, no sort-merge anywhere in the path.  r19: the
    # build-side cell assignment is a literal narrow map
    # (_ivf_assign) — the former ×K broadcast-nested-loop is gone.
    "s_pq_search": dict(
        require=["MapInPandas", "Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
    ),
    # Post-upsert serve: identical read-path shape to s_pq_search —
    # the base-split training filter is a narrow predicate on the
    # Lloyd passes and MUST NOT change the serving plan.
    "s_pq_search_upserted": dict(
        require=["MapInPandas", "Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
    ),
    # Multi-probe serve rung: identical read-path shape to the cached
    # serve path (broadcast hash joins + Arrow kernels + rank
    # windows) — widening n_probe/rerank changes row counts, never
    # the plan; no build-side nested-loop (cached index).
    "s_pq_search_mp": dict(
        require=["MapInPandas", "Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Filtered ANN: the label pre-filter joins the index relation
    # between route and ADC scan — serving from the CACHED
    # checkpointed index, so (unlike s_pq_search) no build-side
    # nested-loop appears in the plan; the read path is broadcast
    # hash joins + the Arrow kernels + rank windows only.
    "s_pq_search_filtered": dict(
        require=["MapInPandas", "Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Hybrid RRF: the lexical postings equi-join's shared-shingle
    # count and the fusion aggregate both partial-combine; the vector
    # side is the broadcast-query Arrow scan (nested-loop by design);
    # per-qid rank windows; no cartesian anywhere.
    "s_hybrid_rrf": dict(
        require=["partial_count", "partial_sum", "MapInPandas", "Window",
                 "Union"],
        forbid=["CartesianProduct"],
    ),
    "s_pq_upserted_recall": dict(
        require=["MapInPandas", "Window", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Bigram-LM held-out scoring: model counts partial-aggregate on
    # the train split; the score side broadcast-probes them (shuffled
    # equi-join when a real model outgrows broadcast); integer ledger.
    "t_bigram_logprob": dict(
        require=["partial_count", "partial_sum", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Per-doc perplexity terciles: the same model/scoring joins as
    # t_bigram_logprob, then ONE window (the per-lang ntile over the
    # per-doc ledger — O(n_docs), the documented rank relation).
    "t_ppl_terciles": dict(
        require=["partial_count", "partial_sum", "BroadcastHashJoin",
                 "Window"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Lloyd step: the assignment fan-out is the 8-row broadcast
    # nested-loop (k-means' k-way cross join, NOT a cartesian
    # product); per-vector argmin and per-(cluster, dim) update are
    # map-side-combined partial aggregates.
    "s_kmeans_step": dict(
        require=["BroadcastNestedLoopJoin", "partial_min", "partial_sum",
                 "partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # CDC-chunk near-dup: candidate generation MUST be the
    # chunk-inverted-index equi-join (posting join), never a
    # cross/nested-loop over doc pairs; the df-cap filter and size
    # join-backs are equi-joins AQE sizes.
    # Bloom decontamination audit: the 512-word bitmap side carries
    # an explicit broadcast hint into the probe join (static BHJ) —
    # the whole point is that NO shingle-keyed shuffle reaches the
    # probe path; the exact-audit side is also a hinted broadcast.
    "t_bloom_decontam": dict(
        require=["BroadcastHashJoin", "partial_bit_or", "partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # The df-cap skew fence must be IN the plan (dropping it would
    # silently re-open the boilerplate-chunk quadratic blowup); its
    # below-the-join placement is pinned structurally in
    # tests/test_skew_fence.py.
    "d_cdc_neardup": dict(
        require=["partial_count", "<= 50"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Drop ledger on top of the pairs: one DISTINCT over doc_b, a
    # documents left-join AQE broadcasts at runtime, and the 5-key
    # lang aggregate.
    "d_cdc_keepers": dict(
        require=["partial_count", "partial_sum"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Two chained Lloyd rounds: each round keeps the 8-row broadcast
    # fan-out; the moved count is the one HONEST O(n) vec_id shuffle
    # join (SMJ allowed — both sides are the corpus-sized assignment
    # ledgers).
    "s_kmeans_2step": dict(
        require=["BroadcastNestedLoopJoin", "partial_min", "partial_sum",
                 "Union"],
        forbid=["CartesianProduct"],
    ),
    # Maximin seeding: k−1 struct-max rounds (partial_max), each
    # winner folded back as a 1-row broadcast nested-loop; no shuffle
    # join, no window anywhere.
    "s_kmeans_seed": dict(
        require=["BroadcastNestedLoopJoin", "partial_max", "Union"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Curation capstone: the union of its parts — CDC postings join,
    # LM model broadcast probes, the ONE per-lang ntile window, and
    # the 5-key ledger; still no cartesian anywhere.
    "t_curation_e2e": dict(
        require=["partial_count", "partial_sum", "Window",
                 "BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # The scrub-before-train capstone shares the gate spine verbatim
    # — same audited shape plus one narrow regex map before
    # tokenize; nothing new may shuffle.
    "t_curation_pii": dict(
        require=["partial_count", "partial_sum", "Window",
                 "BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # Count-Min heavy hitters: sketch build and exact side are
    # map-side-combined counts; the estimate join broadcasts the
    # constant-size (d·w-row) sketch; top-20 is a partial top-k.
    "w_heavy_hitters_cms": dict(
        require=["partial_count", "partial_min", "BroadcastHashJoin",
                 "TakeOrderedAndProject"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Funnel fold: ONE user-keyed collect + a pure-codegen struct
    # fold — no window, no self-join, no join at all on the Spark
    # side (the oracle's CTE joins are DuckDB-only).
    "w_funnel_3step": dict(
        require=["partial_collect_list"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window", "BroadcastNestedLoopJoin"],
    ),
    # k=4 instantiation of the generalized fold: the plan shape must
    # be IDENTICAL to the 3-step form — one user-keyed collect, the
    # fold in codegen, no join/window appearing as the funnel grows.
    "w_funnel_4step": dict(
        require=["partial_collect_list"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window", "BroadcastNestedLoopJoin"],
    ),
    # transition matrix: ONE user-keyed lag window (the
    # sessionization shuffle class), a 25-cell aggregate, and a
    # from-type share window over that tiny relation — no joins.
    "w_event_transitions": dict(
        require=["Window", "partial_count"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin"],
    ),
    # latency ledger: the funnel fold + a <= 15-row day-bucket
    # aggregate + the running total over THAT bucket relation (the
    # single-partition window is O(window days), not O(users)).
    "w_funnel_latency": dict(
        require=["partial_collect_list", "partial_count", "Window"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin"],
    ),
    # Theta set-ops: the bottom-k build is a per-set rank window over
    # the member relation; the pair math is equi-joins on hash plus
    # hinted broadcasts of the tiny pair-θ frame — no cartesian ever
    # touches data-sized relations (the |sets|² frame is 10 rows).
    # The exact-baseline hash join is statically SMJ (unknown sizes);
    # AQE broadcasts it at runtime — assert the EXECUTED plan.
    "w_kmv_jaccard": dict(
        require=["Window", "BroadcastHashJoin", "partial_count"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # HLL: pre-distinct + two map-combined aggregates (64·n_metrics
    # register cells, then per-metric sums); the exact-ledger join is
    # an n_metrics-key equi-join AQE broadcasts.
    "w_distinct_hll": dict(
        require=["partial_max", "partial_sum"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # MMR diversified re-rank: pool build = broadcast query fan-out +
    # per-qid rank window; each round ONE map-combined struct-max per
    # qid with the winner broadcast back (the Gonzalez shape).  The
    # query fan-out is the 4-row BroadcastNestedLoopJoin (intended);
    # no cartesian over data, no sort-merge join.
    "s_mmr_rerank": dict(
        require=["Window", "partial_max", "BroadcastHashJoin",
                 "TakeOrderedAndProject"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Prefix-filter set-similarity join: df = shingle-keyed
    # map-combined count; the per-doc prefix rank is a doc-keyed
    # window; candidates equi-join on low-df prefix tokens only; the
    # verification joins are doc-keyed.  No cartesian, no NL join.
    "d_prefix_join": dict(
        require=["Window", "partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # CM join-size estimator: two map-combined d·w-cell sketch builds,
    # a sketch-keyed (r, b) equi-join + min-reduce, and the exact-side
    # per-user count join (AQE-sized); the 1-row ledger assembly rides
    # broadcast NL joins (intended).  No cartesian over data.
    "w_join_cms_estimate": dict(
        require=["partial_count", "partial_sum", "partial_min"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct"],
    ),
    # Hilbert-vs-Morton ledger: same shape as w_zorder_skipping (the
    # shared _skip_ledger read side); the 5 unrolled xy->d rounds are
    # narrow chained projections inside codegen.
    "w_hilbert_skipping": dict(
        require=["partial_count", "partial_min", "partial_max",
                 "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Z-order skipping ledger: the bounds frame is a 1-row broadcast
    # (the timeSlice-discipline BroadcastNestedLoopJoin, NOT a
    # cartesian over data); the stats build and match counts are
    # map-combined aggregates; box probes are 3-row broadcasts.
    "w_zorder_skipping": dict(
        require=["partial_count", "partial_min", "partial_max",
                 "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Merge-on-read scan: the deletion vector must apply as BROADCAST
    # LEFT ANTI equi-joins (Catalyst constant-folds the per-directory
    # sequence inequality into the broadcast side per union branch —
    # the strictly-older rule costs nothing at runtime); never a
    # shuffle join or a nested loop over data.
    "w_lakehouse_mor": dict(
        require=["BroadcastHashJoin LeftAnti"],
        forbid=["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin"],
    ),
    # Positional-deletion-vector scan: both the equality and the
    # positional tombstone sets apply as broadcast anti joins (the
    # per-dir path equality constant-folds); no rewrite shape (sort
    # merge), no cartesian, no window anywhere in the merged read.
    "w_lakehouse_mor_pos": dict(
        require=["BroadcastHashJoin LeftAnti"],
        forbid=["CartesianProduct", "SortMergeJoin",
                "BroadcastNestedLoopJoin", "Window"],
    ),
    # Bloom point-lookup ledger: the truth side is the PRUNED scan
    # (isin pushed to the parquet source) joined to the 12-row
    # metadata frame by broadcast — no shuffle join, no cartesian.
    "w_lakehouse_bloomskip": dict(
        require=["PushedFilters", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Sampled link prediction: same shape as w_link_cn (partial
    # top-k, map-combined wedge counts) plus the estimate-vs-audit
    # alignment join — still no cartesian/nested-loop over data.
    "w_link_cn_sample": dict(
        require=["TakeOrderedAndProject", "partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # BFS layer histogram: the per-round frontier joins happened
    # against checkpointed relations during the loop; the final plan
    # is the map-combined layer count over the unioned checkpoints —
    # no join of any kind survives into the read side.
    "w_bfs_layers": dict(
        require=["partial_count", "Union"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # Coreset ledger: the k picks are checkpointed 1-row frames; the
    # read side is their union beside the 1-row covering-radius
    # broadcast (intended NL join, the timeSlice discipline).
    "s_coreset": dict(
        require=["Union", "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # MG summaries + merge: map-combined counts (the one shuffle
    # exact wordcount pays), top-(k+1) threshold windows over the
    # O(keys)/O(shards·k) relations, broadcast threshold join-backs —
    # no cartesian over data (the 1-row bound frames ride intended
    # broadcast NL joins, the timeSlice discipline).
    "w_topk_mg": dict(
        require=["partial_count", "Window", "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # CDF bag diff: two snapshot scans + Spark's exceptAll lowering
    # (count-annotated aggregate + replicate) — equi-plans only, no
    # cartesian/nested-loop anywhere.
    "w_lakehouse_cdf": dict(
        require=["HashAggregate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # CDF O(changes) fast path: the endpoint scans carry the
    # broadcast changed-key semi-join (never a shuffle join); the
    # diff is the same exceptAll lowering as w_lakehouse_cdf.
    "w_lakehouse_cdf_mor": dict(
        require=["BroadcastHashJoin LeftSemi", "HashAggregate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin"],
    ),
    # Same fast-path plan over POSITIONAL commits: pdv tombstones
    # resolve via broadcast position semi-joins against only the
    # addressed dirs, then the identical changed-key semi-join +
    # exceptAll diff — still no shuffle join anywhere.
    "w_lakehouse_cdf_pos": dict(
        require=["BroadcastHashJoin LeftSemi", "HashAggregate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin"],
    ),
    # Shallow-clone ledger: both sides' per-lang aggregates are
    # map-combined scans of their own manifests; the shared-dirs
    # scalar is driver metadata (lit) — no join in the plan at all.
    "w_lakehouse_clone": dict(
        require=["partial_count", "Union"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "Window"],
    ),
    # Dedup decision matrix: the three tier relations (hash groupBy,
    # banded chunk join, shingle inverted index) composed by O(docs)
    # doc_id flag joins — UN-hinted (VERDICT r16: the flagged-doc
    # set is data-dependent); at test scale AQE must still choose
    # broadcast at runtime (require_executed, the d_incremental
    # pattern); never a cartesian or nested-loop anywhere.
    "d_dedup_matrix": dict(
        require=["HashAggregate"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # aHash banded near-dup: hashing is pre-checkpointed; the live
    # plan is the (band, chunk) bucket explode (Generate) + equi-join
    # (shuffled by design — work scales with bucket sizes), pair
    # dedup, and two broadcast hash-ledger join-backs for the hamming
    # verify.  Never a cartesian/nested-loop (the all-pairs shape).
    "m_ahash_neardup": dict(
        require=["Generate", "BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Shot-boundary detection (round 17): frame explode (Generate) +
    # codegen'd hashing, ONE per-video window for the lag (the only
    # shuffle key is media_id), then a map-combined per-video
    # aggregate; no join anywhere, no Python eval.
    # m_ahash_tuning / d_lsh_tuning have NO query spec by design:
    # their returned frame is the driver-assembled count ledger
    # (LocalTableScan) — the per-config join work runs during the
    # build and its shapes are the already-audited banded-join
    # class.
    "m_shot_bounds": dict(
        require=["Generate", "Window", "partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "BroadcastHashJoin",
                "BatchEvalPython", "ArrowEvalPython"],
    ),
    # Shot-level scene dedup (round 19): the rep relation is
    # pre-checkpointed (segmentation window runs at build); the live
    # plan is the banding explode (Generate), the df<=cap fence as a
    # pre-join aggregate feeding the (band, chunk) equi-join
    # (shuffled by design — the fence bounds bucket sizes), pair
    # dedup, broadcast bit-ledger join-backs for the hamming verify,
    # and broadcast shot-count join-backs for the pair ledger.
    # Never a cartesian/nested-loop, never Python.
    "m_scene_dedup": dict(
        require=["Generate", "BroadcastHashJoin", "partial_min"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"],
    ),
    # Scene-dedup keepers (round 19): the returned plan is the
    # singleton fill + cluster window over the checkpointed
    # contraction labels (the star loop's per-round plans are the
    # audited d_cc_stars class); one left join of the O(videos) shot
    # ledger against O(clustered) labels, one cluster-keyed window,
    # no Python, no all-pairs shape.
    "m_scene_keepers": dict(
        require=["Window"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "ArrowEvalPython"],
    ),
    # Incremental MV refresh: the O(changes) feed (broadcast
    # changed-key semi-join) folded to signed deltas (map-combined
    # partial_sum), merged into the view by a FULL-OUTER join (new
    # groups can appear, emptied groups must drop) — Spark cannot
    # broadcast full-outer, so that one merge is a key-shuffled join
    # of two GROUP-cardinality relations (O(langs), not O(rows)):
    # the permitted SMJ here is the view merge, never a data-plane
    # join.  The base table is never re-aggregated.
    "w_lakehouse_mv": dict(
        require=["BroadcastHashJoin LeftSemi", "partial_sum",
                 "FullOuter"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # MIN/MAX view maintenance (round 17; BOTH extremes round 19):
    # the returned plan is the post-checkpoint refresh tail — the
    # endangered-group fallback must be a LeftSemi-pruned recompute
    # scan (never the whole table) with map-combined max AND min;
    # the full-outer feed merge runs upstream of the checkpoint (the
    # w_lakehouse_mv audited shape).
    "w_lakehouse_mv_minmax": dict(
        require=["LeftSemi", "partial_max", "partial_min"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # The tie-aware ties rung (round 18) shares _mv_minmax_refresh
    # verbatim on the coarsened score — same audited tail: LeftSemi
    # prune on the (possibly empty) endangered set, map-combined
    # max and min, no all-pairs shape.
    "w_mv_minmax_ties": dict(
        require=["LeftSemi", "partial_max", "partial_min"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Write-side spec evolution (round 17): the returned ledger is a
    # map-combined per-lang aggregate over the MoR-resolved scan —
    # the per-directory union with its broadcast anti-join DV
    # shadowing — plus two driver-literal metadata columns; never a
    # cartesian/nested-loop, and no window anywhere.
    "w_lakehouse_partevolve_merge": dict(
        require=["partial_count", "partial_sum", "Union",
                 "BroadcastHashJoin LeftAnti"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "Window"],
    ),
    # OPTIMIZE ledger read side: the truth pass is the 3-row box
    # frame broadcast over the optimized scan (intended
    # crossJoin-then-filter, the timeSlice discipline) + a
    # map-combined count; the metadata sides are driver literals.
    "w_lakehouse_optimize": dict(
        require=["partial_count", "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # Triangle read side (post-checkpoint): the wedge self-join and
    # the closing membership join are plain equi-joins over the
    # checkpointed oriented edges, the per-node participation count
    # is map-combined, and nothing is a cartesian/nested-loop (the
    # all-pairs shape) or a window.  The orientation build itself is
    # pinned by the w_triangles_oriented BUILDER below.
    "w_triangles": dict(
        require=["partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # DOULION triangle estimate: two triangle counts (full + sampled)
    # over checkpointed substrates, assembled into ONE row by
    # broadcast NL joins of 1-row aggregates (the timeSlice-discipline
    # crossJoin, intended) — no cartesian over data, no window.
    "w_triangle_sample": dict(
        require=["partial_count", "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "Window"],
    ),
    # Link prediction: the top-20 must be a PARTIAL top-k
    # (TakeOrderedAndProject — never a global sort), the wedge pair
    # count a map-combined aggregate, and the degree join-backs
    # broadcasts of the O(nodes) relation.
    "w_link_cn": dict(
        require=["TakeOrderedAndProject", "partial_count",
                 "BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # Truss-support read side: same checkpointed substrate as
    # w_triangles; the 3x edge charge is an explode + map-combined
    # count, the support join-back an equi-join, the histogram a
    # second tiny aggregate — no cartesian/nested-loop/window.
    "w_truss_support": dict(
        require=["partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # Fixed-point PageRank: the edge build is the transitions lag
    # window; each unrolled iteration joins the edge list against the
    # N-row rank frame (hinted broadcast) and map-combines the per-dst
    # contribution sum.  No cartesian, no sort-merge join, no collect
    # in the loop.
    "w_event_pagerank": dict(
        require=["Window", "partial_sum", "partial_count",
                 "BroadcastHashJoin"],
        forbid=["CartesianProduct", "SortMergeJoin"],
    ),
    # Cohort × funnel matrix: the funnel's ONE user-keyed collect-
    # fold + the map-combined per-user cohort min, composed by a
    # user_id equi-join (AQE-sized) and a <=4x sequence fan-out into
    # a tiny (cohort, step) count; the cohort-size frame joins back
    # hinted-broadcast.  No window, no nested-loop, no cartesian.
    "w_funnel_cohort": dict(
        require=["partial_collect_list", "partial_min", "partial_count"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "Window", "BroadcastNestedLoopJoin"],
    ),
    # HDR rank sketch: the build is ONE map-combined count into
    # ≤16·octaves cells per key (partial_count); the CDF walk is a
    # HINTED broadcast equi-join on metric with the rank predicate
    # (cum >= rnk) as a post-join filter over the sketch-sized
    # relation; the exact audit joins back by (metric, rnk) equi-key.
    # No cartesian, no nested-loop join anywhere.
    "w_quantile_hdr": dict(
        require=["partial_count", "partial_sum", "Window",
                 "BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # BPE pair counting: tokenize + pair expansion as narrow
    # higher-order expressions; one map-side-combining count, then
    # partial top-k — join- and window-free.
    "t_bpe_pairs": dict(
        require=["partial_count", "TakeOrderedAndProject"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    # BPE merge iteration: count → 1-row best-pair broadcast (the
    # scalar-broadcast NL join, intended) → narrow merge+recount with
    # map-side combine and partial top-k.  No shuffle join, no window.
    "t_bpe_merge": dict(
        require=["partial_count", "TakeOrderedAndProject",
                 "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "SortMergeJoin", "Window"],
    ),
}

# Non-registry plans: frames the contract queries materialize
# internally (a distributed sink, a streaming transformation) whose
# physical shape matters as much as the returned read-back.  Each
# builder returns a DataFrame; entries with streaming=True are
# logical-plan-only (no codegen execution — a streaming frame cannot
# be collected outside a query).
def _build_wsp_export_write(spark):
    from go_whisper_spark.operators.whisper_queries import _wsp_export_sink

    sink, _ = _wsp_export_sink(spark, SF_DIR)
    return sink


def _build_st_shot_bounds(spark):
    # The exact transformation st_shot_bounds replays, attached to a
    # rate source so the STREAMING logical plan (the _shot_hash
    # narrow map feeding the single stateful hamming kernel) is
    # assertable without running a query.
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.multimodal import _SHOT_FRAME, _shot_hash
    from go_whisper_spark.streaming.stateful import streaming_shot_hamming

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).alias("media_id"),
            F.col("value").alias("f"),
            F.expr(f"repeat(chr(65 + CAST(value % 26 AS INT)), "
                   f"{_SHOT_FRAME})").alias("frame"),
        )
    )
    return streaming_shot_hamming(_shot_hash(src))


def _build_st_dedup_stream(spark):
    # The exact transformation st_dedup_1h replays, attached to a rate
    # source so the STREAMING logical plan (EventTimeWatermark feeding
    # Deduplicate — watermark must sit below the dedup for state
    # eviction) is assertable without running a query.
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.dedup import streaming_dedup

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") % 7).alias("vbucket"),
        )
    )
    return streaming_dedup(src, ["metric", "vbucket"], 172800)


def _build_st_join_stream(spark):
    # The exact transformation st_join_1h replays, attached to a rate
    # source so the STREAMING logical plan (EventTimeWatermark on the
    # shared source feeding an inner Join with the event-time range
    # condition) is assertable without running a query.
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.join import streaming_interval_join

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).cast("string").alias("metric"),
            F.col("value").alias("write_seq"),
        )
    )
    return streaming_interval_join(
        src, "metric", F.col("write_seq") % 2 == 0,
        F.col("write_seq") % 2 == 1, 3600, 172800,
    )


def _build_st_chained_level1(spark):
    # The declarative chained cascade's level-1 query
    # (streaming/chained.py): a 0-lateness EventTimeWatermark feeding
    # the coarse windowed Aggregate, join-free — the in-order
    # file-sink handoff is what licenses the zero watermark.
    from pyspark.sql import functions as F

    from go_whisper_spark.model import SeriesConfig
    from go_whisper_spark.streaming.rollup import streaming_rollup

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).cast("string").alias("metric"),
            F.col("value").cast("double").alias("value"),
            F.lit(0).cast("long").alias("write_seq"),
        )
    )
    cfg = SeriesConfig.from_defs("1h:2d,6h:12d", "max", 0.5)
    return streaming_rollup(
        src, cfg, 1, lateness_seconds=0, expected_points_per_window=6
    )


def _build_st_render(spark):
    # The streaming render query (streaming/render.py): the parsed
    # AST's stateless value maps feed ONE 0-lateness
    # EventTimeWatermark + tumbling-window Aggregate — join-free, no
    # pandas stage, exactly the chained-level-1 shape with render
    # arithmetic in front.
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.render import streaming_render_frame

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    return streaming_render_frame(
        src, "summarize(removeBelowValue(scale('*', 2), 40), 6, 'max')"
    )


def _build_st_render_hitcount(spark):
    # hitcount as the watermarked aggregate level: same
    # watermark+window shape, the ×3600 slot-width scale computed
    # inside the window Aggregate (``sum(cents) * 3600``).
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.render import streaming_render_frame

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            F.col("value").cast("double").alias("value"),
        )
    )
    return streaming_render_frame(
        src, "hitcount(removeBelowValue('*', 40), 6)"
    )


def _build_st_funnel(spark):
    # The streaming funnel's kernel stage on a rate source shaped
    # like the level-0 handoff rows.
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.stateful import streaming_funnel

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 7).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("signup"),
                        F.lit("purchase")),
                (F.col("value") % 4 + 1).cast("int"),
            ).alias("et"),
            (F.col("value") * 3600).alias("interval"),
        )
    )
    return streaming_funnel(src, ["view", "click", "signup", "purchase"],
                            14 * 86400)


def _build_st_render_window(spark):
    # The trailing-window kernel stage of a window-op render target
    # (streaming/stateful.py render_window_op + the stateless chain
    # above it): one FlatMapGroupsInPandasWithState keyed by metric,
    # a projection on top, nothing else stateful.
    from pyspark.sql import functions as F

    from go_whisper_spark.render import parse_target, validate_target
    from go_whisper_spark.streaming.render import (
        _apply_stateless,
        _to_value,
        check_streamable,
    )
    from go_whisper_spark.streaming.stateful import render_window_op

    node = validate_target(parse_target("scale(movingSum('*', 4), 2)"))
    win, _ = check_streamable(node)
    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            (F.col("value") % 5).cast("string").alias("metric"),
            (F.col("value") * 3600).alias("interval"),
            (F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    kout = render_window_op(src, win.name, win.args[1].value)
    return _to_value(_apply_stateless(kout, node, stop=win, stop_frame=kout))


def _build_st_pq_score(spark):
    # The in-stream routing kernel + broadcast PQ-index probe
    # (streaming/adc.py) on a rate source: the streaming logical plan
    # must be a stateless MapInPandas + join, nothing else.
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.adc import adc_candidates

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("vec_id"),
            F.array_repeat(F.col("value").cast("float"), 64).alias("embedding"),
        )
    )
    cent_rows = [
        {"cid": 0, "cv": [1.0] * 64, "cnorm": 8.0},
        {"cid": 1, "cv": [-1.0] * 64, "cnorm": 8.0},
    ]
    index = spark.createDataFrame(
        [(99, [0.5] * 64, 4.0, 0)],
        "vec_id long, rv array<double>, rnorm double, cell long",
    )
    return adc_candidates(src, cent_rows, index)


def _build_st_lsh_prefilter(spark):
    # The in-stream Arrow signature kernel + broadcast index probe
    # (streaming/prefilter.py) on a rate source, so the STREAMING
    # logical plan is assertable without running a query.
    from pyspark.sql import functions as F

    from go_whisper_spark.streaming.prefilter import streaming_lsh_prefilter

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("value").alias("doc_id"),
            F.concat(F.lit("alpha beta gamma delta "), F.col("value")).alias("text"),
        )
    )
    idx = spark.createDataFrame(
        [(0, "1-2-3-4")], "band_idx int, band_sig string"
    )
    return streaming_lsh_prefilter(src, idx)


def _build_triangle_oriented(spark):
    # The pre-checkpoint orientation build of w_triangles: the
    # co-purchase expansion must be an EQUI-self-join on the order
    # key (bounded clique expansion — never a cartesian/nested-loop),
    # the degree relation must come back as two hinted BROADCAST
    # joins, and the lineitem scan must be pruned to the two key
    # columns.
    from go_whisper_spark.operators.whisper_queries import (
        _tri_degrees,
        _tri_edges,
        _tri_orient,
    )

    edges = _tri_edges(spark, SF_DIR)
    return _tri_orient(edges, _tri_degrees(edges))


def _build_tri_ledger_increment(spark):
    # One micro-batch of st_triangles_ledger's incremental ledger
    # maintenance: Δ (a deterministic 1/7 edge slice) against the
    # pre-batch store (the other 6/7).  Every class join must stay an
    # equi-join (wedge closures keyed on shared endpoints — never a
    # cartesian/nested-loop), and both increment aggregates must be
    # map-combined (partial_count) before any exchange.
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.streaming_queries import (
        _tri_ledger_increment,
    )
    from go_whisper_spark.operators.whisper_queries import _tri_edges

    edges = _tri_edges(spark, SF_DIR)
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", "u", "v")), 1, 8), 16, 10
    ).cast("long")
    old = edges.where(h % 7 != 0)
    delta = edges.where(h % 7 == 0)
    return _tri_ledger_increment(old, delta)


def _build_tri_support_increment(spark):
    # One micro-batch of st_truss's per-edge support maintenance —
    # the same Δ-vs-store slicing and the same `_tri_new_triangles`
    # class joins as the node ledger (equi-joins only), with the
    # 3-edge charge exploded (Generate) and map-combined
    # (partial_count) before the exchange.
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.streaming_queries import (
        _tri_support_increment,
    )
    from go_whisper_spark.operators.whisper_queries import _tri_edges

    edges = _tri_edges(spark, SF_DIR)
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", "u", "v")), 1, 8), 16, 10
    ).cast("long")
    old = edges.where(h % 7 != 0)
    delta = edges.where(h % 7 == 0)
    return _tri_support_increment(old, delta)


def _build_labelprop_round(spark):
    # ONE min-label propagation round of s_labelprop — the SHIPPED
    # round body (_labelprop_round; REVIEW r16 extracted it so the
    # audited plan is the shipped plan).  DE-HINTED per VERDICT r16
    # item 3: the label frame is O(nodes), so neither join carries a
    # broadcast hint — at test scale AQE must still CHOOSE broadcast
    # from runtime stats (require_executed, the d_incremental
    # pattern), the per-dst min must be map-combined (partial_min),
    # and no cartesian/window anywhere.  This function materializes
    # its inputs exactly as the driver loop does, so AQE sees the
    # same post-materialization stats the shipped loop sees.
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.llm_ops import (
        _cos_frames,
        _labelprop_round,
        s_cosine_nearpairs,
    )
    from go_whisper_spark.session import materialize

    pairs = s_cosine_nearpairs(spark, SF_DIR).select("ida", "idb")
    edges = materialize(pairs.select(
        F.col("ida").alias("src"), F.col("idb").alias("dst")
    ).unionAll(pairs.select(
        F.col("idb").alias("src"), F.col("ida").alias("dst"))
    ), "plan_audit:labelprop edges")
    lab = materialize(
        _cos_frames(spark, SF_DIR)
        .select(F.col("vec_id").alias("node"))
        .withColumn("comm", F.col("node")),
        "plan_audit:labelprop labels", reset_stats=True)
    return _labelprop_round(edges, lab)


def _build_truss_peel_round(spark):
    # ONE flattened peel round of w_truss_decomp (the loop is R copies
    # of this plan over a shrinking survivor set): the wedge self-join
    # must stay an equi-join on the low endpoint (never a
    # cartesian/nested-loop), the closing probe and the degree
    # join-backs must be broadcasts, and the 3x edge charge must be a
    # map-combined (partial_count) aggregate before the support join.
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _TRUSS_MOD,
        _tri_degrees,
        _tri_edges,
        _tri_orient,
        _tri_triangles,
    )

    edges = _tri_edges(spark, SF_DIR, order_mod=_TRUSS_MOD)
    oriented = _tri_orient(edges, _tri_degrees(edges))
    tri = _tri_triangles(oriented, n_edges=1)
    pairs = tri.select(
        F.explode(F.array(
            F.struct(F.least("a", "v").alias("cu"),
                     F.greatest("a", "v").alias("cv")),
            F.struct(F.least("a", "w").alias("cu"),
                     F.greatest("a", "w").alias("cv")),
            F.struct(F.least("v", "w").alias("cu"),
                     F.greatest("v", "w").alias("cv")),
        )).alias("e")
    ).select("e.cu", "e.cv")
    sup = pairs.groupBy("cu", "cv").agg(F.count("*").alias("s"))
    return (
        oriented.withColumn("cu", F.least("src", "dst"))
        .withColumn("cv", F.greatest("src", "dst"))
        .join(sup, ["cu", "cv"], "left")
        .select("src", "dst",
                F.coalesce("s", F.lit(0).cast("long")).alias("sup"))
        .where(F.col("sup") < 2)
    )


def _build_kcore_peel_round(spark):
    # ONE flattened peel round of w_kcore_decomp (the loop is R copies
    # of this plan over a shrinking survivor set): the degree count
    # must be a map-combined (partial_count) aggregate over the
    # exploded endpoints, the node join-back an equi-join, and the two
    # edge-shedding anti-joins equi-anti-joins — never a
    # cartesian/nested-loop, and no triangle join anywhere (a core
    # round is strictly cheaper than a truss round by construction).
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _TRUSS_MOD,
        _tri_edges,
    )

    edges = _tri_edges(spark, SF_DIR, order_mod=_TRUSS_MOD)
    nodes = edges.select(
        F.explode(F.array("u", "v")).alias("node")).distinct()
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ann = nodes.join(deg, "node", "left").select(
        "node", F.coalesce("deg", F.lit(0).cast("long")).alias("deg"))
    bad = ann.where(F.col("deg") < 2).select("node")
    return (
        edges.join(bad.select(F.col("node").alias("u")), "u", "left_anti")
        .join(bad.select(F.col("node").alias("v")), "v", "left_anti")
        .select("u", "v")
    )


def _build_kcore_warm_seed(spark):
    # The warm peel's SEEDING stage (st_kcore / _kcore_warm_peel,
    # round-17; the per-round peel shape is already audited by
    # w_kcore_peel_round, which the warm loop shares): the coreness-
    # ledger join-back is an equi-join, the survivor split is a plain
    # predicate over it, and the induced-subgraph restriction is two
    # equi-SEMI-joins of the edge store against the survivor set —
    # never a cartesian/nested-loop/window, and no O(edges²) shape.
    from pyspark.sql import functions as F

    from go_whisper_spark.operators.whisper_queries import (
        _TRUSS_MOD,
        _tri_edges,
    )

    edges = _tri_edges(spark, SF_DIR, order_mod=_TRUSS_MOD)
    nodes = edges.select(
        F.explode(F.array("u", "v")).alias("node")).distinct()
    # synthetic prior-peel ledger: shape-identical to the shipped one
    lb = nodes.select("node", (F.col("node") % 4).alias("coreness"))
    ann0 = nodes.join(lb.withColumnRenamed("coreness", "lb"),
                      "node", "left").select(
        "node", F.coalesce("lb", F.lit(0).cast("long")).alias("lb"))
    surv = ann0.where(F.col("lb") >= 2).select("node")
    return (
        edges.join(surv.select(F.col("node").alias("u")), "u",
                   "left_semi")
        .join(surv.select(F.col("node").alias("v")), "v", "left_semi")
    )


BUILDERS = {
    # See _build_kcore_peel_round.
    "w_kcore_peel_round": dict(
        build=_build_kcore_peel_round,
        require=["partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # See _build_kcore_warm_seed.
    "st_kcore_warm_seed": dict(
        build=_build_kcore_warm_seed,
        require=["LeftSemi"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # See _build_triangle_oriented.
    "w_triangles_oriented": dict(
        build=_build_triangle_oriented,
        require=["BroadcastHashJoin", "partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # See _build_tri_ledger_increment.
    "st_tri_ledger_increment": dict(
        build=_build_tri_ledger_increment,
        require=["partial_count"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # See _build_tri_support_increment.
    "st_tri_support_increment": dict(
        build=_build_tri_support_increment,
        require=["partial_count", "Generate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # See _build_labelprop_round.
    "s_labelprop_round": dict(
        build=_build_labelprop_round,
        require=["partial_min"],
        require_executed=["BroadcastHashJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "Window"],
    ),
    # See _build_truss_peel_round.
    "w_truss_peel_round": dict(
        build=_build_truss_peel_round,
        require=["BroadcastHashJoin", "partial_count", "Generate"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # The applyInPandas .wsp write stage: one FlatMapGroupsInPandas
    # keyed by metric (whisper's one-file-per-metric layout IS the
    # shuffle key); no join of any kind in the sink plan.
    "w_wsp_export_write": dict(
        build=_build_wsp_export_write,
        require=["FlatMapGroupsInPandas", "partial_max_by"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "Window"],
    ),
    "st_dedup_1h_stream": dict(
        build=_build_st_dedup_stream,
        require=["EventTimeWatermark", "Deduplicate"],
        forbid=["Join", "Window"],
        streaming=True,
    ),
    "st_join_1h_stream": dict(
        build=_build_st_join_stream,
        require=["EventTimeWatermark", "Join Inner"],
        forbid=["Window", "Aggregate"],
        streaming=True,
    ),
    "st_chained_level1_stream": dict(
        build=_build_st_chained_level1,
        require=["EventTimeWatermark", "Aggregate"],
        forbid=["Join"],
        streaming=True,
    ),
    "st_render_6h_stream": dict(
        build=_build_st_render,
        require=["EventTimeWatermark", "Aggregate"],
        forbid=["Join", "MapInPandas", "FlatMapGroupsWithState"],
        streaming=True,
    ),
    "st_render_hitcount_stream": dict(
        build=_build_st_render_hitcount,
        require=["EventTimeWatermark", "Aggregate"],
        forbid=["Join", "MapInPandas", "FlatMapGroupsWithState"],
        streaming=True,
    ),
    "st_funnel_stream": dict(
        build=_build_st_funnel,
        # The funnel-kernel query of the chained funnel: ONE stateful
        # operator (the per-user fold), a projection parsing
        # (user, et) from the handoff metric, nothing else —
        # watermark/aggregate live in the upstream level-0 query.
        require=["FlatMapGroupsInPandasWithState"],
        forbid=["Join", "Aggregate", "EventTimeWatermark"],
        streaming=True,
    ),
    "st_render_window_stream": dict(
        build=_build_st_render_window,
        # The third chained query of a window-op render target: the
        # stateful trailing-window kernel is the ONLY stateful
        # operator in its plan — no watermark/aggregate/join may ride
        # along (they live in the upstream handoff queries).
        require=["FlatMapGroupsInPandasWithState"],
        forbid=["Join", "Aggregate", "EventTimeWatermark"],
        streaming=True,
    ),
    "st_pq_score_stream": dict(
        build=_build_st_pq_score,
        # Stateless in-stream routing kernel + static-index probe: the
        # pandas stage and the inner join must be in the plan; no
        # watermark/state/aggregate anywhere on the stream.
        require=["MapInPandas", "Join Inner"],
        forbid=["EventTimeWatermark", "Aggregate", "Deduplicate"],
        streaming=True,
    ),
    "st_lsh_prefilter_stream": dict(
        build=_build_st_lsh_prefilter,
        # Stateless in-stream Arrow kernel + static-index probe: the
        # pandas stage and the LEFT join must be in the plan; no
        # watermark/state/aggregate anywhere on the stream.
        require=["MapInPandas", "Join LeftOuter"],
        forbid=["EventTimeWatermark", "Aggregate", "Deduplicate"],
        streaming=True,
    ),
    "st_shot_bounds_stream": dict(
        build=_build_st_shot_bounds,
        # The streamed shot-bounds plan: the narrow aHash codegen map
        # feeding ONE stateful kernel (per-video trailing frame
        # bits); no join/aggregate/watermark rides the stream — the
        # ledger fold is the batch read side.
        require=["FlatMapGroupsInPandasWithState"],
        forbid=["Join", "Aggregate", "EventTimeWatermark"],
        streaming=True,
    ),
}


def main():
    import __spark_entry__ as e
    from go_whisper_spark.session import get_spark

    spark = get_spark("plan_audit", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    only = set(sys.argv[1:])
    bad = 0
    for name, spec in CHECKS.items():
        if only and name not in only:
            continue
        from go_whisper_spark.plans.audit import codegen_spans, explain_formatted

        df = qs[name](spark, SF_DIR)
        text = explain_formatted(df)
        problems = []
        for r in spec.get("require", []):
            if r not in text:
                problems.append(f"missing: {r}")
        for f in spec.get("forbid", []):
            if f in text:
                problems.append(f"present: {f}")
        if spec.get("require_executed"):
            # Shapes only AQE can produce (runtime broadcast decisions
            # from post-materialization stats) live in the EXECUTED
            # adaptive plan, not the static explain.
            from go_whisper_spark.plans.audit import final_plan

            executed = final_plan(df)
            for r in spec["require_executed"]:
                if r not in executed:
                    problems.append(f"missing in executed plan: {r}")
        max_cols = spec.get("pruned")
        if max_cols:
            m = re.search(r"ReadSchema: struct<([^>]*)>", text)
            if m:
                ncols = m.group(1).count(":")
                if ncols > max_cols:
                    problems.append(f"scan reads {ncols} cols (> {max_cols})")
        # Codegen spans come from the EXECUTED plan: the pre-execution
        # adaptive plan (isFinalPlan=false) hides WholeStageCodegen.
        n_codegen = codegen_spans(df)
        if n_codegen == 0 and "Scan parquet" in text:
            problems.append("no WholeStageCodegen span in executed plan")
        status = "OK" if not problems else "ISSUES"
        print(f"{name}: {status}  codegen_spans={n_codegen}")
        for p in problems:
            print(f"    - {p}")
        if problems:
            bad += 1
            if only:
                print(text[:4000])

    for name, spec in BUILDERS.items():
        if only and name not in only:
            continue
        from go_whisper_spark.plans.audit import codegen_spans, explain_formatted

        df = spec["build"](spark)
        if spec.get("streaming"):
            # Streaming frames cannot be physically planned outside a
            # query: assert on the ANALYZED logical plan (watermark /
            # dedup operators are logical-level).
            text = df._jdf.queryExecution().analyzed().toString()
            n_codegen = "-"
        else:
            text = explain_formatted(df)
            n_codegen = codegen_spans(df)
        problems = []
        for r in spec.get("require", []):
            if r not in text:
                problems.append(f"missing: {r}")
        for f in spec.get("forbid", []):
            if f in text:
                problems.append(f"present: {f}")
        if spec.get("require_executed") and not spec.get("streaming"):
            # Same as the CHECKS loop: AQE-only shapes (runtime
            # broadcast decisions from post-materialization stats)
            # live in the EXECUTED adaptive plan.
            from go_whisper_spark.plans.audit import final_plan

            executed = final_plan(df)
            for r in spec["require_executed"]:
                if r not in executed:
                    problems.append(f"missing in executed plan: {r}")
        status = "OK" if not problems else "ISSUES"
        print(f"{name}: {status}  codegen_spans={n_codegen}")
        for p in problems:
            print(f"    - {p}")
        if problems:
            bad += 1
            if only:
                print(text[:4000])
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
