"""Query/operator registry backing ``__spark_entry__.py``.

Every operator from SURVEY.md §2.3 registers itself here with a name, a
``(spark, sf_dir) -> DataFrame`` builder, and (where SQL-expressible) a
DuckDB oracle SQL string — the modern form of the reference's golden-value
matcher (``x should evaluateTo("collection()")``,
``DistributedQueryEngine.diff:285-287``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Oracle = "str | Callable[[], str]"

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str | Callable[[], str]] = {}


def query(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query. ``oracle`` is ANSI SQL DuckDB runs over the
    same parquet tables (views: region nation customer supplier part
    orders lineitem events documents embeddings) — either a plain string
    or a zero-arg callable returning the SQL (LAZY form; preferred for
    f-strings that interpolate helper fragments, so a typo in one oracle
    fails that one query at render time instead of killing the whole
    module import — the round-2/round-3 failure mode). Omit ``oracle``
    only for genuinely non-SQL-expressible operators (driver then records
    a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The driver invokes queries with ITS OWN vanilla session;
            # apply our runtime-settable defaults (UTC timezone, AQE,
            # Arrow) so results don't depend on the caller's conf.
            from distributed_query_engine_spark.session import tune_session

            tune_session(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver walks ``queries()`` in dict order and checks only the first
# ~50 entries per round, so we order NEVER-TESTED, PREVIOUSLY-FAILED, and
# MODIFIED-SINCE-LAST-GREEN queries FIRST and verified-green ones LAST —
# across rounds every query then earns a driver CORRECTNESS row.  The
# verified-green set is computed from the CORRECTNESS_r*.json files the
# driver itself writes (latest row per query wins), so each new round's
# results automatically rotate fresh unchecked queries into the window.
#
# INVARIANT (round-2 lesson): any round that changes a query's semantics,
# its oracle, or an operator it depends on MUST stamp it in ``_CHANGED``
# with the round number of the change — otherwise the changed queries
# are exactly the ones deprioritized out of re-verification. A green
# CORRECTNESS row only counts as verification if it was recorded in a
# round >= the stamp, so stamped queries automatically re-front until
# the driver re-samples them, then automatically demote — no manual
# cleanup in later rounds.
_CHANGED: dict[str, int] = {
    # r6: default flipped to the hashed (dictionary-free) token-id path.
    # r6: grouped + salted prefix self-join de-skew (behavior-preserving).
    # r6: salted within-cell self-join de-skew (behavior-preserving).
    # r6: approx-p50 tolerance loosened 1% → 5% (column renamed to
    # approx_within_5pct) per ADVICE — the t-digest has no 1% guarantee.
    "agg_percentile": 6,
    # r7: clustering coefficient guarded against the zero-wedge graph
    # (ADVICE item 3) — engine and oracle both changed.
    "graph_triangle_count": 7,
    # r7: residual downshift before squaring (sf1 int64-overflow fix) —
    # engine and oracle both changed.
    "llm_embedding_outliers": 7,
    # r7: running share re-based to integer micros (sf1 decimal→double
    # cast-rounding divergence) — engine and oracle both changed.
    # r8: LSH knobs retuned for recall >= 0.8 (N_PLANES 8→5, H 2→3) —
    # bucket ids, probe sets, and the ANN top-k all change.
    "llm_similarity_ann_lsh": 8,
    # r8: 25-query panel + n_candidates cost column (schema change),
    # on top of the LSH knob change.
    # r8: same N_PLANES retune — its blocking buckets (an output
    # column) and the surviving near-dup pair set change (r8 review
    # catch: the knob's third dependent query).
    "llm_dedup_embcos": 8,
    # r9: IVF knob retune (N_CELLS 16→32, N_PROBE 4→8; recall 0.77-0.82
    # → 0.936-0.992 at the same ~25% candidate fraction — see
    # scripts/ivf_sweep.py + PLANS.md). Every N_CELLS/N_PROBE consumer
    # stamped: the IVF search itself, the materialized-index variant,
    # the recall/cost measurement (also gains the `recommended`
    # column — schema change), and semdedup (cell assignment changes
    # its kept set — the embcos lesson applied proactively).
    # r9: _spread_narrow_scan — doc_token_arrays/doc_ngram_arrays/
    # _span_base repartition compact doc rows up to session parallelism
    # before their md5-heavy fan-outs (the sf1 one-split parallelism
    # fix). VALUE-PRESERVING (a repartition changes no output), locally
    # re-verified oracle-exact at sf0.01 — stamped anyway per the r6
    # simhash-de-skew precedent: every query whose plan the operator
    # change touched re-fronts for a driver row.
    "llm_dedup_incremental": 9,
    "llm_dedup_clusters": 9,
    "llm_corpus_curation": 9,
    "llm_dedup_simhash_multiband": 9,
    "llm_cluster_aware_split": 9,
    "llm_dedup_cluster_summary": 9,
    "llm_curation_funnel_report": 9,
    "llm_dedup_signature_store": 9,
    "llm_dedup_ngram": 9,
    "llm_dedup_substring": 9,
    "llm_dedup_substring_top": 9,
    "llm_dedup_substring_mask": 9,
    "llm_dedup_minhash_recall": 9,
    # r9: doc_ngram_arrays rebuilt as arrays_zip-of-slices (the
    # element_at(split(),i) per-element re-evaluation fix; identical
    # output, A/B-verified array-identical at sf1 + oracle-exact at
    # sf0.01) — stamp its other consumer too (llm_dedup_ngram already
    # stamped above).
    "llm_decontaminate": 9,
    # r9 re-eval audit: the same lambda-body re-evaluation fix applied
    # to the repetition bigrams + sorted-run top-frequency, the bigram
    # LM pair build, and the BPE trainer's pair count (sliding_windows
    # in functions/text.py). Values identical, oracle-exact re-sim.
    "llm_bigram_conditional_surprisal": 9,
    # r10: the sorted-run top-frequency aggregate now folds the
    # PREVIOUS run into `best` (+ a finish-lambda greatest) so the run
    # CASE is spliced once per element instead of twice (ADVICE r9).
    # Value-preserving (same maximum run), locally re-verified
    # oracle-exact — stamped per the value-preserving-change precedent.
    "llm_repetition_stats": 10,
    # r10: _train_bpe_merges rewritten to DELTA re-encode (VERDICT r9
    # item 2) — the corpus stays persisted in delimiter-string form and
    # each learned merge is ONE replace() over it instead of a full
    # k-deep re-encode per iteration (68 → 6.4 s at sf1). Identical
    # learned table by construction (the replace chain is the same
    # expression, materialized between steps); property test + oracle
    # re-verified locally — stamped anyway so both consumers of the
    # shared loop re-earn driver rows.
    "llm_bpe_train": 10,
    "llm_pack_sequences_bpe": 10,
    # r11: the three unpartitioned-window de-globalizations (VERDICT
    # r10 item 1) — all VALUE-PRESERVING by construction (strict total
    # orders make the two-pass prefix scan reproduce the single-sort
    # answer exactly; the ntile arithmetic is the SQL-standard bucket
    # formula), locally re-verified oracle-exact at sf0.01 — stamped
    # per the value-preserving-change precedent so each re-earns a
    # driver row on the new plan.
    "llm_vocab_oov_coverage": 11,  # global row_number -> orderBy+limit
    "interval_concurrency_peak": 11,  # two-pass prefix + struct-max agg
    "pareto_abc_classification": 11,  # two-pass prefix cumsum
    "rfm_segmentation": 11,  # 3x two-pass rank + exact ntile arithmetic
    # r11 ADVICE: PQ dim probe moved BEFORE the raw-scan spread + a
    # homogeneous-dim guard spliced into the consumed ivec expression
    # (value-preserving on homogeneous corpora — the guard CASE always
    # takes the THEN branch — but it touches every PQ plan), and the
    # incremental IVF index staged at a pid-keyed dir (path-only).
    # All five consumers stamped per the value-preserving precedent.
    "llm_similarity_pq": 11,
    "llm_similarity_pq_recall": 11,
    # r12: the LAST two fact-grain single-partition sorts retired
    # (VERDICT r11 item 1) — both VALUE-PRESERVING by construction
    # (strict total orders; exact_ntile reproduces SQL ntile from
    # (rank, n)), locally re-verified oracle-exact at sf0.01:
    # window_ntile_percent now = two-pass prefix rank + (rk,n)
    # arithmetic; zorder pruning file ids = two-pass prefix rank +
    # exact_ntile instead of two global ntile windows.
    "window_ntile_percent": 12,
    "layout_zorder_pruning": 12,
    # r12 ADVICE: the shared ANN index dirs moved to content-addressed
    # atomically-published generations (path change only; results
    # bit-identical), and the clustered oracle's clcent CTE gained the
    # len(ivec)>0 guard (oracle text change; no-op on current data).
    # All three re-verified repr-exact at sf0.01.
    "llm_similarity_pq_recall_clustered": 12,
    # r13 ADVICE fixes — all VALUE-PRESERVING on current testdata,
    # locally re-verified oracle-exact at sf0.01 (driver_sim):
    # join_asof_nearest gained a deterministic p_value tie-breaker in
    # BOTH window orderings and the oracle's ORDER BY (no duplicate
    # (user_id, ts) purchase pairs exist today, so results unchanged);
    # graph_shortest_paths dedups the landmark seed set (already
    # distinct today); llm_bm25_index now restores the autoBucketedScan
    # planner flag after forcing the pruned physical plan (plan-lifecycle
    # change only) and the read path no longer sweeps staging dirs.
    "join_asof_nearest": 13,
    "graph_shortest_paths": 13,
    # r13 second-half review fixes — all locally re-verified
    # oracle-exact at sf0.01 (driver_sim): the kNN-graph grouping moved
    # to sign-disambiguated ids (-(bucket+1) vs the collision-prone
    # +1e9 offset; identity mapping on current data) in engine AND
    # oracle; stream_bm25_ingest gained the per-batch_id replay marker
    # (no-op in normal runs).
    # r14 VERDICT/ADVICE fixes — all VALUE-PRESERVING on clean runs,
    # locally re-verified repr-exact at sf0.01 (driver_sim): the
    # foreachBatch loops gained per-batch_id replay markers / batch-0
    # rebuild / resume knobs (crash-recovery proofs in
    # tests/test_streaming_recovery.py); the BM25 lifecycle queries
    # re-force the bucket-pruned plan on the RETURNED frame; the graph
    # index publishes edges generationally (edges_v<N> + EDGES_CURRENT
    # pointer) and readers resolve through edges_dir().
    "stream_bm25_ingest": 14,
    "stream_mv_refresh": 14,
    "llm_bm25_index": 14,
    "llm_bm25_index_incremental": 14,
    "llm_bm25_index_compact": 14,
    # r14 scale fixes (value-preserving, re-verified oracle-exact at
    # sf0.01): containment's pair-production join salted on the full
    # side's doc hash (the candidate_pairs discipline — unsalted, 7
    # straggler tasks ground 8+ min at sf1); session-wide AQE
    # minPartitionSize floor lowered 1MiB -> 64KiB (a ~2MiB window
    # exchange was coalesced to ONE partition under a 100x fan-out).
    "llm_dedup_containment": 14,
    # r15: IVF/PQ centroid seeding moved from filter(vec_id < n_cells)
    # to a true lowest-k (orderBy+limit → TakeOrderedAndProject) in
    # ivf_centroids and the three inline ivfpq sites — the filter form
    # silently under-seeded to an EMPTY quantizer on any corpus whose
    # ids are not dense from 0 (caught by the r15 graph-rebuild test);
    # build_graph_index additionally repoints EDGES_CURRENT and GCs
    # stale edges_v<N> generations on rebuild (ADVICE r14 medium).
    # VALUE-PRESERVING on the canonical dense-id table — all 23 touched
    # names re-verified repr-exact at sf0.01 (driver_sim, this round).
    "llm_hard_negatives": 15,
    "llm_kmeans_embeddings": 15,
    "llm_semdedup": 15,
    "llm_similarity_filtered": 15,
    "llm_similarity_graph_compact": 15,
    "llm_similarity_graph_incremental": 15,
    "llm_similarity_graph_index": 15,
    "llm_similarity_graph_recall": 15,
    "llm_similarity_graph_refine": 15,
    "llm_similarity_ivf": 15,
    "llm_similarity_ivf_compact": 15,
    "llm_similarity_ivf_delete": 15,
    "llm_similarity_ivf_incremental": 15,
    "llm_similarity_ivf_index": 15,
    "llm_similarity_ivf_sq8": 15,
    "llm_similarity_ivfpq": 15,
    "llm_similarity_ivfpq_incremental": 15,
    "llm_similarity_ivfpq_index": 15,
    "llm_similarity_ivfpq_prod": 15,
    "llm_similarity_ivfpq_rerank": 15,
    "llm_similarity_ivfpq_residual": 15,
    "llm_similarity_ivfpq_residual_rerank": 15,
    "llm_similarity_recall": 15,
    # r15 (second wave): the two ANN hot loops moved from interpreted
    # higher-order-function dots to Arrow kernels — _assign_to is one
    # blocked-matmul mapInPandas scan against the (bounded, collected)
    # centroid matrix, and _knn_edges scores within-group pairs in a
    # cogrouped applyInPandas matmul instead of materializing every
    # pair in the JVM (sf1 graph build 96 s -> 20 s). BIT-IDENTICAL by
    # construction (all products/partial sums are integers < 2^53
    # where float64 is exact and order-independent; argmax/stable-sort
    # reproduce the (cos DESC, id ASC) tie-breaks) and re-verified
    # repr-exact at sf0.01 for every affected name. Three recall
    # audits consuming the cell machinery were not in the first-wave
    # stamp list:
    "llm_similarity_pq_recall": 15,
    "llm_similarity_pq_recall_clustered": 15,
    "llm_similarity_matryoshka_recall": 15,
    # r15 (third wave — found by the sf10 rung, the round's real scale
    # catch): dsum/davg's final decimal->double conversion now routes
    # THROUGH A STRING on both engines. Beyond ~16 significant digits
    # (first crossed at sf10: 4.4e11 at 6 decimals = 18 digits),
    # DuckDB's direct decimal->double cast lands 1 ulp off the
    # correctly-rounded value (measured: 437890060870.53 -> ...52997)
    # while Spark converts exactly — flagship/agg_rollup/
    # agg_grouping_sets MISM'd at sf10 and are repr-exact there after
    # the fix. decimal->string is exact and string->double is a
    # correctly-rounded strtod in both engines, at any magnitude
    # DECIMAL(38,6) can hold. VALUE-PRESERVING at <=16-digit totals
    # (every sf0.01 gate value) — all 35 consumers re-verified
    # repr-exact at sf0.01 this round:
    "agg_groupby_sum_avg_min_max_count": 15,
    "agg_grouping_sets": 15,
    "agg_rollup": 15,
    "flagship": 15,
    "join_broadcast": 15,
    "join_bucketed_colocated": 15,
    "join_range_bucketized": 15,
    "mv_incremental_refresh": 15,
    "pareto_abc_classification": 15,
    "rfm_segmentation": 15,
    "sample_hash_mod": 15,
    "sample_stratified": 15,
    "sql_pipe_syntax": 15,
    "sql_udf_scalar": 15,
    "sql_udf_table": 15,
    "stream_tumbling_topk": 15,
    "stream_tumbling_window_agg": 15,
    "subquery_correlated": 15,
    "subquery_scalar": 15,
    "timeseries_resample_ffill": 15,
    "tpch_q3_shipping_priority": 15,
    "tpch_q5_region_revenue": 15,
    "tpch_q6_forecast_revenue": 15,
    "tpch_q7_nation_volume": 15,
    "tpch_q8_market_share": 15,
    "tpch_q10_returned_items": 15,
    "tpch_q11_important_stock": 15,
    "tpch_q14_promo_revenue": 15,
    "tpch_q15_top_supplier": 15,
    "tpch_q17_small_quantity_revenue": 15,
    "tpch_q18_large_orders": 15,
    "tpch_q19_disjunctive_revenue": 15,
    "tpch_q22_global_sales_opportunity": 15,
    "window_running_sum_frame": 15,
    "yoy_revenue_growth": 15,
    # r15: stream_ingest_dedup's exactly-once window CLOSED — batch
    # outputs now land in batch-scoped overwrite subdirs (sink/b<id>,
    # store/b<id>) with clean-before-apply on unmarked replays; the
    # store/sink reads went recursive. Row-identical on clean runs
    # (re-verified repr-exact at sf0.01 alongside the two other store
    # consumers); recovery pinned in test_streaming_recovery.py.
    "stream_ingest_dedup": 15,
    # r15: stream_stateful_tws now exercises the REAL
    # transformWithStateInPandas path (worker-side protobuf wiring via
    # enable_tws + mandatory RocksDB provider) instead of silently
    # falling back to applyInPandasWithState. Same oracle; re-verified
    # repr-exact at sf0.01; TWS==GWS==batch pinned in
    # tests/test_streaming_tws.py.
    "stream_stateful_tws": 15,
    # r17: plain PQ, raw and residual IVF-PQ and the stored index share
    # one trainer (_train_ivfpq) and one driver-side ADC search
    # (_adc_topk); the Spark-side probe fallbacks are gone.
    # VALUE-PRESERVING (re-verified repr-exact at sf0.01), stamped per
    # the operator-change precedent: every PQ-family query re-fronts.
    "llm_similarity_pq": 17,
    "llm_similarity_ivfpq": 17,
    "llm_similarity_ivfpq_residual": 17,
    "llm_similarity_ivfpq_rerank": 17,
    "llm_similarity_ivfpq_residual_rerank": 17,
    "llm_similarity_ivfpq_prod": 17,
    "llm_similarity_pq_recall": 17,
    "llm_similarity_pq_recall_clustered": 17,
    "llm_similarity_ivfpq_index": 17,
    "llm_similarity_ivfpq_incremental": 17,
    # r17: every cosine IVF search (in-memory, filtered, delete, stored
    # index, graph seeds, IVF+SQ8) runs one driver-side probe
    # (_probed / _ivf_search); the stored IVF, graph and SQ8 indexes
    # are read with declared schemas; appends and SQ8 encoding guard
    # the stored dim; compact_bm25_index reads stats/corpus with
    # declared schemas. VALUE-PRESERVING (re-verified repr-exact at
    # sf0.01), stamped per the operator-change precedent. The queries
    # whose operators only moved onto the shared scoring / panel /
    # top-k helpers with an unchanged optimized plan (topk, ann_lsh,
    # projected_recall, hybrid_rrf, kmeans_embeddings, semdedup,
    # ivf_compact) are not stamped: stamping them too would push the
    # 7-round-stale cohort out of the ~50-slot window. hard_negatives
    # is: its join gained the (always true) self-pair predicate.
    "llm_similarity_ivf": 17,
    "llm_similarity_filtered": 17,
    "llm_similarity_ivf_delete": 17,
    "llm_similarity_ivf_index": 17,
    "llm_similarity_ivf_incremental": 17,
    "llm_similarity_recall": 17,
    "llm_similarity_graph_refine": 17,
    "llm_similarity_graph_recall": 17,
    "llm_similarity_graph_index": 17,
    "llm_similarity_graph_incremental": 17,
    "llm_similarity_graph_compact": 17,
    "llm_similarity_graph_prod": 17,
    "llm_similarity_graph_prod_incremental": 17,
    "llm_similarity_graph_prod_compact": 17,
    "llm_similarity_sq8": 17,
    "llm_similarity_ivf_sq8": 17,
    "llm_similarity_sq8_incremental": 17,
    "llm_similarity_sq8_recall": 17,
    "llm_bm25_index_compact": 17,
    "llm_hard_negatives": 17,
}

# Checked first within the unverified group (ordering hint only — a
# verified query is demoted regardless). Round 7: all 50 r6 samples came
# back green and auto-demoted, so the whole ~50-slot window goes to the
# 77-query never-sampled backlog (VERDICT r6 item 1). Explicit order:
# window_ntile_percent first (the last §2.3 blueprint op without a
# driver row), then the construct-heavy oracles ADVICE flagged
# (llm_embedding_quantize / llm_shard_balance_audit / llm_multimodal_*),
# the TPC-H shapes, the r6 streaming additions, and the r6-late LLM
# pipeline ops. The 27 names that don't fit stay in _DEFER_NEW,
# sequenced for r8 (also listed in COVERAGE.md).
_PRIORITY: tuple[str, ...] = (
    "window_ntile_percent",
    "llm_embedding_quantize",
    "llm_shard_balance_audit",
    "llm_multimodal_ppm_decode",
    "llm_multimodal_wav_decode",
    "llm_multimodal_video_frames",
    # r6-CHANGED agg_percentile: its only green row is r5 (pre-stamp),
    # so the invariant demands a slot this round.
    "agg_percentile",
    "tpch_q4_late_shipments",
    "tpch_q7_nation_volume",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_revenue",
    "stream_stream_outer_interval_join",
    "stream_state_store_read",
    "stream_dedup_within_watermark",
    "stream_session_window_dynamic_gap",
    "stream_cdc_apply",
    "stream_tumbling_topk",
    "llm_dedup_containment",
    "llm_unigram_surprisal",
    "llm_bigram_conditional_surprisal",
    "llm_embedding_random_projection",
    "llm_similarity_projected_recall",
    "llm_url_canonicalize",
    "llm_feature_hashing",
    "llm_embedding_outliers",
    "llm_vocab_oov_coverage",
    "llm_dedup_cluster_summary",
    "llm_curation_funnel_report",
    "llm_dedup_minhash_dict",
    "llm_dedup_simhash_multiband",
    "llm_domain_mix_sample",
    "llm_train_val_test_split",
    "sql_recursive_cte",
    "graph_pagerank",
    "merge_upsert_cdc",
    "funnel_conversion",
    "timeseries_anomaly_mad",
    "window_rolling_median",
    "agg_higher_moments",
    "cohort_retention",
    "scalar_variant",
    "scalar_try_family",
    "scalar_regex_family",
    "udtf_polymorphic",
    "udf_arrow_scalar",
    "scan_hive2_thrift",
    "scan_python_datasource",
    "scan_schema_evolution_merge",
    # r7-CHANGED (zero-wedge guard): a changed query must re-front into
    # the window per the _CHANGED invariant. It, agg_percentile, and
    # the sf1-smoke-fixed pareto displace three backlog names (now
    # first in the r8 backlog) from the ~50-slot window.
    "graph_triangle_count",
    "pareto_abc_classification",
)

# Queries without a driver row that DON'T fit in this round's ~50-slot
# window — explicitly sequenced for round 8 (also listed in COVERAGE.md
# so the hand-off is auditable), plus every query ADDED in round 7
# (locally oracle-exact at birth; they queue behind the r8 backlog).
_DEFER_NEW: tuple[str, ...] = (
    # --- r8 backlog: the never-sampled names left after the r7 window
    "subquery_not_in_nulls",
    "join_bloom_pruned",
    "window_time_rolling",
    "agg_mode_deterministic",
    "groupby_all",
    "scd2_from_events",
    "agg_hll_sketch_merge",
    "sql_pipe_syntax",
    "timeseries_resample_ffill",
    "join_lateral_topn",
    "window_gaps_islands_streaks",
    "fuzzy_match_names",
    "basket_pair_lift",
    "timeseries_changepoint_cusum",
    "join_point_in_time_scd2",
    "yoy_revenue_growth",
    "rfm_segmentation",
    "dq_expectations_report",
    "markov_transition_matrix",
    "agg_string_agg_ordered",
    "window_running_distinct_count",
    "user_path_analysis",
    "events_seasonality_profile",
    "interval_concurrency_peak",
    "limit_offset_pagination",
    "sort_within_partitions",
    "join_null_safe_eq",
    # --- r7 additions (born oracle-exact; driver rows due r8+)
    "tpch_q2_min_cost_supplier",
    "tpch_q8_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority",
    "tpch_q13_customer_distribution",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_counts",
    "tpch_q17_small_quantity_revenue",
    "tpch_q20_potential_promotion",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity",
    "scan_jdbc_limit_offset_pushdown",
    "llm_cluster_aware_split",
    "scan_s3_bucket_objects",
    "timeseries_ewma_smooth",
    "agg_countmin_heavy_hitters",
    "llm_bpe_pair_stats",
    "llm_temperature_mix_sqrt",
    # --- r8 additions/changes: queue BEHIND the 47-name r8 backlog so
    # they never displace it from the ~50-slot window (47 + these = 50).
    "llm_bpe_encode",
    "llm_similarity_ann_lsh",
    "llm_similarity_recall",
    # 51st+ unverified names: first in line for the r9 window if the
    # r8 driver samples exactly 50.
    "llm_bpe_train",
    "llm_dedup_embcos",
    "llm_dedup_substring",
    "llm_dedup_substring_top",
    "llm_dedup_minhash_recall",
    "llm_dedup_substring_mask",
    # --- r9 additions/changes: BEHIND the 6-name r8 tail above (the
    # VERDICT r9 item-1 closeout) but inside the same ~50-slot window
    # (6 + these ≈ 11 unverified total — no displacement risk).
    "llm_similarity_ivf",
    "llm_similarity_ivf_index",
    "llm_similarity_recall",
    "llm_semdedup",
    "llm_pack_sequences_bpe",
    "llm_kmeans_embeddings",
    "layout_zorder_cluster",
    "llm_hard_negatives",
    # --- r10 additions (born oracle-exact; ~0 other unverified names
    # this round, so they front the window immediately).
    "layout_zorder_pruning",
    "llm_similarity_ivf_incremental",
    "llm_similarity_pq",
    "llm_similarity_ivfpq",
    "llm_similarity_pq_recall",
    "llm_similarity_ivfpq_rerank",
    # --- r11 additions (born oracle-exact): the clustered-corpus
    # recall ladder (VERDICT r10 item 2), the residual-encoding IVF-PQ
    # rung it motivated, and the assembled residual+re-rank default.
    "llm_similarity_pq_recall_clustered",
    "llm_similarity_ivfpq_residual",
    "llm_similarity_ivfpq_residual_rerank",
    "llm_similarity_ivfpq_index",
    "llm_similarity_ivfpq_incremental",
)


def _latest_driver_rows() -> dict[str, tuple[int, dict]]:
    """Latest driver CORRECTNESS (round, row) per query, across rounds."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    rows: dict[str, tuple[int, dict]] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            d = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(d, dict):
            for name, row in d.items():
                # keep the row from the HIGHEST round number, not the
                # last filename in lexicographic glob order (an unpadded
                # or 3-digit round would otherwise let a stale green row
                # shadow a newer FAIL)
                if isinstance(row, dict) and rnd >= rows.get(name, (-1, None))[0]:
                    rows[name] = (rnd, row)
    return rows


def _verified_green(name: str, rows: dict[str, tuple[int, dict]]) -> bool:
    """Does ``name`` have a COUNTING green driver row? Rows-only checks
    record hash_match/schema_match as None — treat anything that isn't
    an explicit mismatch or error as green. A green row older than the
    query's last semantic change (``_CHANGED`` stamp) does not count.
    Shared by ``_driver_order`` and the rotation tests — the predicate
    must never fork."""
    rnd, r = rows.get(name, (0, None))
    return bool(
        r
        and not r.get("err")
        and r.get("rows_match")
        and r.get("schema_match") is not False
        and r.get("hash_match") is not False
        and rnd >= _CHANGED.get(name, 0)
    )


def _driver_order(names: list[str]) -> list[str]:
    rows = _latest_driver_rows()

    def verified_green(n: str) -> bool:
        return _verified_green(n, rows)

    defer = {n: i for i, n in enumerate(_DEFER_NEW)}
    prio = {n: i for i, n in enumerate(_PRIORITY)}
    unverified = [n for n in names if not verified_green(n)]
    # Window priority within the unverified set: explicit _PRIORITY
    # names, then queries with NO driver row at all (the longest-
    # unchecked backlog), then stale-green/changed ones, then deferred
    # ones IN _DEFER_NEW's own order (the tuple is the documented r8
    # hand-off sequence, so its index — not registration order — must
    # decide within the group); remaining ties keep registration order
    # (stable sort).
    unverified.sort(
        key=lambda n: (
            1 if n in defer else 0,
            defer[n] if n in defer else prio.get(n, len(prio)),
            1 if n in rows else 0,
        )
    )
    back = [n for n in names if verified_green(n)]
    # Within the verified-green tail: OLDEST driver evidence first. With
    # the registry fully verified (r9: 246/246 green), the driver's
    # ~50-slot window is otherwise idle, so its highest-value use is
    # refreshing the stalest green rows (VERDICT r9 item 1) — the r1-r4
    # cohort re-fronts automatically this round, and every future round
    # rotates the then-oldest evidence back into the window with no
    # manual re-prioritisation. Stable sort keeps registration order
    # within a round.
    back.sort(key=lambda n: rows.get(n, (0, None))[0])
    return unverified + back


def all_queries() -> dict[str, QueryFn]:
    import distributed_query_engine_spark.plans  # noqa: F401 — populates registry

    return {n: _QUERIES[n] for n in _driver_order(list(_QUERIES))}


def all_oracles() -> dict[str, str]:
    """Render every registered oracle to SQL. Callables are invoked here
    (lazily); a broken oracle is dropped with a warning so the driver
    degrades that one query to a rows-only check instead of losing all
    131 queries to a single NameError (tests/test_registry.py asserts
    every oracle renders, so CI still fails loudly on a typo)."""
    import warnings

    import distributed_query_engine_spark.plans  # noqa: F401

    rendered: dict[str, str] = {}
    for n in _driver_order(list(_ORACLES)):
        o = _ORACLES[n]
        if callable(o):
            try:
                rendered[n] = o()
            except Exception as ex:  # degrade to rows-only, loudly
                warnings.warn(
                    f"oracle for {n!r} failed to render ({ex!r}); "
                    f"query degrades to rows-only check",
                    stacklevel=2,
                )
        else:
            rendered[n] = o
    return rendered
