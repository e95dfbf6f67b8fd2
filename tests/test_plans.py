"""Physical-plan regression tests: the scale properties of SURVEY.md §4 as
assertions. Correct results with a wrong plan (full scan instead of pushdown,
shuffle join where a broadcast fits, cartesian products) regress silently —
these tests pin the plan shape, not just the output."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark.plans.registry import REGISTRY
from drive_health_etl_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    q = REGISTRY["o7_filter_conj"][0](spark, sf_dir)
    plan = _plan(q)
    pushed = plan.split("PushedFilters:", 1)[1][:400]
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed and "o_orderdate" in pushed


def test_column_pruning(spark, sf_dir):
    # 2-column projection must not read all 11 lineitem columns
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    schema_part = plan.split("ReadSchema:", 1)[1][:300]
    assert "l_quantity" in schema_part and "l_extendedprice" not in schema_part


def test_q1_pushes_shipdate_filter(spark, sf_dir):
    plan = _plan(REGISTRY["q1_pricing_summary"][0](spark, sf_dir))
    assert "PushedFilters:" in plan and "l_shipdate" in plan.split("PushedFilters:", 1)[1][:300]


@pytest.mark.parametrize("name", ["j2_broadcast_dims", "j6_star_join"])
def test_dimension_joins_broadcast(spark, sf_dir, name):
    plan = _plan(REGISTRY[name][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_plans(spark, sf_dir):
    semi = _plan(REGISTRY["j4_semi"][0](spark, sf_dir))
    anti = _plan(REGISTRY["j4_anti"][0](spark, sf_dir))
    assert "LeftSemi" in semi and "LeftAnti" in anti


def test_range_join_is_not_nested_loop(spark, sf_dir):
    # equi key carries the join; range predicates are post-conditions
    plan = _plan(REGISTRY["j5_range_join"][0](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_basket_topk_is_take_ordered(spark, sf_dir):
    # the pair self-join must carry the l_orderkey equi key and top-k must
    # NOT be a global sort
    plan = _plan(REGISTRY["basket_part_pairs"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_scd2_single_exchange(spark, sf_dir):
    # all three window passes + run groupBy share the o_custkey partitioning
    plan = _plan(REGISTRY["scd2_order_status"][0](spark, sf_dir))
    assert plan.count("+- Exchange") == 1, plan


def test_tfidf_topk_prunes_before_exchange(spark, sf_dir):
    # rank<=3 must plan as WindowGroupLimit partial+final (rows dropped
    # map-side before the doc-key shuffle, not after)
    plan = _plan(REGISTRY["feat_tfidf_top_terms"][0](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(REGISTRY["t2_topk"][0](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_whole_stage_codegen_in_hot_paths(spark, sf_dir):
    # With AQE off, executedPlan marks codegen'd operators with a '*(id)'
    # prefix. The relational hot paths must stay codegen-compatible. (Known
    # exception: higher-order lambda functions — text/array ops — execute
    # interpreted by Spark design; they are deliberately not asserted here.)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("q1_pricing_summary", "o8_projection_rename", "j6_star_join"):
            plan = _plan(REGISTRY[name][0](spark, sf_dir))
            assert "*(" in plan, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


# Brute-force scoring is O(n_candidates x n_queries) BY DESIGN: the correct
# physical plan broadcasts the tiny query side into a nested-loop — the
# LSH/IVF variants are the scale paths that avoid it.
BNLJ_BY_DESIGN = {
    "dedup_cdc_chunks",  # 1-row totals x 1-row distinct-stats scalar crossJoin
    "sim_cosine_topk",
    "sim_ann_binary",  # signature scan: 16-byte/vec broadcast BNLJ replaces the float BNLJ
    "sim_binary_quality",  # composes sim_cosine_topk + sim_ann_binary
    "sim_ann_ivf",  # K-constant centroid scoring (broadcast, per k-means round)
    "s9_table_metadata",  # 1-row stats x 1-row count metadata join
    "sim_ann_lsh_multitable",  # 1-row plane-matrix broadcast (keeps 3072 weights out of the expr tree)
    # r11: the shared LSH index build carries the same 1-row plane-matrix
    # broadcast; its lineage is visible in every consumer's plan text
    "sim_lsh_buckets",
    "sim_ann_lsh",
    "sim_ann_lsh_multiprobe",
    "text_unigram_logprob",  # 1-row corpus-total broadcast onto the vocab-sized freq table
    "dedup_semantic",  # K-constant centroid scoring (same broadcast as sim_ann_ivf)
    "dedup_semantic_prune",  # same centroid-scoring broadcast, applied to u/v/readout
    "q11_important_stock",  # 1-row global-threshold scalar subquery broadcast
    "q22_global_sales_opportunity",  # 1-row scalar-AVG subquery broadcast
    "text_bm25",  # 1-row corpus-constants (N, avgdl) broadcast onto the tf table
    "retrieval_rrf_fusion",  # composes text_bm25 + a 1-row query-vector broadcast
    "sim_knn_classify",  # eval-set broadcast against the train scan (same shape as sim_cosine_topk)
    "emb_triplet_mining",  # 8-row anchor broadcast against the corpus scan (fenced brute-force)
    "sess_rolling_actives",  # calendar-sized day grid broadcast (≤366 rows/yr) range join
    "dq_constraints",  # 1-row PK-stats broadcast joined onto the 1-row probe aggregate
    "dq_benford",  # 1-row total-count broadcast onto the 9-digit table
    "stat_bootstrap_ci",  # two 1-row order-statistic broadcasts onto the 1-row count
    "stat_sprt_ab",  # 1-row stopping-point broadcast onto the 1-row total
    "sess_survival_km",  # 1-row corpus-max-day broadcast onto the per-user table
    "a7_winsorize",  # 1-row percentile-bounds broadcast onto the clamp map
    "sess_daily_gapfill",  # calendar-days x event-type-enum grid cross (both config-sized)
    "sess_event_assoc",  # 1-row distinct-user-count broadcast onto the pair table
    "corpus_kl_drift",  # 1-row corpus-totals broadcast onto the vocab-sized freq table
    "quality_ft_train",  # 1-row NB smoothing-totals broadcast onto the bucket counts
    "quality_ft_eval",  # same 1-row totals broadcast (composes quality_ft_train)
    "quality_ft_calibration",  # same 1-row totals broadcast (composes quality_ft_train)
    "quality_ft_histcal",  # 1-row train-prior broadcast onto the test rows
    "corpus_temperature_mix",  # 1-row weight-normalizer broadcast onto the source-sized rates
    "corpus_dsir_select",  # 1-row smoothing-totals broadcast onto the 128-bucket ratio table
    "feat_equidepth_bins",  # 1-row percentile-bounds broadcast onto the bin-assign map
    "feat_tfidf_top_terms",  # 1-row corpus-size broadcast onto the tf-df join
    "graph_pagerank",  # 1-row node-count broadcast onto the rank init
    "graph_hits",  # 1-row per-side max-score broadcast onto the top-k normalize
    "emb_jl_projection",  # fenced 20-vector sample pair stage (190 pairs, broadcast)
    "text_trigram_kn_logprob",  # 1-row corpus-total broadcast onto the gram table
    "quality_ppx_gate",  # composes text_trigram_kn_logprob (same 1-row broadcast)
    "rfm_segments",  # 1-row max-date + 1-row tercile-bounds broadcasts onto the binning map
    "sketch_distinct_hll",  # 1-row merged-sketch broadcast onto the 1-row global exact agg
    "graph_triangles",  # 1-row edge-count x 1-row triangle-count metadata join
    "a5_approx_stats",  # 1-row distinct-agg x 1-row percentile-agg (Expand avoidance)
    "emb_pq_stats",  # 1-row codebook-matrix broadcast (keeps 4x16x16 weights out of the expr tree)
    "dedup_lsh_quality",  # 1-row n_truth x n_pred x n_hit summary joins
    "sketch_theta_overlap",  # 1-row exact-agg x 1-row sketch-agg join
    "sketch_rolling_wau",  # calendar-sized day-grid broadcast range join (exact twin only)
    "retrieval_eval_ndcg",  # 1-row DCG x IDCG x corpus-relevance metric joins
    "j7_bloom_prefilter_join",  # 1-row 32KiB bloom-word-array broadcast onto the probe scan
    "dq_psi_drift",  # 1-row global-bounds + 1-row totals broadcasts onto the bin map
    "emb_centroid_drift",  # label-count-sized (<=10 rows/side) centroid pair broadcast
    "stat_chi2_independence",  # 1-row grand-total broadcast onto the enum-sized cell table
    "ts_acf",  # 7-row lag grid + 1-row mean/denominator broadcasts on the calendar series
    "ts_cusum_changepoint",  # 1-row global-mean broadcast onto the calendar series
    "feat_target_encoding",  # 1-row global-prior broadcast onto the encode map
    "sim_mmr_rerank",  # 1-row query broadcast + k^2-bounded candidate pair stage
    "dq_freshness",  # 1-row global-max broadcast onto the enum-sized lag table
    "ts_seasonal_decompose",  # 1-row seasonal-center broadcast onto the calendar series
    "sim_ann_pq_adc",  # 1-row codebook-matrix broadcast (same as emb_pq_stats)
    "sim_adc_quality",  # 1-row query-vector broadcast onto the exact-distance scan
    "sim_ann_ivfpq",  # 1-row centroid-matrix + 64-entry LUT broadcasts (IVF+PQ)
    "ts_residual_anomalies",  # 1-row median/MAD broadcasts onto the calendar series
    "stat_kruskal_wallis",  # 1-row rank-sum x 1-row tie-total broadcast join
    "ts_streaks",  # 1-row global-median broadcast onto the calendar series
    "corpus_shard_balance",  # 1-row total-bytes broadcast onto the 16-shard audit
    "feat_woe_iv",  # 1-row global-median broadcast onto the orders scan
    "stat_cuped",  # 1-row median-day broadcast onto the events scan
    "stat_did",  # 1-row median-day broadcast onto the events scan
}
CARTESIAN_BY_DESIGN = {"t5_cross_join"}  # 5 x 25 dims, explicitly cross


def test_no_cartesian_anywhere(spark, sf_dir):
    """No registered query may plan a cartesian product, and nested-loop
    joins may appear only where the operator is an intentional broadcast
    brute-force — the O(n^2) failure modes at scale stay fenced."""
    for name, (fn, _sql) in REGISTRY.items():
        plan = _plan(fn(spark, sf_dir))
        if name not in CARTESIAN_BY_DESIGN:
            assert "CartesianProduct" not in plan, name
        if name not in BNLJ_BY_DESIGN | CARTESIAN_BY_DESIGN:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # group-by must plan partial (map-side) + final HashAggregate
    plan = _plan(REGISTRY["a1_group_count"][0](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning (on by default in this
    package's session): a selective filter on the build side injects a
    might_contain() pre-filter into the probe-side scan, so at 100 TB the
    fact scan drops non-joining rows BEFORE the shuffle. The size thresholds
    that gate injection in production (10 GB probe-side scans) are lowered
    here because test parquet is tiny — the assertion is that the rewrite
    fires at all, which is config + plan shape, not data volume."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # shuffle join (the case pruning helps)
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = _optimized(joined)
        assert "might_contain" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_constant_folded_sampling_fast_path(spark, sf_dir):
    from drive_health_etl_spark.functions.sampling import should_sample

    e = load_table(spark, sf_dir, "events")
    # rate>=1 folds to lit(True): no sha2 in the optimized plan
    plan = _optimized(e.filter(should_sample(F.col("event_id").cast("string"), 1.0)))
    assert "sha2" not in plan


# --- Bench-plan fingerprint guard (VERDICT r2 item 7) -----------------------
#
# The join-strategy / shuffle-count signature of every bench HEADLINE query,
# the full join family, and the iterative-loop queries (112 pins, round-4
# extension of the original top-20), so a silently demoted broadcast or a new
# shuffle fails THIS test loudly instead of surfacing as a timing blip.
# Queries whose fingerprint is {} return a DataFrame built from checkpointed/
# collected iterative state (pagerank, BPE, lake reads) — their expensive
# work happens during construction and the trivial final plan is itself the
# pinned property. Regenerate expected values with
# tools/plan_fingerprints.py after an INTENTIONAL plan change.
BENCH_PLAN_FINGERPRINTS = {
    "corpus_weighted_sample": {},
    # r11: composes the cached trigram LM (see text_trigram_kn_logprob);
    # live plan = scoring join + per-doc agg + NTILE window + bucket agg.
    # r12: 4 -> 2 — the old count included 2 DEAD shuffles leaked from the
    # materialized LM cache's nested AQE rendering (fingerprint.py fix);
    # the live shuffles are the per-doc agg + the single-partition NTILE
    "quality_ppx_gate": {"shuffle_exchange": 2, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "dedup_cdc_chunks": {"shuffle_exchange": 4, "broadcast_exchange": 1, "BroadcastNestedLoopJoin": 1},
    # r9 shuffle collapse: one up-front (k, id) repartition; dedup, shared
    # count, and the semi join run exchange-free off that partitioning
    "dedup_suffix_doubling": {"shuffle_exchange": 3, "broadcast_exchange": 2, "BroadcastHashJoin": 2, "ShuffledHashJoin": 1},
    # 4 -> 3: ingest() checkpoints its decoded parent, so the events
    # repartition under the envelope build runs below the checkpoint cut
    # (as a construction-time AQE stage) and leaves the final plan; the
    # live shuffles are the dedup window, the group-by and the order-by
    "pipeline_ingest_e2e": {"shuffle_exchange": 3},
    "o8_projection_rename": {},
    "a1_group_count": {"shuffle_exchange": 1},
    "j1_inner_equi": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "j2_broadcast_dims": {"shuffle_exchange": 1, "broadcast_exchange": 2, "BroadcastHashJoin": 2},
    "j3_left_outer": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "j3_full_outer": {"shuffle_exchange": 2, "SortMergeJoin": 1},
    "j4_semi": {"broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "j4_anti": {"broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "j5_range_join": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "j6_star_join": {"shuffle_exchange": 1, "broadcast_exchange": 4, "BroadcastHashJoin": 4},
    "w1_first_write_wins": {"shuffle_exchange": 1},
    "w4_running_sum": {"shuffle_exchange": 1},
    "st8_session_window": {"shuffle_exchange": 1},
    "st8_session_dynamic_gap": {"shuffle_exchange": 1},
    "dq_expectations": {"shuffle_exchange": 2},
    "scd2_order_status": {"shuffle_exchange": 1},
    "j7_bloom_prefilter_join": {"shuffle_exchange": 4, "broadcast_exchange": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 1},
    "j8_skew_salted_join": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "w11_interval_concurrency": {"shuffle_exchange": 1},
    "w12_ewma_smooth": {"shuffle_exchange": 1},
    "dq_psi_drift": {"shuffle_exchange": 6, "broadcast_exchange": 3, "BroadcastNestedLoopJoin": 3},
    "sketch_bitmap_distinct": {"shuffle_exchange": 2},
    "dedup_exact": {"shuffle_exchange": 1},
    "dedup_minhash_pairs": {},
    "dedup_keep_best": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "dedup_simhash": {"shuffle_exchange": 2},
    # shuffle 3 -> 1: verify sides now read the persisted _shingle_sets
    # relation (cache subtrees are excluded from the fingerprint)
    "dedup_containment": {"shuffle_exchange": 1, "broadcast_exchange": 2, "BroadcastHashJoin": 2},
    "text_keyphrases_rake": {"shuffle_exchange": 4, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "text_readability": {},
    "text_word_freq": {"shuffle_exchange": 1},
    "text_quality": {},
    "text_langid_eval": {"shuffle_exchange": 3},
    "text_bpe_token_count": {},
    "sim_cosine_topk": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastNestedLoopJoin": 1},
    # r11: corpus hash/bucket codes read the persisted LSH index
    # (_lsh_index_cached) — the per-call corpus re-hash exchanges are gone
    "sim_ann_lsh": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "sim_ann_lsh_multiprobe": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "sim_mmr_rerank": {"shuffle_exchange": 1},
    # r11: reads the persisted PQ-codes index (argmin encode + codebook
    # broadcast moved into the one-time cache build)
    "emb_pq_stats": {"shuffle_exchange": 2},
    "emb_centroid_drift": {"shuffle_exchange": 5, "broadcast_exchange": 1, "BroadcastNestedLoopJoin": 1},
    "sess_stats": {"shuffle_exchange": 1},
    "sess_funnel": {"shuffle_exchange": 3},
    "sess_cohort_value": {"shuffle_exchange": 6, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "sess_attribution": {"shuffle_exchange": 5, "broadcast_exchange": 3, "BroadcastHashJoin": 3},
    "text_bm25": {"shuffle_exchange": 5, "broadcast_exchange": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 1},
    "feat_hashing_tf": {"shuffle_exchange": 6, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "feat_tfidf_top_terms": {"shuffle_exchange": 8, "broadcast_exchange": 2, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1},
    "corpus_pack_sequences": {"shuffle_exchange": 2},
    # one explode scan -> checkpointed (doc, bucket) counts; λ fit + scoring
    # both read the checkpoint (bucket table + totals ride as broadcasts)
    "corpus_dsir_select": {
        "shuffle_exchange": 4,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "text_repetition": {"shuffle_exchange": 4, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    # repartition + (doc, char) count + per-doc sum — no joins anywhere
    "text_char_entropy": {"shuffle_exchange": 3},
    "text_decontaminate": {"shuffle_exchange": 6, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    # r11: one (g, w1) count shuffle in the cached fit; live plan = scoring
    # join + per-doc aggregate
    "text_bigram_logprob": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "text_url_canonical": {},
    "asof_last_purchase": {"shuffle_exchange": 1},
    "emb_gram_topk": {"shuffle_exchange": 1},
    "emb_power_iteration": {"shuffle_exchange": 3},
    "retrieval_eval_ndcg": {"shuffle_exchange": 7, "broadcast_exchange": 6, "BroadcastHashJoin": 3, "BroadcastNestedLoopJoin": 3},
    "multimodal_decode_stats": {},
    "multimodal_phash_neardup": {"shuffle_exchange": 2, "broadcast_exchange": 3, "BroadcastHashJoin": 3},
    "multimodal_audio_match": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "q1_pricing_summary": {"shuffle_exchange": 2},
    "w10_mad_outliers": {"shuffle_exchange": 4, "broadcast_exchange": 3, "BroadcastHashJoin": 3},
    "w13_interpolate_linear": {"shuffle_exchange": 1},
    "w15_percent_of_total": {"shuffle_exchange": 2},
    "dq_pk_audit": {"shuffle_exchange": 18},
    "sql_recursive_cte": {"shuffle_exchange": 1},
    "sketch_distinct_hll": {"shuffle_exchange": 6, "broadcast_exchange": 1, "BroadcastNestedLoopJoin": 1},
    "j5b_binned_range_join": {"shuffle_exchange": 2, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "layout_zorder_stats": {"shuffle_exchange": 1},
    "layout_hilbert_stats": {"shuffle_exchange": 2},
    # r11: per-source shingles from the cached shingle-set relation; the
    # per-shingle source-pair expansion is collect_set + an in-row transform
    # (the DISTINCT + shingle-keyed self-join and their exchanges are gone)
    "corpus_source_overlap": {"shuffle_exchange": 6, "broadcast_exchange": 2, "BroadcastHashJoin": 2},
    "graph_triangles": {"shuffle_exchange": 6, "broadcast_exchange": 1, "SortMergeJoin": 2, "BroadcastNestedLoopJoin": 1},
    "graph_label_propagation": {},
    "basket_part_pairs": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "sess_journey_paths": {"shuffle_exchange": 2},
    "stat_chi2_independence": {"shuffle_exchange": 9, "broadcast_exchange": 3, "BroadcastHashJoin": 2, "BroadcastNestedLoopJoin": 1},
    "stat_mann_whitney": {"shuffle_exchange": 1},
    "stat_ks_test": {"shuffle_exchange": 3},
    "stat_anova_oneway": {"shuffle_exchange": 2},
    "ts_max_drawdown": {"shuffle_exchange": 2},
    "dq_reconcile_orders": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "ts_holt_linear": {"shuffle_exchange": 2},
    "ts_seasonal_decompose": {"shuffle_exchange": 6, "broadcast_exchange": 2, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1},
    "ts_residual_anomalies": {"shuffle_exchange": 24, "broadcast_exchange": 11, "BroadcastHashJoin": 4, "BroadcastNestedLoopJoin": 7},
    "graph_bfs_distances": {},
    "sketch_cms_estimate": {"shuffle_exchange": 2, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "feat_target_encoding": {"shuffle_exchange": 3, "broadcast_exchange": 2, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1},
    # r11: reads the persisted LSH index; candidate + query sides are
    # explicit broadcasts (the cached relation has no pre-AQE size stats)
    "sim_ann_lsh_multitable": {"shuffle_exchange": 2, "broadcast_exchange": 3, "BroadcastHashJoin": 3},
    # r11: cell assignment + norms come from the shared inverted-file cache
    # (_assigned_cached) — the per-query argmax fold and its centroid
    # broadcasts are gone from the steady-state plan
    "sim_ann_ivf": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    # r12: LUT read from the persisted per-dataset relation — its build
    # subtree (query-row scan + BNLJ + its exchanges) left the live plan
    "sim_ann_pq_adc": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    # r12: the probed-cell fence broadcasts into the ADC-score join below
    # the corpus-size gate (was an SMJ over two stat-less relations)
    # r12: the ADC LUT is a persisted per-dataset relation (`_adc_lut_cached`)
    # — the query-row scan + slice explode + codebook BNLJ dropped per call
    "sim_ann_ivfpq": {"shuffle_exchange": 2, "broadcast_exchange": 4, "BroadcastHashJoin": 3, "BroadcastNestedLoopJoin": 1},
    # r11: both SemDeDup halves read assignment/norm/ccos from the shared
    # inverted-file cache — one materialized subtree feeds u/v/readout
    # instead of three argmax+broadcast re-evaluations
    "dedup_semantic": {"shuffle_exchange": 4, "broadcast_exchange": 1, "BroadcastHashJoin": 1, "SortMergeJoin": 1},
    "dedup_semantic_prune": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastHashJoin": 1, "SortMergeJoin": 1},
    "dedup_components": {},
    "dedup_near_pipeline": {"shuffle_exchange": 4, "broadcast_exchange": 1, "BroadcastHashJoin": 1, "SortMergeJoin": 1},
    # r11: decile bucketing reads the shared persisted pair-overlap relation
    # (_eval_pair_overlap) — the inverted-index self-join, both size joins,
    # and their exchanges now live in the once-per-dataset cached subtree
    "dedup_lsh_scurve": {"shuffle_exchange": 2, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "graph_pagerank": {},
    "corpus_prep_pipeline": {"shuffle_exchange": 3},
    "text_bpe_train": {},
    # encode: trained merges + vocab ids applied as literal narrow maps —
    # the returned plan is scan-shaped with ZERO exchanges (the vocab
    # ranking is a separate bounded count-agg action at build time)
    "text_bpe_encode": {},
    # subword encode: vocab-bounded literal word->ids map applied in one
    # narrow scan (fit is driver-side over the word-frequency table)
    "text_bpe_subword_encode": {},
    "text_wordpiece_encode": {},
    "text_unigram_encode": {},
    "sdp_daily_rollup": {},
    "lake_time_travel": {},
    "lake_merge": {},
    "lake_wap_publish": {},
    "lake_stats_pruned_read": {},
    "q13_customer_distribution": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "q21_waiting_orders": {"shuffle_exchange": 2, "broadcast_exchange": 3, "BroadcastHashJoin": 3},
    "dq_k_anonymity": {"shuffle_exchange": 2},
    "stat_ab_welch": {"shuffle_exchange": 1},
    "ts_theil_sen_trend": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    # r11: anchors/positives/negatives all read the cached inverted file;
    # both per-anchor top-1s are ONE conditional struct-max aggregate over a
    # single pass of the anchor-broadcast cosine map (was: two windows each
    # re-executing the map, then a join — the SMJ/extra BHJ are gone)
    "emb_triplet_mining": {"shuffle_exchange": 1, "broadcast_exchange": 1, "BroadcastNestedLoopJoin": 1},
    "multimodal_png_stats": {},
    "multimodal_jpeg_stats": {},
    "multimodal_jpeg420_stats": {},
    "multimodal_jpeg_prog_stats": {},
    "sim_ann_binary": {
        # r11: sign signatures read the persisted binary index
        "shuffle_exchange": 4,
        "broadcast_exchange": 3,
        "BroadcastHashJoin": 2,
        "BroadcastNestedLoopJoin": 1,
    },
    "sim_binary_quality": {},
    "graph_kcore": {},
    "corpus_temperature_mix": {
        "shuffle_exchange": 8,
        "broadcast_exchange": 3,
        "BroadcastHashJoin": 1,
        "SortMergeJoin": 1,
        "BroadcastNestedLoopJoin": 2,
    },
    "sess_survival_km": {
        "shuffle_exchange": 4,
        "broadcast_exchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "stat_sprt_ab": {
        "shuffle_exchange": 3,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "multimodal_ulaw_stats": {
        "shuffle_exchange": 1,
    },
    # r11: the five corpus count aggregates + scoring distinct collapsed
    # into one (g, contexts) count table derived from the cached trigram
    # relation; the fitted lp table is cached, so the live plan is the
    # scoring join + per-doc aggregate only
    "text_trigram_kn_logprob": {
        "shuffle_exchange": 1,
        "broadcast_exchange": 1,
        "BroadcastHashJoin": 1,
    },
    "emb_jl_projection": {
        "shuffle_exchange": 1,
        "broadcast_exchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "dq_benford": {
        "shuffle_exchange": 3,
        "broadcast_exchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "stat_bootstrap_ci": {
        "shuffle_exchange": 4,
        "broadcast_exchange": 2,
        "BroadcastNestedLoopJoin": 2,
    },
    "dedup_prefix_join": {
        # r12: the rarity-ordered prefix relation and the count-filter
        # sketch are per-dataset cached subtrees (each previously re-ran in
        # full on BOTH self-join sides: 2x freq shuffle + 2x rank window).
        # The live plan is candidate BHJ + distinct agg + sketch/verify
        # joins over InMemoryTableScans; joins broadcast by cached-relation
        # stats at test scale and stay equi-keyed at cluster scale.
        "broadcast_exchange": 4,
        "BroadcastHashJoin": 5,
    },
    # r12: score relations broadcast into the edge joins below the node
    # threshold (was SMJ over the stat-less checkpointed edges: 8 shuffles)
    "graph_hits": {
        "shuffle_exchange": 4,
        "broadcast_exchange": 4,
        "BroadcastHashJoin": 2,
        "BroadcastNestedLoopJoin": 2,
    },
    "multimodal_qoi_stats": {
        "shuffle_exchange": 1,
    },
    "retrieval_rrf_fusion": {
        "shuffle_exchange": 5,
        "broadcast_exchange": 4,
        "BroadcastHashJoin": 2,
        "SortMergeJoin": 1,
        "BroadcastNestedLoopJoin": 2,
    },
    "ts_holt_winters": {
        "shuffle_exchange": 2,
    },
    "quality_lr_eval": {"shuffle_exchange": 1},
    # zipf fit: word-count shuffle + the vocab-sized rank/moment aggregate
    "text_zipf_fit": {"shuffle_exchange": 2},
    # hashed-ngram NB classifier: the eval's 5 shuffles are the gram
    # count, the two NB-count aggs, the per-doc score, and the confusion
    # agg; both small sides (lam, tots) ride back as broadcasts
    "quality_ft_train": {"shuffle_exchange": 3, "broadcast_exchange": 1, "BroadcastNestedLoopJoin": 1},
    "quality_ft_eval": {
        "shuffle_exchange": 5,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # shared-substring ladder, r9 shuffle collapse: ONE up-front (k, h)
    # repartition, then per-doc dedup + shared-gram agg + the PINNED
    # shuffle-hash back-join all run exchange-free off that partitioning
    # (the shared-gram side grows with the corpus's overlap structure and
    # must never be broadcast — AQE picked a ~300 MB long-string broadcast
    # at sf1 once). The |ladder|-row rollup joins carry explicit broadcast
    # hints so AQE cannot flip them between BHJ/SMJ across warm states.
    "dedup_substring_ladder": {
        "shuffle_exchange": 3,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 2,
        "ShuffledHashJoin": 1,
    },
    # novelty: docs-per-shingle agg + per-doc agg over the cached shingle
    # subtree; the vocab-keyed count rides back as a broadcast at this SF
    "corpus_novelty": {"shuffle_exchange": 2, "broadcast_exchange": 1, "BroadcastHashJoin": 1},
    "quality_ft_calibration": {
        "shuffle_exchange": 5,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # histogram calibration: fingerprinted on the checkpointed scored
    # relation — bin fit, prior, test-side join-back, final ECE agg
    "quality_ft_histcal": {
        "shuffle_exchange": 4,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "multimodal_jpeg_bytes": {},
    "multimodal_mjpeg_stats": {},
    "multimodal_mjpeg_p_stats": {},
    "multimodal_adpcm_stats": {},
    "multimodal_gif_stats": {},
    "multimodal_png_adam7_stats": {},
    "multimodal_flac_stats": {},
    "dedup_exactsubstr_spans": {"shuffle_exchange": 5, "broadcast_exchange": 2, "BroadcastHashJoin": 2},
    # removal half: same span subtree + per-doc span-array agg + the
    # higher-order token filter (no extra shuffles beyond the doc grouping)
    "dedup_exactsubstr_clean": {"shuffle_exchange": 5, "broadcast_exchange": 2, "BroadcastHashJoin": 2},
    # Edit join (r9: asymmetric chunk-gram signature, Qin et al. VLDB'11):
    # gram freq agg + rarest-chunk hash agg + union-distinct = the 3
    # shuffles; the signature broadcast makes candidate generation a
    # scan-side hash join (zero shuffle), and the verify text joins
    # broadcast the persisted docs at this SF. No window, no sort, no
    # gram-array shuffle (the r8 count filter is gone with the rarity
    # prefix it served).
    # r12: the gram-df aggregate + rarest-chunk signature moved into a
    # per-dataset cached relation (was rebuilt per call: 2 shuffles + a
    # broadcast); live plan = gram probe against the cached signature +
    # brute band + one distinct + the two verify joins
    "dedup_edit_join": {
        "shuffle_exchange": 1,
        "broadcast_exchange": 4,
        "BroadcastHashJoin": 4,
    },
    # BH-FDR: fact agg + enum-sized hypothesis table; the rank/min windows
    # are single-partition BY DESIGN (m = test family, ~dozens of rows)
    "stat_bh_fdr": {
        "shuffle_exchange": 3,
        "broadcast_exchange": 1,
        "BroadcastHashJoin": 1,
    },
    # Suffix-LCS readout (the rung/window probes are bounded driver rounds
    # over a checkpointed frontier — this pins the steady-state readout):
    # content groupBy + ONE Expand aggregation (distinct contents +
    # distinct docs in one job; the r9 two-agg scalar crossJoin is gone);
    # the frontier scan is the localCheckpoint, the text side broadcasts
    "dedup_suffix_lcs": {
        "shuffle_exchange": 5,
        "broadcast_exchange": 2,
        "BroadcastHashJoin": 2,
        "SortMergeJoin": 1,
    },
    # DP counts: one map-side-combinable aggregate; noise is scalar math
    "dq_dp_counts": {"shuffle_exchange": 1},
    # WOE/IV: fact agg + enum-sized window math; 1-row median broadcast
    "feat_woe_iv": {
        "shuffle_exchange": 3,
        "broadcast_exchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # SAX: fact agg -> per-type stats broadcast -> calendar-sized windows
    "ts_sax_motifs": {
        "shuffle_exchange": 4,
        "broadcast_exchange": 1,
        "BroadcastHashJoin": 1,
    },
    # CUPED: per-user pivot agg + one 1-row moment agg; 1-row median bcast
    "stat_cuped": {
        "shuffle_exchange": 3,
        "broadcast_exchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # DiD: one conditional aggregate per type; 1-row median broadcast
    "stat_did": {
        "shuffle_exchange": 2,
        "broadcast_exchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # Adamic-Adar: the readout over the persisted weighted bipartite cache
    # (pair-expand self-join + pair aggregate + TakeOrdered)
    "graph_adamic_adar": {
        "shuffle_exchange": 1,
        "broadcast_exchange": 1,
        "BroadcastHashJoin": 1,
    },
    # SRM guardrail: one distinct-aggregate (partial + final) over the scan
    "stat_srm_check": {"shuffle_exchange": 2},
}


@pytest.mark.parametrize("name", sorted(BENCH_PLAN_FINGERPRINTS))
def test_bench_plan_fingerprints(spark, sf_dir, name):
    from drive_health_etl_spark.plans.fingerprint import plan_fingerprint

    # Fingerprint the STEADY-STATE plan: execute once first so shared
    # persisted subtrees are materialized (Spark's global CacheManager keys
    # on plan equality, so an un-materialized vs materialized cache entry
    # yields different plan strings — observed 13 vs 21 shuffles for
    # dedup_lsh_scurve depending on test order). After one execution the
    # plan is the same whichever tests ran before, and it is the plan the
    # bench's min-of-two timing actually measures.
    REGISTRY[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
    got = plan_fingerprint(REGISTRY[name][0](spark, sf_dir))
    assert got == BENCH_PLAN_FINGERPRINTS[name], (
        f"{name}: physical plan changed (expected {BENCH_PLAN_FINGERPRINTS[name]}, "
        f"got {got}). If intentional, regenerate via tools/plan_fingerprints.py"
    )


def test_live_plan_skips_nested_materialized_cache_rendering():
    """r12: a materialized cached relation renders its build as
    AdaptiveSparkPlan(final) whose '== Final Plan ==' / '== Initial Plan =='
    sections DEDENT below the cache boundary — the indent-based skip used
    to resume there and count dead build shuffles as live (dedup_prefix_join
    leaked 9). Headers inside a skip must extend it, re-anchored at their
    own indent; live siblings after the cached subtree still resume."""
    from drive_health_etl_spark.plans.fingerprint import _live_plan

    plan = "\n".join([
        "Project [a]",
        "+- BroadcastHashJoin [k], [k2], Inner, BuildRight, false",
        "   :- InMemoryTableScan [k]",
        "   :     +- InMemoryRelation [k], StorageLevel(memory)",
        "   :           +- AdaptiveSparkPlan isFinalPlan=true",
        "            +- == Final Plan ==",          # dedented nested header
        "               ResultQueryStage 0",
        "               +- Exchange hashpartitioning(k, 8)",  # DEAD
        "            +- == Initial Plan ==",
        "               +- Exchange hashpartitioning(k, 8)",  # DEAD
        "   +- BroadcastExchange Mode, [plan_id=1]",          # LIVE sibling
        "      +- Exchange rangepartitioning(z, 8)",          # LIVE
    ])
    live = _live_plan(plan)
    assert "hashpartitioning" not in live
    assert "ResultQueryStage" not in live
    assert "BroadcastExchange" in live
    assert "rangepartitioning" in live
